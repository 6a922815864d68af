"""``doc_pipeline``: the LLM-data operators over a seeded synthetic corpus.

Each closed-loop iteration is one pass of five operator stages over the
same corpus, in pipeline order: ``c4_clean``, ``gopher_quality_filter``,
``exact_dedup``, ``minhash_near_dup_pairs``, ``remove_boilerplate_lines``.
A stage counts as done when its output is fully materialized: a hashing
aggregate over every output column (``.count()`` would let Catalyst prune
the operator away), or, for the small near-duplicate pair list, a collect.

The corpus plants what each stage must find, so every output is checked
against counts known from construction:

- exact copies of base documents (``exact_dedup`` keeps one of each);
- near-duplicates: a base document with one word replaced (Jaccard of
  3-word shingles about 0.97, found by MinHash-LSH);
- boilerplate lines shared by many documents (removed when in >= 3);
- documents containing "lorem ipsum" (rejected by ``c4_clean``);
- short documents of under 50 words (rejected by the Gopher rules).

Copies and near-duplicates come from disjoint base documents, so no
ordinary line appears in more than two documents.
"""

from __future__ import annotations

import contextlib
import random
import string
import time

from perfbench.trace import LayerStats, catalyst_phases

N_BASE = 8_000
N_EXACT = 400
N_NEAR = 200
N_LOREM = 150
N_SHORT = 150
N_BOILER = 20
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# one fixed line, so it is also boilerplate wherever it appears
LOREM_LINE = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do."
STAGES = [
    "c4_clean",
    "gopher_quality_filter",
    "exact_dedup",
    "minhash_near_dup_pairs",
    "remove_boilerplate_lines",
]


class DocPipeline:
    name = "doc_pipeline"
    unit_items = "docs"

    def __init__(self, spark, seed: int, tracer, probe, warehouse: str):
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.layer = LayerStats()
        self.counts: dict[str, int] = {}
        self.active = False
        self._build_corpus(random.Random(seed))

    # ------------------------------------------------------------ inputs
    def _build_corpus(self, rng: random.Random) -> None:
        vocab = sorted(
            {
                "".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9)))
                for _ in range(6000)
            }
            - set(STOPWORDS)
        )

        def sentence(n_words: int) -> str:
            words = rng.choices(vocab, k=n_words)
            # two stop words, never in last place (the period would hide them)
            for w in rng.sample(STOPWORDS, 2):
                words.insert(rng.randrange(len(words)), w)
            return " ".join(words) + "."

        def line(n_words: int) -> str:
            return sentence(n_words) + " " + sentence(n_words)

        boiler = [line(6) for _ in range(N_BOILER)]
        docs = [
            [line(rng.randint(8, 12)) for _ in range(rng.randint(4, 7))]
            for _ in range(N_BASE)
        ]
        for b in boiler:
            for d in rng.sample(range(N_BASE), rng.randint(20, 60)):
                docs[d].insert(rng.randrange(len(docs[d]) + 1), b)
        lorem = rng.sample(range(N_BASE), N_LOREM)
        for d in lorem:
            docs[d].append(LOREM_LINE)
        picks = rng.sample(range(N_BASE), N_EXACT + N_NEAR)
        exact_src, near_src = picks[:N_EXACT], picks[N_EXACT:]
        copies = [list(docs[d]) for d in exact_src]
        near = []
        for d in near_src:
            lines = list(docs[d])
            i = rng.randrange(len(lines))
            words = lines[i].split(" ")
            j = rng.randrange(len(words) - 1)  # keep the final period's word
            words[j] = "zz" + rng.choice(vocab)
            lines[i] = " ".join(words)
            near.append(lines)
        short = [[line(3) for _ in range(3)] for _ in range(N_SHORT)]
        texts = ["\n".join(d) for d in docs + copies + near + short]
        order = list(range(len(texts)))
        rng.shuffle(order)  # ids must not reveal which document is a copy
        doc_id = {old: new for new, old in enumerate(order)}
        self.rows = [(doc_id[i], t) for i, t in enumerate(texts)]
        # texts index: base docs, then exact copies, then near-duplicates
        self.planted_pairs = {
            tuple(sorted((doc_id[src], doc_id[N_BASE + k])))
            for k, src in enumerate(exact_src + near_src)
        }
        self.n_docs = len(texts)
        self.expect = {
            # counted on the final texts: a near-duplicate's replaced word
            # may have been one of its lorem line's
            "c4_keep": self.n_docs - sum(1 for t in texts if "lorem ipsum" in t),
            "gopher_keep": self.n_docs - N_SHORT,
            "dedup_survivors": self.n_docs - N_EXACT,
            "boiler_removed": sum(
                t.count(b) for t in texts for b in boiler + [LOREM_LINE]
            ),
        }

    # ------------------------------------------------------------- setup
    def setup(self) -> None:
        n = self.spark.sparkContext.defaultParallelism
        self.corpus = (
            self.spark.createDataFrame(self.rows, "doc_id long, text string")
            .repartition(n)
            .localCheckpoint(eager=True)
        )

    # ------------------------------------------------------- one iteration
    def step(self, traced: bool) -> dict:
        from victoriametrics_spark.operators.dedup import (
            exact_dedup,
            minhash_near_dup_pairs,
        )
        from victoriametrics_spark.operators.text import (
            c4_clean,
            gopher_quality_filter,
            remove_boilerplate_lines,
        )

        from pyspark.sql import functions as F

        docs = self.corpus
        exp = self.expect

        def materialize(df, *extra):
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*df.columns) % F.lit(1_000_003)).alias("h"),
                *extra,
            )

        def keep_sum(df):
            return materialize(df, F.sum(F.col("keep_doc").cast("long")).alias("k"))

        def c4(_):
            r = self._collect(keep_sum(c4_clean(docs)))[0]
            return r["n"] == self.n_docs and r["k"] == exp["c4_keep"]

        def gopher(_):
            r = self._collect(keep_sum(gopher_quality_filter(docs)))[0]
            return r["n"] == self.n_docs and r["k"] == exp["gopher_keep"]

        def dedup(_):
            r = self._collect(materialize(exact_dedup(docs, ["text"], "doc_id")))[0]
            self.counts["dedup_survivors"] = r["n"]
            return r["n"] == exp["dedup_survivors"]

        def pairs(_):
            got = {
                (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
                for r in self._collect(minhash_near_dup_pairs(docs, threshold=0.8))
            }
            self.counts["near_dup_pairs"] = len(got)
            # MinHash-LSH may miss a planted pair with small probability;
            # it must never report one that was not planted
            found = len(got & self.planted_pairs)
            return got <= self.planted_pairs and found >= 0.97 * len(self.planted_pairs)

        def boiler(_):
            df = remove_boilerplate_lines(docs, min_docs=3)
            r = self._collect(
                materialize(df, F.sum("removed_lines").alias("removed"))
            )[0]
            self.counts["boiler_removed"] = r["removed"]
            return r["n"] == self.n_docs and r["removed"] == exp["boiler_removed"]

        self.active = traced and self.tracer.enabled
        calls: list[dict] = []
        for stage, fn in zip(STAGES, (c4, gopher, dedup, pairs, boiler)):
            self._call(calls, stage, fn)
        self.active = False
        ms = sum(c["ms"] for c in calls)
        return {"ms": ms, "busy_ms": ms, "items": self.n_docs, "calls": calls}

    def _collect(self, df):
        rows = df.collect()
        if self.active:
            self._last = (df, len(rows))
        return rows

    def _call(self, calls: list, stage: str, fn) -> None:
        rec = {"kind": stage, "ok": False}
        tracing = self.active
        with (
            self.tracer.span(f"operators.{stage}") if tracing else contextlib.nullcontext()
        ) as sp, (
            self.probe.group(stage) if tracing else contextlib.nullcontext()
        ) as gid:
            t0 = time.perf_counter()
            try:
                rec["ok"] = bool(fn(sp))
            except Exception as e:  # one failed stage must not end the run
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
        calls.append(rec)
        if sp is None or "error" in rec:
            return
        spark = self.probe.collect(gid)
        df, n_rows = self._last
        phases = catalyst_phases(df)
        lay = self.layer
        lay.add(stage + "_ms", rec["ms"])
        lay.add(stage + "_shuffle_bytes", spark["shuffle_write_bytes"])
        # a stage's frame is built and analyzed inside the stage; the rest
        # of its wall time is execute-and-collect
        lay.add_execution(spark, phases, rec["ms"] - phases["analysis"], n_rows)
        lay.add("uncovered_ms", lay["collect_ms"][-1])

    # ---------------------------------------------------------------- end
    def finish(self) -> dict:
        return {}

    def layer_metrics(self, finish: dict) -> dict:
        lay = self.layer
        out = {
            **lay.common(),
            "operators.dedup_survivors": self.counts.get("dedup_survivors", 0),
            "operators.near_dup_pairs": self.counts.get("near_dup_pairs", 0),
            "operators.boilerplate_removed": self.counts.get("boiler_removed", 0),
        }
        for stage in STAGES:
            out[f"operators.{stage}_ms"] = lay.median(stage + "_ms")
            out[f"operators.{stage}_shuffle_bytes"] = lay.mean(stage + "_shuffle_bytes")
        return out
