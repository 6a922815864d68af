"""``ingest_read``: writes beside reads, through the public ingest and
query APIs.

Each closed-loop iteration (one client) does, in order:

1. ``IngestAPI.write_remote`` of one snappy remote-write body: every
   series' next ``RW_POINTS`` counter samples (10k samples);
2. ``IngestAPI.import_lines`` of one Prometheus-text body: ``TXT_POINTS``
   gauge samples per series ending at the iteration's newest timestamp;
3. ``PromAPI.force_flush`` — the documented way for a pinned query API
   to see out-of-band appends (VM's ``/internal/force_flush``);
4. one instant query at the newest timestamp that must see the rows
   just written by both requests;
5. ``maintain_samples_table`` as the background merger, then another
   flush.

The write-to-visible latency is steps 1-4. Every append adds one file
per bucket and invalidates the plan cache, so the reads miss it on every
iteration, the way a dashboard over live data does. Merging after every
round keeps all iterations alike, so a run's figures do not depend on
how many iterations fit in it.

Correctness references come from the generated inputs: each counter
grows at a seeded constant slope and each gauge takes seeded values, so
the per-job sums at the newest timestamp are exactly known; and each
write must acknowledge exactly the samples it carried.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import time

from perfbench.trace import LayerStats, catalyst_phases, span_ms, uncovered_ms

TABLE = "perfbench_samples"
N_SERIES = 200
N_JOBS = 5
SCRAPE_MS = 15_000
HISTORY_POINTS = 120  # 30 min of history written at set-up
RW_POINTS = 50  # per series per remote-write body -> 10k samples
TXT_POINTS = 5  # per series per text body -> 1k samples
# one bucket per core of the 4-core reference host; at the layout's default
# of 32 every append writes 32 files and an iteration took about a quarter
# longer
N_BUCKETS = 4
# 2023-11-14T00:00:00Z: every run's timestamps start at the same midnight
T0_MS = 1_699_920_000_000

# per job: the counters' and the gauges' values at the query time, summed;
# the newest rows of both bodies sit at that time, and the previous
# iteration's are outside the 5m lookback, so a body that is not visible
# changes the sum
QUERY = 'sum by (job) ({__name__=~"perfbench_.+"})'


def _close(got: float, want: float) -> bool:
    return math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)


class IngestRead:
    name = "ingest_read"
    unit_items = "samples"

    def __init__(self, spark, seed: int, tracer, probe, warehouse: str):
        self.spark = spark
        self.tracer = tracer
        self.probe = probe
        self.table_dir = os.path.join(warehouse, TABLE)
        rng = random.Random(seed)
        self.series = [
            {
                "job": f"job{s % N_JOBS}",
                "instance": f"host-{s:03d}",
                        # quarter-unit slopes keep every counter value and every
                # sum of them exact in binary floating point
                "slope": rng.randint(1, 64) / 4.0,
            }
            for s in range(N_SERIES)
        ]
        self.rng = rng
        self.next_point = HISTORY_POINTS
        self.acked = 0
        self.layer = LayerStats()
        self.active = False
        self._orig = None

    # ------------------------------------------------------------ inputs
    def _counter(self, s: dict, idx: int) -> float:
        return s["slope"] * (idx * SCRAPE_MS / 1000.0)

    def _ts(self, idx: int) -> int:
        return T0_MS + idx * SCRAPE_MS

    def _history_frame(self):
        import pandas as pd

        from victoriametrics_spark.schema import SAMPLE_SCHEMA

        rows = {"name": [], "labels": [], "ts": [], "value": [], "is_stale": []}
        for s in self.series:
            lab = {"job": s["job"], "instance": s["instance"]}
            for idx in range(HISTORY_POINTS):
                rows["name"].append("perfbench_rw_total")
                rows["labels"].append(lab)
                rows["ts"].append(self._ts(idx))
                rows["value"].append(self._counter(s, idx))
                rows["is_stale"].append(False)
        return self.spark.createDataFrame(pd.DataFrame(rows), SAMPLE_SCHEMA)

    def _next_inputs(self) -> dict:
        from victoriametrics_spark.streaming.remotewrite import (
            encode_write_request,
            snappy_compress,
        )

        lo = self.next_point
        hi = lo + RW_POINTS
        self.next_point = hi
        rw = [
            (
                {
                    "__name__": "perfbench_rw_total",
                    "job": s["job"],
                    "instance": s["instance"],
                },
                [(self._ts(i), self._counter(s, i)) for i in range(lo, hi)],
            )
            for s in self.series
        ]
        raw = encode_write_request(rw, compress=False)
        newest = hi - 1
        expected: dict[str, float] = {}
        for s in self.series:
            expected[s["job"]] = expected.get(s["job"], 0.0) + self._counter(s, newest)
        lines = []
        for s in self.series:
            for i in range(hi - TXT_POINTS, hi):
                v = self.rng.randint(0, 999)
                lines.append(
                    f'perfbench_txt_gauge{{job="{s["job"]}",'
                    f'instance="{s["instance"]}"}} {v} {self._ts(i)}'
                )
                if i == newest:
                    expected[s["job"]] += v
        return {
            "raw": raw,
            "body": snappy_compress(raw),
            "rw_samples": N_SERIES * RW_POINTS,
            "text": "\n".join(lines) + "\n",
            "txt_samples": len(lines),
            "newest_ms": self._ts(newest),
            "expected": expected,
        }

    # ------------------------------------------------------------- setup
    def setup(self) -> None:
        from victoriametrics_spark.api.http import IngestAPI, PromAPI
        from victoriametrics_spark.storage.layout import (
            read_samples_table,
            write_samples_table,
        )

        write_samples_table(self._history_frame(), TABLE, n_buckets=N_BUCKETS)
        self.ingest = IngestAPI(self.spark, samples_table=TABLE)
        self.api = PromAPI(
            self.spark, read_samples_table(self.spark, TABLE), samples_table=TABLE
        )
        self.next_point = HISTORY_POINTS
        self.acked = N_SERIES * HISTORY_POINTS

    # ------------------------------------------------------- one iteration
    def step(self, traced: bool) -> dict:
        """One write-to-visible round. Returns its calls and checks."""
        inp = self._next_inputs()
        self.active = traced and self.tracer.enabled
        calls: list[dict] = []
        self._call(calls, "write_remote", self._write_remote, inp)
        self._call(calls, "import_lines", self._import_lines, inp)
        self._call(calls, "force_flush", self._flush, inp)
        self._call(calls, "query", self._read, inp)
        round_ms = sum(c["ms"] for c in calls)
        self._call(calls, "maintain", self._maintain, inp)
        if self.active:
            self._decode_probe(inp)
        self.active = False
        return {
            "ms": round_ms,
            "busy_ms": sum(c["ms"] for c in calls),
            "items": inp["rw_samples"] + inp["txt_samples"],
            "calls": calls,
        }

    def _call(self, calls: list, kind: str, fn, inp: dict) -> None:
        rec = {"kind": kind, "ok": False}
        tracing = self.active
        with (
            self.tracer.span(f"api.{kind}") if tracing else contextlib.nullcontext()
        ) as sp, (
            self.probe.group(kind) if tracing else contextlib.nullcontext()
        ) as gid:
            t0 = time.perf_counter()
            try:
                rec["ok"] = bool(fn(sp, inp))
            except Exception as e:  # one failed request must not end the run
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
        calls.append(rec)
        if sp is None:
            return
        spark = self.probe.collect(gid)
        lay = self.layer
        lay.add("uncovered_ms", uncovered_ms(self.tracer, sp))
        if kind == "query" and "present_ms" in sp:
            self._query_layers(sp, spark)
        for child in self._children(sp, "storage.append"):
            n = inp["rw_samples"] if kind == "write_remote" else inp["txt_samples"]
            lay.add("append_ms", span_ms(child))
            lay.add("files_added", child["files_added"])
            lay.add("bytes_per_sample", child["bytes_added"] / n)

    def _children(self, sp: dict, name: str) -> list[dict]:
        return [
            s for s in self.tracer.spans if s["parent"] == sp["id"] and s["name"] == name
        ]

    # ------------------------------------------------------------ requests
    def _write_remote(self, sp, inp) -> bool:
        n = self.ingest.write_remote(inp["body"])
        self.acked += n
        return n == inp["rw_samples"]

    def _import_lines(self, sp, inp) -> bool:
        n = self.ingest.import_lines(inp["text"], "prometheus")
        self.acked += n
        return n == inp["txt_samples"]

    def _flush(self, sp, inp) -> bool:
        return self.api.force_flush()["status"] == "ok"

    def _read(self, sp, inp) -> bool:
        t0 = time.perf_counter()
        resp = self.api.query(QUERY, str(inp["newest_ms"] / 1000.0), trace=sp is not None)
        if sp is not None:
            self._present_layers(sp, resp, (time.perf_counter() - t0) * 1000.0)
        want = inp["expected"]
        got = {
            r["metric"].get("job"): float(r["value"][1])
            for r in resp["data"]["result"]
            if round(float(r["value"][0]) * 1000) == inp["newest_ms"]
        }
        return set(got) == set(want) and all(_close(got[j], want[j]) for j in want)

    def _maintain(self, sp, inp) -> bool:
        from victoriametrics_spark.storage.layout import maintain_samples_table

        before = self._files()
        t0 = time.perf_counter()
        maintain_samples_table(self.spark, TABLE)
        maint_ms = (time.perf_counter() - t0) * 1000.0
        self.api.force_flush()
        if self.tracer.enabled:
            after = self._files()
            self.layer.add("maint_ms", maint_ms)
            self.layer.add(
                "bytes_rewritten", sum(sz for p, sz in after.items() if p not in before)
            )
        return True

    # ------------------------------------------------------- layer probes
    def _files(self) -> dict[str, int]:
        out = {}
        for dirpath, _, names in os.walk(self.table_dir):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[p] = os.path.getsize(p)
        return out

    def install_wrappers(self) -> None:
        """Traced runs only: time the engine and storage entry points that
        the APIs call, without changing what they do. The wrappers record
        only during traced iterations."""
        import victoriametrics_spark.api.http as http_mod
        import victoriametrics_spark.storage.layout as layout_mod

        orig_eval, orig_append = http_mod.evaluate, layout_mod.append_samples
        self._orig = (http_mod, orig_eval, layout_mod, orig_append)

        def evaluate(spark, query, samples, cfg, *a, **kw):
            if not self.active:
                return orig_eval(spark, query, samples, cfg, *a, **kw)
            from victoriametrics_spark.engine.plancache import GLOBAL_PLAN_CACHE

            before = dict(GLOBAL_PLAN_CACHE.stats)
            with self.tracer.span("engine.plan") as sp:
                df = orig_eval(spark, query, samples, cfg, *a, **kw)
            sp["df"] = df
            sp["plancache"] = {k: GLOBAL_PLAN_CACHE.stats[k] - before[k] for k in before}
            return df

        def append_samples(samples, table, *a, **kw):
            if not self.active:
                return orig_append(samples, table, *a, **kw)
            before = self._files()
            with self.tracer.span("storage.append") as sp:
                orig_append(samples, table, *a, **kw)
            after = self._files()
            sp["files_added"] = len(set(after) - set(before))
            sp["bytes_added"] = sum(sz for p, sz in after.items() if p not in before)

        http_mod.evaluate = evaluate
        layout_mod.append_samples = append_samples

    def remove_wrappers(self) -> None:
        if self._orig is not None:
            http_mod, orig_eval, layout_mod, orig_append = self._orig
            http_mod.evaluate = orig_eval
            layout_mod.append_samples = orig_append
            self._orig = None

    def _present_layers(self, sp: dict, resp: dict, wall_ms: float) -> None:
        """Split the query's wall time with its own ``trace=1`` spans:
        plan build, then execute + collect; the rest is presentation."""
        kids = resp.get("trace", {}).get("children", [])
        exec_ms = sum(
            c["duration_msec"] for c in kids if c["message"].startswith("execute")
        )
        for plan in self._children(sp, "engine.plan"):
            self.tracer.add(
                "spark.execute_collect", plan["end"], plan["end"] + exec_ms / 1000.0, sp
            )
        sp["present_ms"] = max(0.0, wall_ms - sum(c["duration_msec"] for c in kids))
        sp["exec_ms"] = exec_ms
        sp["response_bytes"] = len(
            json.dumps({k: v for k, v in resp.items() if k != "trace"})
        )
        sp["rows"] = len(resp["data"]["result"])

    def _query_layers(self, sp: dict, spark: dict) -> None:
        from victoriametrics_spark.metricsql import parse

        lay = self.layer
        t0 = time.perf_counter()
        parse(QUERY)
        lay.add("parse_ms", (time.perf_counter() - t0) * 1000.0)
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for plan in self._children(sp, "engine.plan"):
            df = plan.pop("df")
            lay.add("plan_ms", span_ms(plan))
            pc = plan["plancache"]
            lay.add("pc_hits", pc["hits"])
            lay.add("pc_lookups", pc["hits"] + pc["misses"])
            # a plan-cache hit re-runs an already planned frame, so its
            # recorded phases belong to the earlier call
            if pc["hits"] == 0:
                phases = catalyst_phases(df)
        lay.add_execution(spark, phases, sp["exec_ms"], sp["rows"])
        lay.add("present_ms", sp["present_ms"])
        lay.add("response_bytes", sp["response_bytes"])
        lay.add("files_scanned", len(self.api.samples.inputFiles()))

    def _decode_probe(self, inp) -> None:
        """Time the two streaming decoders on this iteration's payloads,
        outside the request: inside it their work is lazy and runs within
        the row count and the append."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import MapType

        from victoriametrics_spark.streaming.parsers import parse_prometheus_text
        from victoriametrics_spark.streaming.remotewrite import remote_write_to_samples

        def materialize(df):
            # hashing every column forces every decoded value; maps are
            # hashed through their sorted entries
            cols = [
                F.array_sort(F.map_entries(f.name))
                if isinstance(f.dataType, MapType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
            df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols) % F.lit(1_000_003))).collect()

        payload = self.spark.createDataFrame([(bytearray(inp["raw"]),)], "payload binary")
        lines = self.spark.createDataFrame(
            [(ln,) for ln in inp["text"].splitlines()], ["value"]
        )
        t0 = time.perf_counter()
        with self.tracer.span("streaming.decode.remote_write"):
            materialize(remote_write_to_samples(payload, compressed=False))
        with self.tracer.span("streaming.decode.prometheus_text"):
            materialize(parse_prometheus_text(lines, 0))
        self.layer.add("decode_ms", (time.perf_counter() - t0) * 1000.0)

    # ---------------------------------------------------------------- end
    def finish(self) -> dict:
        """On-disk bytes per acknowledged sample; the last iteration ended
        with a merge."""
        files = self._files()
        return {"disk_bytes_per_sample": sum(files.values()) / max(self.acked, 1)}

    def layer_metrics(self, finish: dict) -> dict:
        lay = self.layer
        lookups = sum(lay.get("pc_lookups", []))
        return {
            **lay.common(),
            "metricsql.parse_ms": lay.median("parse_ms"),
            "engine.plan_ms": lay.median("plan_ms"),
            "engine.plancache_hit_ratio": (
                sum(lay.get("pc_hits", [])) / lookups if lookups else 0.0
            ),
            "api.present_ms": lay.median("present_ms"),
            "api.response_bytes": lay.mean("response_bytes"),
            "streaming.decode_ms": lay.median("decode_ms"),
            "storage.append_ms": lay.median("append_ms"),
            "storage.files_added_per_append": lay.mean("files_added"),
            "storage.bytes_written_per_sample": lay.mean("bytes_per_sample"),
            "storage.files_scanned": lay.mean("files_scanned"),
            "storage.maint_ms": lay.median("maint_ms"),
            "storage.bytes_rewritten": lay.mean("bytes_rewritten"),
            "storage.disk_bytes_per_sample": finish["disk_bytes_per_sample"],
        }
