"""End-to-end Structured Streaming ingest proof.

One pipeline, wired exactly like a production deployment
(vmagent scrape -> relabel -> streamaggr -> storage -> query):

  readStream file source (one microbatch per scrape file via
  maxFilesPerTrigger=1)
    -> Prometheus exposition parse (streaming/parsers.py)
    -> relabel DSL (drop + replace, streaming/relabel.py)
    -> stateful streamaggr counters (aggregate_stream_pandas_state)
    -> bucketed storage layout sink (storage/layout.py append_samples,
       from foreachBatch)
    -> live /api/v1/query freshness probe after every microbatch

A fourth file holds one far-future sample: the watermark it sets lets
the engine's event-time timeouts flush the last open windows. The final
stored result must equal the same data run as ONE batch through the
same parse + relabel and the batch spec, aggregate_batch (the
replay==batch property the streamaggr engine guarantees).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from victoriametrics_spark.api import PromAPI
from victoriametrics_spark.storage.layout import (
    append_samples,
    read_samples_table,
)
from victoriametrics_spark.streaming.parsers import parse_prometheus_text
from victoriametrics_spark.streaming.relabel import relabel
from victoriametrics_spark.streaming.streamaggr import (
    StreamAggrConfig,
    aggregate_batch,
    aggregate_stream_pandas_state,
)

T0 = 1_700_000_000_000  # epoch ms — unambiguous vs the seconds rule
IV = 120_000

RULES = [
    # vmagent-style scrape relabeling: drop a junk job, stamp env
    {"action": "drop", "source_labels": ["job"], "regex": "spam"},
    {"action": "replace", "target_label": "env", "replacement": "prod"},
]


def _scrape_lines(k: int) -> str:
    """One scrape body per microbatch: two counter series sampled twice
    inside window k, plus a junk series the relabel rules must drop."""
    out = []
    for job, mult in (("a", 10), ("b", 3)):
        for dt in (0, 60_000):
            ts = T0 + k * IV + dt
            v = mult * ((ts - T0) // 60_000 + 1)
            out.append(f'http_requests_total{{job="{job}"}} {v} {ts}')
    out.append(f'junk_metric{{job="spam"}} 1 {T0 + k * IV}')
    return "\n".join(out) + "\n"


# far-future sample that ends the replay (its own window never flushes)
SENTINEL = f'wm_sentinel{{job="wm"}} 0 {T0 + 100 * IV}\n'


def _pipeline(df):
    return relabel(parse_prometheus_text(df, default_ts_ms=T0), RULES)


def _table_rows(spark, table):
    return sorted(
        (r["name"], tuple(sorted(r["labels"].items())), r["ts"], r["value"])
        for r in read_samples_table(spark, table).collect()
    )


@pytest.fixture()
def cfg():
    return StreamAggrConfig(
        interval_ms=IV, outputs=["increase", "total"], by=["job", "env"]
    )


@pytest.mark.slow
def test_stream_ingest_end_to_end(spark, tmp_path, cfg):
    src = str(tmp_path / "scrapes")
    os.makedirs(src)
    bodies = [_scrape_lines(k) for k in range(3)] + [SENTINEL]
    for k, body in enumerate(bodies):
        p = os.path.join(src, f"{k:03d}.txt")
        with open(p, "w") as f:
            f.write(body)
        os.utime(p, (k + 1, k + 1))  # deterministic batch order

    stream_table = "e2e_stream_sink"
    batch_table = "e2e_batch_sink"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in (stream_table, batch_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil

        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)

    probes: list[tuple[int, int, int]] = []  # (batch, rows_in_table, max_ts)

    def handle(flushed, batch_id):
        flushed = flushed.persist()
        if flushed.count():
            append_samples(
                flushed.withColumn("is_stale", F.lit(False)), stream_table
            )
        flushed.unpersist()
        if not spark.catalog.tableExists(stream_table):
            probes.append((int(batch_id), 0, 0))  # no window closed yet
            return
        # the append ran in the query's own session: drop this session's
        # cached file listing, then probe the live query path against
        # the bucketed table
        spark.catalog.refreshTable(stream_table)
        stored = read_samples_table(spark, stream_table)
        api = PromAPI(spark, stored)
        out = api.query(
            'last_over_time({__name__=~"http_requests_total:.*_increase"}[1h])',
            time=str((T0 + (int(batch_id) + 1) * IV) // 1000),
        )
        assert out["status"] == "success"
        mx = stored.agg(F.max("ts")).collect()[0][0]
        probes.append((int(batch_id), stored.count(), int(mx or 0)))

    sdf = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = (
        aggregate_stream_pandas_state(_pipeline(sdf), cfg)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # one probe per microbatch; the table only ever got fresher, one
    # 2m window end at a time (windows align to epoch multiples of IV)
    assert [b for b, _, _ in probes] == list(range(len(probes)))
    assert len(probes) >= len(bodies)
    counts = [n for _, n, _ in probes]
    max_ts = [m for _, _, m in probes]
    assert counts == sorted(counts) and counts[-1] > 0
    assert max_ts == sorted(max_ts)
    w0_end = T0 - T0 % IV + IV
    assert sorted(set(max_ts) - {0}) == [w0_end + i * IV for i in range(4)]

    spark.catalog.refreshTable(stream_table)
    got = _table_rows(spark, stream_table)
    # relabel proof: junk series gone, env=prod stamped into the output
    assert got and all("junk" not in name for name, *_ in got)
    assert all(dict(lbls)["env"] == "prod" for _, lbls, *_ in got)
    # streamaggr proof: per-window counter increase is exact
    inc = [
        r for r in got if r[0] == "http_requests_total:2m_by_env_job_increase"
    ]
    assert inc, f"no increase series in {sorted({r[0] for r in got})}"
    # windowed increases must sum to the total counter growth (new
    # series count their first value): job a reaches 60, job b 18 —
    # the same numbers the `total` output and the API probe report
    per_job: dict[str, float] = {}
    for _, lbls, _, v in inc:
        per_job[dict(lbls)["job"]] = per_job.get(dict(lbls)["job"], 0.0) + v
    assert per_job == {"a": 60.0, "b": 18.0}

    # ---- replay==batch: same parse + relabel, the batch spec ----
    all_lines = spark.createDataFrame(
        [(line,) for body in bodies[:3] for line in body.splitlines()],
        ["value"],
    )
    append_samples(
        aggregate_batch(_pipeline(all_lines), cfg).withColumn(
            "is_stale", F.lit(False)
        ),
        batch_table,
    )
    assert got == _table_rows(spark, batch_table)

    # ---- /api/v1/query end state: exact values through the API ----
    api = PromAPI(spark, read_samples_table(spark, stream_table))
    out = api.query(
        'last_over_time({__name__="http_requests_total:2m_by_env_job_total"}[1h])',
        time=str((T0 + 4 * IV) // 1000),
    )
    vals = {
        r["metric"]["job"]: float(r["value"][1])
        for r in out["data"]["result"]
    }
    # totals after 3 windows x 2 samples/window: a: +10/min, b: +3/min
    assert vals == {"a": 60.0, "b": 18.0}

    for t in (stream_table, batch_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
