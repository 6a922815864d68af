"""Group name and labels are decoded from the group key after an
aggregate, never carried through it (``schema.name_labels_from_series_key``
/ ``schema.labels_from_key``). A carried MAP or STRING in an aggregation
buffer is not mutable in place, which forces Spark onto SortAggregate; this
file pins one small query per aggregating site family to the operators it
plans as after a noop write."""

from __future__ import annotations

import re
import uuid

import pytest

from victoriametrics_spark import EvalConfig, evaluate
from victoriametrics_spark.schema import SAMPLE_SCHEMA
from victoriametrics_spark.streaming.streamaggr import (
    StreamAggrConfig,
    aggregate_batch,
)

CFG = EvalConfig(start=300_000, end=1_200_000, step=60_000)
HASH = {"HashAggregate"}
# percentile / collect_list keep an object buffer: ObjectHashAggregate,
# still hash-based
OBJECT = {"HashAggregate", "ObjectHashAggregate"}
# min/max over a struct keep a non-mutable struct buffer: the span plan's
# three as-of sample structs and the candlestick open/close pairs
STRUCT = {"SortAggregate"}

# (family, query, aggregate operators observed in the executed plan)
CASES = [
    ("default rollup", "max_over_time(m[2m])", HASH),
    ("two-level rollup", "max_over_time(m[20m])", HASH),
    ("prefix rollup", "sum_over_time(m[20m])", HASH),
    ("span rollup", "rate(m[2m])", STRUCT),
    ("rollup_candlestick", "rollup_candlestick(m[2m])", STRUCT),
    ("rollup", "rollup(m[2m])", HASH),
    ("quantiles_over_time", 'quantiles_over_time("q", 0.5, 0.9, m[2m])',
     {"ObjectHashAggregate"}),
    ("count_values_over_time", 'count_values_over_time("v", m[2m])', HASH),
    ("histogram_over_time", "histogram_over_time(m[2m])", HASH),
    ("sum", "sum by (job) (m)", HASH),
    ("quantile", "quantile by (job) (0.5, m)", OBJECT),
    ("mad", "mad by (job) (m)", OBJECT),
    ("count_values", 'count_values by (job) ("v", m)', HASH),
    ("histogram", "histogram by (job) (m)", OBJECT),
    ("fused aggregate binop", 'sum(m{job="a"}) / sum(m{job="b"})', HASH),
    ("default fill (scalar)", "m default 1", HASH),
    # the right-hand fill value per cell is a min_by ordered by the
    # (name, labels) struct of the right series: a struct buffer
    ("default fill (series)", "m default n", {"HashAggregate", "SortAggregate"}),
    ("histogram_quantile", "histogram_quantile(0.5, h)", OBJECT),
    ("range_avg", "range_avg(m)", HASH),
    ("range_median", "range_median(m)", OBJECT),
    ("range_linear_regression", "range_linear_regression(m)", HASH),
    ("running_sum", "running_sum(m)", HASH),
    ("keep_last_value", "keep_last_value(m)", HASH),
    ("drop_common_labels", "drop_common_labels(m)", OBJECT),
    ("limit_offset", 'limit_offset(1, 1, sort_by_label(m, "i"))', HASH),
]

_AGG_RE = re.compile(r"\b(SortAggregate|ObjectHashAggregate|HashAggregate)\b")


def _samples(spark):
    rows = []
    for s in range(4):
        labels = {"job": "ab"[s % 2], "i": str(s)}
        for t in range(0, 1_215_000, 15_000):
            rows.append(("m", labels, t, float(t // 1000 + s), False))
            if s < 2:
                rows.append(("n", labels, t + 7_500, 1.0, False))
    for le in ("0.5", "1", "+Inf"):
        for t in range(0, 1_215_000, 15_000):
            rows.append(("h", {"le": le}, t, float(t // 1000), False))
    return spark.createDataFrame(rows, SAMPLE_SCHEMA)


@pytest.fixture(scope="module")
def samples(spark):
    return _samples(spark)


def _executed_aggregates(spark, df) -> set[str]:
    """Aggregate operators of the plan a noop write of ``df`` executed."""
    tag = f"aggregate-plan-{uuid.uuid4().hex}"
    spark.sparkContext.setJobDescription(tag)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        spark.sparkContext.setJobDescription(None)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.size() - 1, -1, -1):
        if execs.apply(i).description() == tag:
            plan = execs.apply(i).physicalPlanDescription()
            return set(_AGG_RE.findall(plan.split("\n\n", 1)[0]))
    raise AssertionError("noop write left no SQL execution")


@pytest.mark.parametrize("family,query,expected", CASES, ids=[c[0] for c in CASES])
def test_grouped_labels_plan_as_hash_aggregates(
    spark, samples, family, query, expected
):
    ops = _executed_aggregates(spark, evaluate(spark, query, samples, CFG))
    assert ops == expected, (family, sorted(ops))


def test_streamaggr_batch_groups_plan_as_hash_aggregates(spark, samples):
    cfg = StreamAggrConfig(
        interval_ms=60_000,
        outputs=["total", "increase", "rate_avg", "sum_samples", "count_series"],
        by=["job"],
    )
    ops = _executed_aggregates(spark, aggregate_batch(samples, cfg))
    assert ops == HASH, sorted(ops)
