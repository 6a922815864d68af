"""Prefix-sum (marker) rollup plan — the output-optimal form for
sum-decomposable rollups at wide window / fine step.

VM evaluates ``rate(m[1d])`` at step=15s by sliding one window per grid
point over each series (rollupConfig.doInternal, rollup.go:701-820) — an
O(samples × window/step) loop that its per-series workers amortize. The
contribution-explode plan (engine/grid.py) shuffles that same product,
which at window/step = 5760 is the scale-killer.

This module computes every sum-shaped window aggregate from per-series
cumulative sums instead:

    window_sum(g) = C(g) - C(g - W),   C = running sum over samples

realized as: union the samples with TWO marker rows per (series, grid
point) — an end marker at sort position ``g`` and a start marker at
``g - W`` — compute running sums over one per-series ordered window, and
subtract the two marker readings. Total rows = samples + 2·points·series,
within a small constant of the OUTPUT size — no amplification at any
window/step ratio. NULL semantics of ``SUM`` (NULL iff no contributing
rows) are preserved by carrying a parallel non-null-count prefix.

Markers sort AFTER samples at the same timestamp, so the end marker at
``g`` includes a sample at exactly ``g`` (window is right-inclusive) and
the start marker at ``g - W`` absorbs a sample at exactly ``g - W`` into
the subtracted prefix (window is left-exclusive) — the same
``(g-W, g]`` bounds as rollup.go:701-820.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.engine.span import pos_dv_expr
from victoriametrics_spark.schema import series_key


def prefix_rollup(
    samples: DataFrame,
    cfg: EvalConfig,
    window_ms: int,
    offset_ms: int,
    contribs: list[tuple[str, Column]],
    needs_prev: bool,
) -> DataFrame:
    """Per-(series, grid point) windowed sums of per-sample contributions.

    ``contribs`` is a list of (alias, per-sample Column); the result has,
    for every alias, ``__d_<alias>`` = SUM of the contribution over the
    lookbehind window with exact SUM-NULL semantics, plus grouping cols
    (__series_key, i, gts); callers decode name and labels from the key.
    """
    start, end, step = cfg.start, cfg.end, cfg.step
    npts = cfg.num_points

    df = samples
    if "is_stale" in df.columns:
        df = df.filter(~F.coalesce(F.col("is_stale"), F.lit(False)))
    if "__series_key" not in df.columns:
        df = df.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    df = df.drop("name", "labels").withColumn(
        "__sts", F.col("ts") + F.lit(offset_ms)
    )
    # Range prune that preserves prev semantics: keep in-range samples
    # plus, per series, the single LAST sample at/before the cutoff — the
    # prev of the first in-range sample (VM's prevValue, rollup.go:780).
    # Everything later in the chain has an in-range predecessor. On the
    # bucketed storage layout this pre-range max_by is a bucket-local agg.
    cutoff = start - window_ms
    cols = df.columns
    if needs_prev:
        last_pre = (
            df.filter(F.col("__sts") <= F.lit(cutoff))
            .groupBy("__series_key")
            .agg(
                F.max_by(
                    F.struct(*[c for c in cols if c != "__series_key"]),
                    "__sts",
                ).alias("__s")
            )
            .select("__series_key", "__s.*")
            .select(*cols)
        )
        df = (
            df.filter(
                (F.col("__sts") > F.lit(cutoff)) & (F.col("__sts") <= F.lit(end))
            )
            .unionByName(last_pre)
        )
    else:
        df = df.filter(
            (F.col("__sts") > F.lit(cutoff)) & (F.col("__sts") <= F.lit(end))
        )

    # prev columns (when needed) are resolved AFTER the marker union via
    # last-ignoring-nulls (markers carry NULL value/ts), so the whole plan
    # needs exactly one partitioning+sort of each series
    sample_rows = df.select(
        "__series_key",
        F.col("ts"),
        F.col("value"),
        F.col("__sts").alias("__pos"),
        F.lit(0).alias("__m"),  # 0 = sample, sorts before markers at == pos
        F.lit(None).cast("long").alias("i"),
        F.lit(0).alias("__kind"),  # unused for samples
    )

    series = df.select("__series_key").distinct()
    grid = series.sparkSession.range(npts).select(F.col("id").alias("i"))
    markers = (
        series.crossJoin(grid)
        .withColumn("gts", F.lit(start) + F.col("i") * F.lit(step))
        .select(
            "__series_key",
            F.lit(None).cast("long").alias("ts"),
            F.lit(None).cast("double").alias("value"),
            F.explode(
                F.array(
                    F.struct(
                        F.col("gts").alias("pos"), F.lit(1).alias("kind")
                    ),
                    F.struct(
                        (F.col("gts") - F.lit(window_ms)).alias("pos"),
                        F.lit(2).alias("kind"),
                    ),
                )
            ).alias("__mk"),
            F.col("i"),
        )
        .select(
            "__series_key",
            "ts",
            "value",
            F.col("__mk.pos").alias("__pos"),
            F.lit(1).alias("__m"),
            "i",
            F.col("__mk.kind").alias("__kind"),
        )
    )

    unioned = sample_rows.unionByName(markers)

    w = Window.partitionBy("__series_key").orderBy("__pos", "__m")
    if needs_prev:
        wprev = w.rowsBetween(Window.unboundedPreceding, -1)
        unioned = (
            unioned.withColumn(
                "prev_value", F.last("value", ignorenulls=True).over(wprev)
            )
            .withColumn("prev_ts", F.last("ts", ignorenulls=True).over(wprev))
            .withColumn("dv", F.col("value") - F.col("prev_value"))
            .withColumn("dt", F.col("ts") - F.col("prev_ts"))
            .withColumn(
                "pos_dv", pos_dv_expr(F.col("value"), F.col("prev_value"))
            )
        )

    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    cum_cols = []
    for alias, expr in contribs:
        # marker rows contribute nothing; window membership itself is
        # enforced POSITIONALLY — only samples between the (g-W, g]
        # marker pair appear in the prefix difference
        e = F.when(F.col("__m") == 0, expr)
        unioned_alias = f"__e_{alias}"
        unioned = unioned.withColumn(unioned_alias, e)
        cum_cols.append(
            F.sum(F.coalesce(F.col(unioned_alias), F.lit(0.0)))
            .over(wcum)
            .alias(f"__c_{alias}")
        )
        cum_cols.append(
            F.sum(
                F.when(F.col(unioned_alias).isNotNull(), 1).otherwise(0)
            )
            .over(wcum)
            .alias(f"__n_{alias}")
        )
    scanned = unioned.select("__series_key", "i", "__m", "__kind", *cum_cols)

    marks = scanned.filter(F.col("__m") == 1)
    diff_aggs = []
    for alias, _ in contribs:
        c, n = f"__c_{alias}", f"__n_{alias}"
        end_c = F.max(F.when(F.col("__kind") == 1, F.col(c)))
        start_c = F.max(F.when(F.col("__kind") == 2, F.col(c)))
        end_n = F.max(F.when(F.col("__kind") == 1, F.col(n)))
        start_n = F.max(F.when(F.col("__kind") == 2, F.col(n)))
        nn = end_n - start_n
        diff_aggs.append(
            F.when(nn > 0, end_c - start_c).alias(f"__d_{alias}")
        )
    out = marks.groupBy("__series_key", "i").agg(*diff_aggs)
    return out.withColumn(
        "gts", F.lit(start) + F.col("i") * F.lit(step)
    )
