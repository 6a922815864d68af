"""Cross-series aggregate functions (SURVEY.md §2.5) — 37 functions from
vendor/.../metricsql/aggr.go:7-45, executed per grid timestamp within
``by/without`` label groups as Catalyst hash aggregations (Spark's
partial/final agg is exactly VM's incremental path,
app/vmselect/promql/aggr_incremental.go:18-168).

Each group is keyed by ``__gkey``, the canonical string of its
by/without label map (``schema.canonical_labels_str``). Aggregates group
on that key alone and decode the output labels from it afterwards
(``schema.labels_from_key``), so the aggregation buffers hold only
mutable numeric state and Spark plans them as hash aggregates.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.metricsql.ast import AggrFuncExpr, StringExpr
from victoriametrics_spark.schema import canonical_labels_str, labels_from_key, series_key

if TYPE_CHECKING:
    from victoriametrics_spark.engine.planner import Plan, Planner

def V() -> Column:
    # lazy: PySpark needs an active session to construct Columns
    return F.col("value")

# simple grouped aggregates: name → agg Column. Inputs are pre-scrubbed
# of NaN rows (plan_aggr) — VM's aggrFunc* skip NaN per point.
_SIMPLE: dict[str, Callable[[], Column]] = {
    "sum": lambda: F.sum(V()),
    "min": lambda: F.min(V()),
    "max": lambda: F.max(V()),
    "avg": lambda: F.avg(V()),
    "count": lambda: F.count(V()).cast("double"),
    "stddev": lambda: F.stddev_pop(V()),
    "stdvar": lambda: F.var_pop(V()),
    "sum2": lambda: F.sum(V() * V()),
    # geomean = pow(product of values, 1/count) — aggrFuncGeomean
    # multiplies RAW values (zeros zero the product, an odd number of
    # negatives makes it negative → pow gives NaN for fractional 1/n,
    # the value itself for n=1). exp(avg(log v)) would silently skip
    # zeros/negatives (Spark log → NULL).
    "geomean": lambda: F.pow(
        F.when(F.sum(F.when(V() == 0, 1).otherwise(0)) > 0, F.lit(0.0))
        .otherwise(
            F.exp(F.sum(F.log(F.abs(V()))))
            * F.when(
                F.sum(F.when(V() < 0, 1).otherwise(0)) % 2 == 1, F.lit(-1.0)
            ).otherwise(F.lit(1.0))
        ),
        1.0 / F.count(V()),
    ),
    "distinct": lambda: F.count_distinct(V()).cast("double"),
    # deterministic=True breaks frequency ties toward the LOWEST value,
    # matching modeNoNaNs (sorted ascending, first modal wins)
    "mode": lambda: F.mode(V(), True),
    "median": lambda: F.percentile(V(), F.lit(0.5)),
    "group": lambda: F.lit(1.0),
    "any": lambda: F.min_by(V(), F.col("__sk")),
    "mad": lambda: None,  # handled specially (two-stage median)
}

# per-series ranking metric for topk_*/bottomk_* (rank series, then keep
# whole series — VM newAggrFuncRangeTopK)
_SERIES_RANK: dict[str, Callable[[], Column]] = {
    "max": lambda: F.max(V()),
    "min": lambda: F.min(V()),
    "avg": lambda: F.avg(V()),
    "median": lambda: F.percentile(V(), F.lit(0.5)),
    "last": lambda: F.max_by(V(), F.col("ts")),
}


def _int_k(raw: float) -> int:
    """getIntK (aggr.go:793-802): NaN → 0, negative → 0, +Inf → bounded
    huge (keeps everything) — never a raw Python int() crash."""
    import math as _math

    if _math.isnan(raw):
        return 0
    if raw == float("inf"):
        return 1 << 62
    if raw < 0:
        return 0
    return int(raw)


def group_labels_col(modifier) -> Column:
    """New label map after by/without grouping. The metric name drops
    unless ``by (__name__)`` lists it explicitly — then it rides along
    as a ``__name__`` map entry that :func:`_shape` lifts back into the
    name column (aggr.go: MetricGroup participates in by-grouping when
    named)."""
    labels = F.col("labels")
    empty = F.create_map().cast("map<string,string>")
    if modifier is None:
        return empty
    keys = [str(k) for k in modifier.args]
    if modifier.op == "by":
        if not keys:
            return empty
        base = F.map_filter(labels, lambda k, v: k.isin(*keys))
        if "__name__" in keys:
            base = F.map_concat(
                base,
                F.when(
                    F.coalesce(F.col("name"), F.lit("")) != "",
                    F.create_map(F.lit("__name__"), F.col("name")),
                ).otherwise(empty),
            )
        return base
    # without
    if not keys:
        return labels
    return F.map_filter(labels, lambda k, v: ~k.isin(*keys))


def plan_aggr(planner: "Planner", ae: AggrFuncExpr, cfg: EvalConfig) -> "Plan":
    from victoriametrics_spark.engine.planner import PlanError

    name = ae.name
    series_arg_idx = {
        "quantile": 1,
        "quantiles": -1,
        "topk": 1,
        "bottomk": 1,
        "topk_max": 1, "topk_min": 1, "topk_avg": 1, "topk_median": 1, "topk_last": 1,
        "bottomk_max": 1, "bottomk_min": 1, "bottomk_avg": 1, "bottomk_median": 1,
        "bottomk_last": 1,
        "limitk": 1,
        "outliersk": 1,
        "outliers_mad": 1,
        "count_values": 1,
        "share": 0,
        "zscore": 0,
    }.get(name, 0)
    if series_arg_idx == -1:
        series_arg_idx = len(ae.args) - 1
    if series_arg_idx >= len(ae.args):
        raise PlanError(f"{name}: missing argument")

    if series_arg_idx == 0 and len(ae.args) > 1:
        # plain aggregates with several args aggregate over their UNION
        # (aggr.go: multi-arg aggregate = union of the evaluated args,
        # exec_test `remove_resets(sum(alias(...), alias(...)))`)
        df = planner.materialize(planner.plan(ae.args[0], cfg), cfg)
        for extra in ae.args[1:]:
            df = df.unionByName(
                planner.materialize(planner.plan(extra, cfg), cfg)
            )
    else:
        df = planner.materialize(planner.plan(ae.args[series_arg_idx], cfg), cfg)
    # VM's aggregates skip NaN per point and drop all-NaN series before
    # grouping (aggrFunc* loops + aggrPrepareSeries removeEmptySeries);
    # NaN rows deliberately survive evaluation (planner.py), so scrub
    # them HERE — "skip the NaN point" ≡ "drop the NaN row" in this
    # model. Without this, Spark's NaN propagation poisons sums and its
    # NaN-is-largest ordering corrupts max/rankings.
    df = df.filter(~F.isnan(F.col("value")))
    df = df.withColumn(
        "__gkey", canonical_labels_str(group_labels_col(ae.modifier))
    )

    if ae.limit and ae.limit > 0:
        # MetricsQL `limit N` modifier caps the number of output GROUPS
        # (aggr.go aggrPrepareSeries: skips new group keys once the map
        # holds N). VM keeps first-seen map order; we keep the first N in
        # canonical group-key order — deterministic under any partitioning.
        keys = (
            df.select("__gkey").distinct().orderBy("__gkey").limit(int(ae.limit))
        )
        df = df.join(F.broadcast(keys), "__gkey", "left_semi")

    if name in _SIMPLE and name not in ("mad", "any"):
        agg = _SIMPLE[name]()
        out = df.groupBy("__gkey", "ts").agg(agg.cast("double").alias("value"))
        return _shape(out)

    if name == "any":
        # aggrFuncAny: keepOriginal=true — ONE WHOLE series per group,
        # with its original name and labels (deterministic pick: the
        # min series key)
        df = df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        first_sk = df.groupBy("__gkey").agg(F.min("__sk").alias("__sk"))
        out = df.join(
            F.broadcast(first_sk), ["__gkey", "__sk"], "left_semi"
        )
        return out.select("name", "labels", "ts", "value")

    if name == "mad":
        # median(|v - median(v)|) per group/ts, via sorted-array expression
        med = F.percentile(V(), F.lit(0.5))
        grouped = df.groupBy("__gkey", "ts").agg(
            F.collect_list(V()).alias("__vals"),
            med.alias("__med"),
        )
        dev = F.array_sort(
            F.transform(F.col("__vals"), lambda v: F.abs(v - F.col("__med")))
        )
        n = F.size(dev)
        lo = F.element_at(dev, ((n + 1) / 2).cast("int"))
        hi = F.element_at(dev, ((n + 2) / 2).cast("int"))
        out = grouped.withColumn("value", ((lo + hi) / 2.0).cast("double")).drop(
            "__vals", "__med"
        )
        return _shape(out)

    if name == "quantile":
        import math as _math

        phi = planner.const_value(ae.args[0], cfg)
        if _math.isnan(phi):
            # quantileSorted(NaN) → NaN at every point → no rows
            # (aggr.go:922-925)
            return df.limit(0).select("name", "labels", "ts", "value")
        if phi < 0 or phi > 1:
            # quantile.go: phi outside [0,1] → ∓Inf
            bound = float("-inf") if phi < 0 else float("inf")
            out = df.groupBy("__gkey", "ts").agg(F.lit(bound).alias("value"))
            return _shape(out)
        out = df.groupBy("__gkey", "ts").agg(
            F.percentile(V(), F.lit(phi)).cast("double").alias("value"),
        )
        return _shape(out)

    if name == "quantiles":
        # quantiles("label", phi1, ..., q) — one output series per phi
        if not isinstance(ae.args[0], StringExpr):
            raise PlanError('quantiles needs a label name first arg')
        label = ae.args[0].value
        import math as _math

        phis = [planner.const_value(a, cfg) for a in ae.args[1:-1]]

        def _phi_agg(phi):
            # mirror the quantile() branch: NaN phi -> NaN (series
            # dropped), out-of-range phi -> constant -/+Inf; Spark's
            # percentile would otherwise reject the percentage
            if _math.isnan(phi):
                return F.lit(float("nan"))
            if phi < 0:
                return F.lit(float("-inf"))
            if phi > 1:
                return F.lit(float("inf"))
            return F.percentile(V(), F.lit(phi))

        grouped = df.groupBy("__gkey", "ts").agg(
            *[
                _phi_agg(phi).alias(f"__q{i}")
                for i, phi in enumerate(phis)
            ],
        )
        pairs = F.array(
            *[
                F.struct(
                    # %g like the reference (aggr.go:1190): -1.0 → "-1"
                    F.lit("%g" % phi).alias("phi"),
                    F.col(f"__q{i}").alias("v"),
                )
                for i, phi in enumerate(phis)
            ]
        )
        exploded = grouped.select("__gkey", "ts", F.explode(pairs).alias("__p"))
        out = exploded.select(
            "ts",
            F.map_concat(
                F.map_filter(
                    labels_from_key(F.col("__gkey")), lambda k, v: k != F.lit(label)
                ),
                F.create_map(F.lit(label), F.col("__p.phi")),
            ).alias("labels"),
            F.col("__p.v").cast("double").alias("value"),
        )
        return _shape(out)  # _shape drops the NaN-phi series' points

    if name in ("topk", "bottomk"):
        # getIntK semantics: NaN/negative k keeps nothing, inf keeps all
        k = _int_k(planner.const_value(ae.args[0], cfg))
        desc = name == "topk"
        # NaN ranks below every number in both directions (lessWithNaNs /
        # greaterWithNaNs, aggr.go:1259-1279); Spark sorts NaN as the
        # LARGEST double, so rank on a NaN→NULL copy with nulls last
        rv = F.when(F.isnan(V()), F.lit(None)).otherwise(V())
        order = (
            [rv.desc_nulls_last(), F.col("__sk").asc()]
            if desc
            else [rv.asc_nulls_last(), F.col("__sk").asc()]
        )
        df = df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        w = Window.partitionBy("__gkey", "ts").orderBy(*order)
        ranked = df.withColumn("__rn", F.row_number().over(w))
        out = ranked.filter(F.col("__rn") <= k)
        return out.select("name", "labels", "ts", "value")

    if name.startswith(("topk_", "bottomk_")):
        base, metric = name.split("_", 1)
        k = _int_k(planner.const_value(ae.args[0], cfg))
        rank_agg = _SERIES_RANK[metric]()
        df = df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        series_stats = df.groupBy("__gkey", "__sk").agg(rank_agg.alias("__rank"))
        order = (
            [F.col("__rank").desc(), F.col("__sk").asc()]
            if base == "topk"
            else [F.col("__rank").asc(), F.col("__sk").asc()]
        )
        w = Window.partitionBy("__gkey").orderBy(*order)
        keep = series_stats.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= k
        )
        out = df.join(
            F.broadcast(keep.select("__gkey", "__sk")), ["__gkey", "__sk"], "left_semi"
        ).select("name", "labels", "ts", "value")
        # optional trailing `"tag=value"` arg: add a per-group series with
        # the SUM of the non-kept series (getRemainingSumTimeseries,
        # aggr.go:751-781)
        if len(ae.args) > 2 and isinstance(ae.args[2], StringExpr):
            spec = ae.args[2].value
            tag, _, tval = spec.partition("=")
            if not tval:
                tag, tval = spec, spec
            rest = df.join(
                F.broadcast(keep.select("__gkey", "__sk")),
                ["__gkey", "__sk"],
                "left_anti",
            )
            rem = (
                rest.filter(~F.isnan(V()))
                .groupBy("__gkey", "ts")
                .agg(F.sum(V()).cast("double").alias("value"))
                .withColumn(
                    "labels",
                    F.map_concat(
                        F.map_filter(
                            labels_from_key(F.col("__gkey")),
                            lambda kk, vv: kk != F.lit(tag),
                        ),
                        F.create_map(F.lit(tag), F.lit(tval)),
                    ),
                )
            )
            out = out.unionByName(_shape(rem))
        return out

    if name == "limitk":
        # first k series per group, hash-stable (aggr.go aggrFuncLimitK);
        # non-finite k (limitk(inf, q)) keeps everything
        k_raw = planner.const_value(ae.args[0], cfg)
        if k_raw == float("inf"):
            return df.select("name", "labels", "ts", "value")
        k = _int_k(k_raw)
        df = df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        series = df.select("__gkey", "__sk").distinct()
        w = Window.partitionBy("__gkey").orderBy(
            F.xxhash64(F.col("__sk")).asc(), F.col("__sk").asc()
        )
        keep = series.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= k
        )
        out = df.join(
            F.broadcast(keep.select("__gkey", "__sk")), ["__gkey", "__sk"], "left_semi"
        )
        return out.select("name", "labels", "ts", "value")

    if name == "share":
        # per-series share of the group total at each ts (keeps series).
        # Negative points are excluded from the sum AND become NaN
        # (aggrFuncShare, aggr.go:468-486)
        w = Window.partitionBy("__gkey", "ts")
        nonneg = F.when(V() >= 0, V()).otherwise(F.lit(0.0))
        out = df.withColumn(
            "value",
            F.when(
                V() >= 0, F.try_divide(V(), F.sum(nonneg).over(w))
            ).cast("double"),
        )
        # aggrFuncExt(..., keepOriginal=true): each share keeps its
        # series' FULL original identity, name included
        return out.select(
            "name", F.col("labels"), F.col("ts"), F.col("value")
        ).filter(F.col("value").isNotNull())

    if name == "zscore":
        w = Window.partitionBy("__gkey", "ts")
        out = df.withColumn(
            "value",
            F.try_divide(V() - F.avg(V()).over(w), F.stddev_pop(V()).over(w)).cast(
                "double"
            ),
        )
        # keepOriginal=true here as well (aggrFuncZScore)
        return out.select(
            "name", F.col("labels"), F.col("ts"), F.col("value")
        ).filter(F.col("value").isNotNull() & ~F.isnan("value"))

    if name == "outliersk":
        # k series with max deviation from the group median (per series
        # aggregate deviation; aggr.go aggrFuncOutliersK)
        k = _int_k(planner.const_value(ae.args[0], cfg))
        df = df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        wts = Window.partitionBy("__gkey", "ts")
        with_med = df.withColumn("__med", F.percentile(V(), F.lit(0.5)).over(wts))
        dev = with_med.groupBy("__gkey", "__sk").agg(
            F.sum(F.pow(V() - F.col("__med"), 2)).alias("__dev")
        )
        w = Window.partitionBy("__gkey").orderBy(
            F.col("__dev").desc(), F.col("__sk").asc()
        )
        keep = dev.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
        out = df.join(
            F.broadcast(keep.select("__gkey", "__sk")), ["__gkey", "__sk"], "left_semi"
        )
        return out.select("name", "labels", "ts", "value")

    if name in ("outliers_mad", "outliers_iqr"):
        df = df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        wts = Window.partitionBy("__gkey", "ts")
        if name == "outliers_mad":
            tol = planner.const_value(ae.args[0], cfg) if len(ae.args) == 2 else 3.0
            med = F.percentile(V(), F.lit(0.5)).over(wts)
            df2 = df.withColumn("__med", med)
            mad = F.percentile(F.abs(V() - F.col("__med")), F.lit(0.5)).over(wts)
            keep_cond = F.abs(V() - F.col("__med")) > F.lit(tol) * mad
            out = df2.withColumn("__keep", keep_cond)
        else:
            q25 = F.percentile(V(), F.lit(0.25)).over(wts)
            q75 = F.percentile(V(), F.lit(0.75)).over(wts)
            df2 = df.withColumn("__q25", q25).withColumn("__q75", q75)
            iqr = F.col("__q75") - F.col("__q25")
            keep_cond = (V() < F.col("__q25") - 1.5 * iqr) | (
                V() > F.col("__q75") + 1.5 * iqr
            )
            out = df2.withColumn("__keep", keep_cond)
        # keep whole series that have at least one outlier point
        outlier_series = (
            out.filter("__keep").select("__gkey", "__sk").distinct()
        )
        res = df.join(
            F.broadcast(outlier_series), ["__gkey", "__sk"], "left_semi"
        )
        return res.select("name", "labels", "ts", "value")

    if name == "count_values":
        if not isinstance(ae.args[0], StringExpr):
            raise PlanError("count_values needs a label name first arg")
        label = ae.args[0].value
        # strconv.FormatFloat(v, 'f', -1, 64): decimal notation, no
        # exponent, minimal digits (1e-7 -> "0.0000001", never "1.0E-7");
        # approximated as %.12f with trailing zeros trimmed — also frees
        # huge integral doubles from the bigint clamp. NaN points were
        # scrubbed at the aggregate input (VM skips them too).
        vstr = F.regexp_replace(
            F.regexp_replace(
                F.format_string("%.12f", F.col("value")), "0+$", ""
            ),
            "\\.$",
            "",
        )
        out = (
            df.withColumn("__vstr", vstr)
            .groupBy("__gkey", "ts", "__vstr")
            .agg(F.count("*").cast("double").alias("value"))
            .select(
                F.map_concat(
                    F.map_filter(
                        labels_from_key(F.col("__gkey")),
                        lambda k, v: k != F.lit(label),
                    ),
                    F.create_map(F.lit(label), F.col("__vstr")),
                ).alias("labels"),
                F.col("ts"),
                F.col("value"),
            )
        )
        return _shape(out)  # lifts by(__name__) like every other branch

    if name == "histogram":
        # aggrFuncHistogram ends with vmrangeBucketsToLE: the output is
        # Prometheus-style le-labeled cumulative buckets in %.3e format
        from victoriametrics_spark.engine.histogram import vmrange_to_le

        return vmrange_to_le(_vm_histogram(df))

    raise PlanError(f"aggregate function {name!r} not implemented yet")


def _shape(out: DataFrame) -> DataFrame:
    # group labels are decoded from the group key unless a branch built
    # its own; a __name__ entry in the group-label map (injected by
    # group_labels_col for `by (__name__)`) becomes the output name
    labels = (
        F.col("labels")
        if "labels" in out.columns
        else labels_from_key(F.col("__gkey"))
    )
    name = F.coalesce(labels.getItem("__name__"), F.lit(""))
    clean = F.map_filter(labels, lambda k, v: k != F.lit("__name__"))
    return out.select(
        name.alias("name"), clean.alias("labels"), F.col("ts"), F.col("value")
    ).filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _vm_histogram(df: DataFrame) -> DataFrame:
    """Cross-series VM log-bucket histogram per group/ts → ``vmrange``
    series (lib/streamaggr/histogram_bucket.go semantics: 18 buckets per
    decade, v ∈ (lo, hi]).

    Bucket index for v>0: ceil(log10(v) * 18) with vmrange bounds
    10^((i-1)/18) .. 10^(i/18).
    """
    # metrics.Histogram.Update: NaN and NEGATIVE values are ignored;
    # v < 1e-9 (including 0) lands in the LOWER bucket, v > 1e18 in the
    # UPPER bucket (histogram.go:88-101, e10Min=-9/e10Max=18). NaN rows
    # were scrubbed at the aggregate input.
    pos = df.filter(V() >= 0)
    idx = F.ceil(F.log10(V()) * 18).cast("long")
    lo = F.pow(F.lit(10.0), (idx - 1).cast("double") / 18.0)
    hi = F.pow(F.lit(10.0), idx.cast("double") / 18.0)
    # %.3e like the reference's metrics.Histogram bucket names — must stay
    # parseable as a double for prometheus_buckets (no thousands separators)
    mid = F.concat(
        F.format_string("%.3e", lo), F.lit("..."), F.format_string("%.3e", hi)
    )
    vmrange = (
        F.when(V() < 1e-9, F.lit("0...1.000e-09"))
        .when(V() > 1e18, F.lit("1.000e+18...+Inf"))
        .otherwise(mid)
    )
    out = (
        pos.withColumn("__vmrange", vmrange)
        .groupBy("__gkey", "ts", "__vmrange")
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            F.lit("").alias("name"),
            F.map_concat(
                labels_from_key(F.col("__gkey")),
                F.create_map(F.lit("vmrange"), F.col("__vmrange")),
            ).alias("labels"),
            F.col("ts"),
            F.col("value"),
        )
    )
    return out
