"""Planner-level rollups: multi-output families and sequential-state
functions (SURVEY.md §2.3 multi-output / composite groups).

Reference machinery: VM tags each emitted series with a ``rollup`` label
via rollupConfig.TagValue (rollup.go:576) or a timeseriesMap
(rollup.go:629 — histogram_over_time / quantiles_over_time /
count_values_over_time). The preFunc family (rollup.go:440-490) rewrites
sample values to forward deltas/derivs before windowing.

Spark shape: one grouped aggregation per query computing every output
column, then an array-of-structs explode emits the tagged series — the
multi-output fan-out costs no extra scan or shuffle.
"""

from __future__ import annotations

from dataclasses import replace
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.engine.grid import prepare_rollup_input
from victoriametrics_spark.metricsql.ast import (
    Expr,
    FuncExpr,
    MetricExpr,
    RollupExpr,
    StringExpr,
)
from victoriametrics_spark.schema import name_labels_from_series_key

if TYPE_CHECKING:
    from victoriametrics_spark.engine.planner import Plan, Planner

MULTI_ROLLUPS = {
    "rollup",
    "rollup_candlestick",
    "rollup_delta",
    "rollup_deriv",
    "rollup_increase",
    "rollup_rate",
    "rollup_scrape_interval",
}

# rollupFuncsKeepMetricName (rollup.go:267): of the planner-level family
_KEEP_NAME = {"rollup", "rollup_candlestick", "quantiles_over_time", "holt_winters"}


def _resolve(
    planner: "Planner", fe: FuncExpr, cfg: EvalConfig, series_idx: int = 0
) -> tuple[RollupExpr, DataFrame, int, int, str | None]:
    """Shared RollupExpr resolution (window default = step, offset).

    Implicit windows of rollupFuncsCanAdjustWindow members (the
    ``rollup_*`` multi-output family, rollup.go:204-219) widen to the
    per-series max(step, maxPrevInterval) — returned as a window COLUMN
    name for prepare_rollup_input, else None."""
    from victoriametrics_spark.engine.span import ADJUST_WINDOW, attach_widened_window

    arg = fe.args[series_idx]
    re_ = arg if isinstance(arg, RollupExpr) else RollupExpr(expr=arg)
    offset_ms = re_.offset.ms(cfg.step) if re_.offset else 0
    window_ms = re_.window.ms(cfg.step) if re_.window else None
    raw, window_ms = planner.rollup_input(re_, window_ms, offset_ms, cfg, fe.name)
    window_col = None
    if re_.window is None and fe.name in ADJUST_WINDOW:
        raw = attach_widened_window(raw, cfg, offset_ms)
        window_col = "__win"
    return re_, raw, window_ms, offset_ms, window_col


def _series_labels() -> Column:
    return name_labels_from_series_key(F.col("__series_key"))[1]


def _emit_tagged(
    grouped: DataFrame,
    cfg: EvalConfig,
    tag_label: str,
    pairs: list[tuple[Column, Column]],
    keep_name: bool,
    add_tag: bool = True,
) -> DataFrame:
    """Explode per-group aggregate columns into one series per tag:
    labels + {tag_label: tag} (VM rollupConfig.TagValue / timeseriesMap)."""
    arr = F.array(
        *[
            F.struct(tag.alias("t"), v.cast("double").alias("v"))
            for tag, v in pairs
        ]
    )
    gts = F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
    name, labels = name_labels_from_series_key(F.col("__series_key"))
    out = grouped.select(
        (name if keep_name else F.lit("")).alias("name"),
        labels.alias("labels"),
        gts.alias("ts"),
        F.explode(arr).alias("__e"),
    ).select(
        "name",
        (
            F.map_concat(
                F.map_filter(F.col("labels"), lambda k, v: k != F.lit(tag_label)),
                F.create_map(F.lit(tag_label), F.col("__e.t")),
            )
            if add_tag
            else F.col("labels")
        ).alias("labels"),
        "ts",
        F.col("__e.v").alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _x_column(name: str) -> Column:
    """Per-sample transformed value for the rollup_* family — VM's preFunc
    (deltaValues/derivValues over the whole series; the LAST sample of a
    series repeats the previous delta, a single-sample series yields 0
    for delta/increase and no value for deriv/scrape_interval)."""
    v, pv, nv = F.col("value"), F.col("prev_value"), F.col("next_value")
    ts, pts, nts = F.col("ts"), F.col("prev_ts"), F.col("next_ts")
    if name == "rollup_delta":
        return F.coalesce(nv - v, v - pv, F.lit(0.0))
    if name == "rollup_increase":
        return F.coalesce(F.col("next_pos_dv"), F.col("pos_dv"), F.lit(0.0))
    if name == "rollup_deriv":
        fwd = F.try_divide(nv - v, (nts - ts) / F.lit(1000.0))
        back = F.try_divide(v - pv, (ts - pts) / F.lit(1000.0))
        return F.coalesce(fwd, back)
    if name == "rollup_rate":
        fwd = F.try_divide(F.col("next_pos_dv"), (nts - ts) / F.lit(1000.0))
        back = F.try_divide(F.col("pos_dv"), (ts - pts) / F.lit(1000.0))
        return F.coalesce(fwd, back)
    if name == "rollup_scrape_interval":
        return F.coalesce((ts - pts) / F.lit(1000.0), (nts - ts) / F.lit(1000.0))
    return v  # "rollup": raw values


def plan_multi_rollup(planner: "Planner", fe: FuncExpr, cfg: EvalConfig) -> DataFrame:
    from victoriametrics_spark.engine.planner import PlanError

    name = fe.name
    only_tag = None
    if len(fe.args) > 1:
        if not isinstance(fe.args[1], StringExpr):
            raise PlanError(f"{name}: second arg must be a string tag")
        only_tag = fe.args[1].value

    re_, raw, window_ms, offset_ms, window_col = _resolve(planner, fe, cfg)

    if name == "rollup_candlestick":
        # Candle at gts covers ts ∈ [gts+step-W, gts+step): the reference's
        # automatic `offset -step` trick (eval.go:970-979) plus its
        # boundary-sample rules (getCandlestickValues /
        # getFirstValueForCandlestick, rollup.go:2206-2226) reduce to
        # exactly this half-open interval.
        prepared = prepare_rollup_input(
            raw, cfg, window_ms, offset_ms + 1 - cfg.step,
            window_col=window_col,
        )
        pair = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
        grouped = prepared.groupBy("__series_key", "i").agg(
            F.min(pair).alias("__first"),
            F.max(pair).alias("__last"),
            F.min("value").alias("__low"),
            F.max("value").alias("__high"),
        )
        tags = {
            "open": F.col("__first.v"),
            "close": F.col("__last.v"),
            "low": F.col("__low"),
            "high": F.col("__high"),
        }
    else:
        needs_fwd = name != "rollup"
        prepared = prepare_rollup_input(
            raw, cfg, window_ms, offset_ms, needs_fwd=needs_fwd,
            window_col=window_col,
        )
        prepared = prepared.withColumn("__x", _x_column(name))
        grouped = prepared.groupBy("__series_key", "i").agg(
            F.min("__x").alias("__min"),
            F.max("__x").alias("__max"),
            F.avg("__x").alias("__avg"),
        )
        tags = {
            "min": F.col("__min"),
            "max": F.col("__max"),
            "avg": F.col("__avg"),
        }

    if only_tag is not None:
        if only_tag not in tags:
            raise PlanError(f"{name}: unexpected tag {only_tag!r}")
        tags = {only_tag: tags[only_tag]}
    keep = name in _KEEP_NAME or fe.keep_metric_names or re_.keep_metric_names
    pairs = [(F.lit(t), c) for t, c in tags.items()]
    # an explicit single-flavor second arg selects the series WITHOUT the
    # `rollup` tag (appendRollupConfigs passes tagValue "" for explicit
    # tags, rollup.go:415-433) — EXCEPT rollup_candlestick, which tags
    # even explicit selections (rollup.go:455-470)
    add_tag = only_tag is None or name == "rollup_candlestick"
    return _emit_tagged(grouped, cfg, "rollup", pairs, keep, add_tag=add_tag)


def plan_quantiles_over_time(
    planner: "Planner", fe: FuncExpr, cfg: EvalConfig
) -> DataFrame:
    from victoriametrics_spark.engine.planner import PlanError

    if not isinstance(fe.args[0], StringExpr):
        raise PlanError("quantiles_over_time needs a label name first arg")
    label = fe.args[0].value
    phis = [planner.const_value(a, cfg) for a in fe.args[1:-1]]
    re_, raw, window_ms, offset_ms, window_col = _resolve(
        planner, fe, cfg, series_idx=len(fe.args) - 1
    )
    prepared = prepare_rollup_input(raw, cfg, window_ms, offset_ms)
    grouped = prepared.groupBy("__series_key", "i").agg(
        *[
            F.percentile(F.col("value"), F.lit(p)).alias(f"__q{j}")
            for j, p in enumerate(phis)
        ],
    )
    pairs = [
        (F.lit(f"{p:g}"), F.col(f"__q{j}")) for j, p in enumerate(phis)
    ]
    keep = True  # quantiles_over_time keeps the metric name (rollup.go:283)
    return _emit_tagged(grouped, cfg, label, pairs, keep)


def plan_count_values_over_time(
    planner: "Planner", fe: FuncExpr, cfg: EvalConfig
) -> DataFrame:
    from victoriametrics_spark.engine.planner import PlanError

    if not isinstance(fe.args[0], StringExpr):
        raise PlanError("count_values_over_time needs a label name first arg")
    label = fe.args[0].value
    re_, raw, window_ms, offset_ms, window_col = _resolve(planner, fe, cfg, series_idx=1)
    prepared = prepare_rollup_input(raw, cfg, window_ms, offset_ms)
    v = F.col("value")
    vstr = F.when(v == F.floor(v), v.cast("bigint").cast("string")).otherwise(
        v.cast("string")
    )
    gts = F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
    out = (
        prepared.withColumn("__vstr", vstr)
        .groupBy("__series_key", "i", "__vstr")
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            F.lit("").alias("name"),
            F.map_concat(
                F.map_filter(_series_labels(), lambda k, _: k != F.lit(label)),
                F.create_map(F.lit(label), F.col("__vstr")),
            ).alias("labels"),
            gts.alias("ts"),
            F.col("value"),
        )
    )
    return out


def plan_histogram_over_time(
    planner: "Planner", fe: FuncExpr, cfg: EvalConfig
) -> DataFrame:
    """VM log-bucket histogram of window samples per (series, grid point)
    → one series per ``vmrange`` bucket (rollup.go rollupHistogram).
    Positive values binned at 18 buckets/decade like the histogram
    aggregate; non-positive values are not binned (documented delta:
    the reference's metrics.Histogram also tracks them in catch-all
    edge buckets)."""
    re_, raw, window_ms, offset_ms, window_col = _resolve(planner, fe, cfg)
    prepared = prepare_rollup_input(raw, cfg, window_ms, offset_ms)
    v = F.col("value")
    pos = prepared.filter(v > 0)
    idx = F.ceil(F.log10(v) * 18).cast("long")
    lo = F.pow(F.lit(10.0), (idx - 1).cast("double") / 18.0)
    hi = F.pow(F.lit(10.0), idx.cast("double") / 18.0)
    vmrange = F.concat(
        F.format_string("%.3e", lo), F.lit("..."), F.format_string("%.3e", hi)
    )
    gts = F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
    out = (
        pos.withColumn("__vmrange", vmrange)
        .groupBy("__series_key", "i", "__vmrange")
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            F.lit("").alias("name"),
            F.map_concat(
                F.map_filter(_series_labels(), lambda k, _: k != F.lit("vmrange")),
                F.create_map(F.lit("vmrange"), F.col("__vmrange")),
            ).alias("labels"),
            gts.alias("ts"),
            F.col("value"),
        )
    )
    return out


def plan_aggr_over_time(
    planner: "Planner", fe: FuncExpr, cfg: EvalConfig
) -> DataFrame:
    """aggr_over_time(("f1","f2",...), m[d]) — run several rollups in one
    query, each output tagged rollup="fN" (rollup.go:494-508)."""
    from victoriametrics_spark.engine.planner import PlanError

    names: list[str] = []

    def collect(e: Expr) -> None:
        if isinstance(e, StringExpr):
            names.append(e.value)
        elif isinstance(e, FuncExpr) and e.name in ("", "union"):
            for a in e.args:
                collect(a)
        else:
            raise PlanError(
                "aggr_over_time: expecting quoted rollup function names"
            )

    for a in fe.args[:-1]:
        collect(a)
    if not names:
        raise PlanError("aggr_over_time needs at least one function name")
    series_arg = fe.args[-1]
    out: DataFrame | None = None
    for fname in names:
        sub = planner.plan_rollup_func(
            FuncExpr(name=fname, args=[series_arg]), cfg
        )
        sub_df = planner.materialize(sub, cfg)
        tagged = sub_df.select(
            F.lit("").alias("name"),
            F.map_concat(
                F.map_filter(F.col("labels"), lambda k, _: k != F.lit("rollup")),
                F.create_map(F.lit("rollup"), F.lit(fname)),
            ).alias("labels"),
            "ts",
            "value",
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


def plan_holt_winters(planner: "Planner", fe: FuncExpr, cfg: EvalConfig) -> DataFrame:
    """holt_winters(m[d], sf, tf) — double exponential smoothing over the
    window samples, seeded from the pre-window sample when present
    (rollup.go:1030-1076 newRollupHoltWinters). Sequential fold over the
    ts-sorted window array."""
    sf = planner.const_value(fe.args[1], cfg)
    tf = planner.const_value(fe.args[2], cfg)
    if not (0 <= sf <= 1) or not (0 <= tf <= 1):
        # VM yields NaN for out-of-range factors → empty result
        sf = tf = None
    re_, raw, window_ms, offset_ms, window_col = _resolve(planner, fe, cfg)
    prepared = prepare_rollup_input(
        raw, cfg, window_ms, offset_ms, needs_prev=True
    )
    pair = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
    grouped = prepared.groupBy("__series_key", "i").agg(
        F.array_sort(F.collect_list(pair)).alias("__sp"),
        F.min_by(F.col("prev_value"), F.col("ts")).alias("__pv"),
    )
    gts = F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
    if sf is None:
        value = F.lit(None).cast("double")
    else:
        vals = F.transform(F.col("__sp"), lambda e: e["v"])
        pv = F.col("__pv")
        s_init = F.coalesce(pv, F.element_at(vals, 1))
        seq = F.when(pv.isNotNull(), vals).otherwise(
            F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0)))
        )
        b_init = F.element_at(seq, 1) - s_init  # NULL when seq empty
        acc0 = F.struct(s_init.alias("s"), b_init.alias("b"))
        folded = F.aggregate(
            seq,
            acc0,
            lambda acc, v: F.struct(
                (F.lit(sf) * v + F.lit(1.0 - sf) * (acc["s"] + acc["b"])).alias(
                    "s"
                ),
                (
                    F.lit(tf)
                    * (
                        F.lit(sf) * v
                        + F.lit(1.0 - sf) * (acc["s"] + acc["b"])
                        - acc["s"]
                    )
                    + F.lit(1.0 - tf) * acc["b"]
                ).alias("b"),
            ),
        )
        value = F.when(F.size(seq) == 0, s_init).otherwise(folded["s"])
    name, labels = name_labels_from_series_key(F.col("__series_key"))
    out = grouped.select(
        name.alias("name"),  # holt_winters keeps the metric name
        labels.alias("labels"),
        gts.alias("ts"),
        value.cast("double").alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def plan_stale_samples_over_time(
    planner: "Planner", fe: FuncExpr, cfg: EvalConfig
) -> DataFrame:
    """Count staleness markers in the window (rollupStaleSamples) — the
    markers are kept (not filtered) for this rollup only."""
    re_, raw, window_ms, offset_ms, window_col = _resolve(planner, fe, cfg)
    prepared = prepare_rollup_input(
        raw, cfg, window_ms, offset_ms, keep_stale=True
    )
    gts = F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
    out = (
        prepared.groupBy("__series_key", "i")
        .agg(
            F.sum(
                F.when(F.coalesce(F.col("is_stale"), F.lit(False)), 1).otherwise(0)
            )
            .cast("double")
            .alias("value"),
        )
        .select(
            F.lit("").alias("name"),
            _series_labels().alias("labels"),
            gts.alias("ts"),
            "value",
        )
    )
    return out
