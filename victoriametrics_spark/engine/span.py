"""Span-normalized counter/derivative rollups — VM-exact semantics for
the rate/deriv family (round-7 parity closure).

The reference normalizes ``rate``/``deriv_fast``/``irate`` by the ACTUAL
sample span, not the nominal window:

- ``rollupDerivFast`` (app/vmselect/promql/rollup.go:1954-1990) returns
  ``(vLast − vPrev) / (tLast − tPrev)`` where the prev anchor is the last
  sample BEFORE the window when it lies within ``maxPrevInterval`` of the
  window start; without an eligible anchor the first in-window sample
  anchors instead (and a single-sample window yields no point).
- ``maxPrevInterval`` is a per-series scrape-interval estimate: the 0.6
  quantile of the gaps between the last ≤21 fetched samples, inflated by
  tier (``getScrapeInterval``/``getMaxPrevInterval``, rollup.go:871-919);
  instant queries (start == end) use the step directly (rollup.go:723-727).
- Implicit lookbehind windows of the ``rollupFuncsCanAdjustWindow`` set
  (rollup.go:204-219) are widened to ``max(step, maxPrevInterval)``
  (rollup.go:747-756), so ``rate(m)`` keeps returning points when the
  step undershoots the scrape interval.
- Counter resets are removed over the WHOLE fetched series with the
  partial-reset rule (``removeCounterResets``, rollup.go:922-958): a drop
  smaller than 1/8 of the previous value is treated as a partial reset
  (adjusted delta 0), a larger drop as a full restart (adjusted delta =
  the new value, clamped at 0).
- An EMPTY window whose eligible anchor exists yields 0 for
  rate/increase/delta/idelta/deriv_fast ("the value didn't change") —
  the reference's grid emits real points there. Eligibility requires a
  fetched sample AFTER the window start too (rollup.go:781
  ``i < len(timestamps)``), so a stopped scrape goes stale instead of
  emitting 0 forever.

Spark realization — ONE plan for every window/step ratio, shaped like
engine/prefix.py: union the per-series samples (carrying lag/lead
columns) with two marker rows per (series, grid point) — an end marker
at ``g`` and a start marker at ``g − W`` — and read, from one ordered
window pass per series:

- at the END marker: the last in-window sample's carried struct and the
  cumulative reset-adjusted sum;
- at the START marker: the anchor (last sample at/before the window
  start), the first in-window sample (forward-first), and the cumulative
  sum at the window start.

Total rows = samples + 2·points·series — output-optimal at any
window/step ratio, no W/step amplification, and the empty-window ghost
points come for free from the markers (every (series, grid point) has a
marker pair even when the window holds no samples).

The fetch contract mirrors evalRollupFuncNoCache (eval.go:1821-1832):
samples with shifted ts in ``(start − max(window, step) − silence, end]``
where silence = cfg.max_lookback (the -search.maxStalenessInterval
default of 5m, eval.go:1919-1925); lag/lead columns and the interval
estimate are computed over exactly this fetched set, like VM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.schema import name_labels_from_series_key, series_key

# Functions evaluated by this module (each mirrors the named Go func).
SPAN_ROLLUPS = {
    "rate",  # rollupDerivFast over reset-adjusted values
    "irate",  # rollupIderiv over reset-adjusted values
    "increase",  # rollupDelta over reset-adjusted values
    "increase_pure",  # rollupIncreasePure over reset-adjusted values
    "delta",  # rollupDelta over raw values
    "idelta",  # rollupIdelta over raw values
    "deriv_fast",  # rollupDerivFast over raw values
    "ideriv",  # rollupIderiv over raw values
}

# Round-8 closure of the non-span tail (the last §2.3 documented
# deviation): these functions consume doInternal's eligibility-gated
# prevValue/prevTimestamp (rollup.go:780-785) — the anchor sample
# before the window start counts only when it lies within
# maxPrevInterval of the window start AND a fetched sample exists after
# the window start. They ride the same role-explode plan; changes /
# resets additionally read a second running sum (in-window
# change/reset counts as single subtractions, bit-reproducible).
ELIGIBILITY_ROLLUPS = {
    "changes",  # rollupChanges (el prev, realPrevValue fallback, n starts 1)
    "resets",  # rollupResets (el prev, else count from first in-window)
    "lifetime",  # rollupLifetime (l_ts − a_ts with el prev)
    "lag",  # rollupLag (empty window → g − a_ts with el prev)
    "scrape_interval",  # rollupScrapeInterval (also widens, below)
    # no prev semantics, but divides by the per-series WIDENED window
    # (rfa.window after rollup.go:747-756) — rides this plan for the
    # per-series divisor + the running value sum
    "rate_over_sum",  # rollupRateOverSum
}

# rollupFuncsCanAdjustWindow (rollup.go:204-219) — COMPLETE since round
# 8: implicit lookbehind windows widen to max(step, maxPrevInterval) per
# series. deriv widens on the generic regression path
# (attach_widened_window); default_rollup / rate_over_sum / timestamp
# widen on the generic path via the same per-series window column; the
# rollup_* multi-output family widens in engine/multirollup.py.
ADJUST_WINDOW = {
    "default_rollup",
    "deriv",
    "deriv_fast",
    "ideriv",
    "irate",
    "rate",
    "rate_over_sum",
    "rollup",
    "rollup_candlestick",
    "rollup_deriv",
    "rollup_rate",
    "rollup_scrape_interval",
    "scrape_interval",
    "timestamp",
}


def pos_dv_expr(value: Column, prev: Column) -> Column:
    """Reset-adjusted per-sample delta (removeCounterResets,
    rollup.go:922-958): drops smaller than 1/8 of the previous value are
    partial resets (delta 0); larger drops restart the counter (delta =
    new value, clamped non-negative by the monotonicity guard)."""
    return (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(value >= prev, value - prev)
        .when((prev - value) * F.lit(8.0) < prev, F.lit(0.0))
        .otherwise(F.greatest(value, F.lit(0.0)))
    )


def max_prev_interval_expr(si: Column) -> Column:
    """getMaxPrevInterval (rollup.go:905-919): tier-inflate the scrape
    interval (integer arithmetic like Go — gaps are positive, so
    floor-div matches Go's truncating division)."""
    return (
        F.when(si <= 2_000, si * 5)
        .when(si <= 4_000, si * 3)
        .when(si <= 8_000, si * 2)
        .when(si <= 16_000, si + F.floor(si / 2).cast("long"))
        .when(si <= 32_000, si + F.floor(si / 4).cast("long"))
        .otherwise(si + F.floor(si / 8).cast("long"))
    )


def attach_widened_window(
    samples: DataFrame, cfg: EvalConfig, offset_ms: int
) -> DataFrame:
    """Attach the per-series implicit window ``__win`` =
    max(step, maxPrevInterval) to the samples (rollup.go:747-756) for
    adjustable functions that stay on the generic explode path
    (deriv / default_rollup / timestamp).

    INLINE since round 9: the estimate (getScrapeInterval's 0.6 gap
    quantile over the last ≤21 FETCHED samples, rollup.go:871-919) is a
    window expression over the same per-series partitioning the rollup
    stages already need — not a separate aggregation + broadcast join —
    so on the bucketed layout (storage/layout.py) the whole path runs
    with ZERO Exchange, matching the span plan's shape. Series with no
    fetched sample are dropped (VM's storage search never returns them,
    eval.go:1821-1832); rows outside the fetch bound on the same
    day keep their series' estimate.
    """
    df = samples
    if "__series_key" not in df.columns:
        df = df.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    orig_cols = df.columns
    step = int(cfg.step)
    sts = F.col("ts") + F.lit(offset_ms)
    # inclusive lower bound like VM's storage search (eval.go:1821-1832)
    fetched = (
        sts >= F.lit(cfg.start - cfg.step - cfg.max_lookback)
    ) & (sts <= F.lit(cfg.end))
    w = Window.partitionBy("__series_key").orderBy("ts")
    wall = Window.partitionBy("__series_key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    df = df.select("*", fetched.cast("int").alias("__f"))
    df = df.select(
        "*",
        F.sum("__f").over(wall).alias("__fcnt"),
        F.sum("__f")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__frn"),
        # previous FETCHED sample's ts (the fetch range is a contiguous
        # ts interval, so this is the in-fetch lag; null for the first)
        F.max(F.when(F.col("__f") == 1, F.col("ts")))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("__pts"),
    )
    if cfg.start >= cfg.end:
        # instant query: maxPrevInterval = step (rollup.go:723-727),
        # still capped by an explicit LookbackDelta (rollup.go:730-733)
        w_ms = (
            min(step, cfg.lookback_delta)
            if cfg.lookback_delta > 0
            else step
        )
        win = F.lit(w_ms).cast("long")
        return df.filter(F.col("__fcnt") > 0).select(
            *orig_cols, win.alias("__win")
        )
    gap = (F.col("ts") - F.col("__pts")).cast("double")
    rn_desc = F.col("__fcnt") - F.col("__frn") + 1
    mask = (
        (F.col("__f") == 1) & F.col("__pts").isNotNull() & (rn_desc <= 20)
    )
    # materialize the quantile, then the tier CASE over the materialized
    # column — composing the CASE over the raw percentile Column would
    # inline the window expression ~30× (same note as the span plan)
    df = df.select(
        "*", F.percentile(F.when(mask, gap), F.lit(0.6)).over(wall).alias("__q")
    )
    si0 = F.floor(F.col("__q")).cast("long")
    si = F.when(si0.isNull() | (si0 <= 0), F.lit(step)).otherwise(si0)
    df = df.select("*", si.alias("__si"))
    mpi = max_prev_interval_expr(F.col("__si"))
    if cfg.lookback_delta > 0:
        mpi = F.least(mpi, F.lit(int(cfg.lookback_delta)))
    win = F.greatest(F.lit(step).cast("long"), mpi)
    if cfg.lookback_delta > 0:
        # callers use this path only for window-adjustable functions;
        # the artificial window cannot exceed an explicit LookbackDelta
        # (rollup.go:753)
        win = F.least(win, F.lit(int(cfg.lookback_delta)))
    return df.filter(F.col("__fcnt") > 0).select(
        *orig_cols, win.alias("__win")
    )


def _has_prev_expr(cfg: EvalConfig, gts_col: Column) -> Column:
    """Does a baseline sample exist for the delta family? With
    LookbackDelta unset, any anchor serves (realPrevValue is
    unconditional when i > 0, rollup.go:788-805). When set, the anchor
    serves iff it is prevValue-eligible (recent within the capped
    maxPrevInterval) OR passes the realPrevValue gate
    (first-in-window ts − anchor ts) < LookbackDelta."""
    anchor = F.col("__a.ts").isNotNull()
    if cfg.lookback_delta <= 0:
        return anchor
    eligible = anchor & (
        F.col("__a.ts") > gts_col - F.col("__win") - F.col("__mpi")
    )
    curr_ts = F.coalesce(F.col("__f.ts"), gts_col - F.col("__win"))
    real_ok = anchor & (
        (curr_ts - F.col("__a.ts")) < F.lit(int(cfg.lookback_delta))
    )
    return eligible | real_ok


def _value_expr(name: str) -> Column:
    """Per-(series, grid point) result from the gathered stats columns.

    Available columns: n (in-window sample count), s_all / s_tail
    (reset-adjusted window sums incl./excl. the first sample's delta),
    a_ts/a_v (anchor = last sample at/before window start), f_* (first
    in-window sample: ts, v, pos_dv, dv, dt, next_v, next_pos_dv),
    l_* (last in-window sample: ts, v, pos_dv, dv, dt), el (anchor
    eligibility: a_ts > gts − W − mpi), gts.
    """
    n = F.col("n")
    el = F.col("el")
    has_prev = F.col("has_prev")
    sec = F.lit(1000.0)
    if name == "rate":  # rollupDerivFast over adjusted values
        return (
            F.when(el & (n == 0), F.lit(0.0))
            .when(el, F.col("s_all") / ((F.col("l_ts") - F.col("a_ts")) / sec))
            .when(
                n >= 2,
                F.col("s_tail") / ((F.col("l_ts") - F.col("f_ts")) / sec),
            )
        )
    if name == "deriv_fast":  # rollupDerivFast over raw values
        return (
            F.when(el & (n == 0), F.lit(0.0))
            .when(
                el,
                (F.col("l_v") - F.col("a_v"))
                / ((F.col("l_ts") - F.col("a_ts")) / sec),
            )
            .when(
                n >= 2,
                (F.col("l_v") - F.col("f_v"))
                / ((F.col("l_ts") - F.col("f_ts")) / sec),
            )
        )
    if name in ("irate", "ideriv"):  # rollupIderiv (adjusted / raw)
        d = F.col("l_pos_dv") if name == "irate" else F.col("l_dv")
        fd = F.col("f_pos_dv") if name == "irate" else F.col("f_dv")
        return F.when(n >= 2, d / (F.col("l_dt") / sec)).when(
            (n == 1) & el, fd / (F.col("f_dt") / sec)
        )
    if name in ("increase", "increase_pure"):
        # rollupDelta / rollupIncreasePure over adjusted values; with ANY
        # prev sample the result telescopes to the window's adjusted sum
        # (prevValue and realPrevValue are the same sample — only the
        # no-prev-at-all branch differs, rollup.go:1835-1900)
        if name == "increase":
            # the heuristic compares the ADJUSTED values[0]
            # (removeCounterResets runs over the whole fetched series
            # BEFORE windowing): with LookbackDelta unset this branch is
            # only reachable when no anchor exists at all, where
            # f_vadj == f_v; with it set, resets before the window make
            # the two differ (apptest issues/8935 regression)
            d = F.coalesce(F.col("f_next_pos_dv"), F.lit(0.0))
            no_prev = F.when(
                F.abs(F.col("f_vadj")) < F.lit(10.0) * (F.abs(d) + F.lit(1.0)),
                F.col("f_vadj") + F.col("s_tail"),
            ).otherwise(F.col("s_tail"))
        else:  # increase_pure: counter assumed to start from 0
            no_prev = F.col("f_vadj") + F.col("s_tail")
        return (
            F.when(el & (n == 0), F.lit(0.0))
            .when(has_prev & (n >= 1), F.col("s_all"))
            .when(n >= 1, no_prev)
        )
    if name == "delta":  # rollupDelta over raw values
        d = F.coalesce(F.col("f_next_v") - F.col("f_v"), F.lit(0.0))
        no_prev = F.when(
            F.abs(F.col("f_v")) < F.lit(10.0) * (F.abs(d) + F.lit(1.0)),
            F.col("l_v"),  # counter assumed to start from 0
        ).otherwise(
            # drop the first sample; an emptied window → 0
            F.when(n >= 2, F.col("l_v") - F.col("f_v")).otherwise(F.lit(0.0))
        )
        return (
            F.when(el & (n == 0), F.lit(0.0))
            .when(has_prev & (n >= 1), F.col("l_v") - F.col("a_v"))
            .when(n >= 1, no_prev)
        )
    if name == "idelta":  # rollupIdelta (rollup.go:2000-2016)
        return (
            F.when(n >= 2, F.col("l_dv"))
            .when((n == 1) & el, F.col("f_v") - F.col("a_v"))
            .when(n == 1, F.col("f_v"))  # assume prev was 0 → lastValue
            .when((n == 0) & el, F.lit(0.0))
        )
    # ---- eligibility family (round 8): cum2 = function-specific second
    # running sum (change count / reset count / raw value sum)
    if name == "changes":  # rollupChanges
        # with ANY prev sample the start point is the anchor value: the
        # eligible prevValue and the unconditional realPrevValue are the
        # SAME sample (LookbackDelta=0 default, rollup.go:786-805), so
        # both branches collapse to C(l) − C(a); a brand-new series
        # counts its appearance as one change (n++ on values[0])
        return (
            F.when(el & (n == 0), F.lit(0.0))
            .when(
                has_prev & (n >= 1),
                F.col("l_cum2") - F.coalesce(F.col("a_cum2"), F.lit(0.0)),
            )
            .when(
                n >= 1,
                F.lit(1.0) + (F.col("l_cum2") - F.col("f_cum2")),
            )
        )
    if name == "resets":  # rollupResets (no realPrevValue fallback)
        return (
            F.when(el & (n == 0), F.lit(0.0))
            .when(
                el, F.col("l_cum2") - F.coalesce(F.col("a_cum2"), F.lit(0.0))
            )
            .when(n >= 1, F.col("l_cum2") - F.col("f_cum2"))
        )
    if name == "lifetime":  # rollupLifetime
        return F.when(
            el & (n >= 1), (F.col("l_ts") - F.col("a_ts")) / sec
        ).when(n >= 2, (F.col("l_ts") - F.col("f_ts")) / sec)
    if name == "lag":  # rollupLag (currTimestamp = the grid point)
        return F.when(n >= 1, (F.col("gts") - F.col("l_ts")) / sec).when(
            el, (F.col("gts") - F.col("a_ts")) / sec
        )
    if name == "scrape_interval":  # rollupScrapeInterval
        return F.when(
            el & (n >= 1), ((F.col("l_ts") - F.col("a_ts")) / sec) / n
        ).when(n >= 2, ((F.col("l_ts") - F.col("f_ts")) / sec) / (n - F.lit(1)))
    if name == "rate_over_sum":  # rollupRateOverSum: sum / ADJUSTED window
        return F.when(
            n >= 1,
            (F.col("l_cum2") - F.col("f_cum2") + F.col("f_v"))
            / (F.col("__win") / sec),
        )
    raise ValueError(f"not a span rollup: {name}")


def span_rollup(
    samples: DataFrame,
    cfg: EvalConfig,
    name: str,
    window_ms: int | None,
    offset_ms: int,
    keep_name: bool,
) -> DataFrame:
    """Evaluate one span-family rollup on the grid. ``window_ms`` None
    means an implicit window (widened per series when the function may
    adjust it)."""
    start, end, step = cfg.start, cfg.end, cfg.step
    npts = cfg.num_points
    nominal_w = window_ms if window_ms is not None else step
    fetch_w = max(nominal_w, step)

    df = samples
    if "is_stale" in df.columns:
        df = df.filter(~F.coalesce(F.col("is_stale"), F.lit(False)))
    if "__series_key" not in df.columns:
        df = df.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    df = df.withColumn("__sts", F.col("ts") + F.lit(offset_ms))
    # fetch contract (eval.go:1821-1832): minTimestamp = start −
    # max(window, step) − silence, INCLUSIVE (storage search ranges are
    # closed) — the silence cushion bounds the anchor / widened window /
    # estimate lookback identically to VM
    df = df.filter(
        (F.col("__sts") >= F.lit(start - fetch_w - cfg.max_lookback))
        & (F.col("__sts") <= F.lit(end))
    )

    # Every per-series quantity (lag/lead columns, running reset-adjusted
    # sum, row number, interval estimate) comes from window expressions
    # over ONE partitioning — on the bucketed storage layout the whole
    # plan below runs with zero Exchange.
    w = Window.partitionBy("__series_key").orderBy("__sts")
    wall = Window.partitionBy("__series_key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wback = w.rowsBetween(Window.unboundedPreceding, 0)
    # the lead value/delta columns feed only the delta/increase no-prev
    # heuristic (realNextValue, rollup.go:1869-1890) — skip the extra
    # window expressions for the functions that never read them.
    # Projections are BATCHED into a few select() levels (not one
    # withColumn per column): each withColumn is its own Project node
    # and py4j round-trip, and for a plan this size that construction +
    # project-collapsing overhead dominated the per-query driver cost.
    needs_lead = name in ("increase", "delta")
    base = ["__series_key", "__sts", "value"]
    null_d = F.lit(None).cast("double")
    # second running sum for the eligibility family: in-window counts /
    # sums read as single subtractions of two readings (bit-reproducible
    # by the SQL oracles, same additions in the same order)
    if name == "changes":
        # value-change indicator with the reference's relative-precision
        # guard (rollup.go:2162: |Δ| < 1e-12·|v| is a float artifact)
        cum2_ind = (
            F.col("prev_value").isNotNull()
            & (F.col("value") != F.col("prev_value"))
            & ~(F.abs(F.col("dv")) < F.lit(1e-12) * F.abs(F.col("value")))
        ).cast("double")
    elif name == "resets":
        cum2_ind = (
            F.col("prev_value").isNotNull()
            & (F.col("value") < F.col("prev_value"))
            & ~(F.abs(F.col("dv")) < F.lit(1e-12) * F.abs(F.col("value")))
        ).cast("double")
    elif name == "rate_over_sum":
        cum2_ind = F.col("value")
    else:
        cum2_ind = None
    df = df.select(
        *base,
        F.lag("value").over(w).alias("prev_value"),
        F.lag("__sts").over(w).alias("prev_ts"),
        F.lead("__sts").over(w).alias("next_ts"),
        (F.lead("value").over(w) if needs_lead else null_d).alias(
            "next_value"
        ),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
        # first FETCHED raw value: v_adj(k) = __v0 + cum_k reconstructs
        # the removeCounterResets-adjusted value at any sample
        F.first("value")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__v0"),
    )
    df = df.select(
        "*",
        (F.col("value") - F.col("prev_value")).alias("dv"),
        (F.col("__sts") - F.col("prev_ts")).alias("dt"),
        pos_dv_expr(F.col("value"), F.col("prev_value")).alias("pos_dv"),
    )
    # per-series maxPrevInterval (getScrapeInterval + getMaxPrevInterval,
    # rollup.go:871-919): 0.6 quantile of the gaps whose later sample is
    # among the series' last 20, tier-inflated; instant queries use the
    # step directly (rollup.go:723-727). The quantile is MATERIALIZED
    # before the tier CASE — composing the CASE over the raw quantile
    # Column would inline the percentile window expression ~30×.
    rn_desc = F.col("__cnt") - F.col("__rn") + 1
    df = df.select(
        "*",
        (
            F.lead("pos_dv").over(w) if needs_lead else null_d
        ).alias("next_pos_dv"),
        # running reset-adjusted sum: window quantities are SINGLE
        # subtractions of two readings of this sequential sum, so a SQL
        # oracle computing the identical cumulative chain reproduces the
        # result bit-for-bit (same additions in the same order)
        F.sum(F.coalesce(F.col("pos_dv"), F.lit(0.0)))
        .over(wback)
        .alias("__cum"),
        (
            F.sum(cum2_ind).over(wback)
            if cum2_ind is not None
            else null_d
        ).alias("__cum2"),
        F.percentile(
            F.when(rn_desc <= 20, F.col("dt").cast("double")), F.lit(0.6)
        )
        .over(wall)
        .alias("__q"),
    )
    if cfg.start >= cfg.end:
        si = F.lit(int(step)).cast("long")
        mpi = F.lit(int(step)).cast("long")
    else:
        si0 = F.floor(F.col("__q")).cast("long")
        si = F.when(si0.isNull() | (si0 <= 0), F.lit(int(step))).otherwise(
            si0
        )
        mpi = None  # tiered below, over the materialized __si column
    df = df.select("*", si.alias("__si"))
    mpi_col = (
        mpi if mpi is not None else max_prev_interval_expr(F.col("__si"))
    )
    if cfg.lookback_delta > 0:
        # LookbackDelta caps the per-series maxPrevInterval
        # (rollup.go:730-733)
        mpi_col = F.least(mpi_col, F.lit(int(cfg.lookback_delta)))
    # per-series window: explicit stays fixed; implicit widens to
    # max(step, maxPrevInterval) for the adjustable functions
    df = df.select("*", mpi_col.alias("__mpi"))
    if window_ms is None and name in ADJUST_WINDOW:
        win = F.greatest(F.lit(int(step)), F.col("__mpi"))
        if name == "default_rollup" and cfg.lookback_delta > 0:
            # artificial window can't exceed the explicit LookbackDelta
            # (rollup.go:753, issues/784)
            win = F.least(win, F.lit(int(cfg.lookback_delta)))
    else:
        win = F.lit(int(nominal_w)).cast("long")
    df = df.select("*", win.alias("__win"))

    # Role explode — each sample is the answer to three as-of lookups for
    # a contiguous run of grid points, so the per-series ranges of one
    # role tile the grid disjointly (total rows ≈ 3·points·series,
    # independent of sample density — output-optimal at any window/step
    # ratio, and no union/second sort like a marker plan would need):
    #   role 1 "last":   last sample ≤ g           — g ∈ [ts, next_ts)
    #   role 2 "anchor": last sample ≤ g−W         — g ∈ [ts+W, next_ts+W)
    #   role 3 "first":  first sample > g−W        — g ∈ [prev_ts+W, ts+W)
    #                    (no prev → from the grid start)
    def islot(ts_col: Column) -> Column:
        # first grid index i with start + i*step >= ts:  ceil((ts-start)/step)
        return (-F.floor((F.lit(start) - ts_col) / F.lit(step))).cast("long")

    roles = F.array(
        F.struct(
            F.lit(1).alias("role"),
            islot(F.col("__sts")).alias("lo"),
            F.coalesce(islot(F.col("next_ts")) - 1, F.lit(npts - 1)).alias(
                "hi"
            ),
        ),
        F.struct(
            F.lit(2).alias("role"),
            islot(F.col("__sts") + F.col("__win")).alias("lo"),
            F.coalesce(
                islot(F.col("next_ts") + F.col("__win")) - 1,
                F.lit(npts - 1),
            ).alias("hi"),
        ),
        F.struct(
            F.lit(3).alias("role"),
            F.coalesce(
                islot(F.col("prev_ts") + F.col("__win")), F.lit(0)
            ).alias("lo"),
            (islot(F.col("__sts") + F.col("__win")) - 1).alias("hi"),
        ),
    )
    exploded = (
        df.select("*", F.explode(roles).alias("__r"))
        .select(
            "*",
            F.greatest(F.lit(0), F.col("__r.lo")).alias("__lo"),
            F.least(F.lit(npts - 1), F.col("__r.hi")).alias("__hi"),
        )
        .filter(F.col("__lo") <= F.col("__hi"))
        .select("*", F.explode(F.sequence("__lo", "__hi")).alias("i"))
    )

    sample_struct = F.struct(
        F.col("__sts").alias("ts"),
        F.col("value").alias("v"),
        F.col("next_ts").alias("next_ts"),
        F.col("pos_dv").alias("pos_dv"),
        F.col("dv").alias("dv"),
        F.col("dt").alias("dt"),
        F.col("next_value").alias("next_v"),
        F.col("next_pos_dv").alias("next_pos_dv"),
        F.col("__cum").alias("cum"),
        F.col("__cum2").alias("cum2"),
        F.col("__rn").alias("rn"),
    )
    role = F.col("__r.role")
    stats = exploded.groupBy("__series_key", "i").agg(
        F.first("__v0").alias("__v0"),
        F.first("__mpi").alias("__mpi"),
        F.first("__win").alias("__win"),
        F.max(F.when(role == 1, sample_struct)).alias("__e"),
        F.max(F.when(role == 2, sample_struct)).alias("__a"),
        F.max(F.when(role == 3, sample_struct)).alias("__f"),
    )

    gts_col = F.lit(start) + F.col("i") * F.lit(step)
    n = F.coalesce(F.col("__e.rn"), F.lit(0)) - F.coalesce(
        F.col("__a.rn"), F.lit(0)
    )
    stats = stats.select(
        "__series_key",
        "i",
        gts_col.alias("gts"),
        n.alias("n"),
        (F.col("__e.cum") - F.coalesce(F.col("__a.cum"), F.lit(0.0))).alias(
            "s_all"
        ),
        (F.col("__e.cum") - F.col("__f.cum")).alias("s_tail"),
        (F.col("__v0") + F.col("__f.cum")).alias("f_vadj"),
        F.col("__e.cum2").alias("l_cum2"),
        F.col("__a.cum2").alias("a_cum2"),
        F.col("__f.cum2").alias("f_cum2"),
        F.col("__win").alias("__win"),
        F.col("__a.ts").alias("a_ts"),
        F.col("__a.v").alias("a_v"),
        F.col("__f.ts").alias("f_ts"),
        F.col("__f.v").alias("f_v"),
        F.col("__f.pos_dv").alias("f_pos_dv"),
        F.col("__f.dv").alias("f_dv"),
        F.col("__f.dt").alias("f_dt"),
        F.col("__f.next_v").alias("f_next_v"),
        F.col("__f.next_pos_dv").alias("f_next_pos_dv"),
        F.col("__e.ts").alias("l_ts"),
        F.col("__e.v").alias("l_v"),
        F.col("__e.pos_dv").alias("l_pos_dv"),
        F.col("__e.dv").alias("l_dv"),
        F.col("__e.dt").alias("l_dt"),
        _has_prev_expr(cfg, gts_col).alias("has_prev"),
        (
            F.col("__a.ts").isNotNull()
            & (F.col("__a.ts") > gts_col - F.col("__win") - F.col("__mpi"))
            # rollup.go:781 `i < len(timestamps)`: prevValue is set only
            # when a fetched sample exists AFTER the window start — the
            # anchor (last sample ≤ g−W) must have a successor. Without
            # this gate a stopped scrape would keep emitting rate()=0
            # ghost points for window+mpi past the series' last sample
            # instead of going stale like the reference.
            & F.col("__a.next_ts").isNotNull()
        ).alias("el"),
    )

    name_c, labels_c = name_labels_from_series_key(F.col("__series_key"))
    out = stats.select(
        (name_c if keep_name else F.lit("")).alias("name"),
        labels_c.alias("labels"),
        F.col("gts").alias("ts"),
        _value_expr(name).cast("double").alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan(F.col("value")))
