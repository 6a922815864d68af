"""Transform functions (SURVEY.md §2.7) — pointwise / label / time
transforms from vendor/.../metricsql/transform.go:7-121, realized as
Catalyst column expressions (no shuffle for the pointwise group).
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.metricsql.ast import (
    Expr,
    FuncExpr,
    MetricExpr,
    StringExpr,
)
from victoriametrics_spark.schema import (
    canonical_labels_str,
    name_labels_from_series_key,
    series_key,
)

if TYPE_CHECKING:
    from victoriametrics_spark.engine.planner import Plan, Planner


# ------------------------------------------------------------ registries
# pointwise math: value → value (names match pyspark.sql.functions where
# they exist; VM semantics from transform.go)
_MATH: dict[str, Callable[[Column], Column]] = {
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "exp": F.exp,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sqrt": F.sqrt,
    "sgn": F.signum,
    "deg": F.degrees,
    "rad": F.radians,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh,
    "acosh": F.acosh,
    "atanh": F.atanh,
}

# time-component funcs over the sample value interpreted as unix seconds
# (or over time() when no arg) — all UTC (transform.go, tzdata.go)
_TIME_PARTS: dict[str, Callable[[Column], Column]] = {
    "hour": lambda t: F.hour(t),
    "minute": lambda t: F.minute(t),
    "month": lambda t: F.month(t),
    "year": lambda t: F.year(t),
    "day_of_month": lambda t: F.dayofmonth(t),
    "day_of_week": lambda t: F.dayofweek(t) - 1,  # VM: 0=Sunday
    "day_of_year": lambda t: F.dayofyear(t),
    "days_in_month": lambda t: F.dayofmonth(F.last_day(t)),
}


# arity table (min, max) — VM rejects wrong argument counts at eval
# time (exec_test.go TestExecError); None max = unbounded
_ARITY: dict[str, tuple[int, int | None]] = {
    **{n: (1, 1) for n in _MATH},
    **{n: (0, 1) for n in _TIME_PARTS},
    "round": (1, 2),
    "clamp": (3, 3),
    "clamp_min": (2, 2),
    "clamp_max": (2, 2),
    "time": (0, 0),
    "now": (0, 0),
    "start": (0, 0),
    "end": (0, 0),
    "step": (0, 0),
    "pi": (0, 0),
    "vector": (1, 1),
    "scalar": (1, 1),
    "timestamp": (1, 1),
    "timestamp_with_name": (1, 1),
    "sort": (1, 1),
    "sort_desc": (1, 1),
    "smooth_exponential": (2, 2),
    "remove_resets": (1, 1),
    "interpolate": (1, 1),
    "keep_last_value": (1, 1),
    "keep_next_value": (1, 1),
    "range_quantile": (2, 2),
    "range_trim_outliers": (2, 2),
    "range_trim_spikes": (2, 2),
    "range_trim_zscore": (2, 2),
    **{f"range_{n}": (1, 1) for n in (
        "sum", "avg", "min", "max", "first", "last", "median", "mad",
        "stddev", "stdvar", "zscore", "linear_regression",
    )},
    "range_normalize": (1, None),  # transformRangeNormalize is vararg
    **{f"running_{n}": (1, 1) for n in ("sum", "avg", "min", "max")},
    "histogram_quantile": (2, 3),
    "histogram_share": (2, 3),
    "histogram_avg": (1, 1),
    "histogram_stddev": (1, 1),
    "histogram_stdvar": (1, 1),
    "label_set": (3, None),
    "label_join": (3, None),
    "label_replace": (5, 5),
    "label_transform": (4, 4),
    "label_map": (2, None),
    "limit_offset": (3, 3),
    "absent": (1, 1),
    "sgn": (1, 1),
    "rand": (0, 1),
    "rand_normal": (0, 1),
    "rand_exponential": (0, 1),
    "hoeffding_bound_lower": (2, 2),
    "hoeffding_bound_upper": (2, 2),
    "label_value": (2, 2),
    "label_del": (2, None),
    "label_keep": (2, None),
    "label_match": (3, 3),
    "label_mismatch": (3, 3),
    "labels_equal": (3, None),
    "drop_common_labels": (1, None),
    "union": (0, None),  # union() / () → empty result (exec_test)
    "prometheus_buckets": (1, 1),
    "buckets_limit": (2, 2),
}


def _check_regex(arg) -> None:
    """Plan-time regex validation (VM rejects invalid regexps at eval
    start; Spark would only fail lazily inside the job)."""
    import re as _re

    from victoriametrics_spark.engine.planner import PlanError

    if isinstance(arg, StringExpr):
        try:
            _re.compile(arg.value)
        except _re.error as e:
            raise PlanError(f"invalid regexp {arg.value!r}: {e}") from None


def _scalar_arg(planner, expr, cfg):
    """Constant float when possible, else the Scalar plan's ts→Column fn
    (per-step scalar args like histogram_quantile(time()/2e3, q))."""
    from victoriametrics_spark.engine.planner import PlanError, Scalar

    try:
        return planner.const_value(expr, cfg)
    except PlanError:
        p = planner.plan(expr, cfg)
        if isinstance(p, Scalar):
            return p.fn
        raise


def plan_transform(planner: "Planner", fe: FuncExpr, cfg: EvalConfig) -> "Plan":
    from victoriametrics_spark.engine.planner import (
        EMPTY_LABELS,
        PlanError,
        Scalar,
    )

    name = fe.name
    ar = _ARITY.get(name)
    if ar is not None:
        lo, hi = ar
        n = len(fe.args)
        if n < lo or (hi is not None and n > hi):
            want = str(lo) if hi == lo else (f"{lo}..{hi}" if hi else f">={lo}")
            raise PlanError(
                f"{name}: unexpected number of args {n}; want {want}"
            )
    # label_set needs expr + complete (key, value) pairs
    if name == "label_set" and len(fe.args) % 2 == 0:
        raise PlanError("label_set: needs q plus (key, value) pairs")

    # ---- pointwise math -------------------------------------------------
    if name in _MATH:
        f = _MATH[name]
        # ceil/floor keep metric names (transformFuncsKeepMetricName,
        # transform.go:141-165); the rest of the math family resets
        return _pointwise(
            planner, fe, cfg, lambda v, ts: f(v),
            keep_name=name in ("ceil", "floor"),
        )

    if name == "round":
        if len(fe.args) >= 2:
            nearest = planner.const_value(fe.args[1], cfg)
            # transformRound (transform.go:2354-2368) bit-for-bit:
            # v += 0.5*copysign(n, v); v -= fmod(v, n); truncate to the
            # decimal precision of n. A plain round(v/n)*n differs at
            # representation boundaries (e.g. round(0.0625, 0.001) is
            # 0.062 under VM's sequence, 0.063 under HALF_UP).
            from decimal import Decimal

            exp = Decimal(repr(nearest)).normalize().as_tuple().exponent
            p10 = 10.0 ** (-int(exp))

            def vm_round(v, ts):
                sign = F.when(v < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
                vv = v + F.lit(0.5 * abs(nearest)) * sign
                vv = vv - vv % F.lit(nearest)
                scaled = vv * F.lit(p10)
                trunc = (
                    F.when(scaled >= 0, F.floor(scaled))
                    .otherwise(F.ceil(scaled))
                    .cast("double")
                )
                return trunc / F.lit(p10)

            return _pointwise(planner, fe, cfg, vm_round, keep_name=True)
        return _pointwise(
            planner, fe, cfg, lambda v, ts: F.round(v), keep_name=True
        )

    if name in ("clamp", "clamp_min", "clamp_max"):
        # bounds may be per-step scalars (clamp_min(time(), -time()+2500))
        def bound_col(idx):
            b = _scalar_arg(planner, fe.args[idx], cfg)
            return (lambda ts: b(ts)) if callable(b) else (lambda ts: F.lit(b))

        # transformClamp applies `v > max → max` FIRST, then `v < min →
        # min` (transform.go:282-289): min > max yields min (not max),
        # and a NaN bound leaves the value untouched on that side —
        # least/greatest would propagate the NaN instead
        # Spark orders NaN above every double (NaN > x is TRUE), so a
        # NaN value must short-circuit before the bound comparisons
        # a NaN LOWER bound needs its own guard: Spark evaluates
        # v < NaN as TRUE (NaN sorts above every double), which would
        # rewrite every value to the NaN bound where Go compares false
        if name == "clamp":
            lo, hi = bound_col(1), bound_col(2)
            fn = lambda v, ts: (  # noqa: E731
                F.when(F.isnan(v), v)
                .when(v > hi(ts), hi(ts))
                .when(~F.isnan(lo(ts)) & (v < lo(ts)), lo(ts))
                .otherwise(v)
            )
        elif name == "clamp_min":
            lo = bound_col(1)
            fn = lambda v, ts: (  # noqa: E731
                F.when(F.isnan(v), v)
                .when(~F.isnan(lo(ts)) & (v < lo(ts)), lo(ts))
                .otherwise(v)
            )
        else:
            hi = bound_col(1)
            fn = lambda v, ts: (  # noqa: E731
                F.when(F.isnan(v), v).when(v > hi(ts), hi(ts)).otherwise(v)
            )
        return _pointwise(planner, fe, cfg, fn, keep_name=True)

    if name == "pi":
        return Scalar.of(math.pi)

    if name in ("rand", "rand_normal", "rand_exponential"):
        # Seeded per-grid-point pseudo-random series, bit-exact vs Go:
        # VM draws sequentially over the eval grid from
        # rand.New(rand.NewSource(seed)) (newTransformRand,
        # transform.go:2670-2712).  engine/gorand.py reimplements Go's
        # rngSource + ziggurat streams exactly (reference-pinned: the
        # exec_test.go rand(0)/rand_normal(0)/rand_exponential(0)
        # subtests), so draws happen driver-side in grid order — a
        # grid-sized array, same materialization VM's evalNumber does —
        # and the grid maps ts -> draw index via a literal-array lookup
        # (codegen-friendly, no shuffle, no Python in the hot path).
        from victoriametrics_spark.engine.gorand import GoRand

        if fe.args:
            seed = int(planner.const_value(fe.args[0], cfg))
        else:
            import time as _time

            seed = _time.time_ns()
        rng = GoRand(seed)
        draw = {
            "rand": rng.float64,
            "rand_normal": rng.norm_float64,
            "rand_exponential": rng.exp_float64,
        }[name]
        n = (cfg.end - cfg.start) // cfg.step + 1
        values = [draw() for _ in range(n)]
        arr = F.array(*[F.lit(v) for v in values])
        start, step = cfg.start, cfg.step

        def lookup(ts, arr=arr, start=start, step=step, n=n):
            idx = ((ts.cast("long") - F.lit(start)) / F.lit(step)).cast(
                "long"
            ) + F.lit(1)
            # clamp: stray off-grid ts snaps to the nearest edge draw
            # (grid consumers always pass exact grid points)
            return F.try_element_at(
                arr, F.greatest(F.lit(1), F.least(F.lit(n), idx)).cast("int")
            )

        return Scalar(fn=lookup)

    if name in ("bitmap_and", "bitmap_or", "bitmap_xor"):
        # bitwise ops on the integer parts (transform.go bitmap funcs);
        # non-integral/NaN inputs drop the point (NaN result in VM —
        # exec_test bitmap_and(NaN, 1) / bitmap_and(1, NaN) are empty).
        # The mask is a per-step scalar (getScalar): bitmap_and(m, time())
        # varies the mask across the grid.
        import math as _math

        mask = _scalar_arg(planner, fe.args[1], cfg)
        if not callable(mask):
            if _math.isnan(mask):
                return Scalar(fn=lambda ts: F.lit(None).cast("double"))
            m_of = lambda ts: F.lit(int(mask))  # noqa: E731
        else:
            mf = mask
            m_of = lambda ts: mf(ts).try_cast("long")  # noqa: E731
        bop = {
            "bitmap_and": lambda v, m: v.bitwiseAND(m),
            "bitmap_or": lambda v, m: v.bitwiseOR(m),
            "bitmap_xor": lambda v, m: v.bitwiseXOR(m),
        }[name]
        return _pointwise(
            planner,
            fe,
            cfg,
            lambda v, ts: bop(v.try_cast("long"), m_of(ts)).cast("double"),
        )

    # ---- query-context scalars ------------------------------------------
    if name == "time":
        return Scalar(fn=lambda ts: ts / 1000.0)
    if name == "now":
        import time as _t

        return Scalar.of(_t.time())
    if name == "start":
        return Scalar.of(cfg.start / 1000.0)
    if name == "end":
        return Scalar.of(cfg.end / 1000.0)
    if name == "step":
        return Scalar.of(cfg.step / 1000.0)

    if name in _TIME_PARTS:
        part = _TIME_PARTS[name]
        tcol = lambda v: part(F.timestamp_seconds(v)).cast("double")  # noqa: E731
        if not fe.args:
            return Scalar(fn=lambda ts: tcol(ts / 1000.0))
        return _pointwise(planner, fe, cfg, lambda v, ts: tcol(v))

    if name == "timezone_offset":
        if not fe.args or not isinstance(fe.args[0], StringExpr):
            raise PlanError("timezone_offset needs a timezone string")
        tz = fe.args[0].value
        # offset seconds of tz at each grid timestamp
        return Scalar(
            fn=lambda ts: (
                F.unix_timestamp(
                    F.to_utc_timestamp(F.timestamp_seconds(ts / 1000.0), tz)
                )
                - ts / 1000.0
            )
            * -1.0
        )

    # ---- scalar/vector conversion ---------------------------------------
    if name == "scalar":
        if isinstance(fe.args[0], StringExpr):
            # scalar("12.3") → number; non-numeric string → no points
            # (transform.go transformScalar on string args)
            try:
                return Scalar.of(float(fe.args[0].value))
            except ValueError:
                return Scalar(fn=lambda ts: F.lit(None).cast("double"))
        p = planner.plan(fe.args[0], cfg)
        if isinstance(p, Scalar):
            return p
        # series → scalar: transformScalar checks the SERIES count, not
        # per-timestamp coverage — len(arg) != 1 makes the whole result
        # NaN (empty), even at instants where only one series has a
        # value (transform.go:2405-2412). Lazy broadcast of the 1-row
        # distinct-series count; no planning-time job.
        p = planner.materialize(p, cfg)
        sk = series_key(F.col("name"), F.col("labels"))
        n = p.agg(F.count_distinct(sk).alias("__nseries"))
        df = p.crossJoin(F.broadcast(n)).filter(F.col("__nseries") == 1)
        return df.select(
            F.lit("").alias("name"), EMPTY_LABELS().alias("labels"),
            "ts", "value",
        )

    if name == "vector":
        p = planner.plan(fe.args[0], cfg)
        return planner.materialize(p, cfg)

    if name == "union" or name == "":
        # duplicate series keep the FIRST argument's rows only
        # (transformUnion: later args' series with an already-seen label
        # set are skipped) — EXCEPT when every arg is a scalar: then all
        # are returned, for `q == (v1, ..., vN)` membership lists
        # (transform.go:1748-1756 areAllArgsScalar)
        if not fe.args:
            # `()` / `union()` → empty result (exec_test union())
            from victoriametrics_spark.schema import SAMPLE_SCHEMA

            return planner.spark.createDataFrame([], SAMPLE_SCHEMA).select(
                "name", "labels", "ts", "value"
            )
        plans = [planner.plan(a, cfg) for a in fe.args]
        all_scalar = all(isinstance(p, Scalar) for p in plans)
        dfs = [planner.materialize(p, cfg) for p in plans]
        out = dfs[0].withColumn("__arg", F.lit(0))
        for i, d in enumerate(dfs[1:], start=1):
            out = out.unionByName(d.withColumn("__arg", F.lit(i)))
        if len(dfs) > 1 and not all_scalar:
            key = series_key(F.col("name"), F.col("labels"))
            w = Window.partitionBy(key)
            out = out.withColumn("__min_arg", F.min("__arg").over(w)).filter(
                F.col("__arg") == F.col("__min_arg")
            )
        return out.drop("__arg", "__min_arg")

    if name == "absent":
        p = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        # NaN points don't cover a grid ts (absent(NaN) is 1 everywhere)
        covered = p.filter(~F.isnan("value")).select("ts").distinct()
        from victoriametrics_spark.engine.grid import grid_df
        from victoriametrics_spark.engine.planner import EMPTY_LABELS

        g = grid_df(planner.spark, cfg)
        missing = g.join(covered, "ts", "left_anti")
        # getAbsentTimeseries (transform.go:239-263): when the arg is a
        # plain selector with exactly ONE filter group, the result series
        # carries its non-regexp, non-negative `=` label filters —
        # absent(foo{job="x"}) returns {job="x"} 1
        labels = EMPTY_LABELS()
        arg0 = fe.args[0]
        if isinstance(arg0, MetricExpr) and len(arg0.label_filterss) == 1:
            pairs = []
            for f in arg0.label_filterss[0]:
                if f.op == "=" and f.label != "__name__":
                    pairs += [F.lit(f.label), F.lit(f.value)]
            if pairs:
                labels = F.create_map(*pairs)
        return missing.select(
            F.lit("").alias("name"),
            labels.alias("labels"),
            "ts",
            F.lit(1.0).alias("value"),
        )

    # ---- histogram bucket math -------------------------------------------
    if name in (
        "histogram_quantile",
        "histogram_quantiles",
        "histogram_share",
        "histogram_fraction",
        "histogram_avg",
        "histogram_stddev",
        "histogram_stdvar",
        "prometheus_buckets",
        "buckets_limit",
    ):
        return _histogram_fn(planner, fe, cfg, name)

    # ---- gap filling ------------------------------------------------------
    if name in ("keep_last_value", "keep_next_value", "interpolate"):
        return _gap_fill(planner, fe, cfg, name)

    # ---- sequential per-series folds ---------------------------------------
    if name == "smooth_exponential":
        # transformSmoothExponential: NaN smoothing factor means sf=1,
        # then clamp to [0,1]; leading ±Inf points pass through unchanged
        # until the first finite value seeds the average; interior ±Inf
        # points emit the CURRENT average without updating it
        sf = planner.const_value(fe.args[1], cfg)
        if math.isnan(sf):
            sf = 1.0
        sf = min(1.0, max(0.0, sf))
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        is_inf = lambda c: F.abs(c) == F.lit(float("inf"))  # noqa: E731

        def ema(acc, e):
            seeded = acc["avg"].isNotNull()
            new_avg = (
                F.when(~seeded & is_inf(e["v"]), F.lit(None).cast("double"))
                .when(~seeded, e["v"])
                .when(is_inf(e["v"]), acc["avg"])
                .otherwise(acc["avg"] * F.lit(1.0 - sf) + e["v"] * F.lit(sf))
            )
            emit = F.when(
                ~seeded & is_inf(e["v"]), e["v"]
            ).otherwise(F.coalesce(new_avg, e["v"]))
            return F.struct(
                new_avg.alias("avg"),
                F.concat(
                    acc["out"],
                    F.array(F.struct(e["t"].alias("t"), emit.alias("v"))),
                ).alias("out"),
            )

        return _series_fold(
            planner, df, ema,
            extra_acc=[F.lit(None).cast("double").alias("avg")],
            keep_name=True,
        )

    if name == "remove_resets":
        # removeCounterResetsMaybeNaNs (transform.go) incl. the partial-
        # reset heuristic: drops < prev/8 are treated as partial resets
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)

        def unreset(acc, e):
            d = e["v"] - acc["prev"]
            corr = F.when(acc["prev"].isNull(), F.lit(0.0)).otherwise(
                F.when(
                    d < 0,
                    acc["corr"]
                    + F.when(-d * 8 < acc["prev"], acc["prev"] - e["v"]).otherwise(
                        acc["prev"]
                    ),
                ).otherwise(acc["corr"])
            )
            return F.struct(
                e["v"].alias("prev"),
                corr.alias("corr"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(e["t"].alias("t"), (e["v"] + corr).alias("v"))
                    ),
                ).alias("out"),
            )

        return _series_fold(
            planner,
            df,
            unreset,
            extra_acc=[
                F.lit(None).cast("double").alias("prev"),
                F.lit(0.0).alias("corr"),
            ],
        )

    # ---- running / range windows -----------------------------------------
    if name.startswith("running_"):
        return _running(planner, fe, cfg, name[len("running_") :])
    if name.startswith("range_"):
        if name == "range_normalize" and len(fe.args) > 1:
            # vararg: each arg normalized independently, results unioned
            from victoriametrics_spark.metricsql.ast import FuncExpr as _FE

            outs = [
                _range_fn(planner, _FE(name=name, args=[a]), cfg, "normalize")
                for a in fe.args
            ]
            out = outs[0]
            for o in outs[1:]:
                out = out.unionByName(o)
            return out
        return _range_fn(planner, fe, cfg, name[len("range_") :])

    # ---- label manipulation ------------------------------------------------
    if name.startswith("label_") or name in ("drop_common_labels", "labels_equal"):
        return _label_fn(planner, fe, cfg, name)

    # ---- sorting (presentation) -------------------------------------------
    # The row SET is unchanged; the returned DataFrame carries a global
    # presentation ordering (result sets are final, user-facing and small —
    # a global orderBy here is the documented presentation-only sort, the
    # analog of VM sorting the response slice in exec.go:104-127).
    if name in ("sort", "sort_desc"):
        # VM newTransformFuncSort orders series by comparing values from the
        # last grid point backwards; we order by the last value each series
        # has (the dominant rule; the backwards tie-walk is approximated by
        # the deterministic series-key tiebreak).
        desc = name == "sort_desc"
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        dfk, w = _series_window(df)
        wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        dfk = dfk.withColumn("__sortv", F.max_by("value", "ts").over(wfull))
        first = (
            F.col("__sortv").desc_nulls_last()
            if desc
            else F.col("__sortv").asc_nulls_last()
        )
        return dfk.orderBy(first, F.col("__sk"), F.col("ts")).select(
            "name", "labels", "ts", "value"
        )

    if name.startswith("sort_by_label"):
        # sort_by_label / _desc / _numeric / _numeric_desc
        # (transform.go newTransformFuncSortByLabel)
        desc = name.endswith("_desc")
        numeric = "_numeric" in name
        keys = _str_args(fe)
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        order = []
        for k in keys:
            col = F.coalesce(F.col("labels").getItem(k), F.lit(""))
            if numeric:
                # numericLess emulation (the reference's natural compare):
                # order by (parsed numeric prefix, raw string) so values
                # like "10Mi" / "9Mi" / "abc" sort numerically first and
                # lexically as the tie-break instead of collapsing to NULL
                num_prefix = F.regexp_extract(
                    col, r"^[+-]?(\d+\.?\d*|\.\d+)", 0
                ).try_cast("double")
                order.append(
                    num_prefix.desc_nulls_last()
                    if desc
                    else num_prefix.asc_nulls_last()
                )
            order.append(col.desc_nulls_last() if desc else col.asc_nulls_last())
        sk = series_key(F.col("name"), F.col("labels"))
        return df.orderBy(*order, sk, F.col("ts"))

    if name == "limit_offset":
        # series-level offset/limit. Two-phase so only the per-series KEY
        # set (small) passes through the single-task ranking window; the
        # data itself is filtered by a broadcast semi-join. The series
        # RANKING follows the inner expression's sort when it is a sort
        # function (VM applies limit_offset to the already-sorted series
        # list, transform.go transformLimitOffset).
        limit = int(planner.const_value(fe.args[0], cfg))
        offset = int(planner.const_value(fe.args[1], cfg))
        inner = fe.args[2]
        df = planner.materialize(planner.plan(inner, cfg), cfg)
        key = series_key(F.col("name"), F.col("labels"))
        order = []
        if isinstance(inner, FuncExpr) and inner.name.startswith("sort_by_label"):
            desc = inner.name.endswith("_desc")
            numeric = "_numeric" in inner.name
            keys = (
                df.select(key.alias("__sk"))
                .distinct()
                .select("__sk", _identity()[1].alias("__labels"))
            )
            for k in _str_args(inner):
                col = F.coalesce(F.col("__labels").getItem(k), F.lit(""))
                if numeric:
                    num_prefix = F.regexp_extract(
                        col, r"^[+-]?(\d+\.?\d*|\.\d+)", 0
                    ).try_cast("double")
                    order.append(
                        num_prefix.desc_nulls_last()
                        if desc
                        else num_prefix.asc_nulls_last()
                    )
                order.append(col.desc_nulls_last() if desc else col.asc_nulls_last())
            keys = keys.select("__sk", *[F.col("__labels").alias("__labels")])
        elif isinstance(inner, FuncExpr) and inner.name in ("sort", "sort_desc"):
            last = F.max_by("value", "ts").alias("__last")
            keys = df.groupBy(key.alias("__sk")).agg(last)
            order.append(
                F.col("__last").desc() if inner.name == "sort_desc" else F.col("__last").asc()
            )
        else:
            keys = df.select(key.alias("__sk")).distinct()
        w = Window.orderBy(*order, "__sk")
        keep = (
            keys.withColumn("__rank", F.row_number().over(w))
            .filter(
                (F.col("__rank") > offset) & (F.col("__rank") <= offset + limit)
            )
            .select("__sk")
        )
        return (
            df.withColumn("__sk", key)
            .join(F.broadcast(keep), "__sk", "left_semi")
            .drop("__sk")
        )

    if name == "drop_empty_series":
        return planner.materialize(planner.plan(fe.args[0], cfg), cfg)

    if name == "alias":
        # alias(q, "name") — set the metric name (transform.go transformAlias)
        if len(fe.args) != 2 or not isinstance(fe.args[1], StringExpr):
            raise PlanError("alias(q, \"name\") needs a string second arg")
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        return df.withColumn("name", F.lit(fe.args[1].value))

    raise PlanError(f"transform function {name!r} not implemented yet")


# ---------------------------------------------------------------- helpers
def _histogram_fn(planner, fe, cfg, name):
    """Dispatch the le/vmrange bucket transforms (engine/histogram.py)."""
    from victoriametrics_spark.engine import histogram as H
    from victoriametrics_spark.engine.planner import PlanError

    if name == "prometheus_buckets":
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        return H.vmrange_to_le(df)

    if name == "buckets_limit":
        limit = int(planner.const_value(fe.args[0], cfg))
        if limit <= 0:
            # transformBucketsLimit: "limit must be greater than 0"
            # (transform.go:381-383) — an eval error, not an empty result
            raise PlanError(
                f"limit must be greater than 0; got {limit}"
            )
        df = planner.materialize(planner.plan(fe.args[1], cfg), cfg)
        return H.buckets_limit(df, limit)

    if name in ("histogram_avg", "histogram_stddev", "histogram_stdvar"):
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        return H.histogram_moment(H.vmrange_to_le(df), name.split("_", 1)[1])

    if name == "histogram_quantile":
        phi = _scalar_arg(planner, fe.args[0], cfg)
        df = planner.materialize(planner.plan(fe.args[1], cfg), cfg)
        bounds = (
            fe.args[2].value
            if len(fe.args) > 2 and isinstance(fe.args[2], StringExpr)
            else None
        )
        return H.histogram_quantile(H.vmrange_to_le(df), phi, bounds)

    if name == "histogram_quantiles":
        # histogram_quantiles("label", phi1, ..., q)
        if not isinstance(fe.args[0], StringExpr):
            raise PlanError("histogram_quantiles needs a label name first arg")
        label = fe.args[0].value
        phis = [planner.const_value(a, cfg) for a in fe.args[1:-1]]
        df = H.vmrange_to_le(
            planner.materialize(planner.plan(fe.args[-1], cfg), cfg)
        )
        out = None
        for phi in phis:
            q = H.histogram_quantile(df, phi)
            phi_str = f"{phi:g}"
            q = q.withColumn(
                "labels",
                F.map_concat(
                    F.map_filter(F.col("labels"), _key_neq(label)),
                    F.create_map(F.lit(label), F.lit(phi_str)),
                ),
            )
            out = q if out is None else out.unionByName(q)
        return out

    if name == "histogram_share":
        le_req = _scalar_arg(planner, fe.args[0], cfg)
        df = planner.materialize(planner.plan(fe.args[1], cfg), cfg)
        bounds = (
            fe.args[2].value
            if len(fe.args) > 2 and isinstance(fe.args[2], StringExpr)
            else None
        )
        return H.histogram_share(H.vmrange_to_le(df), le_req, bounds)

    # histogram_fraction(lower, upper, q) = share(upper) - share(lower)
    lo = _scalar_arg(planner, fe.args[0], cfg)
    hi = _scalar_arg(planner, fe.args[1], cfg)
    if not callable(lo) and not callable(hi) and lo >= hi:
        raise PlanError("histogram_fraction: lower le must be < upper le")
    df = H.vmrange_to_le(planner.materialize(planner.plan(fe.args[2], cfg), cfg))
    su = H.histogram_share(df, hi)
    sl = H.histogram_share(df, lo)
    key = canonical_labels_str(F.col("labels"))
    su = su.select(key.alias("__k"), "labels", "ts", F.col("value").alias("__u"))
    sl = sl.select(key.alias("__k"), F.col("ts"), F.col("value").alias("__l"))
    return (
        su.join(sl, ["__k", "ts"], "inner")
        .select(
            F.lit("").alias("name"),
            F.col("labels"),
            F.col("ts"),
            (F.col("__u") - F.col("__l")).cast("double").alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )


def _pointwise(planner, fe, cfg, fn, keep_name: bool = False):
    from victoriametrics_spark.engine.planner import Scalar

    p = planner.plan(fe.args[0] if fe.args else None, cfg) if fe.args else None
    if p is None:
        raise ValueError(f"{fe.name} needs an argument")
    if isinstance(p, Scalar):
        inner = p.fn
        return Scalar(
            fn=lambda ts: fn(inner(ts), ts),
            const=None,
        )
    keep = keep_name or fe.keep_metric_names
    out = p.withColumn("value", fn(F.col("value"), F.col("ts")).cast("double"))
    if not keep:
        out = out.withColumn("name", F.lit(""))
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _identity() -> tuple[Column, Column]:
    """``(name, labels)`` decoded from the ``__sk`` series-key column."""
    name, labels = name_labels_from_series_key(F.col("__sk"))
    return name.alias("name"), labels.alias("labels")


def _series(df: DataFrame) -> DataFrame:
    """One row per series: ``__sk`` plus its decoded name and labels."""
    sk = series_key(F.col("name"), F.col("labels"))
    return df.select(sk.alias("__sk")).distinct().select("__sk", *_identity())


def _series_window(df: DataFrame):
    key = series_key(F.col("name"), F.col("labels"))
    return df.withColumn("__sk", key), Window.partitionBy("__sk").orderBy("ts")


def _series_fold(planner, df: DataFrame, step_fn, extra_acc: list,
                 keep_name: bool = False):
    """Sequential per-series stateful transform: collect the series'
    ts-sorted points, left-fold ``step_fn`` over them accumulating an
    output array of (t, v), then explode back to rows. Series-length
    arrays are bounded by the grid size (same order as every per-series
    window in the engine); groups distribute across the cluster."""
    pair = F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
    grouped = (
        df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .groupBy("__sk")
        .agg(F.array_sort(F.collect_list(pair)).alias("__sp"))
    )
    out_t = "array<struct<t:bigint,v:double>>"
    acc0 = F.struct(*extra_acc, F.array().cast(out_t).alias("out"))
    folded = F.aggregate(F.col("__sp"), acc0, step_fn)
    name, labels = _identity()
    out = grouped.select(
        name if keep_name else F.lit("").alias("name"),
        labels,
        F.explode(folded["out"]).alias("__e"),
    ).select(
        "name",
        "labels",
        F.col("__e.t").alias("ts"),
        F.col("__e.v").alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _gap_fill(planner, fe, cfg, name):
    """Fill grid gaps per series: forward / backward / linear
    (transform.go keep_last_value / keep_next_value / interpolate)."""
    from victoriametrics_spark.engine.grid import grid_df

    df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
    # densify: every (series, grid ts) cell
    sk = series_key(F.col("name"), F.col("labels"))
    dense = _series(df).crossJoin(grid_df(planner.spark, cfg))
    vals = df.select(sk.alias("__sk"), F.col("ts"), F.col("value"))
    dense = dense.join(vals, ["__sk", "ts"], "left")
    w = Window.partitionBy("__sk").orderBy("ts")
    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    wb = w.rowsBetween(0, Window.unboundedFollowing)
    if name == "keep_last_value":
        filled = F.coalesce(F.col("value"), F.last("value", ignorenulls=True).over(wf))
    elif name == "keep_next_value":
        filled = F.coalesce(F.col("value"), F.first("value", ignorenulls=True).over(wb))
    else:  # interpolate — linear between neighbors, edges extend flat
        prev_v = F.last("value", ignorenulls=True).over(wf)
        next_v = F.first("value", ignorenulls=True).over(wb)
        prev_t = F.last(F.when(F.col("value").isNotNull(), F.col("ts")), ignorenulls=True).over(wf)
        next_t = F.first(F.when(F.col("value").isNotNull(), F.col("ts")), ignorenulls=True).over(wb)
        frac = F.try_divide(F.col("ts") - prev_t, next_t - prev_t)
        interp = prev_v + (next_v - prev_v) * frac
        # interpolation fills BETWEEN known points only — head/tail gaps
        # stay empty (exec_test interpolate(head/tail) golden cases)
        filled = F.coalesce(
            F.col("value"),
            F.when(prev_v.isNotNull() & next_v.isNotNull(), interp),
        )
    out = dense.withColumn("value", filled).filter(F.col("value").isNotNull())
    return out.select("name", "labels", "ts", "value")


_RUNNING_AGGS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def _dense_series_grid(planner, df, cfg):
    """(series × grid) left-joined with the input values — the shared
    densify step for running_*/range_*/gap-fill (VM's values arrays span
    the whole grid with NaN holes; these functions write into the holes)."""
    from victoriametrics_spark.engine.grid import grid_df

    sk = series_key(F.col("name"), F.col("labels"))
    dense = _series(df).crossJoin(grid_df(planner.spark, cfg))
    vals = df.select(sk.alias("__sk"), F.col("ts"), F.col("value"))
    return dense.join(vals, ["__sk", "ts"], "left")


def _running(planner, fe, cfg, agg_name):
    """running_sum/avg/min/max — cumulative from query start per series.
    The running value KEEPS reporting at grid points where the input has
    a gap (transformRunning writes into every index from the first
    non-NaN sample on; exec_test running_min golden cases)."""
    df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
    agg = _RUNNING_AGGS.get(agg_name)
    if agg is None:
        from victoriametrics_spark.engine.planner import PlanError

        raise PlanError(f"running_{agg_name} not implemented")
    dense = _dense_series_grid(planner, df, cfg)
    w = (
        Window.partitionBy("__sk")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = dense.withColumn("value", agg("value").over(w).cast("double"))
    out = out.filter(F.col("value").isNotNull()).select(
        "name", "labels", "ts", "value"
    )
    # newTransformFuncRunning resets the metric group UNCONDITIONALLY
    # (transform.go:1335 ts.MetricName.ResetMetricGroup()) — the
    # transformFuncsKeepMetricName entries for running_avg/min/max are
    # dead there because these funcs never pass through doTransformValues
    return out.withColumn("name", F.lit(""))


_RANGE_CONST: dict[str, Callable] = {
    # per-series whole-range constants: emitted at EVERY grid point —
    # transformRange* overwrite all indexes incl. former NaN holes
    # (exec_test range_sum(filtered) golden case)
    "sum": lambda a: F.sum("value"),
    "avg": lambda a: F.avg("value"),
    "min": lambda a: F.min("value"),
    "max": lambda a: F.max("value"),
    "first": lambda a: F.min_by(F.col("value"), F.col("ts")),
    "last": lambda a: F.max_by(F.col("value"), F.col("ts")),
    "stddev": lambda a: F.stddev_pop("value"),
    "stdvar": lambda a: F.var_pop("value"),
    "median": lambda a: F.percentile(F.col("value"), F.lit(0.5)),
}


def _range_fn(planner, fe, cfg, agg_name):
    """range_* — whole-query-range stat per series."""
    from victoriametrics_spark.engine.planner import PlanError

    df = planner.materialize(planner.plan(fe.args[-1], cfg), cfg)
    if agg_name in _RANGE_CONST or agg_name in ("quantile", "mad"):
        if agg_name == "quantile":
            phi = planner.const_value(fe.args[0], cfg)
            stat = F.percentile(F.col("value"), F.lit(phi))
        elif agg_name == "mad":
            stat = None  # two-stage below
        else:
            stat = _RANGE_CONST[agg_name](None)
        sk = series_key(F.col("name"), F.col("labels"))
        if agg_name == "mad":
            per = df.groupBy(sk.alias("__sk")).agg(
                F.collect_list("value").alias("__vals"),
                F.percentile(F.col("value"), F.lit(0.5)).alias("__med"),
            )
            devs = F.array_sort(
                F.transform(F.col("__vals"), lambda v: F.abs(v - F.col("__med")))
            )
            n = F.size(devs)
            lo = F.try_element_at(devs, ((n + 1) / 2).cast("int"))
            hi = F.try_element_at(devs, ((n + 2) / 2).cast("int"))
            per = per.select("__sk", ((lo + hi) / 2.0).alias("__stat"))
        else:
            per = df.groupBy(sk.alias("__sk")).agg(stat.alias("__stat"))
        from victoriametrics_spark.engine.grid import grid_df

        # metric-name survival follows the reference implementations, not
        # the (dead-for-these) transformFuncsKeepMetricName map:
        # range_sum/avg/min/max go through newTransformFuncRunning which
        # resets the metric group unconditionally (transform.go:1335,1352);
        # the standalone range fns (first/last/quantile/mad/stddev/stdvar)
        # only rewrite values and KEEP the name
        keep = agg_name in ("first", "last", "quantile", "stdvar",
                            "stddev", "mad", "median")
        name, labels = _identity()
        out = per.crossJoin(grid_df(planner.spark, cfg)).select(
            name if keep else F.lit("").alias("name"),
            labels,
            F.col("ts"),
            F.col("__stat").cast("double").alias("value"),
        )
        return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))

    dfk, w = _series_window(df)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    if agg_name == "normalize":
        mn = F.min("value").over(wfull)
        mx = F.max("value").over(wfull)
        # transformRangeNormalize drops the whole series when
        # vMax - vMin is ±Inf (transform.go:1383-1385) — a finite point
        # in such a series must NOT survive as (v-vMin)/Inf == 0
        d = mx - mn
        val = F.when(
            F.abs(d) == F.lit(float("inf")), F.lit(None).cast("double")
        ).otherwise(F.try_divide(F.col("value") - mn, d))
    elif agg_name == "zscore":
        val = F.try_divide(
            F.col("value") - F.avg("value").over(wfull),
            F.stddev_pop("value").over(wfull),
        )
    elif agg_name == "linear_regression":
        # per-series least squares over the whole range, extrapolated to
        # EVERY grid point — VM fills all timestamps from the fit, gaps
        # included (transformRangeLinearRegression); a single-point /
        # constant series degenerates to slope 0 at its mean
        from victoriametrics_spark.engine.grid import grid_df

        sk = series_key(F.col("name"), F.col("labels"))
        per = df.groupBy(sk.alias("__sk")).agg(
            F.regr_slope(F.col("value"), F.col("ts") / 1000.0).alias("__k"),
            F.regr_intercept(F.col("value"), F.col("ts") / 1000.0).alias("__b"),
            F.avg("value").alias("__mean"),
        )
        fitted = per.crossJoin(grid_df(planner.spark, cfg)).select(
            *_identity(),
            F.col("ts"),
            (
                F.coalesce(F.col("__b"), F.col("__mean"))
                + F.coalesce(F.col("__k"), F.lit(0.0)) * (F.col("ts") / 1000.0)
            ).cast("double").alias("value"),
        )
        return fitted.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    elif agg_name == "trim_outliers":
        k = planner.const_value(fe.args[0], cfg)
        med = F.percentile("value", F.lit(0.5)).over(wfull)
        dev = F.abs(F.col("value") - med)
        mad = F.percentile(dev, F.lit(0.5)).over(wfull)
        out = dfk.withColumn("__keep", dev <= F.lit(k) * mad)
        # transformRangeTrimOutliers only NaNs-out values — names KEPT
        return out.filter("__keep").select("name", "labels", "ts", "value")
    elif agg_name == "trim_spikes":
        # drop phi/2 fraction of lowest + highest values per series
        # (transformRangeTrimSpikes, transform.go:1482-1528)
        phi = planner.const_value(fe.args[0], cfg) / 2.0
        lo = F.percentile("value", F.lit(phi)).over(wfull)
        hi = F.percentile("value", F.lit(1.0 - phi)).over(wfull)
        out = dfk.withColumn(
            "__keep", (F.col("value") >= lo) & (F.col("value") <= hi)
        )
        # transformRangeTrimSpikes only NaNs-out values — names KEPT
        return out.filter("__keep").select("name", "labels", "ts", "value")
    elif agg_name == "trim_zscore":
        z = planner.const_value(fe.args[0], cfg)
        mean = F.avg("value").over(wfull)
        sd = F.stddev_pop("value").over(wfull)
        out = dfk.withColumn(
            "__keep", F.abs(F.try_divide(F.col("value") - mean, sd)) <= F.lit(abs(z))
        )
        # transformRangeTrimZscore only NaNs-out values — names KEPT
        return out.filter("__keep").select("name", "labels", "ts", "value")
    else:
        raise PlanError(f"range_{agg_name} not implemented yet")
    # range_normalize / range_zscore rewrite values in place and never
    # reset the metric group (transformRangeNormalize / ...Zscore)
    out = dfk.withColumn("value", val.cast("double"))
    out = out.select("name", "labels", "ts", "value")
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _key_neq(name: str):
    """map_filter predicate factory — avoids default-arg lambdas, whose
    arity PySpark misreads as extra lambda variables."""
    return lambda k, v: k != F.lit(name)


def _str_args(fe: FuncExpr, frm: int = 1) -> list[str]:
    out = []
    for a in fe.args[frm:]:
        if not isinstance(a, StringExpr):
            raise ValueError(f"{fe.name}: expected string argument, got {a!r}")
        out.append(a.value)
    return out


def _label_fn(planner, fe, cfg, name):
    """Label-map edits via map_* higher-order functions (no shuffle)."""
    from victoriametrics_spark.engine.planner import PlanError

    if name == "labels_equal":
        df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
        keys = _str_args(fe)
        if len(keys) < 2:
            raise PlanError("labels_equal needs at least 2 label names")
        cond = F.lit(True)
        base = F.coalesce(F.col("labels").getItem(keys[0]), F.lit(""))
        for k in keys[1:]:
            cond = cond & (
                F.coalesce(F.col("labels").getItem(k), F.lit("")) == base
            )
        return df.filter(cond)

    df = planner.materialize(planner.plan(fe.args[0], cfg), cfg)
    if name == "drop_common_labels" and len(fe.args) > 1:
        # transformDropCommonLabels concatenates ALL args' series before
        # computing commonality
        for a in fe.args[1:]:
            df = df.unionByName(planner.materialize(planner.plan(a, cfg), cfg))
    labels = F.col("labels")

    if name == "label_set":
        # label_set(q, "k1","v1", ...) — NB: __name__ settable
        kvs = _str_args(fe)
        out = df
        for k, v in zip(kvs[0::2], kvs[1::2]):
            if k == "__name__":
                out = out.withColumn("name", F.lit(v))
            elif v == "":
                out = out.withColumn(
                    "labels", F.map_filter(F.col("labels"), _key_neq(k))
                )
            else:
                out = out.withColumn(
                    "labels",
                    F.map_concat(
                        F.map_filter(F.col("labels"), _key_neq(k)),
                        F.create_map(F.lit(k), F.lit(v)),
                    ),
                )
        return out

    if name == "label_del":
        ks = _str_args(fe)
        out = df.withColumn(
            "labels",
            F.map_filter(labels, lambda k, v: ~k.isin(*[str(x) for x in ks])),
        )
        # __name__ is deletable like any label (transformLabelDel)
        if "__name__" in ks:
            out = out.withColumn("name", F.lit(""))
        return out

    if name == "label_keep":
        ks = _str_args(fe)
        out = df.withColumn(
            "labels",
            F.map_filter(labels, lambda k, v: k.isin(*[str(x) for x in ks])),
        )
        # the metric name survives only when "__name__" is listed
        # (transformLabelKeep)
        if "__name__" not in ks:
            out = out.withColumn("name", F.lit(""))
        return out

    if name in ("label_lowercase", "label_uppercase"):
        ks = _str_args(fe)
        f = F.lower if name == "label_lowercase" else F.upper
        return df.withColumn(
            "labels",
            F.transform_values(
                labels, lambda k, v: F.when(k.isin(*ks), f(v)).otherwise(v)
            ),
        )

    if name in ("label_copy", "label_move"):
        # __name__ participates on both sides (transformLabelCopyExt:
        # src/dst may address the metric group); src == dst is a no-op
        kvs = _str_args(fe)
        out = df
        for src, dst in zip(kvs[0::2], kvs[1::2]):
            if src == dst:
                continue
            src_is_name = src == "__name__"
            dst_is_name = dst == "__name__"
            src_v = (
                F.col("name") if src_is_name else F.col("labels").getItem(src)
            )
            present = (
                (F.col("name") != "") if src_is_name else src_v.isNotNull()
            )
            if dst_is_name:
                out = out.withColumn(
                    "name", F.when(present, src_v).otherwise(F.col("name"))
                )
            else:
                out = out.withColumn(
                    "labels",
                    F.when(
                        present,
                        F.map_concat(
                            F.map_filter(F.col("labels"), _key_neq(dst)),
                            F.create_map(F.lit(dst), src_v),
                        ),
                    ).otherwise(F.col("labels")),
                )
            if name == "label_move":
                if src_is_name:
                    out = out.withColumn(
                        "name",
                        F.when(present, F.lit("")).otherwise(F.col("name")),
                    )
                else:
                    out = out.withColumn(
                        "labels",
                        F.when(
                            present,
                            F.map_filter(F.col("labels"), _key_neq(src)),
                        ).otherwise(F.col("labels")),
                    )
        return out

    if name == "label_join":
        # label_join(q, dst, sep, src1, src2, ...); src/dst may be
        # __name__ (VM getDstValue/getSrcValue address MetricGroup)
        args = _str_args(fe)
        dst, sep, srcs = args[0], args[1], args[2:]

        def src_val(s):
            if s == "__name__":
                return F.coalesce(F.col("name"), F.lit(""))
            return F.coalesce(F.col("labels").getItem(s), F.lit(""))

        joined = F.concat_ws(sep, *[src_val(s) for s in srcs])
        if dst == "__name__":
            return df.withColumn("name", joined)
        # an empty joined value removes the tag (VM empty-tag semantics)
        return df.withColumn(
            "labels",
            F.map_filter(
                F.map_concat(
                    F.map_filter(F.col("labels"), lambda k, v: k != F.lit(dst)),
                    F.create_map(F.lit(dst), joined),
                ),
                lambda k, v: v != F.lit(""),
            ),
        )

    if name == "label_replace":
        _check_regex(fe.args[4] if len(fe.args) > 4 else None)
        # label_replace(q, dst, replacement, src, regex) — PromQL-compat:
        # applies only when regex matches the full src value. src/dst may
        # be __name__ (VM getDstValue handles MetricGroup).
        import re as _re

        args = _str_args(fe)
        dst, repl, src, regex = args[0], args[1], args[2], args[3]
        # PromQL ${1} group refs → Java's $1 (Java reads ${...} as a
        # group NAME, which cannot start with a digit); references to
        # groups the regex does not define expand to "" (Go Expand
        # semantics) where Java would throw
        repl = _re.sub(r"\$\{(\d+)\}", r"$\1", repl)
        try:
            ngroups = _re.compile(regex).groups
        except _re.error:
            ngroups = 0
        repl = _re.sub(
            r"\$(\d+)",
            lambda m: m.group(0) if int(m.group(1)) <= ngroups else "",
            repl,
        )
        if src == "__name__":
            src_v = F.coalesce(F.col("name"), F.lit(""))
        else:
            src_v = F.coalesce(F.col("labels").getItem(src), F.lit(""))
        matches = src_v.rlike(f"^(?:{regex})$")
        new_v = F.regexp_replace(src_v, f"^(?:{regex})$", repl)
        if dst == "__name__":
            return df.withColumn(
                "name", F.when(matches, new_v).otherwise(F.col("name"))
            )
        set_map = F.map_concat(
            F.map_filter(F.col("labels"), lambda k, v: k != F.lit(dst)),
            F.create_map(F.lit(dst), new_v),
        )
        del_map = F.map_filter(F.col("labels"), lambda k, v: k != F.lit(dst))
        return df.withColumn(
            "labels",
            F.when(matches & (new_v != ""), set_map)
            .when(matches & (new_v == ""), del_map)
            .otherwise(F.col("labels")),
        )

    if name == "label_value":
        # non-numeric label values become NaN → dropped
        # (transformLabelValue: ParseFloat failure → nan); the metric
        # group is RESET (transform.go:2186 ResetMetricGroup)
        k = _str_args(fe)[0]
        out = df.withColumn(
            "value", F.col("labels").getItem(k).try_cast("double")
        ).withColumn("name", F.lit(""))
        return out.filter(F.col("value").isNotNull())

    if name == "label_map":
        # label_map(q, "label", src1, dst1, ...) — rewrite the label value
        # through the lookup; empty result removes the label
        # (transformLabelMap, transform.go:1887-1917)
        args = _str_args(fe)
        label, pairs = args[0], args[1:]
        cur = F.coalesce(labels.getItem(label), F.lit(""))
        mapped = cur
        for src, dst in zip(pairs[0::2], pairs[1::2]):
            mapped = F.when(cur == F.lit(src), F.lit(dst)).otherwise(mapped)
        set_map = F.map_concat(
            F.map_filter(labels, _key_neq(label)),
            F.create_map(F.lit(label), mapped),
        )
        del_map = F.map_filter(labels, _key_neq(label))
        return df.withColumn(
            "labels", F.when(mapped == "", del_map).otherwise(set_map)
        )

    if name == "label_graphite_group":
        # label_graphite_group(q, g1, g2, ...) — keep only the selected
        # dot-separated groups of the metric name
        # (transformLabelGraphiteGroup, transform.go:2259-2290)
        ids = [int(planner.const_value(a, cfg)) for a in fe.args[1:]]
        parts = F.split(F.col("name"), r"\.")
        pieces = [
            F.coalesce(F.try_element_at(parts, F.lit(i + 1)), F.lit(""))
            if i >= 0
            else F.lit("")
            for i in ids
        ]
        return df.withColumn("name", F.concat_ws(".", *pieces))

    if name in ("label_match", "label_mismatch"):
        args = _str_args(fe)
        k, regex = args[0], args[1]
        if k == "__name__":
            lv = F.coalesce(F.col("name"), F.lit(""))
        else:
            lv = F.coalesce(F.col("labels").getItem(k), F.lit(""))
        cond = lv.rlike(f"^(?:{regex})$")
        return df.filter(cond if name == "label_match" else ~cond)

    if name == "label_transform":
        _check_regex(fe.args[1] if len(fe.args) > 1 else None)
        args = _str_args(fe)
        k, regex, repl = args[0], args[1], args[2]
        return df.withColumn(
            "labels",
            F.transform_values(
                labels,
                (lambda key: lambda mk, mv: F.when(
                    mk == F.lit(key), F.regexp_replace(mv, regex, repl)
                ).otherwise(mv))(k),
            ),
        )

    if name == "drop_common_labels":
        # drop labels whose (k,v) is identical across every series —
        # fully LAZY: the common-key set is computed as a plan (exploded
        # labels grouped and compared against the series count), folded
        # into one broadcast array row and map_filter'ed out; no
        # planning-time Spark jobs (round-2 advisor finding)
        # __name__ participates in commonality like any label
        # (transformDropCommonLabels iterates MetricGroup too) — model it
        # as a pseudo-entry so a name shared by every series is dropped
        series = _series(df)
        kv = series.select(
            F.explode(
                F.map_concat(
                    F.coalesce(F.col("labels"), F.expr("map()")),
                    F.create_map(
                        F.lit("__name__"),
                        F.coalesce(F.col("name"), F.lit("")),
                    ),
                )
            ).alias("k", "v")
        )
        n_series = series.agg(F.count("*").alias("__n"))
        common_arr = (
            kv.groupBy("k", "v")
            .agg(F.count("*").alias("c"))
            .crossJoin(F.broadcast(n_series))
            .filter(F.col("c") == F.col("__n"))
            .agg(F.collect_list(F.col("k")).alias("__common"))
        )
        out = df.crossJoin(F.broadcast(common_arr))
        return (
            out.withColumn(
                "labels",
                F.map_filter(
                    F.col("labels"),
                    lambda k, v: ~F.array_contains(F.col("__common"), k),
                ),
            )
            .withColumn(
                "name",
                F.when(
                    F.array_contains(F.col("__common"), F.lit("__name__")),
                    F.lit(""),
                ).otherwise(F.col("name")),
            )
            .drop("__common")
        )

    from victoriametrics_spark.engine.planner import PlanError

    raise PlanError(f"label function {name!r} not implemented yet")
