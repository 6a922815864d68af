"""Streaming aggregation (SURVEY.md §2.8) — the Spark rebuild of
lib/streamaggr: tumbling-interval aggregation of the sample stream with
VM's output set, last-wins deduplication, and counter state with a
staleness TTL.

Three entry points share one config; the batch one defines the
semantics:

- ``aggregate_batch(df, cfg)`` — the batch formulation and the spec
  (backfill / oracle-checkable): tumbling windows are
  ``floor(ts/interval)`` buckets, flushed at the bucket end. Counter
  outputs (total/increase) derive per-series reset-adjusted deltas with
  one lag window and accumulate across buckets with a running-sum
  frame — no driver state.
- ``aggregate_stream(sdf, cfg)`` — Structured Streaming, stateless
  outputs: the same aggregates over ``window(ts, interval)`` with a
  watermark for late data (VM drops samples older than the current
  flush window, streamaggr.go flush logic; the watermark is the compat
  knob).
- ``aggregate_stream_pandas_state(sdf, cfg)`` — Structured Streaming,
  counter outputs: ``applyInPandasWithState`` with per-group state in
  Spark's checkpointed state store, so restart and replay come from the
  checkpoint. Replayed in order it reproduces ``aggregate_batch``.

Output series naming follows the reference exactly
(streamaggr.go:627-635):
``input_name:<interval>[_by_<labels>][_without_<labels>]_<output>``.

Dedup (``dedup_interval``) keeps the last sample per aligned interval
bucket per series, ties broken by the maximum value
(lib/storage/dedup.go:29-60 + issue #3333 rule).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.schema import canonical_labels_str, labels_from_key, series_key

STATELESS_OUTPUTS = {
    "sum_samples",
    "count_samples",
    "count_series",
    "last",
    "min",
    "max",
    "avg",
    "stddev",
    "stdvar",
    "unique_samples",
}
STATEFUL_OUTPUTS = {
    "total",
    "total_prometheus",
    "increase",
    "increase_prometheus",
    "sum_samples_total",
    "rate_sum",
    "rate_avg",
}
SPECIAL_OUTPUTS = {"quantiles", "histogram_bucket"}


@dataclass
class StreamAggrConfig:
    interval_ms: int
    outputs: list[str]
    by: list[str] | None = None
    without: list[str] | None = None
    dedup_interval_ms: int = 0
    staleness_interval_ms: int | None = None
    # warmup: first samples of series appearing within this interval of
    # the stream start are treated as pre-existing — their value is NOT
    # counted into total/increase (streamaggr.go:179-182
    # ignore_first_sample_interval; deadline = start + interval)
    ignore_first_sample_interval_ms: int = 0
    quantiles: list[float] = field(default_factory=list)
    keep_metric_names: bool = False

    def suffix(self) -> str:
        iv = _fmt_interval(self.interval_ms)
        s = f":{iv}"
        if self.by:
            s += "_by_" + "_".join(sorted(self.by))
        if self.without:
            s += "_without_" + "_".join(sorted(self.without))
        return s + "_"


def _fmt_interval(ms: int) -> str:
    for unit, div in (("d", 86_400_000), ("h", 3_600_000), ("m", 60_000), ("s", 1000)):
        if ms % div == 0 and ms >= div:
            return f"{ms // div}{unit}"
    return f"{ms}ms"


def _group_labels(cfg: StreamAggrConfig) -> Column:
    labels = F.coalesce(F.col("labels"), F.create_map().cast("map<string,string>"))
    if cfg.by:
        keys = [str(k) for k in cfg.by]
        return F.map_filter(labels, lambda k, v: k.isin(*keys))
    if cfg.without:
        keys = [str(k) for k in cfg.without]
        return F.map_filter(labels, lambda k, v: ~k.isin(*keys))
    return labels


def _out_name(cfg: StreamAggrConfig, output: str) -> Column:
    if cfg.keep_metric_names:
        return F.col("name")
    return F.concat(F.col("name"), F.lit(cfg.suffix() + output))


def dedup_samples(df: DataFrame, dedup_interval_ms: int) -> DataFrame:
    """Last-wins dedup per aligned interval bucket per series
    (lib/storage/dedup.go:29-60): keep the sample with the highest ts in
    each ``floor(ts/interval)`` bucket; equal timestamps prefer the
    maximum value (issue #3333), stale markers lose to real samples."""
    if dedup_interval_ms <= 0:
        return df
    bucket = (F.col("ts") - F.col("ts") % F.lit(dedup_interval_ms)).alias("__bk")
    sk = series_key(F.col("name"), F.col("labels"))
    not_stale = (
        ~F.coalesce(F.col("is_stale"), F.lit(False))
        if "is_stale" in df.columns
        else F.lit(True)
    )
    w = Window.partitionBy(sk, bucket).orderBy(
        F.col("ts").desc(), not_stale.desc(), F.col("value").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _stateless_agg(output: str, streaming: bool = False) -> Column:
    v = F.col("value")
    if output == "sum_samples":
        return F.sum(v)
    if output == "count_samples":
        return F.count(v).cast("double")
    if output == "count_series":
        # exact in batch; streaming aggregation cannot do exact distinct →
        # HLL sketch (documented approximation, exact for small cardinality)
        if streaming:
            return F.approx_count_distinct(F.col("__sk"), rsd=0.005).cast("double")
        return F.count_distinct(F.col("__sk")).cast("double")
    if output == "last":
        return F.max(F.struct(F.col("ts"), v))["value"]
    if output == "min":
        return F.min(v)
    if output == "max":
        return F.max(v)
    if output == "avg":
        return F.avg(v)
    if output == "stddev":
        return F.stddev_pop(v)
    if output == "stdvar":
        return F.var_pop(v)
    if output == "unique_samples":
        return F.count_distinct(v).cast("double")
    raise ValueError(f"unknown stateless output {output!r}")


def aggregate_batch(df: DataFrame, cfg: StreamAggrConfig) -> DataFrame:
    """Tumbling-interval streamaggr over a batch of samples. Returns the
    canonical sample shape (name, labels, ts, value), one series per
    (input group, output)."""
    if cfg.dedup_interval_ms:
        df = dedup_samples(df, cfg.dedup_interval_ms)
    iv = cfg.interval_ms
    d = (
        df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .withColumn("__gkey", canonical_labels_str(_group_labels(cfg)))
        .withColumn("__w", F.col("ts") - F.col("ts") % F.lit(iv))
    )
    flush_ts = (F.col("__w") + F.lit(iv)).alias("ts")
    glabels = labels_from_key(F.col("__gkey"))
    outs: list[DataFrame] = []

    stateless = [o for o in cfg.outputs if o in STATELESS_OUTPUTS]
    if stateless:
        grouped = d.groupBy("name", "__gkey", "__w").agg(
            *[_stateless_agg(o).alias(f"__o_{o}") for o in stateless]
        )
        for o in stateless:
            outs.append(
                grouped.select(
                    _out_name(cfg, o).alias("name"),
                    glabels.alias("labels"),
                    flush_ts,
                    F.col(f"__o_{o}").cast("double").alias("value"),
                ).filter(F.col("value").isNotNull() & ~F.isnan("value"))
            )

    if "quantiles" in cfg.outputs:
        qs = cfg.quantiles or [0.5]
        grouped = d.groupBy("name", "__gkey", "__w").agg(
            *[
                F.percentile(F.col("value"), F.lit(p)).alias(f"__q{i}")
                for i, p in enumerate(qs)
            ]
        )
        for i, p in enumerate(qs):
            outs.append(
                grouped.select(
                    _out_name(cfg, "quantiles").alias("name"),
                    F.map_concat(
                        F.map_filter(glabels, lambda k, v: k != F.lit("quantile")),
                        F.create_map(F.lit("quantile"), F.lit(f"{p:g}")),
                    ).alias("labels"),
                    flush_ts,
                    F.col(f"__q{i}").cast("double").alias("value"),
                )
            )

    if "histogram_bucket" in cfg.outputs:
        v = F.col("value")
        pos = d.filter(v > 0)
        idx = F.ceil(F.log10(v) * 18).cast("long")
        lo = F.pow(F.lit(10.0), (idx - 1).cast("double") / 18.0)
        hi = F.pow(F.lit(10.0), idx.cast("double") / 18.0)
        vmrange = F.concat(
            F.format_string("%.3e", lo), F.lit("..."), F.format_string("%.3e", hi)
        )
        outs.append(
            pos.withColumn("__vmrange", vmrange)
            .groupBy("name", "__gkey", "__w", "__vmrange")
            .agg(F.count("*").cast("double").alias("value"))
            .select(
                _out_name(cfg, "histogram_bucket").alias("name"),
                F.map_concat(
                    glabels,
                    F.create_map(F.lit("vmrange"), F.col("__vmrange")),
                ).alias("labels"),
                flush_ts,
                F.col("value"),
            )
        )

    stateful = [o for o in cfg.outputs if o in STATEFUL_OUTPUTS]
    if stateful:
        wser = Window.partitionBy("__sk").orderBy("ts")
        dd = (
            d.withColumn("__pv", F.lag("value").over(wser))
            .withColumn("__pts", F.lag("ts").over(wser))
            .withColumn(
                "__pos_dv",
                F.when(F.col("__pv").isNull(), F.lit(None).cast("double"))
                .when(F.col("value") >= F.col("__pv"), F.col("value") - F.col("__pv"))
                .otherwise(F.col("value")),
            )
        )
        is_first = F.col("__pv").isNull()
        if cfg.staleness_interval_ms:
            # state TTL: a gap longer than staleness resets the series
            # (streamaggr.go:175-182) — the sample after it acts like a
            # brand-new first sample (total.go:34-36 lastValue reset)
            stale_gap = (
                F.col("ts") - F.col("__pts") > F.lit(cfg.staleness_interval_ms)
            )
            dd = dd.withColumn(
                "__pos_dv",
                F.when(stale_gap, F.lit(None).cast("double")).otherwise(
                    F.col("__pos_dv")
                ),
            )
            is_first = is_first | stale_gap
        # keep-first-sample contribution (total/increase flavor,
        # total.go:49-51): a new series' first value counts as an
        # increase, unless it appears during the warmup interval after
        # stream start — batch analog of ignoreFirstSampleDeadline
        if cfg.ignore_first_sample_interval_ms > 0:
            min_ts = d.agg(F.min("ts").alias("__t0"))
            dd = dd.crossJoin(F.broadcast(min_ts))
            eligible = (
                F.col("ts")
                >= F.col("__t0") + F.lit(cfg.ignore_first_sample_interval_ms)
            )
        else:
            eligible = F.lit(True)
        dd = dd.withColumn(
            "__contrib_keep",
            F.when(is_first, F.when(eligible, F.col("value"))).otherwise(
                F.col("__pos_dv")
            ),
        )
        per_window = dd.groupBy("name", "__gkey", "__w").agg(
            F.sum("__pos_dv").alias("__inc"),
            F.sum("__contrib_keep").alias("__inc_keep"),
            F.sum("value").alias("__ss"),
            F.sum(
                F.try_divide(F.col("__pos_dv"), (F.col("ts") - F.col("__pts")) / 1000.0)
            ).alias("__rate_sum_inner"),
            F.count_distinct(
                F.when(F.col("__pos_dv").isNotNull(), F.col("__sk"))
            ).alias("__nser"),
        )
        wrun = (
            Window.partitionBy("name", "__gkey")
            .orderBy("__w")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for o in stateful:
            if o == "total":
                val = F.sum(F.coalesce(F.col("__inc_keep"), F.lit(0.0))).over(wrun)
            elif o == "total_prometheus":
                val = F.sum(F.coalesce(F.col("__inc"), F.lit(0.0))).over(wrun)
            elif o == "increase":
                val = F.col("__inc_keep")
            elif o == "increase_prometheus":
                val = F.col("__inc")
            elif o == "sum_samples_total":
                val = F.sum(F.coalesce(F.col("__ss"), F.lit(0.0))).over(wrun)
            elif o == "rate_sum":
                # per-sample rate dv/dt summed per group — batch analog of
                # rate.go (per-series instantaneous rates)
                val = F.col("__rate_sum_inner")
            else:  # rate_avg
                val = F.try_divide(F.col("__rate_sum_inner"), F.col("__nser"))
            outs.append(
                per_window.select(
                    _out_name(cfg, o).alias("name"),
                    glabels.alias("labels"),
                    flush_ts,
                    val.cast("double").alias("value"),
                ).filter(F.col("value").isNotNull() & ~F.isnan("value"))
            )

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def aggregate_stream(
    sdf: DataFrame,
    cfg: StreamAggrConfig,
    ts_col: str = "ts",
    allowed_lateness_ms: int = 0,
) -> DataFrame:
    """Structured Streaming formulation for the stateless outputs:
    tumbling ``window(ts, interval)`` aggregation with a watermark.
    VM drops samples older than the current flush window; a zero
    ``allowed_lateness_ms`` reproduces that compat behavior, larger
    values trade latency for late-data tolerance.

    Counter outputs (total/increase/rate_*) need per-series state with a
    staleness TTL: use ``aggregate_stream_pandas_state``.
    """
    stateless = [o for o in cfg.outputs if o in STATELESS_OUTPUTS]
    if not stateless:
        raise ValueError("aggregate_stream supports stateless outputs only")
    tcol = F.timestamp_millis(F.col(ts_col))
    d = (
        sdf.withColumn("__event_time", tcol)
        .withWatermark("__event_time", f"{max(allowed_lateness_ms, 0)} milliseconds")
        .withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .withColumn("__gkey", canonical_labels_str(_group_labels(cfg)))
    )
    win = F.window("__event_time", f"{cfg.interval_ms} milliseconds")
    grouped = d.groupBy(F.col("name"), F.col("__gkey"), win.alias("__win")).agg(
        *[_stateless_agg(o, streaming=True).alias(f"__o_{o}") for o in stateless]
    )
    outs = []
    for o in stateless:
        outs.append(
            grouped.select(
                _out_name(cfg, o).alias("name"),
                labels_from_key(F.col("__gkey")).alias("labels"),
                F.unix_millis(F.col("__win.end")).alias("ts"),
                F.col(f"__o_{o}").cast("double").alias("value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def aggregate_stream_pandas_state(
    sdf: DataFrame,
    cfg: StreamAggrConfig,
    ts_col: str = "ts",
    allowed_lateness_ms: int = 0,
) -> DataFrame:
    """Structured-Streaming counters (total / increase / rate_* family)
    over ``applyInPandasWithState``: ``aggregate_batch``'s counter
    outputs with per-group state in Spark's checkpointed state store, so
    a restarted query resumes from its checkpoint and a replayed
    micro-batch starts from the last committed state.

    One GroupState per (name, group-labels) key holds the per-series
    (last_ts, last_value) pairs that carry positive-delta counter
    semantics and the staleness reset across micro-batches, the open
    tumbling ``interval_ms`` windows' partials (inc, inc_keep, ss,
    rate_sum, contributing series) and the cumulative totals. The
    series/window maps ride as JSON strings inside the flat state row
    (VM keeps the same per-output in-memory map,
    streamaggr.go:175-209).

    Event time is window-aligned: each row's event time is the END of
    its ``interval_ms`` window, with a watermark delay of one interval
    plus ``allowed_lateness_ms``, so the watermark trails the start of
    the newest window seen by ``allowed_lateness_ms``. A window flushes
    once the watermark reaches its end, and Spark drops a row as late
    (under event-time timeouts) exactly when its window has flushed —
    never a row of a still-open window, whatever its order within the
    window or across micro-batches. With the default 0 only the newest
    window is open, like VM dropping samples older than the current
    flush window. The group's event-time timeout is its earliest open
    window end, so an idle group flushes without new samples of its
    own, like VM's interval flusher; one far-future sample of any
    series therefore ends a replay.

    Divergence from the batch engine: the warmup deadline
    (ignore_first_sample) anchors per aggregation group, not at the
    global batch minimum — a stream has no global minimum."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stateful = [o for o in cfg.outputs if o in STATEFUL_OUTPUTS]
    if not stateful:
        raise ValueError(
            "aggregate_stream_pandas_state: no stateful outputs in cfg"
        )
    if cfg.dedup_interval_ms:
        sdf = dedup_samples_stream(sdf, cfg.dedup_interval_ms)

    iv = cfg.interval_ms
    ts = F.col(ts_col)
    d = (
        sdf.withColumn(
            "__event_time",
            F.timestamp_millis(ts - F.pmod(ts, F.lit(iv)) + F.lit(iv)),
        )
        .withWatermark(
            "__event_time", f"{iv + max(allowed_lateness_ms, 0)} milliseconds"
        )
        .withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .withColumn("__gkey", canonical_labels_str(_group_labels(cfg)))
        .withColumn("__labels_json", F.to_json(labels_from_key(F.col("__gkey"))))
        .select(
            "name", "__gkey", "__sk", F.col(ts_col).alias("ts"),
            "value", F.col("__labels_json").alias("labels_json"),
            "__event_time",
        )
    )

    staleness = cfg.staleness_interval_ms or 0
    warmup = cfg.ignore_first_sample_interval_ms or 0
    sfx = cfg.suffix()
    keep_names = cfg.keep_metric_names
    state_schema = (
        "t0 long, labels_json string, total double, total_prom double, "
        "ss_total double, series_json string, wins_json string"
    )

    def fn(key, pdfs, state):
        import json as _json

        import pandas as pd

        if state.exists:
            t0, labels_json, total, total_prom, ss_total, sj, wj = state.get
            series = {k: tuple(v) for k, v in _json.loads(sj).items()}
            wins = {int(k): v for k, v in _json.loads(wj).items()}
        else:
            t0, labels_json, total, total_prom, ss_total = (
                None, None, 0.0, 0.0, 0.0,
            )
            series, wins = {}, {}

        # a timed-out call brings no rows: it only flushes
        for pdf in pdfs:
            pdf = pdf.sort_values("ts", kind="mergesort")
            for sk, ts, v, lj in zip(
                pdf["__sk"], pdf["ts"], pdf["value"], pdf["labels_json"]
            ):
                ts, v = int(ts), float(v)
                if t0 is None:
                    t0 = ts
                if labels_json is None:
                    labels_json = lj
                w = ts - ts % iv
                prev = series.get(sk)
                pos_dv = None
                dt_ms = None
                if prev is not None:
                    lts, lv = int(prev[0]), float(prev[1])
                    if staleness and ts - lts > staleness:
                        prev = None
                    else:
                        pos_dv = v - lv if v >= lv else v
                        dt_ms = ts - lts
                if prev is None:
                    contrib_keep = (
                        v if (warmup == 0 or ts >= t0 + warmup) else None
                    )
                else:
                    contrib_keep = pos_dv
                series[sk] = (ts, v)
                cur = wins.get(w) or [0.0, 0, 0.0, 0, 0.0, 0.0, []]
                inc, n_inc, inc_keep, n_keep, ss, rate_sum, sks = cur
                if pos_dv is not None:
                    inc += pos_dv
                    n_inc += 1
                    if dt_ms and dt_ms > 0:
                        rate_sum += pos_dv / (dt_ms / 1000.0)
                    if sk not in sks:
                        sks.append(sk)
                if contrib_keep is not None:
                    inc_keep += contrib_keep
                    n_keep += 1
                ss += v
                wins[w] = [inc, n_inc, inc_keep, n_keep, ss, rate_sum, sks]

        # flush windows the event-time watermark has reached
        wm = state.getCurrentWatermarkMs()
        out = []
        name = key[0]
        for w in sorted(k for k in wins if k + iv <= wm):
            inc, n_inc, inc_keep, n_keep, ss, rate_sum, sks = wins.pop(w)
            total += inc_keep
            total_prom += inc
            ss_total += ss
            nser = len(sks)
            for o in stateful:
                if o == "total":
                    val = total
                elif o == "total_prometheus":
                    val = total_prom
                elif o == "increase":
                    val = inc_keep if n_keep else None
                elif o == "increase_prometheus":
                    val = inc if n_inc else None
                elif o == "sum_samples_total":
                    val = ss_total
                elif o == "rate_sum":
                    val = rate_sum if n_inc else None
                else:  # rate_avg
                    val = rate_sum / nser if nser else None
                if val is not None:
                    out.append((
                        name if keep_names else f"{name}{sfx}{o}",
                        labels_json or "{}",
                        w + iv,
                        float(val),
                    ))

        state.update(
            (
                t0,
                labels_json,
                float(total),
                float(total_prom),
                float(ss_total),
                _json.dumps(series),
                _json.dumps({str(k): v for k, v in wins.items()}),
            )
        )
        if wins:
            # the timeout is cleared on every call: re-arm it so it
            # fires once the watermark reaches the earliest open window
            # end (Spark times a group out when its timeout < watermark;
            # end - 1 >= wm, since older windows flushed)
            state.setTimeoutTimestamp(min(wins) + iv - 1)
        yield pd.DataFrame(
            out, columns=["name", "labels_json", "ts", "value"]
        )

    out = d.groupBy("name", "__gkey").applyInPandasWithState(
        fn,
        "name string, labels_json string, ts long, value double",
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return out.select(
        F.col("name"),
        F.from_json(F.col("labels_json"), "map<string,string>").alias("labels"),
        F.col("ts"),
        F.col("value"),
    )


def dedup_samples_stream(sdf: DataFrame, dedup_interval_ms: int) -> DataFrame:
    """Streaming last-wins dedup: max (ts, value) struct per series per
    aligned dedup bucket — the streaming analog of dedup_samples (same
    tie rule: later ts wins, equal ts → higher value)."""
    win = F.window(
        F.timestamp_millis(F.col("ts")), f"{dedup_interval_ms} milliseconds"
    )
    picked = (
        sdf.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .withWatermark("__event_time", "0 milliseconds")
        if "__event_time" in sdf.columns
        else sdf.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
    )
    return (
        picked.groupBy("name", "labels", "__sk", win.alias("__w"))
        .agg(F.max(F.struct("ts", "value")).alias("__best"))
        .select(
            "name",
            "labels",
            F.col("__best.ts").alias("ts"),
            F.col("__best.value").alias("value"),
            F.lit(False).alias("is_stale"),
        )
    )
