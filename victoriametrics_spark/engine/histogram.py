"""Histogram bucket math (SURVEY.md §2.7 series-set group) — the
`le`/`vmrange` bucket transforms from app/vmselect/promql/transform.go:
vmrangeBucketsToLE (:511), transformHistogramQuantile (:991),
transformHistogramShare (:651), transformHistogramAvg/Stddev/Stdvar
(:829-891), transformBucketsLimit (:386).

Spark shape: buckets of one logical histogram are rows sharing a group
key (labels minus ``le``); per (group, ts) the bucket vector is collected
into a sorted array and all the walk/interpolation logic runs as Catalyst
higher-order functions (aggregate/transform/filter) — bucket counts are
small (tens), so the arrays are bounded and the whole computation stays
JVM-side with one hash aggregation, distributing by group like every
other operator.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.schema import (
    canonical_labels_str,
    labels_from_key,
    name_labels_from_series_key,
    series_key,
)

INF = float("inf")


def le_value(labels: Column) -> Column:
    """Parse the ``le`` label into a double (+Inf handled explicitly —
    Spark's string→double cast rejects the Prometheus spelling)."""
    s = labels.getItem("le")
    return (
        F.when(s.isin("+Inf", "Inf", "inf", "+inf"), F.lit(INF))
        .otherwise(s.try_cast("double"))
    )


def _drop_keys(labels: Column, keys: list[str]) -> Column:
    return F.map_filter(labels, lambda k, v: ~k.isin(*keys))


def _with_label(labels: Column, key: str, value: Column) -> Column:
    return F.map_concat(
        F.map_filter(labels, lambda k, v: k != F.lit(key)),
        F.create_map(F.lit(key), value),
    )


def _bucket_arrays(df: DataFrame) -> DataFrame:
    """Group bucket series by (labels minus le) and collect, per (group,
    ts), the le-sorted bucket array. Buckets with identical le are merged
    by summing (transform.go mergeSameLE).

    Returns: (__hkey, labels (minus le), ts, b array<struct<le,v>>).
    """
    le = le_value(F.col("labels"))
    d = (
        df.withColumn("__le", le)
        .filter(F.col("__le").isNotNull())
        .withColumn(
            "__hkey", canonical_labels_str(_drop_keys(F.col("labels"), ["le"]))
        )
    )
    merged = d.groupBy("__hkey", "ts", "__le").agg(F.sum("value").alias("v"))
    return merged.groupBy("__hkey", "ts").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__le").alias("le"), F.col("v").alias("v")))
        ).alias("b"),
    ).withColumn("labels", labels_from_key(F.col("__hkey")))


def _fixed_values(b: Column) -> Column:
    """fixBrokenBuckets (transform.go:1139): cumulative buckets must be
    non-decreasing in le order; substitute each value with the running
    max of the values so far. A NaN bucket value takes the running value
    (first bucket: 0) instead of poisoning the walk
    (transform.go:1150-1164). Sequential fold → array<double>."""
    def step(acc, e):
        prev = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
            F.element_at(acc, F.size(acc))
        )
        nxt = F.when(F.isnan(e["v"]), prev).otherwise(
            F.greatest(e["v"], prev)
        )
        # the very first non-NaN value is taken as-is (may be < 0? VM
        # compares vPrev > v only from the second element on)
        first = F.when(F.isnan(e["v"]), F.lit(0.0)).otherwise(e["v"])
        return F.concat(
            acc, F.array(F.when(F.size(acc) == 0, first).otherwise(nxt))
        )

    return F.aggregate(b, F.array().cast("array<double>"), step)


def histogram_quantile(
    df: DataFrame, phi, bounds_label: str | None = None
) -> DataFrame:
    """`histogram_quantile(phi, buckets)` — cumulative-bucket linear
    interpolation per (series-minus-le, ts) group
    (transform.go:991-1105). Input must already be `le`-bucketed (run
    vmrange_to_le first for VM-native buckets). ``phi`` is a float or a
    scalar-plan callable ``ts → Column`` (per-step phi, e.g.
    ``histogram_quantile(time()/2e3, ...)``)."""
    g = _bucket_arrays(df)
    b, n = F.col("b"), F.size(F.col("b"))
    fixed = _fixed_values(b)
    g = g.withColumn("__f", fixed)
    f = F.col("__f")

    phi_c = phi(F.col("ts")) if callable(phi) else F.lit(float(phi))
    phi_c = phi_c.cast("double")
    vlast = F.element_at(f, -1)
    vreq = phi_c * vlast
    # first bucket with fixed >= vReq and fixed > 0 (the zero-skip of the
    # reference walk; see transform.go:1027-1066 — v==vPrev is unreachable
    # for monotone fixed buckets, so the interpolation below is exhaustive)
    idxs = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (F.element_at(f, i) >= vreq) & (F.element_at(f, i) > 0),
    )
    j = F.element_at(idxs, 1)
    le_j = F.element_at(b, j)["le"]
    v_j = F.element_at(f, j)
    le_prev = F.when(j > 1, F.element_at(b, j - 1)["le"]).otherwise(F.lit(0.0))
    v_prev = F.when(j > 1, F.element_at(f, j - 1)).otherwise(F.lit(0.0))
    finite_les = F.filter(b, lambda e: e["le"] != F.lit(INF))
    last_finite = F.try_element_at(finite_les, F.lit(-1))["le"]  # NULL when none

    interp = le_prev + (le_j - le_prev) * (vreq - v_prev) / (v_j - v_prev)
    base = F.when(vlast <= 0, F.lit(None).cast("double"))
    value = (
        F.when(phi_c < 0, F.lit(-INF))
        .when(phi_c > 1, F.lit(INF))
        .otherwise(base.when(le_j == F.lit(INF), last_finite).otherwise(interp))
    )
    lower = (
        F.when(phi_c < 0, F.lit(-INF))
        .when(phi_c > 1, vlast)
        .otherwise(base.when(le_j == F.lit(INF), last_finite).otherwise(le_prev))
    )
    upper = (
        F.when(phi_c < 0, F.element_at(b, 1)["v"])
        .when(phi_c > 1, F.lit(INF))
        .otherwise(base.when(le_j == F.lit(INF), F.lit(INF)).otherwise(le_j))
    )

    cols = [("", value)]
    if bounds_label:
        cols = [("", value), ("lower", lower), ("upper", upper)]
    outs = []
    for tag, col in cols:
        labels = F.col("labels")
        if bounds_label:
            if tag:
                labels = _with_label(labels, bounds_label, F.lit(tag))
            else:
                labels = _drop_keys(labels, [bounds_label])
        outs.append(
            g.select(
                F.lit("").alias("name"),
                labels.alias("labels"),
                F.col("ts"),
                col.cast("double").alias("value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def histogram_share(
    df: DataFrame, le_req, bounds_label: str | None = None
) -> DataFrame:
    """`histogram_share(le, buckets)` — the inverse of histogram_quantile:
    estimated share of values ≤ le (transform.go:651-745). ``le_req`` is
    a float or a scalar-plan callable ``ts → Column``."""
    g = _bucket_arrays(df)
    b, n = F.col("b"), F.size(F.col("b"))
    g = g.withColumn("__f", _fixed_values(b))
    f = F.col("__f")
    vlast = F.element_at(f, -1)

    lr_c = (
        le_req(F.col("ts")) if callable(le_req) else F.lit(float(le_req))
    ).cast("double")
    # j2 = last bucket with le <= leReq (0 → none)
    below = F.filter(
        F.sequence(F.lit(1), n), lambda i: F.element_at(b, i)["le"] <= lr_c
    )
    j2 = F.coalesce(F.try_element_at(below, F.lit(-1)), F.lit(0))
    v_prev = F.when(j2 > 0, F.element_at(f, j2)).otherwise(F.lit(0.0))
    le_prev = F.when(j2 > 0, F.element_at(b, j2)["le"]).otherwise(F.lit(0.0))
    lower_c = v_prev / vlast
    nxt = j2 + 1
    le_n = F.try_element_at(b, nxt)["le"]
    v_n = F.try_element_at(f, nxt)
    interp = lower_c + (v_n - v_prev) / vlast * (lr_c - le_prev) / (
        le_n - le_prev
    )
    done_all = j2 >= n  # leReq beyond the last bucket → share 1
    neg = lr_c < 0
    inf_le = lr_c == F.lit(INF)
    value = (
        F.when(neg, F.lit(0.0))
        .when(inf_le, F.lit(1.0))
        .when(done_all, F.lit(1.0))
        .when(le_n == F.lit(INF), lower_c)
        .when(le_prev == lr_c, lower_c)
        .otherwise(interp)
    )
    lower = (
        F.when(neg, F.lit(0.0))
        .when(inf_le, F.lit(1.0))
        .when(done_all, F.lit(1.0))
        .otherwise(lower_c)
    )
    upper = (
        F.when(neg, F.lit(0.0))
        .when(inf_le, F.lit(1.0))
        .when(done_all, F.lit(1.0))
        .when(le_n == F.lit(INF), F.lit(1.0))
        .when(le_prev == lr_c, lower_c)
        .otherwise(v_n / vlast)
    )

    cols = [("", value)]
    if bounds_label:
        cols = [("", value), ("lower", lower), ("upper", upper)]
    outs = []
    for tag, col in cols:
        labels = F.col("labels")
        if bounds_label:
            if tag:
                labels = _with_label(labels, bounds_label, F.lit(tag))
            else:
                labels = _drop_keys(labels, [bounds_label])
        outs.append(
            g.select(
                F.lit("").alias("name"),
                labels.alias("labels"),
                F.col("ts"),
                col.cast("double").alias("value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _moment_fold(b: Column) -> Column:
    """Sequential (lePrev, vPrev, sum, sum2, weightTotal) fold over finite-le
    buckets — avgForLeTimeseries / stdvarForLeTimeseries
    (transform.go:893-946). Uses RAW bucket values (the reference does not
    fix broken buckets for the moment transforms)."""
    finite = F.filter(b, lambda e: e["le"] != F.lit(INF))
    acc0 = F.struct(
        F.lit(0.0).alias("le_prev"),
        F.lit(0.0).alias("v_prev"),
        F.lit(0.0).alias("s"),
        F.lit(0.0).alias("s2"),
        F.lit(0.0).alias("w"),
    )
    return F.aggregate(
        finite,
        acc0,
        lambda acc, e: F.struct(
            e["le"].alias("le_prev"),
            e["v"].alias("v_prev"),
            (acc["s"] + (e["le"] + acc["le_prev"]) / 2 * (e["v"] - acc["v_prev"])).alias(
                "s"
            ),
            (
                acc["s2"]
                + ((e["le"] + acc["le_prev"]) / 2)
                * ((e["le"] + acc["le_prev"]) / 2)
                * (e["v"] - acc["v_prev"])
            ).alias("s2"),
            (acc["w"] + (e["v"] - acc["v_prev"])).alias("w"),
        ),
    )


def histogram_moment(df: DataFrame, kind: str) -> DataFrame:
    """histogram_avg / histogram_stddev / histogram_stdvar."""
    g = _bucket_arrays(df)
    m = _moment_fold(F.col("b"))
    avg = m["s"] / m["w"]
    stdvar = F.greatest(m["s2"] / m["w"] - avg * avg, F.lit(0.0))
    if kind == "avg":
        value = avg
    elif kind == "stdvar":
        value = stdvar
    else:
        value = F.sqrt(stdvar)
    out = g.select(
        F.lit("").alias("name"),
        F.col("labels"),
        F.col("ts"),
        F.when(m["w"] != 0, value).cast("double").alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


# ------------------------------------------------------------ vmrange → le
def vmrange_to_le(df: DataFrame) -> DataFrame:
    """`prometheus_buckets()` — convert VictoriaMetrics ``vmrange`` log
    buckets into Prometheus cumulative ``le`` buckets
    (transform.go:511-649 vmrangeBucketsToLE):

    - series grouped by (name + labels minus le/vmrange);
    - all-zero bucket series are dropped; gaps between adjacent buckets
      (prev.end != cur.start, including before the first bucket, which has
      an implicit prev end of 0) get a zero-filled boundary bucket at
      ``le = cur.start``; a ``+Inf`` bucket is appended;
    - per timestamp, bucket values accumulate in ascending-le order
      (only positive values add, mirroring the reference).

    Delta (documented): output rows exist only at timestamps where the
    group has at least one sample; the reference also emits all-zero
    grid points (harmless to downstream histogram math: vLast=0 → NaN).

    Pre-existing ``le`` series pass through unchanged.
    """
    labels = F.col("labels")
    vr = labels.getItem("vmrange")
    has_vr = vr.isNotNull() & vr.contains("...")

    passthrough = df.filter(
        (vr.isNull() | ~vr.contains("...")) & labels.getItem("le").isNotNull()
    )

    d = df.filter(has_vr)
    start_str = F.substring_index(vr, "...", 1)
    end_str = F.substring_index(vr, "...", -1)
    d = (
        d.withColumn("__start", start_str.try_cast("double"))
        .withColumn("__end", end_str.try_cast("double"))
        .withColumn("__start_str", start_str)
        .withColumn("__end_str", end_str)
        .filter(F.col("__start").isNotNull() & F.col("__end").isNotNull())
        .withColumn(
            "__gkey",
            series_key(F.col("name"), _drop_keys(labels, ["le", "vmrange"])),
        )
    )

    # bucket identity & liveness (all-zero series are skipped wholesale)
    buckets = d.groupBy(
        "__gkey", "__start", "__end", "__start_str", "__end_str"
    ).agg(F.max("value").alias("__maxv"))
    live = buckets.filter(F.col("__maxv") > 0)
    # duplicate bucket ends keep only the first sorted entry
    # (vmrangeBucketsToLE uniqTs: the later same-end series is merged
    # into the existing one, whose values win — net effect: drop it);
    # "first" under the end-ascending walk = the smallest start
    w_dup = Window.partitionBy("__gkey", "__end").orderBy(F.col("__start").asc())
    live = (
        live.withColumn("__dup_rn", F.row_number().over(w_dup))
        .filter(F.col("__dup_rn") == 1)
        .drop("__dup_rn")
    )

    # per group: ordered bucket list → le boundary list (gap fill + +Inf)
    meta = live.groupBy("__gkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__end").alias("end"),
                    F.col("__start").alias("start"),
                    F.col("__end_str").alias("end_str"),
                    F.col("__start_str").alias("start_str"),
                )
            )
        ).alias("bs"),
    )
    entry_t = "array<struct<le:double,le_str:string,is_src:boolean>>"
    acc0 = F.struct(
        F.array().cast(entry_t).alias("les"), F.lit(0.0).alias("prev_end")
    )
    folded = F.aggregate(
        F.col("bs"),
        acc0,
        lambda acc, x: F.struct(
            F.concat(
                acc["les"],
                F.when(
                    x["start"] != acc["prev_end"],
                    F.array(
                        F.struct(
                            x["start"].alias("le"),
                            x["start_str"].alias("le_str"),
                            F.lit(False).alias("is_src"),
                        )
                    ),
                ).otherwise(F.array().cast(entry_t)),
                F.array(
                    F.struct(
                        x["end"].alias("le"),
                        x["end_str"].alias("le_str"),
                        F.lit(True).alias("is_src"),
                    )
                ),
            ).alias("les"),
            x["end"].alias("prev_end"),
        ),
    )
    with_inf = F.concat(
        folded["les"],
        F.when(
            folded["prev_end"] != F.lit(INF),
            F.array(
                F.struct(
                    F.lit(INF).alias("le"),
                    F.lit("+Inf").alias("le_str"),
                    F.lit(False).alias("is_src"),
                )
            ),
        ).otherwise(F.array().cast(entry_t)),
    )
    ledf = (
        meta.withColumn("__les", with_inf)
        .select("__gkey", F.explode("__les").alias("e"))
        .select(
            "__gkey",
            F.col("e.le").alias("__le"),
            F.col("e.le_str").alias("__le_str"),
        )
        # uniqTs: duplicate le boundaries collapse to one series
        .dropDuplicates(["__gkey", "__le_str"])
    )

    # cumulative counts per (group, ts, le)
    live_keys = live.select("__gkey", "__start", "__end")
    vals = d.join(live_keys, ["__gkey", "__start", "__end"], "left_semi").select(
        F.col("__gkey").alias("__vkey"),
        F.col("ts").alias("__vts"),
        F.col("__end").alias("__vend"),
        F.col("value").alias("__vval"),
    )
    ts_set = vals.select(
        F.col("__vkey").alias("__gkey"), F.col("__vts").alias("ts")
    ).distinct()
    cells = ledf.join(ts_set, "__gkey")
    cum = (
        cells.join(
            vals,
            (F.col("__gkey") == F.col("__vkey"))
            & (F.col("ts") == F.col("__vts"))
            & (F.col("__vend") <= F.col("__le")),
            "left",
        )
        .groupBy("__gkey", "ts", "__le", "__le_str")
        .agg(
            F.sum(
                F.when(F.col("__vval") > 0, F.col("__vval")).otherwise(F.lit(0.0))
            ).alias("__cum")
        )
    )
    name, glabels = name_labels_from_series_key(F.col("__gkey"))
    converted = cum.select(
        name.alias("name"),
        _with_label(glabels, "le", F.col("__le_str")).alias("labels"),
        F.col("ts"),
        F.coalesce(F.col("__cum"), F.lit(0.0)).alias("value"),
    )
    return passthrough.select("name", "labels", "ts", "value").unionByName(
        converted
    )


def buckets_limit(df: DataFrame, limit: int) -> DataFrame:
    """`buckets_limit(k, buckets)` — reduce each histogram to ≤ k buckets
    by repeatedly merging the pair of adjacent buckets with the fewest
    hits, always preserving the first and last bucket
    (transform.go:386-500). The iterative merge runs per group over the
    tiny (le, hits) metadata via applyInPandas — data rows are then
    semi-joined against the kept les (metadata-sized state, distributed
    by group)."""
    import pandas as pd

    limit = max(3, int(limit))
    tss = vmrange_to_le(df)
    le = le_value(F.col("labels"))
    d = (
        tss.withColumn("__le", le)
        .filter(F.col("__le").isNotNull())
        .withColumn(
            "__hkey", series_key(F.col("name"), _drop_keys(F.col("labels"), ["le"]))
        )
    )
    sums = d.groupBy("__hkey", "__le").agg(F.sum("value").alias("__s"))

    def keep_les(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__le").reset_index(drop=True)
        les = pdf["__le"].tolist()
        svals = pdf["__s"].tolist()
        # hits[i] = Σ_ts (v_i - v_{i-1}) = S_i - S_{i-1}
        hits = [svals[0]] + [svals[i] - svals[i - 1] for i in range(1, len(svals))]
        items = list(zip(les, hits))
        if len(items) > limit:
            eps = 1e-9

            def empty(h):
                return not math.isnan(h) and abs(h) < eps

            lo, hi = 0, len(items) - 1
            while hi - lo + 1 > limit and empty(items[hi][1]):
                hi -= 1
            while hi - lo + 1 > limit and empty(items[lo][1]):
                lo += 1
            items = items[lo : hi + 1]
            while len(items) > limit:
                min_idx = 1
                min_hits = items[1][1] + items[2][1]
                for i in range(1, len(items) - 2):
                    mh = items[i][1] + items[i + 1][1]
                    if mh < min_hits:
                        min_idx = i
                        min_hits = mh
                items[min_idx + 1] = (
                    items[min_idx + 1][0],
                    items[min_idx + 1][1] + items[min_idx][1],
                )
                del items[min_idx]
        return pd.DataFrame(
            {"__hkey": pdf["__hkey"].iloc[0], "__le": [le for le, _ in items]}
        )

    kept = sums.groupBy("__hkey").applyInPandas(
        keep_les, schema="__hkey string, __le double"
    )
    out = d.join(kept, ["__hkey", "__le"], "left_semi")
    return out.select("name", "labels", "ts", "value")
