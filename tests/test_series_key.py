"""Canonical series key: injectivity, decode round trip, and the label
shape that decoding a grouped row's labels from its key gives.

The key grammar lives in ``victoriametrics_spark/schema.py``: name
``\\x00`` k ``\\x01`` v ``\\x02`` ..., with any part that holds a separator
byte (``\\x00``-``\\x03``) written as ``\\x03`` + hex(utf8)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from victoriametrics_spark import EvalConfig, evaluate
from victoriametrics_spark.schema import (
    SAMPLE_SCHEMA,
    canonical_labels_str,
    labels_from_key,
    name_labels_from_series_key,
    samples_from_columns,
    series_key,
)

CFG = EvalConfig(start=300_000, end=600_000, step=60_000)
LABELS_T = "map<string,string>"


def _series(rows):
    """rows: (name, labels, value slope) → 41 samples 15 s apart each."""
    return [
        (name, labels, t, float(slope * t / 1000), False)
        for name, labels, slope in rows
        for t in range(0, 615_000, 15_000)
    ]


def _label_sets(df):
    return sorted(
        tuple(sorted((r["labels"] or {}).items())) for r in df.collect()
    )


@pytest.fixture(scope="module")
def clash_df(spark):
    # at the separator-blind key these two series shared one key string
    rows = [("m", {"a": "x\x02b\x01y"}, 1), ("m", {"a": "x", "b": "y"}, 2)]
    return spark.createDataFrame(_series(rows), SAMPLE_SCHEMA)


def test_separator_bytes_keep_series_apart_in_sum_by(spark, clash_df):
    out = evaluate(spark, "sum by (a, b) (m)", clash_df, CFG)
    got = {
        tuple(sorted(r["labels"].items())): r["value"]
        for r in out.filter(F.col("ts") == 600_000).collect()
    }
    assert got == {
        (("a", "x\x02b\x01y"),): 600.0,
        (("a", "x"), ("b", "y")): 1200.0,
    }


def test_separator_bytes_keep_series_apart_in_rate(spark, clash_df):
    out = evaluate(spark, "rate(m[2m])", clash_df, CFG)
    last = out.filter(F.col("ts") == 600_000)
    assert _label_sets(last) == [
        (("a", "x"), ("b", "y")),
        (("a", "x\x02b\x01y"),),
    ]
    assert sorted(r["value"] for r in last.collect()) == [
        pytest.approx(1.0),
        pytest.approx(2.0),
    ]


def test_separator_bytes_keep_series_apart_in_count(spark, clash_df):
    out = evaluate(spark, "count(m)", clash_df, CFG)
    assert {r["value"] for r in out.collect()} == {2.0}


def _random_text(rng: random.Random) -> str:
    alphabet = ["a", "b", "z", "é", "ü", "日", "=", ",", "\x00", "\x01", "\x02", "\x03"]
    return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 4)))


def test_key_round_trip_over_separator_bytes_and_unicode(spark):
    rng = random.Random(20240101)
    rows = [("", {}), ("m", {})]
    for _ in range(300):
        labels = {_random_text(rng): _random_text(rng) for _ in range(rng.randint(0, 4))}
        rows.append((_random_text(rng), labels))
    df = spark.createDataFrame(rows, f"name string, labels {LABELS_T}")
    name, labels = name_labels_from_series_key(
        series_key(F.col("name"), F.col("labels"))
    )
    got = df.select(
        "name",
        "labels",
        labels_from_key(canonical_labels_str(F.col("labels"))).alias("l1"),
        name.alias("n2"),
        labels.alias("l2"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        want = {k: v for k, v in r["labels"].items() if v != ""}
        assert r["l1"] == want
        assert r["l2"] == want
        assert r["n2"] == r["name"]


def test_clean_key_is_byte_identical_to_the_plain_grammar(spark):
    df = spark.createDataFrame(
        [("up", {"job": "api", "instance": "h:9", "empty": ""}), ("up", {})],
        f"name string, labels {LABELS_T}",
    )
    got = df.select(
        series_key(F.col("name"), F.col("labels")).alias("k"),
        canonical_labels_str(F.col("labels")).alias("c"),
    ).collect()
    assert got[0]["k"] == "up\x00instance\x01h:9\x02job\x01api"
    assert got[0]["c"] == "instance\x01h:9\x02job\x01api"
    assert got[1]["k"] == "up\x00"
    assert got[1]["c"] == ""


def test_static_ingest_key_matches_series_key(spark):
    """``samples_from_columns`` builds the key from its static label list;
    it must equal ``series_key`` for clean and separator-bearing rows."""
    src = spark.createDataFrame(
        [("api", "h:9", 0), ("a\x01pi", "", 1000), ("x", "\x03", 2000)],
        "job string, instance string, t long",
    )
    out = samples_from_columns(
        src, name="up", label_cols={"job": "job", "instance": "instance"},
        ts="t", value="t",
    )
    rows = out.select(
        "__series_key",
        series_key(F.col("name"), F.col("labels")).alias("ref"),
    ).collect()
    assert [r["__series_key"] for r in rows] == [r["ref"] for r in rows]
    assert rows[0]["__series_key"] == "up\x00instance\x01h:9\x02job\x01api"
    # a separator in the static label name and in a per-row name
    out = samples_from_columns(
        src, name=F.col("job"), label_cols={"j\x01b": "instance", "a": "job"},
        ts="t", value="t",
    )
    rows = out.select(
        "__series_key",
        series_key(F.col("name"), F.col("labels")).alias("ref"),
    ).collect()
    assert [r["__series_key"] for r in rows] == [r["ref"] for r in rows]
    assert rows[0]["__series_key"] == "api\x00a\x01api\x02\x036A0162\x01h:9"


def test_label_set_with_separator_value_comes_back_exact(spark):
    df = spark.createDataFrame(_series([("m", {"j": "1"}, 1)]), SAMPLE_SCHEMA)
    for q in (
        'label_set(m, "k", "\x01v")',
        'sum by (k) (label_set(m, "k", "\x01v"))',
        'max_over_time(label_set(m, "k", "\x01v")[2m:1m])',
    ):
        out = evaluate(spark, q, df, CFG)
        assert {r["labels"]["k"] for r in out.collect()} == {"\x01v"}, q


def test_decoded_labels_drop_empty_values_and_sort_by_name(spark):
    rows = [
        ("m", {"z": "1", "a": "2", "b": ""}, 1),
        ("n", {"b": ""}, 1),
        ("n", {}, 1),
    ]
    df = spark.createDataFrame(_series(rows), SAMPLE_SCHEMA)
    for q in (
        "max_over_time(m[1m])",  # rollup
        "sum without (q) (m)",  # aggregate
        "range_max(m)",  # transform (per-series)
        "keep_last_value(m)",  # transform (dense grid)
    ):
        out = evaluate(spark, q, df, CFG).collect()
        assert out, q
        for r in out:
            assert list(r["labels"].items()) == [("a", "2"), ("z", "1")], q
    # {b=""} and {} are one series
    out = evaluate(spark, "count_over_time(n[1m])", df, CFG)
    assert [(r["labels"], r["value"]) for r in out.collect()] == [({}, 8.0)] * 6


def test_table_with_pre_escape_keys_is_rekeyed_by_full_compaction(spark):
    """A table written before the key escaped separator bytes stores the
    plain concatenation for a separator-bearing value; a full compaction
    recomputes the key, after which queries return the exact labels."""
    from victoriametrics_spark.storage.layout import (
        compact_samples_table,
        drop_samples_table,
        read_samples_table,
        write_samples_table,
    )

    rows = [("m", {"a": "x\x02b\x01y"}, 1), ("m", {"a": "x", "b": "y"}, 2)]
    old_key = F.concat(
        F.col("name"), F.lit("\x00"),
        F.array_join(
            F.transform(
                F.sort_array(F.map_entries("labels")),
                lambda e: F.concat(e["key"], F.lit("\x01"), e["value"]),
            ),
            "\x02",
        ),
    )
    df = spark.createDataFrame(_series(rows), SAMPLE_SCHEMA)
    write_samples_table(
        df.withColumn("__series_key", old_key), "t_pre_escape", n_buckets=2
    )
    try:
        stale = read_samples_table(spark, "t_pre_escape").filter(
            F.col("__series_key") != series_key(F.col("name"), F.col("labels"))
        )
        assert stale.count() == 41  # the separator-bearing series only
        compact_samples_table(spark, "t_pre_escape", n_buckets=2, full=True)
        back = read_samples_table(spark, "t_pre_escape")
        assert back.filter(
            F.col("__series_key") != series_key(F.col("name"), F.col("labels"))
        ).count() == 0
        out = evaluate(spark, "sum by (a, b) (m)", back, CFG)
        assert _label_sets(out.filter(F.col("ts") == 600_000)) == [
            (("a", "x"), ("b", "y")),
            (("a", "x\x02b\x01y"),),
        ]
    finally:
        drop_samples_table(spark, "t_pre_escape")
