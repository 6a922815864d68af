"""Canonical sample schema and series identity.

Mirrors the reference's data model (SURVEY.md §1): a sample is
(metric name, label map, unix-ms timestamp, float64 value), columnar at
rest. Reference shapes: MetricName{MetricGroup, Tags} at
lib/storage/metric_name.go:137-143, rawRow{TSID, Timestamp int64 ms,
Value float64} at lib/storage/raw_row.go:30-45.

Design decisions (documented in SURVEY.md §1.4):
- labels is MAP<STRING,STRING> — keeps Spark schema fixed while label sets
  stay fully dynamic, exactly VM's model. ``__name__`` is NOT stored in the
  map; it lives in the ``name`` column (VM's MetricGroup).
- "no sample" is an absent row, never NULL/NaN values. The Prometheus
  staleness marker (StaleNaN, lib/decimal/decimal.go:399-401) is the
  explicit boolean column ``is_stale`` — NaN never round-trips Spark SQL.
- ``series_id`` replaces VM's hashed TSID sort key (lib/storage/tsid.go:17-47):
  a deterministic xxhash64 of the canonical series string, used for
  partitioning, joins and dedup. Computed, never stored as ground truth.

Canonical key grammar (``series_key`` / ``canonical_labels_str``)::

    series_key  = part "\\x00" labels
    labels      = "" | entry ("\\x02" entry)*   ; sorted by label name
    entry       = part "\\x01" part              ; empty values dropped
    part        = text without \\x00-\\x03 | "\\x03" HEX(utf8 bytes)

A name, label name or label value that holds a separator byte
(``\\x00``-``\\x03``) is written as ``\\x03`` + upper-case hex of its UTF-8
bytes, so the key is injective; a key without those bytes is the plain
concatenation, byte-identical to stored ``__series_key`` columns written
before the escape existed. That holds for clean keys only: a table
written before the escape whose names or labels hold separator bytes
stores the old unescaped key, which decodes to wrong labels (a stray
``\\x02`` splits an entry, a raw ``\\x03`` is read as an escape) and
buckets apart from new writes of the same series. Re-key such a table
with ``compact_samples_table(spark, table, full=True)``: the whole-table
rewrite recomputes every ``__series_key`` with :func:`series_key`. The
rows that need it are ``__series_key != series_key(name, labels)``.
Grouped rows never carry their name or labels
through an aggregate: they group on the key and decode both afterwards
with ``name_labels_from_series_key`` / ``labels_from_key`` (a fast
``str_to_map`` path whenever the key has no ``\\x03``). The decoded map is
sorted by label name and holds no empty values (Prometheus semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SAMPLE_SCHEMA = StructType(
    [
        StructField("name", StringType(), nullable=False),
        StructField("labels", MapType(StringType(), StringType()), nullable=True),
        StructField("ts", LongType(), nullable=False),  # unix milliseconds
        StructField("value", DoubleType(), nullable=False),
        StructField("is_stale", BooleanType(), nullable=True),
    ]
)

SAMPLE_COLUMNS = [f.name for f in SAMPLE_SCHEMA.fields]


_SEPS = "\x00\x01\x02\x03"
_EMPTY_MAP = "map<string,string>"


def _escape(s: Column) -> Column:
    # four byte searches: cheaper per part than one regex or translate
    dirty = (
        s.contains("\x00") | s.contains("\x01") | s.contains("\x02") | s.contains("\x03")
    )
    return F.when(dirty, F.concat(F.lit("\x03"), F.hex(s))).otherwise(s)


def _escape_str(s: str) -> str:
    """:func:`_escape` for a plan-time string (a static label name)."""
    return "\x03" + s.encode().hex().upper() if any(c in s for c in _SEPS) else s


def _unescape(s: Column) -> Column:
    return F.when(
        s.startswith("\x03"), F.decode(F.unhex(F.substring(s, 2, 1 << 30)), "UTF-8")
    ).otherwise(s)


def canonical_labels_str(labels: Column) -> Column:
    """Canonical string form of a label map: sorted ``k\\x01v`` joined by
    ``\\x02`` (see the module docstring for the grammar and escape rule).

    VM canonicalizes by sorting tags by key (lib/storage/metric_name.go:
    sortTags); we do the same so equal label sets always hash equal.
    Empty-valued labels are treated as absent (Prometheus semantics).
    """
    # sort_array (not the lambda-comparator array_sort), and array_join
    # skipping the null entries of empty/null values, keep this to one
    # higher-order function
    return F.array_join(
        F.transform(
            F.sort_array(F.map_entries(labels)),
            lambda e: F.when(
                e["value"] != "",
                F.concat(_escape(e["key"]), F.lit("\x01"), _escape(e["value"])),
            ),
        ),
        "\x02",
    )


def series_key(name: Column, labels: Column) -> Column:
    """Full canonical series string: name ``\\x00`` canonical labels."""
    return F.concat(
        _escape(name),
        F.lit("\x00"),
        canonical_labels_str(F.coalesce(labels, F.create_map().cast(_EMPTY_MAP))),
    )


def labels_from_key(key: Column) -> Column:
    """Label map decoded from a :func:`canonical_labels_str` key: sorted by
    name, no empty-valued entries; the empty key gives the empty map."""
    pairs = F.transform(
        F.split(key, "\x02"),
        lambda e: F.struct(
            _unescape(F.split(e, "\x01")[0]).alias("key"),
            _unescape(F.split(e, "\x01")[1]).alias("value"),
        ),
    )
    fast = F.str_to_map(key, F.lit("\x02"), F.lit("\x01"))
    return (
        F.when(key == "", F.create_map().cast(_EMPTY_MAP))
        .when(F.instr(key, "\x03") == 0, fast)
        .otherwise(F.map_from_entries(pairs))
    )


def name_labels_from_series_key(key: Column) -> tuple[Column, Column]:
    """``(name, labels)`` decoded from a :func:`series_key` string."""
    return (
        _unescape(F.substring_index(key, "\x00", 1)),
        labels_from_key(F.substring_index(key, "\x00", -1)),
    )


def series_id(name: Column, labels: Column) -> Column:
    """Deterministic numeric series identity (TSID analog)."""
    return F.xxhash64(series_key(name, labels))


def samples_from_columns(
    df: DataFrame,
    *,
    name,
    label_cols: dict[str, Column | str],
    ts: Column | str,
    value: Column | str,
) -> DataFrame:
    """Normalize an arbitrary relational DataFrame into the sample schema.

    ``ts`` may be a timestamp column (converted to unix ms) or already a
    BIGINT of unix ms. This is the standard adapter every ingest source
    funnels through (the Spark analog of VM's InsertCtx.WriteDataPoint
    normalization, app/vminsert/common/insert_ctx.go:133).
    """
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    dtype = df.select(ts_col.alias("_t")).schema[0].dataType
    if isinstance(dtype, LongType):
        ts_ms = ts_col
    else:
        # timestamp → unix milliseconds, integer-exact (truncating micros,
        # matching DuckDB's epoch_ms); a float round-trip could flip the
        # truncation at exact-millisecond boundaries
        micros = F.unix_micros(ts_col.cast("timestamp"))
        ts_ms = ((micros - micros % 1000) / F.lit(1000)).cast("long")

    value_col = F.col(value) if isinstance(value, str) else value
    name_col = F.lit(name) if isinstance(name, str) else name
    vals = {
        k: (F.col(v) if isinstance(v, str) else v).cast("string")
        for k, v in label_cols.items()
    }
    labels = F.map_from_arrays(
        F.array(*[F.lit(k) for k in vals]), F.array(*vals.values())
    ) if vals else F.create_map()
    # Precompute the canonical series key from the STATICALLY known
    # label set: byte-identical to series_key() — keys sorted and
    # escaped at plan-build time, values escaped per part, empty/null
    # values dropped (concat_ws skips the null branch exactly as
    # canonical_labels_str drops the entry) — but pure whole-stage-codegen
    # concat instead of the interpreted map fold, which cost ~0.66s per
    # query on the single-split events scan (static form: 0.13s). The
    # planner's fetch path reuses __series_key when the source carries it.
    skey = F.concat(
        _escape(name_col.cast("string")),
        F.lit("\x00"),
        F.concat_ws(
            "\x02",
            *[
                F.when(
                    vals[k] != "",
                    F.concat(F.lit(_escape_str(k)), F.lit("\x01"), _escape(vals[k])),
                )
                for k in sorted(vals)
            ],
        ) if vals else F.lit(""),
    )
    return df.select(
        name_col.cast("string").alias("name"),
        labels.alias("labels"),
        ts_ms.alias("ts"),
        value_col.cast("double").alias("value"),
        F.lit(False).alias("is_stale"),
        skey.alias("__series_key"),
    )
