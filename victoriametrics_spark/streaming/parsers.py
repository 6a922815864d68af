"""Line-protocol parsers → canonical samples (SURVEY.md §2.1).

Reference ingestion surface: Prometheus text/remote-write, Influx line
protocol (lib/protoparser/influx/), Graphite plaintext
(lib/protoparser/graphite/), CSV import (lib/protoparser/csvimport/),
VM JSON-line import/export (lib/protoparser/vmimport/).

Each parser is a pure column-expression transform over a one-column
DataFrame of text lines (`value` column, as produced by
``spark.read.text`` / ``spark.readStream.text``), so the same code path
serves batch backfill and streaming ingest. The two quote- and
escape-bearing dialects, Prometheus text and Influx, tokenize each line
once in an Arrow-batched ``mapInPandas`` pass; number and timestamp
finishing stays in Catalyst.

Robustness contract (round 11, mirroring
lib/protoparser/prometheus/parser.go:21-49 errLogger-and-skip): a
malformed line NEVER fails the batch — every numeric conversion is a
``try_cast`` and rows that fail to parse are dropped (callers count
them into the ``vm_rows_invalid_total`` analog).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from victoriametrics_spark.schema import SAMPLE_SCHEMA


def _finish(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Normalize parsed columns into the canonical sample schema.

    try_cast everywhere: a value/timestamp that fails to parse nulls
    the row out instead of raising under ANSI mode — one poison line
    must not 500 a million-line import (parser.go errLogger + skip)."""
    return df.select(
        F.col("name").cast("string").alias("name"),
        F.coalesce(F.col("labels"), F.create_map().cast("map<string,string>")).alias(
            "labels"
        ),
        F.col("ts").try_cast("long").alias("ts"),
        F.col("value").try_cast("double").alias("value"),
        F.lit(False).alias("is_stale"),
        *[F.col(c) for c in extra],
    ).filter(
        F.col("name").isNotNull()
        & (F.col("name") != "")
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )


def _try_double(c: Column) -> Column:
    """Best-effort float parse (fastfloat.ParseBestEffort analog):
    accepts the +Inf/-Inf/inf/nan spellings Spark's cast does not,
    returns NULL (never raises) on garbage."""
    t = F.trim(c)
    norm = (
        F.when(t.rlike(r"^(?i)\+?(inf|infinity)$"), F.lit("Infinity"))
        .when(t.rlike(r"^(?i)-(inf|infinity)$"), F.lit("-Infinity"))
        .when(t.rlike(r"^(?i)[+-]?nan$"), F.lit("NaN"))
        .otherwise(t)
    )
    return norm.try_cast("double")


def _wstrip(c: Column) -> Column:
    """Trim ALL whitespace (space/tab/CR) from both ends — Spark's
    trim() removes spaces only, but the line protocols arrive with
    tabs and \\r\\n endings (the reference trims \\r per line and
    skips space/tab runs)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def _tags_to_map(
    tags: Column, pair_sep: str, kv_sep: str, skip_empty: bool = False
) -> Column:
    """'a=1,b=2' → map, tolerating the empty string. The pair value is
    everything after the FIRST kv_sep (graphite/parser.go:214
    Tag.unmarshal: ``a=b=c`` → value ``b=c``); ``skip_empty`` drops
    pairs with an empty key or value (graphite/parser.go:175-200)."""
    pairs = F.filter(F.split(tags, pair_sep), lambda p: p.contains(kv_sep))
    val_re = "^[^" + _re_cls(kv_sep) + "]*" + _re_cls(kv_sep)
    if skip_empty:
        # filter at the STRING level (struct-field access inside
        # nested higher-order filters loses field names in some plan
        # contexts): drop pairs with an empty key or empty value
        pairs = F.filter(
            pairs,
            lambda p: (F.split_part(p, F.lit(kv_sep), F.lit(1)) != "")
            & (F.regexp_replace(p, val_re, "") != ""),
        )
    entries = F.transform(
        pairs,
        lambda p: F.struct(
            F.split_part(p, F.lit(kv_sep), F.lit(1)).alias("key"),
            F.regexp_replace(p, val_re, "").alias("value"),
        ),
    )
    return F.map_from_entries(entries)


def _re_cls(ch: str) -> str:
    """Escape a single separator char for use inside a regex class."""
    return "\\" + ch if ch in r"\^]-=" else ch


def parse_graphite(
    lines: DataFrame,
    default_ts_ms: int | None = None,
    sanitize_metric_name: bool = False,
) -> DataFrame:
    """Graphite plaintext: ``metric.path[;tag=val...] value [unix_ts]``
    (lib/protoparser/graphite/parser.go:93-133).

    Reference semantics reproduced here: the line parses RIGHT to left
    on space/tab runs (so metric paths may contain spaces), a missing
    timestamp or a timestamp of 0 / -1 takes the ingest time
    (stream/streamparser.go:166-177), seconds may be fractional
    (truncated), and tags with an empty key or value are skipped.
    ``sanitize_metric_name`` is the -graphite.sanitizeMetricName flag
    (parser.go:258-269): repeated dots collapse and chars outside
    [a-zA-Z0-9:_.] become underscores in the metric name and tag KEYS
    (values untouched)."""
    l = _wstrip(F.col("value"))
    three = F.regexp_extract(l, r"^(.*\S)[ \t]+(\S+)[ \t]+(\S+)$", 0) != ""
    metric_full = F.when(
        three, F.regexp_extract(l, r"^(.*\S)[ \t]+\S+[ \t]+\S+$", 1)
    ).otherwise(F.regexp_extract(l, r"^(.*\S)[ \t]+\S+$", 1))
    val = F.when(
        three, F.regexp_extract(l, r"^.*\S[ \t]+(\S+)[ \t]+\S+$", 1)
    ).otherwise(F.regexp_extract(l, r"^.*\S[ \t]+(\S+)$", 1))
    ts_str = F.when(three, F.regexp_extract(l, r"(\S+)$", 1)).otherwise(F.lit(""))
    name = F.split_part(metric_full, F.lit(";"), F.lit(1))
    tags_str = F.regexp_replace(metric_full, r"^[^;]*;?", "")
    ts_sec = _try_double(ts_str).try_cast("long")
    ts = (
        F.when(
            ts_str == "", F.lit(default_ts_ms).cast("long")
        )
        .when(ts_sec.isin(0, -1), F.lit(default_ts_ms).cast("long"))
        .otherwise(ts_sec * 1000)
    )
    labels = _tags_to_map(tags_str, ";", "=", skip_empty=True)
    if sanitize_metric_name:

        def _san(c):
            return F.regexp_replace(
                F.regexp_replace(c, r"\.+", "."), r"[^a-zA-Z0-9:_.]", "_"
            )

        name = _san(name)
        # sanitize tag KEYS only; keep-first dedup in case two keys
        # collide post-sanitization (the reference's tag list can hold
        # duplicates, a map cannot)
        ks, vs = F.map_keys(labels), F.map_values(labels)
        sk = F.transform(ks, _san)
        uk = F.array_distinct(sk)
        uv = F.transform(
            uk,
            lambda k: F.element_at(
                vs, F.array_position(sk, k).cast("int")
            ),
        )
        labels = F.map_from_arrays(uk, uv)
    return _finish(
        lines.select(
            name.alias("name"),
            labels.alias("labels"),
            ts.alias("ts"),
            _try_double(val).alias("value"),
        )
    )


# ------------------------------------------------------------------ influx
# Field-value typing (influx/parser.go:355-398 parseFieldValue): 123i
# integer, 123u unsigned, booleans → 1/0, quoted strings best-effort,
# bare decimal floats incl. inf/nan spellings. The number grammars are
# ASCII-only regexes: Python's int()/float() alone would also accept
# underscores, unicode digits and padding (fastfloat does not).
_INFLUX_TRUE = ("t", "T", "true", "True", "TRUE")
_INFLUX_FALSE = ("f", "F", "false", "False", "FALSE")
_INFLUX_INT = re.compile(r"-?\d+", re.A)
_INFLUX_UINT = re.compile(r"\d+", re.A)
_INFLUX_TS = re.compile(r"[+-]?\d+", re.A)
_INFLUX_FLOAT = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?", re.A)


def _influx_unescape(s: str) -> str:
    """Remove line-protocol escapes from a tag/measurement/field-key
    token (influx/parser.go:322-353 unescapeTagValue): ``\\,`` ``\\ ``
    ``\\=`` ``\\\\`` unescape; a backslash before any other char — or a
    trailing backslash — stays literal."""
    if "\\" not in s:
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch != "\\" or i + 1 >= n:
            out.append(ch)
            i += 1
            continue
        nxt = s[i + 1]
        if nxt in (" ", ",", "=", "\\"):
            out.append(nxt)
            i += 2
        else:
            out.append("\\")
            i += 1
    return "".join(out)


def _split_unescaped(s: str, sep: str) -> list[str]:
    """Split on sep occurrences not preceded by an odd run of
    backslashes (influx/parser.go:400-429 nextUnescapedChar)."""
    parts, cur = [], []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\\" and i + 1 < n:
            cur.append(ch)
            cur.append(s[i + 1])
            i += 2
            continue
        if ch == sep:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _split_fields(s: str) -> list[str]:
    """Split the field section on commas outside double quotes
    (influx/parser.go:431-456 nextUnquotedChar)."""
    parts, cur = [], []
    in_q = False
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\\" and i + 1 < n:
            cur.append(ch)
            cur.append(s[i + 1])
            i += 2
            continue
        if ch == '"':
            in_q = not in_q
        if ch == "," and not in_q:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _influx_field_num(v: str) -> "float | None":
    """parseFieldValue (influx/parser.go:355-398); None = invalid."""
    if v == "":
        return None
    if v[0] == '"':
        if len(v) < 2 or v[-1] != '"':
            return None
        inner = v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        try:
            return float(inner)
        except ValueError:
            return 0.0  # ParseBestEffort: non-numeric strings → 0
    if v[-1] in ("i", "u"):
        digits = v[:-1]
        if not (_INFLUX_INT if v[-1] == "i" else _INFLUX_UINT).fullmatch(digits):
            return None
        try:
            return float(int(digits))
        except (ValueError, OverflowError):
            return None  # past Python's int-string limit or the double range
    if v in _INFLUX_TRUE:
        return 1.0
    if v in _INFLUX_FALSE:
        return 0.0
    if _INFLUX_FLOAT.fullmatch(v):
        return float(v)
    lv = v.lower()
    if lv in ("inf", "+inf", "infinity", "+infinity"):
        return float("inf")
    if lv in ("-inf", "-infinity"):
        return float("-inf")
    if lv in ("nan", "+nan", "-nan"):
        return float("nan")
    return None


def _influx_parse_line(s: str) -> "list[tuple[str, dict, int | None, float]] | None":
    """Full escape-aware parse of ONE influx line → list of
    (metric_name, labels, raw_ts | None, value); None = invalid line
    (the reference rejects the whole line when any field fails,
    influx/parser.go:110-173). The raw timestamp is returned UNSCALED —
    precision scaling / auto-detection happens in parse_influx."""
    if not s.strip() or s.strip().startswith("#"):
        return []
    # trailing whitespace only: a LEADING space is significant — it
    # means an empty measurement (parser.go:112-131)
    s = s.rstrip(" \r\n\t")
    # head = measurement[,tags...] up to the first unescaped space
    head_split = None
    in_q = False
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\\" and i + 1 < n:
            i += 2
            continue
        if ch == '"':
            in_q = not in_q
        elif ch == " " and not in_q and head_split is None:
            head_split = i
            break
        i += 1
    if head_split is None:
        return None  # no field section
    head, rest = s[:head_split], s[head_split + 1 :].lstrip(" ")
    # fields [ts]: next unescaped space OUTSIDE quotes ends the fields
    fields_end = None
    in_q = False
    i, n = 0, len(rest)
    while i < n:
        ch = rest[i]
        if ch == "\\" and i + 1 < n:
            i += 2
            continue
        if ch == '"':
            in_q = not in_q
        elif ch == " " and not in_q:
            fields_end = i
            break
        i += 1
    if fields_end is None:
        fields_str, ts_str = rest, ""
    else:
        fields_str = rest[:fields_end]
        ts_str = rest[fields_end + 1 :].strip()
    head_parts = _split_unescaped(head, ",")
    meas = _influx_unescape(head_parts[0])
    labels = {}
    for t in head_parts[1:]:
        kv = _split_unescaped(t, "=")
        if len(kv) < 2:
            return None  # missing tag value (parser.go:188)
        k = _influx_unescape(kv[0])
        v = _influx_unescape("=".join(kv[1:]))
        if k == "" or v == "":
            continue  # empty-key/value tags are skipped
        labels[k] = v
    ts_raw: "int | None" = None
    if ts_str:
        # the timestamp is a bigint: anything outside it (or past
        # Python's int-string limit) rejects the line, not the batch
        if not _INFLUX_TS.fullmatch(ts_str):
            return None
        try:
            ts_raw = int(ts_str)
        except ValueError:
            return None
        if not -(1 << 63) <= ts_raw < (1 << 63):
            return None
    out = []
    for fv in _split_fields(fields_str):
        kv = _split_unescaped(fv, "=")
        if len(kv) < 2:
            return None
        fkey = _influx_unescape(kv[0])
        num = _influx_field_num("=".join(kv[1:]))
        if num is None or fkey == "":
            return None
        name = f"{meas}_{fkey}" if meas else fkey
        out.append((name, labels, ts_raw, num))
    return out or None


def _influx_decode_batches(pdfs, with_line_id: bool):
    """mapInPandas worker: influx lines → sample rows (null lines skip)."""
    import pandas as pd

    for pdf in pdfs:
        names, labels, tss, vals, ids = [], [], [], [], []
        for idx, line in enumerate(pdf["value"]):
            rows = _influx_parse_line(line or "")
            if not rows:
                continue
            lid = int(pdf["__line_id"].iloc[idx]) if with_line_id else 0
            for name, lbl, ts_ms, v in rows:
                names.append(name)
                labels.append(lbl)
                tss.append(ts_ms)
                vals.append(float(v))
                ids.append(lid)
        # explicit object dtype: an ALL-invalid batch yields empty
        # columns, and a bare empty list defaults to float64 which
        # Arrow cannot convert to map<string,string>
        data = {
            "name": pd.Series(names, dtype="object"),
            "labels": pd.Series(labels, dtype="object"),
            "ts": pd.array(tss, dtype="Int64"),
            "value": pd.Series(vals, dtype="float64"),
        }
        if with_line_id:
            data["__line_id"] = pd.array(ids, dtype="Int64")
        yield pd.DataFrame(data)


def _influx_ts_to_ms(
    raw: Column, precision: "str | None", default_ts_ms: "int | None"
) -> Column:
    """Timestamp scaling per the reference stream parser
    (influx/stream/streamparser.go:95-112 getTimestampMultiplier +
    266-283 detectTimestamp + 294-323): with no ``precision`` param the
    magnitude decides (>=1e17 ns, >=1e14 us, >=1e11 ms, else seconds);
    a named precision scales directly; a raw 0 or missing timestamp
    takes the ingest time — rounded DOWN to the precision unit for the
    coarse (s/m/h) precisions like the reference's
    ``currentTs -= currentTs % tsMultiplier``.

    Scaling up is a ``try_multiply``: a timestamp that overflows the
    bigint nulls its row out (under ANSI mode a plain product would
    fail the batch).

    ``raw`` must be a plain column reference (its name is used inside
    an integral-``div`` SQL expression: nanosecond values exceed the
    double mantissa, so any float division path corrupts low digits).
    """
    col_sql = f"`{_col_name(raw)}`"
    mult = {
        "ns": 1_000_000,
        "u": 1_000,
        "us": 1_000,
        "µ": 1_000,
        "ms": 1,
        "s": -1_000,
        "m": -60_000,
        "h": -3_600_000,
    }.get(precision or "", 0)
    default = (
        F.lit(int(default_ts_ms)).cast("long")
        if default_ts_ms is not None
        else F.lit(None).cast("long")
    )
    absent = raw.isNull() | (raw == 0)
    if mult == 0:  # auto-detect by magnitude (detectTimestamp)
        return (
            F.when(absent, default)
            .when(
                raw >= 100_000_000_000_000_000,
                F.expr(f"{col_sql} div 1000000"),
            )
            .when(raw >= 100_000_000_000_000, F.expr(f"{col_sql} div 1000"))
            .when(raw >= 100_000_000_000, raw)
            .otherwise(F.try_multiply(raw, F.lit(1000)))
        )
    if mult >= 1:
        scaled = raw if mult == 1 else F.expr(f"{col_sql} div {mult}")
        return F.when(absent, default).otherwise(scaled)
    m = -mult
    rounded_default = (
        F.lit((int(default_ts_ms) // m) * m).cast("long")
        if default_ts_ms is not None
        else F.lit(None).cast("long")
    )
    return F.when(absent, rounded_default).otherwise(F.try_multiply(raw, F.lit(m)))


def _col_name(c: Column) -> str:
    """Best-effort name of a plain column reference."""
    s = str(c)
    # Column<'name'> repr
    return s.split("'")[1] if "'" in s else s


def parse_influx(
    lines: DataFrame,
    default_ts_ms: int | None = None,
    keep_line_id: bool = False,
    precision: "str | None" = None,
) -> DataFrame:
    """Influx line protocol: ``meas[,tag=val...] field=val[,...] [ts_ns]``
    (lib/protoparser/influx/parser.go). Metric name =
    ``measurement_field`` (VM's default naming, -influxSkipSingleField
    =false); one output row per field; a line whose ANY field fails to
    parse is rejected whole (parser.go:110-173).

    Every line goes through one Arrow-batched ``mapInPandas`` pass
    (``_influx_parse_line``: nextUnescapedChar/unescapeTagValue/
    parseFieldValue semantics); precision scaling stays in Catalyst.
    ``keep_line_id`` threads a per-line id through for invalid-line
    accounting."""
    src = lines
    if keep_line_id:
        src = src.withColumn("__line_id", F.monotonically_increasing_id())
    extra = ("__line_id",) if keep_line_id else ()
    out_schema = (
        "name string, labels map<string,string>, ts long, value double"
    )
    if keep_line_id:
        out_schema += ", __line_id long"
    parsed = src.mapInPandas(
        lambda it: _influx_decode_batches(it, keep_line_id), out_schema
    )
    # precision scaling / magnitude auto-detect over the RAW timestamp
    # (streamparser.go:294-323)
    parsed = parsed.withColumn(
        "ts", _influx_ts_to_ms(F.col("ts"), precision, default_ts_ms)
    )
    return _finish(parsed, extra=extra)


# ---- prometheus text: one batched decode per line --------------------
# Every regex runs ONCE per line in compiled Python (patterns compiled
# at import, once per worker), emitting the raw (name, keys, vals, val,
# ts) pieces; value/timestamp parsing and the labels map stay in
# Catalyst so try_cast semantics match the other dialects. The upstream
# 232-case parser corpus and the escape suite pin the behaviour.
# re.A pins \s/\S to ASCII like Java's regex.
_PROM_QS = r'"(?:[^"\\]|\\.)*"'
_PROM_ELEM = rf'(?:{_PROM_QS}\s*=\s*{_PROM_QS}|[^=,"]*=\s*{_PROM_QS}|{_PROM_QS})'
_PROM_RE = {
    "braced": re.compile(
        r'^([^{\s]*)\s*\{((?:[^"}]|"(?:[^"\\]|\\.)*")*)\}\s*(.*)$', re.A
    ),
    "pair": re.compile(
        r'("(?:[^"\\]|\\.)*"|[^=,\s"]+)\s*=\s*"((?:[^"\\]|\\.)*)"', re.A
    ),
    "qname": re.compile(r'(?:^|,)\s*"((?:[^"\\]|\\.)*)"\s*(?=,|$)', re.A),
    "body_ok": re.compile(
        rf"^\s*(?:{_PROM_ELEM}\s*(?:,\s*{_PROM_ELEM}\s*)*(?:,\s*)?)?$", re.A
    ),
    "ws": re.compile(r"^\s+|\s+$", re.A),
    "comment": re.compile(r"#.*$"),
    "splitws": re.compile(r"\s+", re.A),
    "first_tok": re.compile(r"^(\S+)", re.A),
    "lead_tok": re.compile(r"^\S+\s*", re.A),
    "outer_q": re.compile(r'^"|"$'),
}


def _prom_unescape(s: str) -> str:
    """unescapeValue (parser.go:419-453): ``\\\\``→``\\``,
    ``\\\"``→``\"``, ``\\n``→newline, any other ``\\x`` stays literal.
    Split on double backslash first so the 3-backslash edge cases come
    out right."""
    pieces = s.split("\\\\")
    return "\\".join(
        p.replace('\\"', '"').replace("\\n", "\n") for p in pieces
    )


def _prom_decode_line(raw: "str | None"):
    P = _PROM_RE
    l = P["ws"].sub("", raw or "")
    if l == "" or l.startswith("#"):
        return None
    m = P["braced"].match(l)
    keys: list[str] = []
    vals: list[str] = []
    if m is not None:
        name_classic, body, rest = m.group(1), m.group(2), m.group(3)
        pairs = P["pair"].findall(body)
        qnames = P["qname"].findall(body)
        name_ok = P["body_ok"].match(body) is not None and (
            len(qnames) == 0 or (len(qnames) == 1 and name_classic == "")
        )
        if not name_ok:
            name = None
        elif name_classic != "":
            name = name_classic
        else:
            name = _prom_unescape(qnames[0]) if qnames else ""
        for k, v in pairs:
            keys.append(_prom_unescape(P["outer_q"].sub("", k)))
            vals.append(_prom_unescape(v))
        rest = P["ws"].sub("", P["comment"].sub("", rest))
        braced = True
    else:
        if "{" in l:
            return (None, [], [], "", "", True)
        fm = P["first_tok"].match(l)
        name = fm.group(1) if fm else ""
        rest = P["ws"].sub("", P["comment"].sub("", P["lead_tok"].sub("", l)))
        braced = False
    toks = P["splitws"].split(rest) if rest != "" else [""]
    val = toks[0]
    ts = toks[1] if len(toks) >= 2 else ""
    if len(toks) > 2:
        # the reference parses the ENTIRE tail after the value as one
        # timestamp token, so `m 1 2 3` fails (parser.go:206-229)
        ts = "junk"
    return (name, keys, vals, val, ts, braced)


def _prom_decode_batches(it):
    import pandas as pd

    for pdf in it:
        rows = [
            r
            for raw in pdf["value"]
            if (r := _prom_decode_line(raw)) is not None
        ]
        yield pd.DataFrame(
            rows, columns=["name", "keys", "vals", "val", "tss", "braced"]
        )


def parse_prometheus_text(lines: DataFrame, default_ts_ms: int) -> DataFrame:
    """Prometheus exposition text: ``metric{a="b",...} value [ts]``
    (federate/scrape format; comments and blank lines skipped), plus the
    UTF-8 names syntax ``{"any name", "any label"="v"} value [ts]``
    (quoted metric and label names inside the braces).

    Label tokenization is quoted-string-aware (parser.go:286-306
    unmarshalQuotedString): a ``}`` or ``,`` inside a quoted label value
    does not truncate the label block; the body is validated strictly
    (unmarshalTags, parser.go:309-392); everything after ``#`` in the
    value/timestamp tail is a trailing comment (OpenMetrics exemplars);
    junk after the timestamp rejects the line. Timestamps parse as
    floats, and values in [-2^31, 2^31) are OpenMetrics Unix seconds,
    scaled to ms (parser.go:218-229)."""
    l = _wstrip(F.col("value"))
    data = lines.select(l.alias("value"))
    decoded = data.mapInPandas(
        _prom_decode_batches,
        "name string, keys array<string>, vals array<string>, "
        "val string, tss string, braced boolean",
    )
    tsd = _try_double(F.col("tss"))
    ts = (
        F.when(F.col("tss") == "", F.lit(default_ts_ms).cast("long"))
        .when(tsd.isNull(), F.lit(None).cast("long"))
        .when(
            (tsd >= -2147483648.0) & (tsd < 2147483648.0),
            (tsd * 1000).try_cast("long"),
        )
        .otherwise(tsd.try_cast("long"))
    )
    return _finish(
        decoded.select(
            F.col("name"),
            F.when(
                F.col("braced"),
                F.map_from_arrays(F.col("keys"), F.col("vals")),
            )
            .otherwise(F.create_map().cast("map<string,string>"))
            .alias("labels"),
            ts.alias("ts"),
            _try_double(F.col("val")).alias("value"),
        )
    )


def parse_vm_jsonl(lines: DataFrame) -> DataFrame:
    """VM JSON-line import format (/api/v1/import,
    lib/protoparser/vmimport/): one JSON object per line
    ``{"metric": {"__name__": "m", ...labels}, "values": [...],
    "timestamps": [...ms]}`` — exploded to long form."""
    schema = (
        "metric MAP<STRING,STRING>, values ARRAY<DOUBLE>, timestamps ARRAY<BIGINT>"
    )
    parsed = lines.select(F.from_json(F.col("value"), schema).alias("j")).filter(
        F.col("j").isNotNull()
    )
    z = parsed.select(
        F.col("j.metric").alias("metric"),
        F.explode(F.arrays_zip("j.values", "j.timestamps")).alias("p"),
    )
    return _finish(
        z.select(
            F.element_at(F.col("metric"), "__name__").alias("name"),
            F.map_filter(F.col("metric"), lambda k, v: k != "__name__").alias("labels"),
            F.col("p.timestamps").alias("ts"),
            F.col("p.values").alias("value"),
        )
    )


def to_vm_jsonl(samples: DataFrame) -> DataFrame:
    """Export: canonical samples → VM JSON-line strings (one per series,
    values/timestamps packed — /api/v1/export shape)."""
    packed = (
        samples.groupBy("name", "labels")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("value")))
            ).alias("pts")
        )
        .select(
            F.to_json(
                F.struct(
                    F.map_concat(
                        F.create_map(F.lit("__name__"), F.col("name")),
                        F.coalesce(
                            F.col("labels"), F.create_map().cast("map<string,string>")
                        ),
                    ).alias("metric"),
                    F.transform(F.col("pts"), lambda p: p["value"]).alias("values"),
                    F.transform(F.col("pts"), lambda p: p["ts"]).alias("timestamps"),
                )
            ).alias("value")
        )
    )
    return packed


def _csv_fields(line: str) -> "list[str] | None":
    """Split one CSV line per the reference scanner
    (lib/protoparser/csvimport/scanner.go:68-146): fields may be
    quoted with ``\"`` OR ``'``, a doubled quote inside a quoted field
    escapes it, and a malformed quoted field (missing closing quote /
    missing comma after it) invalidates the LINE (returns None)."""
    fields: list[str] = []
    s = line
    while True:
        if s[:1] in ('"', "'"):
            quote = s[0]
            buf = []
            i = 1
            while True:
                n = s.find(quote, i)
                if n < 0:
                    return None  # missing closing quote
                buf.append(s[i:n])
                if s[n + 1 : n + 2] == quote:  # doubled quote = escape
                    buf.append(quote)
                    i = n + 2
                    continue
                i = n + 1
                break
            fields.append("".join(buf))
            tail = s[i:]
            if tail == "":
                return fields
            if tail[0] != ",":
                return None  # missing comma after quoted field
            s = tail[1:]
            continue
        n = s.find(",")
        if n < 0:
            fields.append(s)
            return fields
        fields.append(s[:n])
        s = s[n + 1 :]


def parse_csv_lines(lines: DataFrame, max_pos: int) -> DataFrame:
    """CSV text lines → ``c1..cN`` string columns (+ ``__bad`` flag).

    Quote-free lines split JVM-side; lines containing a quote char go
    through an Arrow-batched ``mapInPandas`` implementing the
    reference scanner's quoting rules. A line with a malformed quoted
    field or fewer than ``max_pos`` columns sets ``__bad`` (the
    reference skips-and-counts it, parser.go:172-198)."""
    l = F.col("value")
    quoted = l.contains('"') | l.contains("'")
    nonblank = F.trim(l) != ""

    plain = lines.filter(nonblank & ~quoted)
    toks = F.split(l, ",", -1)
    fast = plain.select(
        *[
            F.coalesce(F.try_element_at(toks, F.lit(i + 1)), F.lit("")).alias(
                f"c{i + 1}"
            )
            for i in range(max_pos)
        ],
        (F.size(toks) < max_pos).alias("__bad"),
    )

    cols = [f"c{i + 1}" for i in range(max_pos)]
    schema = ", ".join(f"{c} string" for c in cols) + ", __bad boolean"

    def _slow(pdfs):
        import pandas as pd

        for pdf in pdfs:
            out: dict[str, list] = {c: [] for c in cols}
            bad = []
            for line in pdf["value"]:
                fs = _csv_fields(line or "")
                ok = fs is not None and len(fs) >= max_pos
                bad.append(not ok)
                for i, c in enumerate(cols):
                    out[c].append(fs[i] if ok else "")
            out["__bad"] = bad
            yield pd.DataFrame(out)

    slow = lines.filter(nonblank & quoted).mapInPandas(_slow, schema)
    return fast.unionByName(slow)


def parse_csv_import(
    df: DataFrame, format_spec: list[tuple[int, str]], ts_col: int, metric_prefix: str = ""
) -> DataFrame:
    """CSV import with a column-format spec (lib/protoparser/csvimport/):
    ``format_spec`` maps 1-based column → role, role ∈ {"metric:<name>",
    "label:<label>"}; ``ts_col`` holds unix ms."""
    cols = df.columns
    label_pairs: list[Column] = []
    metrics: list[tuple[str, Column]] = []
    for idx, role in format_spec:
        c = F.col(cols[idx - 1])
        if role.startswith("label:"):
            label_pairs += [F.lit(role[6:]), c.cast("string")]
        elif role.startswith("metric:"):
            metrics.append((metric_prefix + role[7:], c.try_cast("double")))
    labels = (
        # labels with EMPTY values are skipped — csvimport skips empty
        # columns entirely (parser.go:138-141 isEmpty/empty-column)
        F.map_filter(
            F.create_map(*label_pairs),
            lambda k, v: v.isNotNull() & (v != ""),
        )
        if label_pairs
        else F.create_map().cast("map<string,string>")
    )
    ts = F.col(cols[ts_col - 1]).try_cast("long")
    parts = []
    for mname, mval in metrics:
        parts.append(
            df.select(
                F.lit(mname).alias("name"),
                labels.alias("labels"),
                ts.alias("ts"),
                mval.alias("value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _finish(out)


# ------------------------------------------------------------------ round 3:
# remaining ingestion dialects (SURVEY.md §2.1, app/vminsert/main.go:229-322).
# All are from_json / regex column transforms — JVM-side, streaming-safe.


def _sec_or_ms(ts: Column) -> Column:
    """OpenTSDB/Datadog timestamps may be seconds or milliseconds; values
    below ~1e12 are seconds (lib/protoparser timestamp normalization)."""
    return F.when(ts < F.lit(1_000_000_000_000), ts * 1000).otherwise(ts)


def parse_opentsdb(
    lines: DataFrame, default_ts_ms: int | None = None
) -> DataFrame:
    """OpenTSDB telnet put: ``put <metric> <ts> <value> [tag=v ...]``
    (lib/protoparser/opentsdb/parser.go:60-185).

    Reference semantics: the timestamp parses as a FLOAT (fractional
    seconds truncate); ts 0 takes the ingest time; seconds vs ms
    decided by the SECOND_MASK bit test (ts & 0x7FFFFFFF00000000 == 0
    → seconds, stream/streamparser.go:167-174); a tag token without
    ``=`` invalidates the whole line (unmarshalTags error) while tags
    with an empty key or value are silently skipped; tags are optional
    even though OpenTSDB proper requires one (VM issue 3290)."""
    l = _wstrip(F.col("value"))
    data = lines.select(l.alias("value")).filter(l.startswith("put "))
    toks = F.split(l, r"\s+")
    name = F.try_element_at(toks, F.lit(2))
    ts_raw = _try_double(
        F.coalesce(F.try_element_at(toks, F.lit(3)), F.lit(""))
    ).try_cast("long")
    val = F.coalesce(F.try_element_at(toks, F.lit(4)), F.lit(""))
    tag_toks = F.slice(
        toks, 5, F.greatest(F.size(toks) - 4, F.lit(0))
    )
    # any tag token missing '=' → the reference errors the whole line
    tags_ok = ~F.exists(tag_toks, lambda t: ~t.contains("="))
    tags_str = F.array_join(tag_toks, ",")
    ts = F.when(
        ts_raw == 0,
        F.lit(default_ts_ms).cast("long"),
    ).otherwise(
        F.when(
            ts_raw.bitwiseAND(F.lit(0x7FFFFFFF00000000)) == 0,
            ts_raw * 1000,
        ).otherwise(ts_raw)
    )
    return _finish(
        data.filter(tags_ok).select(
            name.alias("name"),
            _tags_to_map(tags_str, ",", "=", skip_empty=True).alias(
                "labels"
            ),
            ts.alias("ts"),
            _try_double(val).alias("value"),
        )
    )


def parse_opentsdb_http(
    docs: DataFrame, default_ts_ms: int | None = None
) -> DataFrame:
    """OpenTSDB HTTP JSON (/api/put, lib/protoparser/opentsdbhttp/): one
    JSON document per row — a single datapoint object or an array.

    Reference row-validity rules (parser.go:58-123,160-186), enforced
    with VARIANT type probes since from_json silently coerces types:
    `metric` must be a non-empty JSON STRING; `value` is required and
    must be a number or a float-parseable string (getFloat64); an
    absent `timestamp` means ingest time but a present one must also
    be number-or-parseable-string (truncated to int64); `tags` must be
    an object whose values are ALL strings (one bad value invalidates
    the whole row), with empty keys/values skipped. An invalid row is
    dropped alone — the other rows of the array still land
    (unmarshalRow pops and continues)."""
    item = (
        "STRUCT<metric: VARIANT, timestamp: VARIANT, value: VARIANT,"
        " tags: VARIANT>"
    )
    arr = F.from_json(F.col("value"), f"ARRAY<{item}>")
    one = F.from_json(F.col("value"), item)
    pts = F.coalesce(arr, F.array(one))
    d = docs.select(F.explode(pts).alias("p"))
    p = F.col("p")
    sov = F.schema_of_variant

    def _num(c: Column) -> Column:
        # getFloat64: JSON number, or string parsed as float; any other
        # type (bool/array/object/null) errors the row
        return F.when(
            sov(c).rlike(
                "^(STRING|BIGINT|DOUBLE|DECIMAL|FLOAT|INT|SMALLINT|TINYINT)"
            ),
            c.try_cast("double"),
        )

    metric = p["metric"]
    name = F.when(sov(metric) == "STRING", metric.try_cast("string"))
    val = _num(p["value"])
    tsd = _num(p["timestamp"])
    tmap = p["tags"].try_cast("map<string,variant>")
    tags_ok = p["tags"].isNull() | (
        sov(p["tags"]).startswith("OBJECT")
        & F.forall(
            F.map_values(tmap), lambda x: sov(x) == F.lit("STRING")
        )
    )
    # a PRESENT timestamp must parse AND fit int64 — overflow drops the
    # row (absent stays the ingest-time default)
    ts_fits = tsd.try_cast("long").isNotNull()
    valid = (
        name.isNotNull()
        & (name != "")
        & p["value"].isNotNull()
        & val.isNotNull()
        & (p["timestamp"].isNull() | ts_fits)
        & tags_ok
    )
    labels = F.map_filter(
        F.transform_values(
            F.coalesce(tmap, F.create_map().cast("map<string,variant>")),
            lambda k, v: v.try_cast("string"),
        ),
        lambda k, v: (k != "") & (v != ""),  # skip empty tags
    )
    ts_raw = tsd.try_cast("long")  # int64(float) truncation; ANSI-safe
    default_ts = (
        F.lit(default_ts_ms).cast("long")
        if default_ts_ms is not None
        else F.lit(None).cast("long")
    )
    # ts 0/missing → ingest time; SECOND_MASK decides seconds vs ms
    # (stream/streamparser.go:56-72, secondMask 0x7FFFFFFF00000000)
    ts = F.when(ts_raw.isNull() | (ts_raw == 0), default_ts).otherwise(
        F.when(
            ts_raw.bitwiseAND(F.lit(0x7FFFFFFF00000000)) == 0,
            ts_raw * 1000,
        ).otherwise(ts_raw)
    )
    return _finish(
        d.filter(valid).select(
            name.alias("name"),
            labels.alias("labels"),
            ts.alias("ts"),
            val.alias("value"),
        )
    )


def _dd_sanitize_name(name: Column) -> Column:
    """datadogutil.SanitizeName (datadogutil.go:39-60, default-on
    -datadog.sanitizeMetricName): unsupported chars → ``_``, collapse
    consecutive ``_``, drop ``_`` adjacent to dots."""
    s = F.regexp_replace(name, r"[^0-9a-zA-Z_.]+", "_")
    s = F.regexp_replace(s, r"_+", "_")
    return F.regexp_replace(s, r"_?\._?", ".")


def _dd_tags_to_map(tags: Column, extra: list[tuple[str, Column]]) -> Column:
    """Datadog ``["k:v", ...]`` tag lists → label map (+ extra pairs).

    SplitTag (datadogutil.go:28-37): a tag without ``:`` keeps its whole
    text as the name with value ``no_label_value``; a ``host`` tag is
    renamed ``exported_host`` because the series' own host field wins
    (request_handler.go:55-60). Tags with an empty name (``""`` or
    ``:v``) are dropped — the reference would let them overwrite the
    metric name slot, which is never intended."""
    named = F.filter(
        tags, lambda t: (t != "") & ~t.startswith(":")
    )
    pairs = F.transform(
        named,
        lambda t: F.struct(
            F.when(
                F.split_part(t, F.lit(":"), F.lit(1)) == "host",
                F.lit("exported_host"),
            )
            .otherwise(F.split_part(t, F.lit(":"), F.lit(1)))
            .alias("key"),
            F.when(
                t.contains(":"), F.regexp_replace(t, r"^[^:]*:", "")
            )
            .otherwise(F.lit("no_label_value"))
            .alias("value"),
        ),
    )
    def _neq(name: str):
        # closure, not a default-arg lambda: PySpark reads default args as
        # extra lambda variables and mis-counts the arity
        return lambda key, _val: key != F.lit(name)

    m = F.map_from_entries(pairs)
    for k, v in extra:
        # the field label replaces a same-named tag ONLY when the field
        # is non-empty — an absent field leaves the tag's label intact
        # (request_handler.go adds tags unconditionally and the field
        # labels only when non-empty)
        present = v.isNotNull() & (v != "")
        m = F.when(
            present,
            F.map_concat(F.map_filter(m, _neq(k)), F.create_map(F.lit(k), v)),
        ).otherwise(m)
    return m


def parse_datadog_v1(
    docs: DataFrame, sanitize_metric_name: bool = True
) -> DataFrame:
    """Datadog v1 /api/v1/series (lib/protoparser/datadogv1/):
    {"series":[{"metric","points":[[ts_s,v],...],"tags":["k:v"],"host",
    "device"}]}.

    Reference mapping (app/vminsert/datadogv1/request_handler.go:44-62):
    non-empty host/device fields become labels; tag names ``host`` are
    renamed ``exported_host``; point[0] is FLOAT SECONDS converted via
    int64(ts*1000) (parser.go:88-98 Point.Timestamp — no magnitude
    detection); metric names sanitized per datadogutil.SanitizeName
    (-datadog.sanitizeMetricName, default true)."""
    schema = (
        "series ARRAY<STRUCT<metric: STRING, points: ARRAY<ARRAY<DOUBLE>>, "
        "tags: ARRAY<STRING>, host: STRING, device: STRING>>"
    )
    d = docs.select(F.explode(F.from_json(F.col("value"), schema)["series"]).alias("s"))
    name = F.col("s.metric")
    if sanitize_metric_name:
        name = _dd_sanitize_name(name)
    p = d.select(
        name.alias("name"),
        _dd_tags_to_map(
            F.coalesce(F.col("s.tags"), F.array().cast("array<string>")),
            [("host", F.col("s.host")), ("device", F.col("s.device"))],
        ).alias("labels"),
        F.explode(F.col("s.points")).alias("pt"),
    )
    return _finish(
        p.select(
            "name",
            "labels",
            (F.element_at(F.col("pt"), 1) * 1000)
            .try_cast("long")
            .alias("ts"),
            F.element_at(F.col("pt"), 2).alias("value"),
        )
    )


def parse_datadog_v2(
    docs: DataFrame, sanitize_metric_name: bool = True
) -> DataFrame:
    """Datadog v2 /api/v2/series (lib/protoparser/datadogv2/): points are
    {"timestamp","value"} structs.

    Reference mapping (app/vminsert/datadogv2/request_handler.go:48-65):
    EVERY resource becomes a ``type → name`` label (not just host);
    non-empty source_type_name becomes a label; tag names ``host``
    rename to ``exported_host``; timestamp is SECONDS * 1000 always;
    metric names sanitized per datadogutil.SanitizeName."""
    schema = (
        "series ARRAY<STRUCT<metric: STRING, "
        "points: ARRAY<STRUCT<timestamp: BIGINT, value: DOUBLE>>, "
        "tags: ARRAY<STRING>, source_type_name: STRING, "
        "resources: ARRAY<STRUCT<name: STRING, type: STRING>>>>"
    )
    d = docs.select(F.explode(F.from_json(F.col("value"), schema)["series"]).alias("s"))
    res = F.coalesce(
        F.col("s.resources"),
        F.array().cast("array<struct<name:string,type:string>>"),
    )
    res_map = F.map_from_entries(
        F.transform(
            F.filter(
                res,
                lambda r: r["type"].isNotNull()
                & (r["type"] != "")
                & r["name"].isNotNull()
                & (r["name"] != ""),
            ),
            lambda r: F.struct(
                r["type"].alias("key"), r["name"].alias("value")
            ),
        )
    )
    name = F.col("s.metric")
    if sanitize_metric_name:
        name = _dd_sanitize_name(name)
    tag_map = _dd_tags_to_map(
        F.coalesce(F.col("s.tags"), F.array().cast("array<string>")),
        [("source_type_name", F.col("s.source_type_name"))],
    )
    # resources first, then tags/source_type_name (AddLabel order)
    labels = F.map_concat(
        F.map_filter(
            res_map, lambda k, _v: ~F.array_contains(F.map_keys(tag_map), k)
        ),
        tag_map,
    )
    p = d.select(
        name.alias("name"),
        labels.alias("labels"),
        F.explode(F.col("s.points")).alias("pt"),
    )
    return _finish(
        p.select(
            "name",
            "labels",
            F.try_multiply(F.col("pt.timestamp"), F.lit(1000)).alias("ts"),
            F.col("pt.value").alias("value"),
        )
    )


def parse_newrelic(
    docs: DataFrame, default_ts_ms: int | None = None
) -> DataFrame:
    """NewRelic infra agent payload (lib/protoparser/newrelic/):
    ``[{"Events":[{...}]}]``.

    Reference event mapping (parser.go:135-190 Row.unmarshal +
    app/vminsert/newrelic/request_handler.go:44-60): every NUMERIC
    field except ``timestamp`` becomes its own raw sample whose metric
    name is the RAW field name; every STRING field (``eventType``
    included) becomes a label on all of the event's samples,
    empty-string values skipped; a numeric ``timestamp`` below 2^32 is
    seconds (× 1000), otherwise milliseconds, truncated to int64;
    missing timestamp → ingest time. Booleans/nulls/nested values are
    ignored. Field JSON types are probed via VARIANT — from_json's
    string coercion would turn every number into a tag."""
    schema = "ARRAY<STRUCT<Events: ARRAY<MAP<STRING, VARIANT>>>>"
    d = docs.select(F.explode(F.from_json(F.col("value"), schema)).alias("e"))
    ev = d.select(
        F.explode(
            F.coalesce(
                F.col("e.Events"),
                F.array().cast("array<map<string,variant>>"),
            )
        ).alias("m")
    )
    m = F.col("m")
    sov = F.schema_of_variant
    _NUM = "^(BIGINT|DOUBLE|DECIMAL|FLOAT|INT|SMALLINT|TINYINT)"
    labels = F.transform_values(
        F.map_filter(
            m,
            lambda k, v: (k != "")
            & (sov(v) == "STRING")
            & (v.try_cast("string") != ""),
        ),
        lambda _k, v: v.try_cast("string"),
    )
    # duplicate JSON keys: fastjson's Visit assigns the timestamp once
    # per occurrence so the LAST wins; from_json keeps duplicate map
    # entries in order, so take the last matching entry, not
    # element_at (first-wins)
    tsv = F.try_element_at(
        F.filter(F.map_entries(m), lambda e: e["key"] == "timestamp"),
        F.lit(-1),
    )["value"]
    tsd = F.when(sov(tsv).rlike(_NUM), tsv.try_cast("double"))
    ts_ms = (
        F.when(tsd < F.lit(float(1 << 32)), tsd * 1000)
        .otherwise(tsd)
        .try_cast("long")
    )
    default_ts = (
        F.lit(default_ts_ms).cast("long")
        if default_ts_ms is not None
        else F.lit(None).cast("long")
    )
    kv = ev.filter(
        # absent timestamp → ingest time; a PRESENT numeric timestamp
        # that overflows int64 drops the event (never silently re-dated)
        tsd.isNull() | ts_ms.isNotNull()
    ).select(
        labels.alias("labels"),
        F.coalesce(ts_ms, default_ts).alias("ts"),
        F.explode(m).alias("k", "v"),
    ).filter(
        (F.col("k") != "")
        & (F.col("k") != "timestamp")
        & sov(F.col("v")).rlike(_NUM)
    )
    return _finish(
        kv.select(
            F.col("k").alias("name"),
            "labels",
            "ts",
            F.col("v").try_cast("double").alias("value"),
        )
    )


def parse_otlp_json(docs: DataFrame) -> DataFrame:
    """OTLP metrics JSON → samples. Full conversion (gauge/sum,
    histogram → cumulative le buckets, exponential histogram → vmrange
    buckets, summary → quantile series, resource + scope + datapoint
    attribute labels, staleness flags) lives in streaming/otlp.py —
    this is the JSON entry point."""
    from victoriametrics_spark.streaming.otlp import otlp_to_samples

    return otlp_to_samples(docs, fmt="json")


def parse_zabbix(
    lines: DataFrame,
    add_groups_value: str = "",
    add_empty_tags_value: str = "",
    add_duplicate_tags_separator: str = "",
) -> DataFrame:
    """Zabbix real-time-export connector lines
    (lib/protoparser/zabbixconnector/parser.go): one JSON object per
    line — ``host.host`` → ``host`` label, ``host.name`` →
    ``hostname`` label, ``name`` → metric name, ``item_tags``
    [{tag,value}] → ``tag_<k>`` labels, ts = clock·1e3 + ns/1e6.

    The three -zabbixconnector.* flags (parser.go:15-17) are keyword
    params: ``add_groups_value`` adds ``group_<g>`` labels with that
    value (and makes a missing ``groups`` array an error);
    ``add_empty_tags_value`` keeps empty-value tags with that value
    (default: skipped); ``add_duplicate_tags_separator`` merges
    duplicate tag names joining their values in order (default:
    first occurrence wins — the reference emits duplicate label
    PAIRS there, which a map cannot represent).

    Validity rules per parser_test.go TestRowsUnmarshalFailure: the
    item ``type`` must be numeric (0 = float, 3 = unsigned; text types
    2/10 and a missing type are skipped), the item name non-empty,
    clock/ns integral, and ``item_tags`` present; a JSON line whose
    field types mismatch (string-valued clock, object-valued name,
    ...) nulls out of from_json and is skipped without failing the
    batch."""
    schema = (
        "host STRUCT<host: STRING, name: STRING>, name STRING, "
        "value DOUBLE, clock BIGINT, ns BIGINT, type BIGINT, "
        "groups ARRAY<STRING>, "
        "item_tags ARRAY<STRUCT<tag: VARIANT, value: VARIANT>>"
    )

    # from_json coerces JSON numbers into STRING fields ("name":1 →
    # "1"), but the reference requires actual JSON strings
    # (GetStringBytes); a VARIANT probe gives the exact type
    def _is_str(path: str) -> Column:
        return (
            F.expr(
                "schema_of_variant(try_variant_get("
                f"try_parse_json(value), '{path}'))"
            )
            == "STRING"
        )

    cond = (
        F.col("j.name").isNotNull()
        & (F.col("j.name") != "")
        & _is_str("$.name")
        & F.col("j.host.host").isNotNull()
        & _is_str("$.host.host")
        & F.col("j.host.name").isNotNull()
        & _is_str("$.host.name")
        & F.col("j.type").isin(0, 3)
        & F.col("j.clock").isNotNull()
        & F.col("j.ns").isNotNull()
        & F.col("j.item_tags").isNotNull()
    )
    if add_groups_value:
        cond = cond & F.col("j.groups").isNotNull()
    j = lines.select(
        F.col("value"), F.from_json(F.col("value"), schema).alias("j")
    ).filter(cond)
    tags = F.col("j.item_tags")

    def _idx(arr):
        # guarded 1..n index array (sequence(1, 0) DESCENDS in Spark)
        return F.when(
            F.size(arr) > 0, F.sequence(F.lit(1), F.size(arr))
        ).otherwise(F.array().cast("array<int>"))

    def _vstr(v):
        # variant → string for actual JSON strings; anything else
        # (object/number/missing) reads as empty like GetStringBytes
        return F.coalesce(
            F.when(
                F.schema_of_variant(v) == "STRING", v.try_cast("string")
            ),
            F.lit(""),
        )

    # positions of the tags that survive: non-empty key, and non-empty
    # value unless add_empty_tags_value keeps them (parser.go:147-160)
    keep_empty = bool(add_empty_tags_value)
    pos = F.filter(
        _idx(tags),
        lambda i: (_vstr(F.element_at(tags, i)["tag"]) != "")
        & (
            F.lit(keep_empty)
            | (_vstr(F.element_at(tags, i)["value"]) != "")
        ),
    )
    tag_keys = F.transform(
        pos,
        lambda i: F.concat(
            F.lit("tag_"), _vstr(F.element_at(tags, i)["tag"])
        ),
    )
    tag_vals = F.transform(
        pos,
        lambda i: F.coalesce(
            F.nullif(_vstr(F.element_at(tags, i)["value"]), F.lit("")),
            F.lit(add_empty_tags_value),
        ),
    )
    uniq_keys = F.array_distinct(tag_keys)
    if add_duplicate_tags_separator:
        # merge duplicates: join every value carried by the key, in
        # order of appearance (parser.go:167-196)
        merged = F.transform(
            uniq_keys,
            lambda k: F.array_join(
                F.transform(
                    F.filter(
                        _idx(tag_keys),
                        lambda i: F.element_at(tag_keys, i) == k,
                    ),
                    lambda i: F.element_at(tag_vals, i),
                ),
                add_duplicate_tags_separator,
            ),
        )
    else:
        merged = F.transform(
            uniq_keys,
            lambda k: F.element_at(
                tag_vals, F.array_position(tag_keys, k).cast("int")
            ),
        )
    base_keys = [F.lit("host"), F.lit("hostname")]
    base_vals = [F.col("j.host.host"), F.col("j.host.name")]
    if add_groups_value:
        grp = F.filter(
            F.coalesce(F.col("j.groups"), F.array().cast("array<string>")),
            lambda g: g.isNotNull() & (g != ""),
        )
        grp_keys = F.transform(grp, lambda g: F.concat(F.lit("group_"), g))
        grp_vals = F.transform(grp, lambda g: F.lit(add_groups_value))
    else:
        grp_keys = F.array().cast("array<string>")
        grp_vals = F.array().cast("array<string>")
    all_keys = F.concat(F.array(*base_keys), grp_keys, uniq_keys)
    all_vals = F.concat(F.array(*base_vals), grp_vals, merged)
    # global keep-first dedup so map construction can never collide
    fk = F.array_distinct(all_keys)
    fv = F.transform(
        fk,
        lambda k: F.element_at(
            all_vals, F.array_position(all_keys, k).cast("int")
        ),
    )
    labels = F.map_from_arrays(fk, fv)
    return _finish(
        j.select(
            F.col("j.name").alias("name"),
            labels.alias("labels"),
            (
                F.col("j.clock") * 1000
                + F.floor(F.coalesce(F.col("j.ns"), F.lit(0)) / 1_000_000)
            )
            .cast("long")
            .alias("ts"),
            F.col("j.value").alias("value"),
        )
    )


def samples_to_csv(samples: DataFrame) -> DataFrame:
    """CSV export shape (/api/v1/export/csv): one row per sample with the
    canonical label string; feed to ``df.write.csv``."""
    from victoriametrics_spark.schema import canonical_labels_str

    return samples.select(
        F.col("name").alias("metric"),
        canonical_labels_str(
            F.coalesce(F.col("labels"), F.create_map().cast("map<string,string>"))
        ).alias("labels"),
        F.col("ts").alias("timestamp_ms"),
        F.col("value"),
    )
