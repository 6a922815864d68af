"""Prometheus remote-write (prompb.WriteRequest) wire-format ingest.

Reference: lib/protoparser/promremotewrite/ — the body is a
snappy-compressed protobuf:

    message WriteRequest { repeated TimeSeries timeseries = 1; }
    message TimeSeries  { repeated Label labels = 1;
                          repeated Sample samples = 2; }
    message Label       { string name = 1; string value = 2; }
    message Sample      { double value = 1; int64 timestamp = 2; }

Both snappy (block format) and this 4-message protobuf schema are small,
stable public formats, so they are decoded here directly — no external
dependency. An HTTP request body is already in driver memory, so
``IngestAPI.write_remote`` decodes it there with
:func:`decode_write_request`, like the reference's request handler
(stream/streamparser.go). A stream of payload blobs decodes inside
``mapInPandas`` instead (:func:`remote_write_to_samples`, Arrow-batched)
into the canonical sample schema, so it feeds the same engine as every
text dialect in parsers.py.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame

from victoriametrics_spark.schema import SAMPLE_SCHEMA

# ------------------------------------------------------------- snappy
# Block format (github.com/google/snappy/blob/master/format_description.txt):
# varint uncompressed length, then literal / copy tags.


def snappy_uncompress(data: bytes) -> bytes:
    total, pos = _uvarint(data, 0)
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:  # 60..63 → that many extra length bytes
                extra = ln - 59
                ln = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            ln += 1
            out += data[pos : pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 7) + 4
            off = ((tag & 0xE0) << 3) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        # overlapping copies are allowed and meaningful (RLE) — byte loop
        start = len(out) - off
        for i in range(ln):
            out.append(out[start + i])
    if len(out) != total:
        raise ValueError(
            f"snappy: declared length {total}, decoded {len(out)}"
        )
    return bytes(out)


ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


class UnsupportedEncodingError(ValueError):
    """Raised when a body is zstd-encoded but no zstd binding is
    importable in this environment — the HTTP layer maps this to 415
    instead of mis-decoding the bytes as snappy."""


def zstd_decompress(data: bytes) -> bytes:
    """zstd via whichever binding is importable (`zstandard` or `zstd`);
    raises UnsupportedEncodingError when neither exists. The format is
    NOT guessed-at by hand — a wrong inflate would corrupt samples
    silently, so absent a binding the caller must reject the request."""
    try:
        import zstandard  # type: ignore

        # decompressobj, not one-shot decompress(): streaming
        # compressors omit the frame-header content size, which the
        # one-shot API refuses to decode
        return zstandard.ZstdDecompressor().decompressobj().decompress(data)
    except ImportError:
        pass
    try:
        import zstd  # type: ignore

        return zstd.decompress(data)
    except ImportError:
        pass
    raise UnsupportedEncodingError(
        "zstd-encoded request cannot be decoded: no zstd binding"
        " (zstandard/zstd) is available"
    )


def rw_uncompress(body: bytes, encoding: str = "") -> bytes:
    """Remote-write body decompression with the reference's
    bidirectional snappy/zstd fallback
    (lib/protoparser/promremotewrite/stream/streamparser.go:42-77):
    'Content-Encoding: zstd' tries zstd first then snappy (vmagent may
    replay snappy bytes from a persistent queue under a zstd header,
    issue 5301); anything else tries snappy first then zstd."""
    if (encoding or "").lower() == "zstd":
        try:
            return zstd_decompress(body)
        except UnsupportedEncodingError:
            # no binding in this environment: accept the snappy-replay
            # case, reject genuine zstd bytes with 415
            try:
                return snappy_uncompress(body)
            except Exception:
                raise UnsupportedEncodingError(
                    "zstd-encoded request cannot be decoded: no zstd"
                    " binding (zstandard/zstd) is available"
                ) from None
        except Exception as zstd_err:
            try:
                return snappy_uncompress(body)
            except Exception:
                raise ValueError(
                    f"cannot decompress zstd-encoded request with"
                    f" length {len(body)}: {zstd_err}"
                ) from None
    try:
        return snappy_uncompress(body)
    except Exception as snappy_err:
        try:
            return zstd_decompress(body)
        except UnsupportedEncodingError:
            if body[:4] == ZSTD_MAGIC:
                # honest 415: the bytes really are a zstd frame
                raise UnsupportedEncodingError(
                    "zstd-encoded request cannot be decoded: no zstd"
                    " binding (zstandard/zstd) is available"
                ) from None
            raise ValueError(
                f"cannot decompress snappy-encoded request with"
                f" length {len(body)}: {snappy_err}"
            ) from None
        except Exception:
            raise ValueError(
                f"cannot decompress snappy-encoded request with"
                f" length {len(body)}: {snappy_err}"
            ) from None


_STALE_NAN_BYTES = struct.pack("<Q", 0x7FF0000000000002)


def is_stale_nan(val: float) -> bool:
    """Prometheus staleness marker: the specific NaN bit pattern
    (decimal.StaleNaN). Bit-compare — ordinary NaNs are data."""
    return val != val and struct.pack("<d", val) == _STALE_NAN_BYTES


def snappy_compress(data: bytes) -> bytes:
    """Valid (if unambitious) snappy stream: one literal run per 2^24
    bytes. Decompresses under ANY conformant reader — used for tests and
    for emitting remote-write bodies."""
    out = bytearray(_uvarint_encode(len(data)))
    pos = 0
    while pos < len(data) or (pos == 0 and not data):
        chunk = data[pos : pos + (1 << 24)]
        if not chunk:
            break
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        else:
            nbytes = (ln.bit_length() + 7) // 8
            out.append((59 + nbytes) << 2)
            out += ln.to_bytes(nbytes, "little")
        out += chunk
        pos += len(chunk)
    return bytes(out)


def _uvarint(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    try:
        while True:
            b = data[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result, pos
            shift += 7
    except IndexError:
        raise ValueError("unexpected end of data inside a varint") from None


def _uvarint_encode(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ------------------------------------------------------------- protobuf
def _fields(data: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Yield (field_no, wire_type, value) for a protobuf message body.

    A field that runs past the end of its message raises ValueError, as
    the reference's unmarshaler (lib/prompb) rejects it, so a body cut
    off mid-message fails whole instead of landing in part."""
    pos, n = 0, len(data)
    while pos < n:
        key, pos = _uvarint(data, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:  # varint
            v, pos = _uvarint(data, pos)
            yield field, wt, v
            continue
        if wt == 1:  # fixed64
            ln = 8
        elif wt == 2:  # length-delimited
            ln, pos = _uvarint(data, pos)
        elif wt == 5:  # fixed32
            ln = 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        end = pos + ln
        if end > n:
            raise ValueError(
                f"field {field} needs {ln} bytes, {n - pos} left in the"
                " message"
            )
        yield field, wt, data[pos:end]
        pos = end


def _to_i64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _zigzag(v: int) -> int:
    """sint32/sint64 zigzag decode (protobuf signed varints)."""
    return (v >> 1) ^ -(v & 1)


def _unpack_sint64s(data: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(data):
        v, pos = _uvarint(data, pos)
        out.append(_zigzag(v))
    return out


def _unpack_doubles(data: bytes) -> list[float]:
    return [v[0] for v in struct.iter_unpack("<d", data)]


def _vmrange(lo: float, hi: float) -> str:
    """Go strconv.AppendFloat(v, 'e', 3, 64) pair joined by '...'
    (lib/prompb/fmt_buffer.go:30-36). Python %.3e is the same
    correctly-rounded scientific form with a >=2-digit exponent."""
    return f"{lo:.3e}...{hi:.3e}"


def _native_histogram_series(
    hdata: bytes, name: str
) -> Iterator[tuple[str, str, int, float]]:
    """Convert one prompb.Histogram (TimeSeries field 4) into the classic
    count/sum/vmrange-bucket series the reference emits
    (lib/prompb/write_request_unmarshaler.go:213-483
    nativeHistogramContext.appendTimeSeries + appendSpanBuckets).

    Yields (series_name, vmrange_label_or_empty, ts_ms, value) in the
    reference's order: _count, _sum, zero bucket (if zeroCount>0),
    positive span buckets, negative span buckets. Bucket bounds come
    from base = 2^(2^-schema); int histograms carry cumulative deltas,
    float histograms absolute counts."""
    count_int = 0
    count_float = 0.0
    is_count_float = False
    total_sum = 0.0
    schema = 0
    zero_threshold = 0.0
    zero_count_int = 0
    zero_count_float = 0.0
    is_zero_count_float = False
    neg_spans: list[tuple[int, int]] = []
    neg_deltas: list[int] = []
    neg_counts: list[float] = []
    pos_spans: list[tuple[int, int]] = []
    pos_deltas: list[int] = []
    pos_counts: list[float] = []
    ts_ms = 0
    for hf, hwt, hv in _fields(hdata):
        if hf == 1 and hwt == 0:
            count_int = int(hv)
        elif hf == 2 and hwt == 1:
            count_float = struct.unpack("<d", hv)[0]
            is_count_float = True
        elif hf == 3 and hwt == 1:
            total_sum = struct.unpack("<d", hv)[0]
        elif hf == 4 and hwt == 0:
            schema = _zigzag(int(hv))
        elif hf == 5 and hwt == 1:
            zero_threshold = struct.unpack("<d", hv)[0]
        elif hf == 6 and hwt == 0:
            zero_count_int = int(hv)
        elif hf == 7 and hwt == 1:
            zero_count_float = struct.unpack("<d", hv)[0]
            is_zero_count_float = True
        elif hf in (8, 11) and hwt == 2:  # BucketSpan{sint32 offset, uint32 length}
            off = ln = 0
            for bf, bwt, bv in _fields(hv):
                if bf == 1 and bwt == 0:
                    off = _zigzag(int(bv))
                elif bf == 2 and bwt == 0:
                    ln = int(bv)
            (neg_spans if hf == 8 else pos_spans).append((off, ln))
        elif hf == 9 and hwt == 2:
            neg_deltas += _unpack_sint64s(hv)
        elif hf == 9 and hwt == 0:
            neg_deltas.append(_zigzag(int(hv)))
        elif hf == 10 and hwt == 2:
            neg_counts += _unpack_doubles(hv)
        elif hf == 12 and hwt == 2:
            pos_deltas += _unpack_sint64s(hv)
        elif hf == 12 and hwt == 0:
            pos_deltas.append(_zigzag(int(hv)))
        elif hf == 13 and hwt == 2:
            pos_counts += _unpack_doubles(hv)
        elif hf == 15 and hwt == 0:
            ts_ms = _to_i64(int(hv))
        # field 14 reset_hint and 16 custom_values: skipped like the
        # reference (unmarshaler.go:330-336)
    if not name:
        return  # nameless metric: reference drops it silently (:396-398)
    count = count_float if is_count_float else float(count_int)
    yield name + "_count", "", ts_ms, count
    yield name + "_sum", "", ts_ms, total_sum
    zero_count = (
        zero_count_float if is_zero_count_float else float(zero_count_int)
    )
    bucket_name = name + "_bucket"
    if zero_count > 0:
        yield bucket_name, _vmrange(-zero_threshold, zero_threshold), ts_ms, zero_count
    base = 2.0 ** (2.0 ** -schema)

    def span_buckets(spans, deltas, counts, negative):
        use_float = len(counts) > 0
        idx = 0
        di = fi = 0
        cum = 0
        for off, ln in spans:
            idx += off
            for _ in range(ln):
                if use_float:
                    if fi >= len(counts):
                        return
                    bucket_count = counts[fi]
                    fi += 1
                else:
                    if di >= len(deltas):
                        return
                    cum += deltas[di]
                    di += 1
                    bucket_count = float(cum)
                if bucket_count > 0:
                    upper = base ** idx
                    lower = upper / base
                    if negative:
                        lower, upper = -upper, -lower
                    yield _vmrange(lower, upper), bucket_count
                idx += 1

    for vr, cnt in span_buckets(pos_spans, pos_deltas, pos_counts, False):
        yield bucket_name, vr, ts_ms, cnt
    for vr, cnt in span_buckets(neg_spans, neg_deltas, neg_counts, True):
        yield bucket_name, vr, ts_ms, cnt


def decode_write_request(
    body: bytes, compressed: bool = True
) -> Iterator[tuple[str, dict, int, float]]:
    """(name, labels-without-__name__, ts_ms, value) per sample.

    Native-histogram samples (prompb TimeSeries field 4) are converted to
    classic ``_count``/``_sum``/``_bucket{vmrange=...}`` series exactly as
    the reference does (lib/prompb/write_request_unmarshaler.go:169-199);
    a TimeSeries carrying BOTH plain samples and histograms is rejected
    for the whole request like unmarshaler.go:181-183."""
    if compressed:
        body = snappy_uncompress(body)
    for f, wt, ts_msg in _fields(body):
        if f != 1 or wt != 2:
            continue
        labels: dict[str, str] = {}
        samples: list[tuple[int, float]] = []
        histograms: list[bytes] = []
        for sf, swt, sv in _fields(ts_msg):
            if sf == 1 and swt == 2:  # Label
                ln = lv = ""
                for lf, lwt, lval in _fields(sv):
                    if lf == 1:
                        ln = lval.decode("utf-8")
                    elif lf == 2:
                        lv = lval.decode("utf-8")
                labels[ln] = lv
            elif sf == 2 and swt == 2:  # Sample
                val, ts = 0.0, 0
                for pf, pwt, pv in _fields(sv):
                    if pf == 1 and pwt == 1:
                        val = struct.unpack("<d", pv)[0]
                    elif pf == 2 and pwt == 0:
                        ts = _to_i64(pv)
                samples.append((ts, val))
            elif sf == 4 and swt == 2:  # native Histogram
                histograms.append(sv)
        if samples and histograms:
            raise ValueError(
                "cannot have both samples and native histograms in the"
                " same TimeSeries"
            )
        name = labels.pop("__name__", "")
        for ts, val in samples:
            yield name, dict(labels), ts, val
        for hdata in histograms:
            for hname, vmrange, ts, val in _native_histogram_series(
                hdata, name
            ):
                hlabels = dict(labels)
                if vmrange:
                    hlabels["vmrange"] = vmrange
                yield hname, hlabels, ts, val


def decode_write_request_metadata(
    body: bytes, compressed: bool = True
) -> list[dict]:
    """MetricMetadata records from a remote-write payload
    (prompb WriteRequest field 3; MetricMetadata: type=1 enum,
    metric_family_name=2, help=4, unit=5 —
    lib/prompb/write_request_unmarshaler.go:640-690)."""
    if compressed:
        body = snappy_uncompress(body)
    out: list[dict] = []
    for f, wt, msg in _fields(body):
        if f != 3 or wt != 2:
            continue
        md = {"metric_family_name": "", "help": "", "unit": "", "type": 0}
        for mf, mwt, mv in _fields(msg):
            if mf == 1 and mwt == 0:
                md["type"] = int(mv)
            elif mf == 2 and mwt == 2:
                md["metric_family_name"] = mv.decode("utf-8")
            elif mf == 4 and mwt == 2:
                md["help"] = mv.decode("utf-8")
            elif mf == 5 and mwt == 2:
                md["unit"] = mv.decode("utf-8")
        out.append(md)
    return out


def _zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def encode_native_histogram(h: dict) -> bytes:
    """Encode one prompb.Histogram message (TimeSeries field 4) from a
    dict mirroring the reference's nativeHistogramContext fields:
    count_int/count_float, sum, schema, zero_threshold, zero_count_int/
    zero_count_float, positive_spans/negative_spans ([(offset,length)]),
    positive_deltas/negative_deltas (sint64 cumulative deltas),
    positive_counts/negative_counts (float absolute counts), timestamp.
    Mirrors the reference's own test encoder
    (lib/prompb/write_request_unmarshaler_test.go:306-345)."""

    def ld(field: int, payload: bytes) -> bytes:
        return (
            _uvarint_encode(field << 3 | 2)
            + _uvarint_encode(len(payload))
            + payload
        )

    def vi(field: int, v: int) -> bytes:
        return _uvarint_encode(field << 3 | 0) + _uvarint_encode(v)

    def dbl(field: int, v: float) -> bytes:
        return _uvarint_encode(field << 3 | 1) + struct.pack("<d", v)

    out = bytearray()
    out += vi(1, int(h.get("count_int", 0)))
    if "count_float" in h:
        out += dbl(2, float(h["count_float"]))
    if h.get("sum"):
        out += dbl(3, float(h["sum"]))
    if h.get("schema"):
        out += vi(4, _zigzag_encode(int(h["schema"])))
    if h.get("zero_threshold"):
        out += dbl(5, float(h["zero_threshold"]))
    out += vi(6, int(h.get("zero_count_int", 0)))
    if "zero_count_float" in h:
        out += dbl(7, float(h["zero_count_float"]))
    for fno, key in ((8, "negative_spans"), (11, "positive_spans")):
        for off, ln in h.get(key, []):
            out += ld(fno, vi(1, _zigzag_encode(off)) + vi(2, ln))
    for fno, key in ((9, "negative_deltas"), (12, "positive_deltas")):
        vals = h.get(key, [])
        if vals:
            packed = b"".join(
                _uvarint_encode(_zigzag_encode(v)) for v in vals
            )
            out += ld(fno, packed)
    for fno, key in ((10, "negative_counts"), (13, "positive_counts")):
        vals = h.get(key, [])
        if vals:
            out += ld(fno, b"".join(struct.pack("<d", v) for v in vals))
    if h.get("timestamp"):
        out += vi(15, int(h["timestamp"]) & ((1 << 64) - 1))
    return bytes(out)


def encode_write_request(
    series: list[tuple[dict, list[tuple[int, float]]]],
    compress: bool = True,
    metadata: list[dict] | None = None,
) -> bytes:
    """Inverse of decode_write_request (labels dict INCLUDING __name__,
    [(ts_ms, value)]) — exercised against the decoder in tests and used
    by clients emitting remote-write. Each series tuple may carry an
    optional third element: a list of native-histogram dicts (see
    encode_native_histogram) emitted as TimeSeries field 4."""

    def ld(field: int, payload: bytes) -> bytes:
        return _uvarint_encode(field << 3 | 2) + _uvarint_encode(len(payload)) + payload

    out = bytearray()
    for entry in series:
        labels, samples = entry[0], entry[1]
        histograms = entry[2] if len(entry) > 2 else []
        ts_body = bytearray()
        for ln, lv in labels.items():
            ts_body += ld(
                1, ld(1, ln.encode("utf-8")) + ld(2, lv.encode("utf-8"))
            )
        for ts, val in samples:
            s = (
                _uvarint_encode(1 << 3 | 1)
                + struct.pack("<d", val)
                + _uvarint_encode(2 << 3 | 0)
                + _uvarint_encode(ts & ((1 << 64) - 1))
            )
            ts_body += ld(2, s)
        for h in histograms:
            ts_body += ld(4, encode_native_histogram(h))
        out += ld(1, bytes(ts_body))
    for md in metadata or []:
        m = bytearray()
        if md.get("type"):
            m += _uvarint_encode(1 << 3 | 0) + _uvarint_encode(int(md["type"]))
        m += ld(2, md.get("metric_family_name", "").encode("utf-8"))
        if md.get("help"):
            m += ld(4, md["help"].encode("utf-8"))
        if md.get("unit"):
            m += ld(5, md["unit"].encode("utf-8"))
        out += ld(3, bytes(m))
    body = bytes(out)
    return snappy_compress(body) if compress else body


# ------------------------------------------------------------- Spark
def remote_write_to_samples(
    payloads: DataFrame, col: str = "payload", compressed: bool = True
) -> DataFrame:
    """DataFrame of remote-write bodies (binary column) → canonical
    samples. Decode is Arrow-batched via mapInPandas; each payload's
    samples are emitted independently so partitioning follows the input
    (one task per payload batch — no shuffle)."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    src = payloads.select(col)

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for blob in pdf[col]:
                if blob is None:
                    continue
                for name, labels, ts, val in decode_write_request(
                    bytes(blob), compressed=compressed
                ):
                    rows.append((name, labels, ts, val, is_stale_nan(val)))
            yield pd.DataFrame(
                rows, columns=["name", "labels", "ts", "value", "is_stale"]
            )

    # Arrow turns NaN into NULL at the pandas->JVM crossing, so the
    # transfer schema must be nullable and the NaN restored JVM-side —
    # otherwise a Prometheus staleness marker (a NaN by definition)
    # kills the decode with 'Value at index is null'.
    xfer = StructType(
        [StructField(f.name, f.dataType, True) for f in SAMPLE_SCHEMA.fields]
    )
    df = src.mapInPandas(_decode, schema=xfer)
    return df.select(
        "name",
        "labels",
        "ts",
        F.coalesce(F.col("value"), F.lit(float("nan"))).alias("value"),
        F.coalesce(F.col("is_stale"), F.lit(False)).alias("is_stale"),
    )
