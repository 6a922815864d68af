"""Remote-write request handling.

Body decompression: snappy/zstd bidirectional fallback
(promremotewrite/stream/streamparser.go:42-77). No zstd binding ships in
this environment, so the zstd-present branch is exercised through a
monkeypatched module and the absent branch through the real import
failure.

Protobuf decoding and ``IngestAPI.write_remote``'s request path: the body
is decoded once on the driver, a malformed body is a request error, the
landed rows match the streaming decoder, and the append is the only
Spark work on the default table path."""

from __future__ import annotations

import math
import struct
import sys
import threading
import types

import pytest

from victoriametrics_spark.streaming.remotewrite import (
    UnsupportedEncodingError,
    ZSTD_MAGIC,
    decode_write_request,
    encode_write_request,
    rw_uncompress,
    snappy_compress,
)

BODY = b"remote write protobuf bytes \x00\x01\x02" * 20


def test_snappy_no_header():
    assert rw_uncompress(snappy_compress(BODY)) == BODY


def test_snappy_under_zstd_header_falls_back():
    # vmagent persistent-queue replay: snappy bytes, zstd header
    # (issue 5301 — streamparser.go:47-56)
    assert rw_uncompress(snappy_compress(BODY), "zstd") == BODY


def test_zstd_bytes_without_binding_rejected_415_shape():
    fake_frame = ZSTD_MAGIC + b"\x00" * 32
    with pytest.raises(UnsupportedEncodingError, match="no zstd binding"):
        rw_uncompress(fake_frame, "zstd")
    # even without the header the magic is detected, not mis-decoded
    with pytest.raises(UnsupportedEncodingError, match="no zstd binding"):
        rw_uncompress(fake_frame)


def test_garbage_bytes_error_mentions_snappy():
    with pytest.raises(ValueError, match="snappy-encoded"):
        rw_uncompress(b"\xff\xfe\xfd garbage that is neither codec")


@pytest.fixture()
def fake_zstandard(monkeypatch):
    """A stand-in `zstandard` module whose frames are ZSTD_MAGIC +
    payload — enough to prove the binding-present code path end-to-end."""
    mod = types.ModuleType("zstandard")

    class _Obj:
        def decompress(self, data):
            if data[:4] != ZSTD_MAGIC:
                raise ValueError("zstd: invalid frame")
            return data[4:]

    class ZstdDecompressor:
        # the production code uses decompressobj() (streaming API —
        # one-shot decompress() rejects frames without an embedded
        # content size); keep decompress() too for API fidelity
        def decompressobj(self):
            return _Obj()

        def decompress(self, data):
            return _Obj().decompress(data)

    mod.ZstdDecompressor = ZstdDecompressor
    monkeypatch.setitem(sys.modules, "zstandard", mod)
    return mod


def test_zstd_with_binding(fake_zstandard):
    assert rw_uncompress(ZSTD_MAGIC + BODY, "zstd") == BODY
    # zstd bytes WITHOUT the header: snappy fails, zstd fallback wins
    # (streamparser.go:62-74)
    assert rw_uncompress(ZSTD_MAGIC + BODY) == BODY


def test_zstd_binding_bad_frame_falls_back_to_snappy(fake_zstandard):
    # zstd header but snappy bytes, binding present: zstd errors, the
    # snappy fallback decodes (streamparser.go:47-56)
    assert rw_uncompress(snappy_compress(BODY), "zstd") == BODY


def test_write_remote_counts_read_errors(spark):
    from victoriametrics_spark.api.http import IngestAPI

    sunk = []
    api = IngestAPI(spark, sink=lambda df, kind: sunk.append(kind))
    with pytest.raises(UnsupportedEncodingError):
        api.write_remote(ZSTD_MAGIC + b"\x00" * 8, encoding="zstd")
    assert api.read_errors_total["promremotewrite"] == 1
    with pytest.raises(ValueError):
        api.write_remote(b"\xff garbage")
    assert api.read_errors_total["promremotewrite"] == 2
    assert sunk == []


def test_write_remote_decode_error_is_request_error(spark):
    """A body that decompresses but is not a valid WriteRequest counts a
    read error, fails with ValueError (HTTP 400) and writes nothing."""
    from victoriametrics_spark.api.http import IngestAPI

    sunk = []
    api = IngestAPI(spark, sink=lambda df, kind: sunk.append(kind))
    good = encode_write_request(
        [({"__name__": "m"}, [(1704067200000, 1.0)])],
        compress=False,
        metadata=[{"metric_family_name": "m", "type": 1}],
    )
    # a length varint running off the end; the same body cut short
    for n, raw in enumerate((b"\x0a\xff\xff\xff", good[:-3]), start=1):
        with pytest.raises(ValueError, match="cannot decode remote-write"):
            api.write_remote(snappy_compress(raw))
        assert api.read_errors_total["promremotewrite"] == n
    assert sunk == []
    assert api.metadata_store.get() == []


def _stale_nan() -> float:
    return struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]


def test_truncated_protobuf_fields_raise():
    # a length-delimited field declaring more bytes than its message has
    with pytest.raises(ValueError):
        list(decode_write_request(b"\x0a\x05abc", compressed=False))
    # the same one level down: a TimeSeries whose Label overruns it
    with pytest.raises(ValueError):
        list(decode_write_request(b"\x0a\x03\x0a\x05a", compressed=False))
    series = [
        (
            {"__name__": "m", "job": "a"},
            [(1704067200000, 1.5), (1704067215000, -2.0)],
        ),
        (
            {"__name__": "h"},
            [],
            [
                {
                    "count_int": 3,
                    "sum": 4.5,
                    "positive_spans": [(0, 2)],
                    "positive_deltas": [1, 1],
                    "timestamp": 1704067200000,
                }
            ],
        ),
    ]
    # one TimeSeries per part: concatenated parts are one WriteRequest,
    # and a cut at a part boundary leaves a valid, shorter body
    parts = [encode_write_request([ts], compress=False) for ts in series]
    raw = b"".join(parts)
    assert len(list(decode_write_request(raw, compressed=False))) == 6
    ends = {sum(map(len, parts[:i])) for i in range(len(parts) + 1)}
    cuts = [n for n in range(len(raw)) if n not in ends]
    assert len(cuts) > 50
    for n in cuts:
        with pytest.raises(ValueError):
            list(decode_write_request(raw[:n], compressed=False))


def test_write_remote_decodes_body_once(spark, monkeypatch):
    """Each request decodes its body exactly once, on the driver."""
    from victoriametrics_spark.api.http import IngestAPI
    from victoriametrics_spark.streaming import remotewrite

    calls = []
    real = remotewrite.decode_write_request

    def counted(body, compressed=True):
        calls.append(len(body))
        return real(body, compressed)

    monkeypatch.setattr(remotewrite, "decode_write_request", counted)
    sunk = []
    api = IngestAPI(spark, sink=lambda df, kind: sunk.extend(df.collect()))
    pts = [(1704067200000 + i * 15000, float(i)) for i in range(5)]
    body = encode_write_request([({"__name__": "m"}, pts)])
    assert api.write_remote(body) == 5
    assert sorted((r["ts"], r["value"]) for r in sunk) == pts
    assert len(calls) == 1
    assert api.write_remote(body) == 5
    assert len(calls) == 2


def _sorted_rows(df):
    from pyspark.sql import functions as F

    from victoriametrics_spark.schema import SAMPLE_COLUMNS

    # set operations reject map columns: compare the sorted entries
    return df.select(*SAMPLE_COLUMNS).withColumn(
        "labels", F.array_sort(F.map_entries("labels"))
    )


def test_write_remote_lands_rows_of_streaming_decoder(spark):
    """The rows ``write_remote`` lands equal ``remote_write_to_samples``
    (the payload-frame decoder) on the same body, including staleness
    markers, NaN and infinities."""
    from victoriametrics_spark.api.http import IngestAPI
    from victoriametrics_spark.schema import SAMPLE_SCHEMA
    from victoriametrics_spark.storage.layout import (
        drop_samples_table,
        write_samples_table,
    )
    from victoriametrics_spark.streaming.remotewrite import (
        remote_write_to_samples,
    )

    t0 = 1704067200000
    body = encode_write_request(
        [
            (
                {"__name__": "rw_parity", "job": "a", "empty": ""},
                [
                    (t0, _stale_nan()),
                    (t0 + 15000, math.nan),
                    (t0 + 30000, math.inf),
                    (t0 + 45000, -math.inf),
                    (t0 + 60000, 1.5),
                ],
            ),
            (
                {"__name__": "rw_parity", "city": "Zürich", "note": "日本語🙂"},
                [(t0, 2.0)],
            ),
            (
                {"__name__": "rw_parity_hist", "job": "h"},
                [],
                [
                    {
                        "count_int": 6,
                        "sum": 12.5,
                        "schema": 1,
                        "zero_threshold": 0.001,
                        "zero_count_int": 1,
                        "positive_spans": [(0, 2), (1, 1)],
                        "positive_deltas": [2, -1, 1],
                        "negative_spans": [(-1, 1)],
                        "negative_deltas": [1],
                        "timestamp": t0,
                    }
                ],
            ),
        ]
    )
    table = "t_rw_parity"
    write_samples_table(
        spark.createDataFrame([], SAMPLE_SCHEMA), table, n_buckets=2
    )
    try:
        n = IngestAPI(spark, samples_table=table).write_remote(body)
        landed = _sorted_rows(spark.table(table))
        want = _sorted_rows(
            remote_write_to_samples(
                spark.createDataFrame([(bytearray(body),)], "payload binary")
            )
        )
        assert n == want.count() == landed.count() > 8
        assert landed.exceptAll(want).count() == 0
        assert want.exceptAll(landed).count() == 0
        rows = landed.collect()
        assert sum(r["is_stale"] for r in rows) == 1
        assert sum(math.isnan(r["value"]) for r in rows) == 2
    finally:
        drop_samples_table(spark, table)


def _text_body(n: int) -> str:
    return "".join(
        f'txt_g{{job="j",instance="h{i}"}} {i} {1704067200000 + i}\n'
        for i in range(n)
    )


def _rw_body(n: int) -> bytes:
    return encode_write_request(
        [
            ({"__name__": "m", "i": str(i)}, [(1704067200000, float(i))])
            for i in range(n)
        ]
    )


def test_ingest_request_job_counts(spark, monkeypatch):
    """Spark jobs per request on a bucketed table. The remote-write frame
    is a local Arrow relation (no Python worker) and the append is its
    only action; the text path keeps its checkpoint and line count."""
    from victoriametrics_spark.api.http import IngestAPI
    from victoriametrics_spark.schema import SAMPLE_SCHEMA
    from victoriametrics_spark.storage import layout

    table = "t_ingest_jobs"
    layout.write_samples_table(
        spark.createDataFrame([], SAMPLE_SCHEMA), table, n_buckets=2
    )
    plans = []
    real = layout.append_samples

    def spy(df, tbl, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df, tbl, *a, **kw)

    monkeypatch.setattr(layout, "append_samples", spy)
    sc = spark.sparkContext
    api = IngestAPI(spark, samples_table=table)

    def jobs(label, fn):
        gid = f"test-ingest-jobs-{label}"
        sc.setJobGroup(gid, label)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    try:
        # the append only: the repartition's shuffle-map job and the
        # write job (5 before: decode checkpoint, a two-job count, the
        # two append jobs)
        assert jobs("rw", lambda: api.write_remote(_rw_body(40))) == (40, 2)
        assert "LocalRelation" in plans[0]
        for python_scan in ("MapInPandas", "ExistingRDD", "LogicalRDD"):
            assert python_scan not in plans[0]
        # the parse checkpoint, the valid-line count (shuffle-map job and
        # result job) and the two append jobs (7 before: the acknowledged
        # count added two more)
        txt = _text_body(30)
        assert jobs("txt", lambda: api.import_lines(txt, "prometheus")) == (30, 5)
        # an empty body appends nothing and still reads its count
        assert api.write_remote(encode_write_request([])) == 0
        assert spark.table(table).count() == 70
    finally:
        layout.drop_samples_table(spark, table)


def test_custom_sink_gets_count_without_running_frame(spark):
    """A sink that never runs the frame still gets the right count back;
    nothing waits on an action that never happens."""
    from victoriametrics_spark.api.http import IngestAPI

    api = IngestAPI(spark, sink=lambda df, kind: None)
    out = {}

    def run():
        out["rw"] = api.write_remote(_rw_body(6))
        out["txt"] = api.import_lines(_text_body(3), "prometheus")

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(120)
    assert not th.is_alive(), "the count waited on a frame the sink never ran"
    assert out == {"rw": 6, "txt": 3}
