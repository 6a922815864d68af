"""Remote-write body decompression: snappy/zstd bidirectional fallback
(promremotewrite/stream/streamparser.go:42-77). No zstd binding ships in
this environment, so the zstd-present branch is exercised through a
monkeypatched module and the absent branch through the real import
failure."""

from __future__ import annotations

import sys
import types

import pytest

from victoriametrics_spark.streaming.remotewrite import (
    UnsupportedEncodingError,
    ZSTD_MAGIC,
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


def test_write_remote_decodes_body_once(spark, tmp_path, monkeypatch):
    """The sample count and the sink read one decode of the body: the
    decoded frame is checkpointed before ``_write_samples`` runs both."""
    from victoriametrics_spark.api.http import IngestAPI
    from victoriametrics_spark.streaming import remotewrite

    marker = tmp_path / "decodes"
    real = remotewrite.remote_write_to_samples

    def counted(payloads, col="payload", compressed=True):
        def tick(it):
            for pdf in it:
                if len(pdf):
                    with open(marker, "a") as f:
                        f.write("decode\n")
                yield pdf

        return real(
            payloads.mapInPandas(tick, payloads.schema), col, compressed
        )

    monkeypatch.setattr(remotewrite, "remote_write_to_samples", counted)
    sunk = []
    api = IngestAPI(spark, sink=lambda df, kind: sunk.extend(df.collect()))
    pts = [(1704067200000 + i * 15000, float(i)) for i in range(5)]
    body = remotewrite.encode_write_request([({"__name__": "m"}, pts)])
    assert api.write_remote(body) == 5
    assert sorted((r["ts"], r["value"]) for r in sunk) == pts
    assert marker.read_text().splitlines() == ["decode"]
