"""Ingestion parsers + relabel DSL tests (SURVEY.md §2.1, §2.10)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from victoriametrics_spark.streaming.parsers import (
    parse_csv_import,
    parse_graphite,
    parse_influx,
    parse_prometheus_text,
    parse_vm_jsonl,
    to_vm_jsonl,
)
from victoriametrics_spark.streaming.relabel import relabel


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_parse_graphite(spark):
    out = parse_graphite(
        _lines(
            spark,
            [
                "foo.bar;dc=east;host=h1 42.5 1700000000",
                "plain.metric 1 1700000001",
            ],
        )
    ).collect()
    by_name = {r["name"]: r for r in out}
    assert by_name["foo.bar"]["labels"] == {"dc": "east", "host": "h1"}
    assert by_name["foo.bar"]["value"] == 42.5
    assert by_name["foo.bar"]["ts"] == 1700000000000
    assert by_name["plain.metric"]["labels"] == {}


def test_parse_influx_multi_field(spark):
    out = parse_influx(
        _lines(spark, ["cpu,host=h1,dc=west usage=0.5,idle=99i 1700000000123456789"])
    ).collect()
    by_name = {r["name"]: r for r in out}
    assert set(by_name) == {"cpu_usage", "cpu_idle"}
    assert by_name["cpu_idle"]["value"] == 99.0
    assert by_name["cpu_usage"]["labels"] == {"host": "h1", "dc": "west"}
    assert by_name["cpu_usage"]["ts"] == 1700000000123


def test_parse_prometheus_text(spark):
    out = parse_prometheus_text(
        _lines(
            spark,
            [
                "# HELP http_requests_total count",
                "# TYPE http_requests_total counter",
                'http_requests_total{job="api",code="200"} 1027 1700000000000',
                "process_cpu_seconds 12.5",
                "",
            ],
        ),
        default_ts_ms=1700000099000,
    ).collect()
    by_name = {r["name"]: r for r in out}
    assert by_name["http_requests_total"]["labels"] == {"job": "api", "code": "200"}
    assert by_name["http_requests_total"]["value"] == 1027.0
    assert by_name["process_cpu_seconds"]["ts"] == 1700000099000


def test_vm_jsonl_round_trip(spark):
    line = (
        '{"metric":{"__name__":"m1","job":"j"},'
        '"values":[1.5,2.5],"timestamps":[1700000000000,1700000060000]}'
    )
    samples = parse_vm_jsonl(_lines(spark, [line]))
    rows = samples.orderBy("ts").collect()
    assert [r["value"] for r in rows] == [1.5, 2.5]
    assert rows[0]["labels"] == {"job": "j"}
    # export → re-import is identity
    back = parse_vm_jsonl(to_vm_jsonl(samples)).orderBy("ts").collect()
    assert [(r["name"], r["ts"], r["value"]) for r in back] == [
        ("m1", 1700000000000, 1.5),
        ("m1", 1700000060000, 2.5),
    ]


def test_parse_csv_import(spark):
    df = spark.createDataFrame(
        [("h1", 1.0, 2.0, 1700000000000)],
        "host string, temp double, hum double, ts long",
    )
    out = parse_csv_import(
        df,
        [(1, "label:host"), (2, "metric:temperature"), (3, "metric:humidity")],
        ts_col=4,
    ).collect()
    by_name = {r["name"]: r for r in out}
    assert by_name["temperature"]["value"] == 1.0
    assert by_name["humidity"]["labels"] == {"host": "h1"}


@pytest.fixture()
def sample_df(spark):
    return spark.createDataFrame(
        [
            ("up", {"job": "api", "instance": "h1:9090"}, 1700000000000, 1.0, False),
            ("up", {"job": "db", "instance": "h2:9090"}, 1700000000000, 0.0, False),
        ],
        "name string, labels map<string,string>, ts long, value double, is_stale boolean",
    )


def test_relabel_replace_and_keep(spark, sample_df):
    out = relabel(
        sample_df,
        [
            {"action": "keep", "source_labels": ["job"], "regex": "api"},
            {
                "action": "replace",
                "source_labels": ["instance"],
                "regex": "([^:]+):.*",
                "target_label": "host",
                "replacement": "$1",
            },
        ],
    ).collect()
    assert len(out) == 1
    assert out[0]["labels"]["host"] == "h1"


def test_relabel_hashmod_labeldrop(spark, sample_df):
    out = relabel(
        sample_df,
        [
            {
                "action": "hashmod",
                "source_labels": ["job"],
                "modulus": 4,
                "target_label": "shard",
            },
            {"action": "labeldrop", "regex": "instance"},
        ],
    ).collect()
    for r in out:
        assert "instance" not in r["labels"]
        assert int(r["labels"]["shard"]) in range(4)


def test_relabel_labelmap(spark, sample_df):
    out = relabel(
        sample_df,
        [
            {
                "action": "labelmap",
                "regex": "job",
                "replacement": "service",
            }
        ],
    ).collect()
    for r in out:
        assert r["labels"]["service"] == r["labels"]["job"]


def test_relabel_drop_metrics(spark, sample_df):
    renamed = relabel(
        sample_df,
        [
            {
                "action": "replace",
                "source_labels": ["job"],
                "target_label": "__name__",
                "regex": "(.+)",
                "replacement": "up_$1",
            }
        ],
    )
    out = relabel(renamed, [{"action": "drop_metrics", "regex": "up_db"}]).collect()
    assert [r["name"] for r in out] == ["up_api"]


# ---------------------------------------------------------------- streamaggr
from victoriametrics_spark.schema import SAMPLE_SCHEMA  # noqa: E402
from victoriametrics_spark.streaming.streamaggr import (  # noqa: E402
    StreamAggrConfig,
    aggregate_batch,
    aggregate_stream,
    dedup_samples,
)


@pytest.fixture(scope="module")
def sa_samples(spark):
    rows = []
    # two series, 2 windows of 100s; counter-ish values
    for i, ts in enumerate(range(0, 200_000, 25_000)):
        rows.append(("m", {"job": "a", "inst": "1"}, ts, float(10 * i), False))
        rows.append(("m", {"job": "a", "inst": "2"}, ts, float(100 + i), False))
    return spark.createDataFrame(rows, SAMPLE_SCHEMA)


def _by_name(df):
    out = {}
    for r in df.collect():
        key = (r["name"], tuple(sorted((r["labels"] or {}).items())), r["ts"])
        out[key] = r["value"]
    return out


def test_streamaggr_stateless_outputs(sa_samples):
    cfg = StreamAggrConfig(
        interval_ms=100_000,
        outputs=["sum_samples", "count_samples", "count_series", "last"],
        by=["job"],
    )
    got = _by_name(aggregate_batch(sa_samples, cfg))
    key = lambda o, ts: (f"m:100s_by_job_{o}", (("job", "a"),), ts)  # noqa: E731
    # window [0,100k): i=0..3 → series1: 0,10,20,30; series2: 100..103
    assert got[key("sum_samples", 100_000)] == 60.0 + 406.0
    assert got[key("count_samples", 100_000)] == 8.0
    assert got[key("count_series", 100_000)] == 2.0
    # last = max (ts, value): ts=75k → series2 value 103 > series1 30
    assert got[key("last", 100_000)] == 103.0


def test_streamaggr_counters(sa_samples):
    cfg = StreamAggrConfig(
        interval_ms=100_000,
        outputs=[
            "total",
            "increase",
            "total_prometheus",
            "increase_prometheus",
            "sum_samples_total",
        ],
        by=["job"],
    )
    got = _by_name(aggregate_batch(sa_samples, cfg))

    def k(o, ts):
        return (f"m:100s_by_job_{o}", (("job", "a"),), ts)

    # keep-first flavor (total.go:49-51): first samples count as increases
    # window1: firsts 0 + 100, deltas 3*10 + 3*1 → 133; window2: 44
    assert got[k("increase", 100_000)] == 133.0
    assert got[k("increase", 200_000)] == 44.0
    assert got[k("total", 200_000)] == 177.0
    # prometheus flavor: first samples ignored
    assert got[k("increase_prometheus", 100_000)] == 33.0
    assert got[k("increase_prometheus", 200_000)] == 44.0
    assert got[k("total_prometheus", 200_000)] == 77.0
    # cumulative sum of raw samples: s1 0..70 = 280, s2 100..107 = 828
    assert got[k("sum_samples_total", 200_000)] == 1108.0


def test_streamaggr_ignore_first_sample_interval(spark):
    rows = [
        # series x starts at stream start → warmup: first value ignored
        ("c", {"j": "x"}, 0, 50.0, False),
        ("c", {"j": "x"}, 10_000, 60.0, False),
        # series y appears after the warmup deadline → first value counts
        ("c", {"j": "y"}, 150_000, 7.0, False),
        ("c", {"j": "y"}, 160_000, 9.0, False),
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    cfg = StreamAggrConfig(
        interval_ms=400_000,
        outputs=["total"],
        ignore_first_sample_interval_ms=100_000,
    )
    got = {
        r["labels"]["j"]: r["value"] for r in aggregate_batch(df, cfg).collect()
    }
    # x: +10 delta only (first value fell in the warmup interval)
    assert got["x"] == 10.0
    # y appeared after the deadline: first value counts → 7 + 2
    assert got["y"] == 9.0


def test_streamaggr_quantiles_and_histogram(sa_samples):
    cfg = StreamAggrConfig(
        interval_ms=200_000,
        outputs=["quantiles", "histogram_bucket"],
        by=["job"],
        quantiles=[0.5],
    )
    out = aggregate_batch(sa_samples, cfg)
    names = {r["name"] for r in out.collect()}
    assert "m:200s_by_job_quantiles" in names
    assert "m:200s_by_job_histogram_bucket" in names
    q = [
        r
        for r in out.collect()
        if r["name"].endswith("quantiles") and r["labels"].get("quantile") == "0.5"
    ]
    assert len(q) == 1


def test_streamaggr_staleness_reset(spark):
    rows = [
        ("c", {"j": "x"}, 0, 10.0, False),
        ("c", {"j": "x"}, 10_000, 20.0, False),
        # 5-minute gap → state reset, the +80 delta must NOT count
        ("c", {"j": "x"}, 310_000, 100.0, False),
        ("c", {"j": "x"}, 320_000, 110.0, False),
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    cfg = StreamAggrConfig(
        interval_ms=400_000,
        outputs=["total", "total_prometheus"],
        staleness_interval_ms=120_000,
    )
    got = {r["name"]: r["value"] for r in aggregate_batch(df, cfg).collect()}
    # prometheus flavor: only strict deltas, gap delta dropped → 10 + 10
    assert got["c:400s_total_prometheus"] == 20.0
    # keep-first flavor: first value 10 counts; after the staleness reset
    # the reappearing sample acts as a new first (+100)
    assert got["c:400s_total"] == 10.0 + 10.0 + 100.0 + 10.0


def test_dedup_last_wins(spark):
    rows = [
        ("m", {"j": "x"}, 1_000, 5.0, False),
        ("m", {"j": "x"}, 9_000, 7.0, False),  # same 10s bucket → kept (last)
        ("m", {"j": "x"}, 9_000, 9.0, False),  # tie ts → max value wins
        ("m", {"j": "x"}, 12_000, 1.0, False),
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    out = dedup_samples(df, 10_000).collect()
    got = sorted((r["ts"], r["value"]) for r in out)
    assert got == [(9_000, 9.0), (12_000, 1.0)]


@pytest.mark.slow
def test_streamaggr_structured_streaming(spark, sa_samples, tmp_path):
    src = str(tmp_path / "stream_src")
    sa_samples.write.parquet(src)
    sdf = spark.readStream.schema(SAMPLE_SCHEMA).parquet(src)
    cfg = StreamAggrConfig(
        interval_ms=100_000, outputs=["sum_samples", "count_series"], by=["job"]
    )
    out = aggregate_stream(sdf, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("sa_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sa_test").collect()
    got = {(r["name"], r["ts"]): r["value"] for r in rows}
    assert got[("m:100s_by_job_sum_samples", 100_000)] == 466.0
    assert got[("m:100s_by_job_count_series", 200_000)] == 2.0


def test_streamaggr_stream_groups_on_the_canonical_key(spark, tmp_path):
    """``aggregate_stream`` keys its groups like ``aggregate_batch``:
    ``{a="1", b=""}`` and ``{a="1"}`` are one group, labels come back
    sorted by name with no empty values."""
    rows = [
        ("m", {"z": "2", "a": "1", "b": ""}, 10_000, 1.0, False),
        ("m", {"a": "1", "z": "2"}, 20_000, 2.0, False),
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    cfg = StreamAggrConfig(interval_ms=100_000, outputs=["sum_samples"])
    batch = aggregate_batch(df, cfg).collect()
    src = str(tmp_path / "stream_src")
    df.write.parquet(src)
    sdf = spark.readStream.schema(SAMPLE_SCHEMA).parquet(src)
    q = (
        aggregate_stream(sdf, cfg).writeStream.format("memory")
        .queryName("sa_key_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = spark.sql("select * from sa_key_test").collect()
    for out in (batch, stream):
        assert [(list(r["labels"].items()), r["value"]) for r in out] == [
            ([("a", "1"), ("z", "2")], 3.0)
        ]


# ---------------------------------------------------------------- round 3:
# remaining ingestion dialects
from victoriametrics_spark.streaming.parsers import (  # noqa: E402
    parse_datadog_v1,
    parse_datadog_v2,
    parse_newrelic,
    parse_opentsdb,
    parse_opentsdb_http,
    parse_otlp_json,
    parse_zabbix,
    samples_to_csv,
)


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], ["value"])


def _collect(df):
    return sorted(
        (r["name"], tuple(sorted((r["labels"] or {}).items())), r["ts"], r["value"])
        for r in df.collect()
    )


def test_parse_opentsdb_telnet(spark):
    out = _collect(
        parse_opentsdb(
            _lines(
                spark,
                [
                    "put sys.cpu.user 1704067200 42.5 host=web01 cpu=0",
                    "put sys.cpu.user 1704067260000 43.5 host=web01",
                    "version",  # non-put lines ignored
                ],
            )
        )
    )
    assert out == [
        ("sys.cpu.user", (("cpu", "0"), ("host", "web01")), 1704067200000, 42.5),
        ("sys.cpu.user", (("host", "web01"),), 1704067260000, 43.5),
    ]


def test_parse_opentsdb_http(spark):
    single = '{"metric":"m1","timestamp":1704067200,"value":7,"tags":{"h":"a"}}'
    arr = (
        '[{"metric":"m2","timestamp":1704067200,"value":1,"tags":{}},'
        '{"metric":"m3","timestamp":1704067201,"value":2,"tags":{"x":"y"}}]'
    )
    out = _collect(parse_opentsdb_http(_lines(spark, [single, arr])))
    assert [o[0] for o in out] == ["m1", "m2", "m3"]
    assert out[0] == ("m1", (("h", "a"),), 1704067200000, 7.0)


def test_parse_datadog_v1_v2(spark):
    v1 = (
        '{"series":[{"metric":"dd.m","points":[[1704067200,5],[1704067260,6]],'
        '"tags":["env:prod","dc:e"],"host":"h1"}]}'
    )
    out1 = _collect(parse_datadog_v1(_lines(spark, [v1])))
    assert out1 == [
        ("dd.m", (("dc", "e"), ("env", "prod"), ("host", "h1")), 1704067200000, 5.0),
        ("dd.m", (("dc", "e"), ("env", "prod"), ("host", "h1")), 1704067260000, 6.0),
    ]
    v2 = (
        '{"series":[{"metric":"dd2.m","points":[{"timestamp":1704067200,"value":9}],'
        '"tags":["env:dev"],"resources":[{"name":"h2","type":"host"}]}]}'
    )
    out2 = _collect(parse_datadog_v2(_lines(spark, [v2])))
    assert out2 == [
        ("dd2.m", (("env", "dev"), ("host", "h2")), 1704067200000, 9.0)
    ]


def test_parse_newrelic(spark):
    doc = (
        '[{"Events":[{"eventType":"SystemSample","timestamp":1704067200,'
        '"cpuPercent":1.5,"memoryUsedBytes":1024,"hostname":"web"}]}]'
    )
    out = _collect(parse_newrelic(_lines(spark, [doc])))
    # numeric fields keep their RAW names as metrics; every string
    # field (eventType included) is a label on each sample
    # (newrelic/parser.go:135-190 + request_handler.go:44-60)
    lbls = (("eventType", "SystemSample"), ("hostname", "web"))
    assert out == [
        ("cpuPercent", lbls, 1704067200000, 1.5),
        ("memoryUsedBytes", lbls, 1704067200000, 1024.0),
    ]


def test_parse_otlp_json(spark):
    doc = json.dumps(
        {
            "resourceMetrics": [
                {
                    "scopeMetrics": [
                        {
                            "metrics": [
                                {
                                    "name": "otlp.gauge",
                                    "gauge": {
                                        "dataPoints": [
                                            {
                                                "timeUnixNano": "1704067200000000000",
                                                "asDouble": 3.5,
                                                "attributes": [
                                                    {
                                                        "key": "svc",
                                                        "value": {"stringValue": "api"},
                                                    }
                                                ],
                                            }
                                        ]
                                    },
                                },
                                {
                                    "name": "otlp.sum",
                                    "sum": {
                                        "dataPoints": [
                                            {
                                                "timeUnixNano": "1704067201000000000",
                                                "asInt": "42",
                                                "attributes": [],
                                            }
                                        ]
                                    },
                                },
                            ]
                        }
                    ]
                }
            ]
        }
    )
    out = _collect(parse_otlp_json(_lines(spark, [doc])))
    assert out == [
        ("otlp.gauge", (("svc", "api"),), 1704067200000, 3.5),
        ("otlp.sum", (), 1704067201000, 42.0),
    ]


def test_parse_zabbix(spark):
    """Zabbix real-time-export connector lines
    (lib/protoparser/zabbixconnector/parser.go): host/hostname labels,
    tag_<k> labels from item_tags (empty tag/value skipped),
    ts = clock*1e3 + ns/1e6."""
    lines = [
        '{"host":{"host":"h1","name":"n1"},"item_tags":[],'
        '"itemid":1,"name":"zc_series","clock":1707123456,'
        '"ns":700000000,"value":10,"type":0}',
        '{"host":{"host":"h2","name":"n2"},'
        '"item_tags":[{"tag":"foo2","value":"value1"},'
        '{"tag":"empty","value":""}],'
        '"itemid":1,"name":"zc_series2","clock":1707123456,'
        '"ns":800000000,"value":20,"type":0}',
        '{"no_host": true}',
    ]
    out = _collect(parse_zabbix(_lines(spark, lines)))
    assert out == [
        ("zc_series", (("host", "h1"), ("hostname", "n1")), 1707123456700, 10.0),
        (
            "zc_series2",
            (("host", "h2"), ("hostname", "n2"), ("tag_foo2", "value1")),
            1707123456800,
            20.0,
        ),
    ]


def test_samples_to_csv(spark):
    df = spark.createDataFrame(
        [("m", {"a": "1"}, 1000, 2.0, False)], SAMPLE_SCHEMA
    )
    row = samples_to_csv(df).collect()[0]
    assert row["metric"] == "m" and row["timestamp_ms"] == 1000
    assert row["value"] == 2.0 and "a" in row["labels"]


import json  # noqa: E402


# ------------------------------------------------- remote-write protobuf
def test_snappy_round_trip_and_copies():
    from victoriametrics_spark.streaming.remotewrite import (
        snappy_compress,
        snappy_uncompress,
    )

    for payload in [b"", b"x", b"hello world" * 100, bytes(range(256)) * 300]:
        assert snappy_uncompress(snappy_compress(payload)) == payload
    # hand-built streams exercising every copy flavor (the literal-only
    # compressor never emits them). copy1 tag = off_hi<<5 | (len-4)<<2 | 1;
    # copy2 tag = (len-1)<<2 | 2; literal tag = (len-1)<<2.
    # "abcdabcdabcd": literal "abcd" + copy(len 8, off 4)
    stream = bytes([12, (4 - 1) << 2]) + b"abcd" + bytes([(8 - 4) << 2 | 1, 4])
    assert snappy_uncompress(stream) == b"abcdabcdabcd"
    # overlapping RLE copy: "aaaaaaaa" = literal 'a' + copy(len 7, off 1)
    rle = bytes([8, 0]) + b"a" + bytes([(7 - 4) << 2 | 1, 1])
    assert snappy_uncompress(rle) == b"aaaaaaaa"
    # 2-byte-offset copy: literal "abcd" + copy(len 4, off 4)
    s2 = bytes([8, (4 - 1) << 2]) + b"abcd" + bytes([(4 - 1) << 2 | 2, 4, 0])
    assert snappy_uncompress(s2) == b"abcdabcd"


def test_write_request_codec_round_trip():
    from victoriametrics_spark.streaming.remotewrite import (
        decode_write_request,
        encode_write_request,
    )

    series = [
        (
            {"__name__": "http_requests_total", "job": "api", "code": "200"},
            [(1704067200000, 1.0), (1704067215000, 4.5)],
        ),
        ({"__name__": "temp", "room": "x"}, [(1704067200000, -2.25)]),
    ]
    blob = encode_write_request(series)
    got = list(decode_write_request(blob))
    assert got == [
        ("http_requests_total", {"job": "api", "code": "200"}, 1704067200000, 1.0),
        ("http_requests_total", {"job": "api", "code": "200"}, 1704067215000, 4.5),
        ("temp", {"room": "x"}, 1704067200000, -2.25),
    ]


def test_remote_write_equals_text_ingest(spark):
    """lib/protoparser/promremotewrite parity: the same samples ingested
    via protobuf wire format and via text exposition must be
    indistinguishable downstream (rate() over both matches)."""
    from victoriametrics_spark import EvalConfig, evaluate
    from victoriametrics_spark.streaming.remotewrite import (
        encode_write_request,
        remote_write_to_samples,
    )

    t0 = 1704067200000
    pts = [(t0 + i * 15000, float(i * 3)) for i in range(40)]
    series = [({"__name__": "rw_metric", "job": "j"}, pts)]
    blob = encode_write_request(series)
    payloads = spark.createDataFrame([(blob,)], "payload binary")
    via_pb = remote_write_to_samples(payloads)

    text_lines = [f'rw_metric{{job="j"}} {v} {ts}' for ts, v in pts]
    from victoriametrics_spark.streaming.parsers import parse_prometheus_text

    via_text = parse_prometheus_text(
        spark.createDataFrame([(l,) for l in text_lines], "value string"), t0
    )

    cfg = EvalConfig(start=t0, end=t0 + 39 * 15000, step=60000)
    r_pb = evaluate(spark, "rate(rw_metric[2m])", via_pb, cfg).collect()
    r_text = evaluate(spark, "rate(rw_metric[2m])", via_text, cfg).collect()
    key = lambda r: (r["ts"],)
    assert sorted(r_pb, key=key) == sorted(r_text, key=key)
    assert len(r_pb) > 0


# --------------------------------------------- stateful streaming counters
def _stateful_fixture_rows():
    rows = []
    for i, ts in enumerate(range(0, 300_000, 25_000)):
        rows.append(("m", {"job": "a", "inst": "1"}, ts, float(10 * i), False))
        # series with a counter reset at i==6
        v = float(100 + i) if i < 6 else float(i - 6)
        rows.append(("m", {"job": "a", "inst": "2"}, ts, v, False))
    # a series that goes stale (gap > staleness) then comes back
    rows.append(("m", {"job": "b", "inst": "3"}, 0, 5.0, False))
    rows.append(("m", {"job": "b", "inst": "3"}, 280_000, 9.0, False))
    # a group with no samples after its first window: only the
    # event-time timeout can flush it before the replay ends
    rows.append(("m", {"job": "c", "inst": "4"}, 0, 1.0, False))
    rows.append(("m", {"job": "c", "inst": "4"}, 50_000, 4.0, False))
    return rows


_STATEFUL_CFG_KW = dict(
    interval_ms=100_000,
    outputs=[
        "total",
        "total_prometheus",
        "increase",
        "increase_prometheus",
        "sum_samples_total",
        "rate_sum",
        "rate_avg",
    ],
    by=["job"],
    staleness_interval_ms=200_000,
)


# event-time-ordered replay cuts, then one far-future sample of an
# unrelated series: it moves the watermark past every real window end
# (its own window never flushes, so it adds no output)
_REPLAY_CUTS = [(0, 100_000), (100_000, 200_000), (200_000, 300_000)]
_SENTINEL = [("__wm__", {}, 10_000_000, 0.0, False)]


def _write_replay_file(spark, src, k, rows):
    """One parquet file per micro-batch; the mtime fixes replay order."""
    import os

    tmp = f"{src}_tmp/{k}"
    spark.createDataFrame(rows, SAMPLE_SCHEMA).coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(src, f"{k:03d}.parquet")
    os.replace(os.path.join(tmp, part), dst)
    os.utime(dst, (k + 1, k + 1))


def _cut_rows(rows, lo, hi):
    return [r for r in rows if lo <= r[2] < hi]


def _pandas_state_stream(spark, src, cfg):
    from victoriametrics_spark.streaming.streamaggr import (
        aggregate_stream_pandas_state,
    )

    sdf = (
        spark.readStream.schema(SAMPLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return aggregate_stream_pandas_state(sdf, cfg).writeStream.outputMode(
        "append"
    )


def _assert_equal_outputs(got, want):
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_streamaggr_pandas_state_replay_equals_batch(spark, tmp_path):
    """applyInPandasWithState counters (aggregate_stream_pandas_state)
    replayed over a file source in event-time-ordered micro-batches must
    reproduce aggregate_batch exactly: counter resets, staleness reset,
    cross-window running totals. Group c gets no samples after its first
    window, so only its event-time timeout can flush it — that must
    happen as the watermark passes, before the sentinel ends the
    replay."""
    import os

    rows = _stateful_fixture_rows()
    cfg = StreamAggrConfig(**_STATEFUL_CFG_KW)
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    want = _by_name(aggregate_batch(df, cfg))

    src = str(tmp_path / "sa_pds_src")
    os.makedirs(src)
    for k, (lo, hi) in enumerate(_REPLAY_CUTS):
        _write_replay_file(spark, src, k, _cut_rows(rows, lo, hi))
    q = (
        _pandas_state_stream(spark, src, cfg)
        .format("memory")
        .queryName("sa_pds")
        .option("checkpointLocation", str(tmp_path / "sa_pds_chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # the watermark is now 200s: the idle group's window flushed
        # on its timeout, without a later sample of group c
        early = _by_name(spark.sql("select * from sa_pds"))
        idle = {k: v for k, v in want.items() if dict(k[1]) == {"job": "c"}}
        assert idle and {k[2] for k in idle} == {100_000}
        assert {k: early.get(k) for k in idle} == idle

        _write_replay_file(spark, src, len(_REPLAY_CUTS), _SENTINEL)
        q.processAllAvailable()
    finally:
        q.stop()
    _assert_equal_outputs(_by_name(spark.sql("select * from sa_pds")), want)


def test_streamaggr_pandas_state_split_scrape_equals_batch(spark, tmp_path):
    """A scrape split across micro-batches still counts in full. The
    second batch repeats the first batch's newest timestamp (scrape-
    aligned samples of other series) and also carries samples OLDER
    than it, inside the same still-open window. Neither is late, so
    the replay equals aggregate_batch."""
    import os

    def scrape(insts, ts, k):
        return [
            ("m", {"job": "a", "inst": str(n)}, ts, float(10 * k + n), False)
            for n in insts
        ]

    batches = [
        scrape((1, 2), 20_000, 0) + scrape((1, 2), 70_000, 1),
        scrape((3, 4), 20_000, 0) + scrape((3, 4), 70_000, 1),
        scrape((1, 2, 3, 4), 120_000, 2) + scrape((1, 2, 3, 4), 170_000, 3),
        _SENTINEL,
    ]
    cfg = StreamAggrConfig(**_STATEFUL_CFG_KW)
    want = _by_name(
        aggregate_batch(
            spark.createDataFrame(
                [r for b in batches[:-1] for r in b], SAMPLE_SCHEMA
            ),
            cfg,
        )
    )

    src = str(tmp_path / "sa_split_src")
    os.makedirs(src)
    _write_replay_file(spark, src, 0, batches[0])
    q = (
        _pandas_state_stream(spark, src, cfg)
        .format("memory")
        .queryName("sa_split")
        .option("checkpointLocation", str(tmp_path / "sa_split_chk"))
        .start()
    )
    try:
        # files arrive one at a time, so the watermark advances (in a
        # no-data batch) before the next part of the scrape lands
        q.processAllAvailable()
        for k, b in enumerate(batches[1:], start=1):
            _write_replay_file(spark, src, k, b)
            q.processAllAvailable()
    finally:
        q.stop()
    _assert_equal_outputs(_by_name(spark.sql("select * from sa_split")), want)


def test_streamaggr_pandas_state_restart_from_checkpoint(spark, tmp_path):
    """Stop the stateful engine after its first micro-batch and restart
    it from the same checkpoint on the remaining files: the per-series
    counters, open windows and running totals come back from the state
    store, so the combined output still equals aggregate_batch."""
    import os

    rows = _stateful_fixture_rows()
    cfg = StreamAggrConfig(**_STATEFUL_CFG_KW)
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    want = _by_name(aggregate_batch(df, cfg))

    src = str(tmp_path / "sa_restart_src")
    sink = str(tmp_path / "sa_restart_out")
    chk = str(tmp_path / "sa_restart_chk")
    os.makedirs(src)
    batches = [_cut_rows(rows, lo, hi) for lo, hi in _REPLAY_CUTS] + [_SENTINEL]

    def run():
        q = (
            _pandas_state_stream(spark, src, cfg)
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_replay_file(spark, src, 0, batches[0])
    run()
    # nothing can flush yet: every window is still open in the state
    assert _by_name(spark.read.parquet(sink)) == {}
    for k, b in enumerate(batches[1:], start=1):
        _write_replay_file(spark, src, k, b)
    run()
    _assert_equal_outputs(_by_name(spark.read.parquet(sink)), want)


# -------------------------------------------------------- log ingestion
def test_parse_jsonline(spark):
    from victoriametrics_spark.streaming.logparsers import (
        parse_jsonline,
        project_fields,
    )

    lines = spark.createDataFrame(
        [
            ('{"_time":"2024-01-01T00:00:05Z","_msg":"boot ok","host":"a","level":"info"}',),
            ('{"_time":"1704067205","_msg":"num-ts","host":"b"}',),
            ('{"_time":"1704067205123","_msg":"ms-ts","host":"c"}',),
            ("not json",),
        ],
        ["value"],
    )
    out = parse_jsonline(lines)
    rows = {r["_msg"]: r for r in out.collect()}
    assert len(rows) == 3
    from datetime import datetime

    assert rows["boot ok"]["_time"] == datetime(2024, 1, 1, 0, 0, 5)
    assert rows["boot ok"]["fields"] == {"host": "a", "level": "info"}
    assert rows["num-ts"]["_time"] == datetime(2024, 1, 1, 0, 0, 5)
    assert rows["ms-ts"]["_time"].microsecond == 123000

    proj = project_fields(out, ["host"])
    assert proj.columns == ["_time", "_msg", "host", "fields"]
    # end-to-end: textual LogsQL over ingested lines
    from victoriametrics_spark.logsql.parser import run_logsql

    n = run_logsql(proj, 'host:in("a", "b") | stats count() as n').collect()[0]["n"]
    assert n == 2


def test_parse_elasticsearch_bulk(spark):
    from victoriametrics_spark.streaming.logparsers import parse_elasticsearch_bulk

    lines = spark.createDataFrame(
        [
            ('{"create":{"_index":"logs"}}',),
            ('{"@timestamp":"2024-01-02T10:00:00Z","message":"req done","status":"200"}',),
            ('{"create":{}}',),
            ('{"@timestamp":"2024-01-02T10:00:01Z","message":"req fail","status":"500"}',),
        ],
        ["value"],
    )
    out = parse_elasticsearch_bulk(lines).collect()
    assert len(out) == 2
    by_msg = {r["_msg"]: r for r in out}
    assert by_msg["req done"]["fields"]["status"] == "200"
    assert by_msg["req fail"]["_time"].second == 1


def test_parse_loki_push(spark):
    from victoriametrics_spark.streaming.logparsers import parse_loki_push

    body = (
        '{"streams":[{"stream":{"app":"web","env":"prod"},'
        '"values":[["1704067200000000000","GET /"],["1704067201000000000","POST /x"]]},'
        '{"stream":{"app":"db"},"values":[["1704067202000000000","SELECT 1"]]}]}'
    )
    docs = spark.createDataFrame([(body,)], ["value"])
    out = parse_loki_push(docs).collect()
    assert len(out) == 3
    by_msg = {r["_msg"]: r for r in out}
    assert by_msg["GET /"]["fields"] == {"app": "web", "env": "prod"}
    assert by_msg["SELECT 1"]["fields"] == {"app": "db"}
    from datetime import datetime

    assert by_msg["POST /x"]["_time"] == datetime(2024, 1, 1, 0, 0, 1)


def test_relabel_if_condition(spark, sample_df):
    """`if` series selector (lib/promrelabel/relabel.go:163-171):
    mismatch drops the row only for action=keep, is a no-op for
    transforms; keep/drop + `if` without regex are pure filters."""
    # drop with `if` and no regex: pure selector filter
    out = relabel(sample_df, [{"action": "drop", "if": '{job="db"}'}]).collect()
    assert [r["labels"]["job"] for r in out] == ["api"]
    # keep with `if`: rows not matching the selector are dropped
    out = relabel(sample_df, [{"action": "keep", "if": 'up{job=~"a.+"}'}]).collect()
    assert [r["labels"]["job"] for r in out] == ["api"]
    # `if` list ORs selectors
    out = relabel(
        sample_df, [{"action": "keep", "if": ['{job="db"}', '{job="api"}']}]
    ).collect()
    assert len(out) == 2
    # transform gated on `if`: only the matching row is rewritten
    out = relabel(
        sample_df,
        [{"if": '{job="api"}', "target_label": "tier", "replacement": "front"}],
    ).collect()
    got = {r["labels"]["job"]: r["labels"].get("tier") for r in out}
    assert got == {"api": "front", "db": None}
    # filter action other than keep/drop is a no-op on `if` mismatch
    out = relabel(
        sample_df,
        [
            {
                "action": "keep_if_equal",
                "source_labels": ["job", "instance"],
                "if": '{job="api"}',
            }
        ],
    ).collect()
    # api row: job != instance -> dropped; db row: `if` mismatch -> kept
    assert [r["labels"]["job"] for r in out] == ["db"]


def test_relabel_equal_and_contains_actions(spark):
    df = spark.createDataFrame(
        [
            ("m", {"a": "x", "b": "x", "tags": "x,y,z"}, 0, 1.0, False),
            ("m", {"a": "x", "b": "y", "tags": "x"}, 0, 2.0, False),
        ],
        "name string, labels map<string,string>, ts long, value double, is_stale boolean",
    )
    # keepequal keeps on concat(source)==target (relabel.go:309-318)
    out = relabel(
        df, [{"action": "keepequal", "source_labels": ["a"], "target_label": "b"}]
    ).collect()
    assert [r["value"] for r in out] == [1.0]
    out = relabel(
        df, [{"action": "dropequal", "source_labels": ["a"], "target_label": "b"}]
    ).collect()
    assert [r["value"] for r in out] == [2.0]
    # keep_if_contains: target value must contain every source value
    out = relabel(
        df,
        [
            {
                "action": "keep_if_contains",
                "target_label": "tags",
                "source_labels": ["a", "b"],
            }
        ],
    ).collect()
    assert [r["value"] for r in out] == [1.0]
    out = relabel(
        df,
        [
            {
                "action": "drop_if_contains",
                "target_label": "tags",
                "source_labels": ["a", "b"],
            }
        ],
    ).collect()
    assert [r["value"] for r in out] == [2.0]


def test_relabel_labelmap_all_and_graphite(spark):
    df = spark.createDataFrame(
        [
            (
                "foo.bar.counter",
                {"dc.region.env": "eu", "x": "1"},
                0,
                1.0,
                False,
            )
        ],
        "name string, labels map<string,string>, ts long, value double, is_stale boolean",
    )
    # labelmap_all rewrites every regex occurrence in label NAMES
    out = relabel(
        df, [{"action": "labelmap_all", "regex": r"\.", "replacement": "_"}]
    ).collect()
    assert sorted(out[0]["labels"]) == ["dc_region_env", "x"]
    # graphite match template -> labels (relabel.go:174-193)
    out = relabel(
        df,
        [
            {
                "action": "graphite",
                "match": "*.*.counter",
                "labels": {"__name__": "${2}_total", "job": "$1"},
            }
        ],
    ).collect()
    assert out[0]["name"] == "bar_total"
    assert out[0]["labels"]["job"] == "foo"
    # non-matching name: rule is a no-op
    df2 = df.withColumn("name", F.lit("nomatch"))
    out = relabel(
        df2,
        [
            {
                "action": "graphite",
                "match": "*.*.counter",
                "labels": {"job": "$1"},
            }
        ],
    ).collect()
    assert out[0]["name"] == "nomatch" and "job" not in out[0]["labels"]


def test_relabel_label_references_in_replacement(spark, sample_df):
    """{{labelName}} references fill from the row before regex
    expansion (relabel.go fillLabelReferences)."""
    out = relabel(
        sample_df,
        [
            {
                "target_label": "combo",
                "replacement": "{{job}}@{{instance}}",
            }
        ],
    ).collect()
    got = sorted(r["labels"]["combo"] for r in out)
    assert got == ["api@h1:9090", "db@h2:9090"]


def test_sessionize_window_streaming(spark, tmp_path):
    """The same sessionize_window call runs as a Structured Streaming
    aggregation: closed sessions emit in append mode once the
    watermark passes session end + gap; the open sentinel session
    stays in state (not emitted)."""
    from datetime import datetime, timezone

    from victoriametrics_spark.operators.events import sessionize_window

    def ts(m):
        return datetime.fromtimestamp(m * 60, tz=timezone.utc)

    rows = [
        (1, 1, ts(0)), (2, 1, ts(10)),       # session 1 of user 1
        (3, 1, ts(120)),                      # session 2 of user 1
        (4, 2, ts(5)),                        # session 1 of user 2
        # watermark pusher far in the future: closes everything above,
        # itself stays an OPEN session in state
        (5, 1, ts(10_000)), (6, 2, ts(10_000)),
    ]
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    ).write.parquet(src)
    sdf = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp"
    ).parquet(src)
    out = sessionize_window(sdf, gap_ms=30 * 60000, watermark_ms=0)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_chk"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["start_ms"] // 60000, r["n_events"])
        for r in spark.sql("select * from sess_win").collect()
    }
    assert got == {(1, 0, 2), (1, 120, 1), (2, 5, 1)}


def test_pipeline_ops_run_on_streams(spark, tmp_path):
    """The map-only corpus operators are streaming-ready as-is: the
    same c4_clean / quality_score / temperature-style md5 filter
    column expressions run unchanged on a readStream frame (pure
    Project — no aggregation, no state)."""
    from victoriametrics_spark.operators.text import (
        c4_clean,
        quality_score,
        stratified_sample,
    )

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [
            (1, "This is a long enough sentence with several words in it.", "en"),
            (2, "short", "en"),
            (3, "Une phrase assez longue pour le test aussi voila bien.", "fr"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(src)
    sdf = spark.readStream.schema(
        "doc_id long, text string, lang string"
    ).parquet(src)

    outs = {
        "clean": c4_clean(sdf),
        "quality": quality_score(sdf),
        "sampled": stratified_sample(sdf, {"en": 1.0, "fr": 0.0}),
    }
    for name, out in outs.items():
        assert out.isStreaming, name
        q = (
            out.writeStream.format("memory")
            .queryName(f"ops_{name}")
            .outputMode("append")
            .option(
                "checkpointLocation", str(tmp_path / f"chk_{name}")
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
    assert spark.sql("select * from ops_clean").count() == 3
    assert spark.sql("select * from ops_quality").count() == 3
    # fr rate 0.0 drops doc 3; en rate 1.0 keeps both
    assert sorted(
        r["doc_id"] for r in spark.sql("select * from ops_sampled").collect()
    ) == [1, 2]
