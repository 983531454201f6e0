"""Protocol edge tests: snappy codec, prompb wire codec, framed files,
exposition parser (golden fixture from ``cmd/promload/exporter_test.go``),
HTTP read/write over a storage, promload copy."""

import io
import math
import struct

import pytest
from hypothesis import given, settings, strategies as st

from promhouse_spark.edge import framed, prompb, snappy_codec
from promhouse_spark.edge.exposition import parse_exposition, render_exposition
from promhouse_spark.models import (
    Label,
    Matcher,
    MatchType,
    Query,
    Sample,
    TimeSeries,
    make_matchers,
)
from promhouse_spark.storage.memory import MemoryStorage
from tests.fixtures import T0, get_data, normalize


# ------------------------------------------------------------------- snappy


@given(st.binary(max_size=5000))
@settings(max_examples=300, deadline=None)
def test_snappy_roundtrip(data):
    assert snappy_codec.decompress(snappy_codec.compress(data)) == data


def test_snappy_decodes_copies():
    # hand-built stream with a copy element: "abcdabcd"
    # varint(8), literal len4 "abcd", copy-1 len4 offset4
    stream = bytes([8, (4 - 1) << 2]) + b"abcd" + bytes([(0 << 5) | ((4 - 4) << 2) | 1, 4])
    assert snappy_codec.decompress(stream) == b"abcdabcd"


def test_snappy_overlapping_copy():
    # "ab" then copy len 6 offset 2 → "abababab" (RLE-style overlap)
    stream = bytes([8, (2 - 1) << 2]) + b"ab" + bytes([((6 - 4) << 2) | 1, 2])
    assert snappy_codec.decompress(stream) == b"abababab"


def test_snappy_rejects_garbage():
    with pytest.raises(ValueError):
        snappy_codec.decompress(b"\x05\xff")  # truncated
    with pytest.raises(ValueError):
        snappy_codec.decompress(bytes([4, 1, 9]))  # copy offset beyond output


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _copy2_stream(n_copies: int) -> tuple[bytes, bytes]:
    """The densest legal snappy elements: a 1-byte literal, then COPY-2
    elements of 64 bytes each at offset 1. Returns (elements, decoded)."""
    elements = bytes([0, ord("x")]) + bytes([0x02 | (63 << 2), 1, 0]) * n_copies
    return elements, b"x" * (1 + 64 * n_copies)


def _bound(elements: bytes) -> int:
    return 64 * len(elements) // 3


def test_snappy_preamble_past_bound_rejected():
    elements, _ = _copy2_stream(5)
    # the claim is refused before anything is allocated
    with pytest.raises(ValueError, match="preamble"):
        snappy_codec.decompress(_uvarint(_bound(elements) + 1) + elements)
    # a 10-byte body claiming 4 GiB
    with pytest.raises(ValueError, match="preamble"):
        snappy_codec.decompress(_uvarint(2**32 - 1) + b"\x00" * 5)


def test_snappy_copy2_stream_decodes_at_bound():
    for n in (1, 5, 1000):
        elements, decoded = _copy2_stream(n)
        assert snappy_codec.decompress(_uvarint(len(decoded)) + elements) == decoded
        # the literal costs 2 bytes for 1, so the densest legal stream sits
        # just under the bound; a claim AT the bound passes the check and is
        # then refused by the decoder for its length, still as ValueError
        assert 0 <= _bound(elements) - len(decoded) < 43
        with pytest.raises(ValueError, match="snappy: (?!preamble)"):
            snappy_codec.decompress(_uvarint(_bound(elements)) + elements)


@pytest.mark.parametrize(
    "body",
    [
        _uvarint(2**31) + b"\x00" * 8,  # oversized claim
        snappy_codec.compress(b"\x0a\x02hi" * 50)[:-3],  # truncated elements
        _uvarint(8) + bytes([(4 - 1) << 2]) + b"abcd" + bytes([0x01, 9]),  # bad offset
    ],
    ids=["oversized", "truncated", "bad-offset"],
)
def test_http_bad_snappy_is_400(client, body):
    assert client.post("/write", data=body).status_code == 400
    assert client.post("/read", data=body).status_code == 400


# ------------------------------------------------------------------- prompb


def test_prompb_write_request_roundtrip():
    data = get_data()
    buf = prompb.encode_write_request(data)
    back = prompb.decode_write_request(buf)
    assert normalize(back) == normalize(data)


def test_prompb_read_request_roundtrip():
    queries = [
        Query(T0 - 1000, T0 + 1000, make_matchers(("__name__", "=", "up"), ("job", "!~", "a|b"))),
        Query(0, 0, ()),
    ]
    back = prompb.decode_read_request(prompb.encode_read_request(queries))
    assert [q for q, _ in back] == queries
    assert all(h is None for _, h in back)


def test_prompb_read_response_roundtrip():
    results = [get_data(), []]
    back = prompb.decode_read_response(prompb.encode_read_response(results))
    assert len(back) == 2 and back[1] == []
    assert normalize(back[0]) == normalize(get_data())


def test_prompb_special_values():
    ts = TimeSeries(
        labels=[Label("__name__", "weird"), Label("u", "🆗")],
        samples=[
            Sample(value=math.nan, timestamp_ms=-5),
            Sample(value=math.inf, timestamp_ms=0),
            Sample(value=0.0, timestamp_ms=T0),
        ],
    )
    back = prompb.decode_timeseries(prompb.encode_timeseries(ts))
    assert math.isnan(back.samples[0].value) and back.samples[0].timestamp_ms == -5
    assert back.samples[1].value == math.inf
    assert back.samples[2].value == 0.0 and back.samples[2].timestamp_ms == T0
    assert back.labels_map()["u"] == "🆗"


def test_prompb_skips_unknown_fields():
    # append an unknown field (field 9, varint) to a valid Label message
    buf = prompb.encode_label(Label("a", "b")) + bytes([9 << 3]) + bytes([42])
    assert prompb.decode_label(buf) == Label("a", "b")


@given(
    st.lists(
        st.tuples(st.text(max_size=10), st.text(max_size=10)), max_size=5
    ),
    st.lists(
        st.tuples(
            st.floats(allow_nan=False), st.integers(-(2**62), 2**62)
        ),
        max_size=5,
    ),
)
@settings(max_examples=200, deadline=None)
def test_prompb_timeseries_property(label_pairs, sample_pairs):
    ts = TimeSeries(
        labels=[Label(n, v) for n, v in label_pairs],
        samples=[Sample(value=v, timestamp_ms=t) for v, t in sample_pairs],
    )
    back = prompb.decode_timeseries(prompb.encode_timeseries(ts))
    assert back.labels == ts.labels
    assert back.samples == ts.samples


# ------------------------------------------------------------------- framed


def test_framed_roundtrip(tmp_path):
    path = tmp_path / "dump.bin"
    with open(path, "wb") as f:
        assert framed.write_frames(f, get_data()) == 3
    with open(path, "rb") as f:
        back = list(framed.read_frames(f))
    assert normalize(back) == normalize(get_data())


def test_framed_truncation_detected(tmp_path):
    path = tmp_path / "trunc.bin"
    with open(path, "wb") as f:
        framed.write_frames(f, get_data())
    raw = path.read_bytes()
    with pytest.raises(ValueError):
        list(framed.read_frames(io.BytesIO(raw[:-3])))
    # claim a frame bigger than the file
    bad = struct.pack(">I", 10_000) + b"xx"
    with pytest.raises(ValueError):
        list(framed.read_frames(io.BytesIO(bad)))


# --------------------------------------------------------------- exposition


GOLDEN_TEXT = """\
# HELP go_goroutines Number of goroutines that currently exist.
# TYPE go_goroutines gauge
go_goroutines 38
# HELP go_info Information about the Go environment.
# TYPE go_info gauge
go_info{version="go1.9.2"} 1
"""


def test_exposition_golden():
    """Golden fixture from cmd/promload/exporter_test.go:29-64."""
    series = list(parse_exposition(GOLDEN_TEXT, default_timestamp_ms=T0))
    assert len(series) == 2
    assert series[0].labels_map() == {"__name__": "go_goroutines"}
    assert series[0].samples == [Sample(value=38.0, timestamp_ms=T0)]
    assert series[1].labels_map() == {"__name__": "go_info", "version": "go1.9.2"}
    assert series[1].samples[0].value == 1.0


def test_exposition_escapes_and_specials():
    text = 'm{l="a\\"b\\\\c\\nd"} NaN 123\nm2 +Inf\nm3 -1.5e3 -7\n'
    series = list(parse_exposition(text))
    assert series[0].labels_map()["l"] == 'a"b\\c\nd'
    assert math.isnan(series[0].samples[0].value)
    assert series[0].samples[0].timestamp_ms == 123
    assert series[1].samples[0].value == math.inf
    assert series[2].samples == [Sample(value=-1500.0, timestamp_ms=-7)]


def test_exposition_render_parse_roundtrip():
    from promhouse_spark.edge.exposition import merge_series

    series = get_data()
    back = merge_series(parse_exposition(render_exposition(series)))
    assert normalize(back) == normalize(series)


# --------------------------------------------------------------------- HTTP


@pytest.fixture()
def client():
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge.http import create_app

    storage = MemoryStorage()
    app = create_app(storage)
    app.testing = True
    return app.test_client()


def test_http_write_then_read(client):
    body = snappy_codec.compress(prompb.encode_write_request(get_data()))
    assert client.post("/write", data=body).status_code == 200

    rq = snappy_codec.compress(
        prompb.encode_read_request(
            [Query(T0 - 60_000, T0 + 60_000, make_matchers(("__name__", "=", "http_requests_total")))]
        )
    )
    resp = client.post("/read", data=rq)
    assert resp.status_code == 200
    assert resp.headers["Content-Encoding"] == "snappy"
    results = prompb.decode_read_response(snappy_codec.decompress(resp.data))
    assert len(results) == 1 and len(results[0]) == 3
    assert normalize(results[0]) == normalize(get_data())

    metrics = client.get("/metrics-lite").get_json()
    assert metrics["written_samples"] == 15 and metrics["read_queries"] == 1


def test_http_prometheus_metrics_scrapeable(client):
    """/metrics renders the server counters in exposition format (reference:
    every storage is a prometheus.Collector, base.go:39) — a Prometheus
    scrape of our own server round-trips through parse_exposition."""
    body = snappy_codec.compress(prompb.encode_write_request(get_data()))
    assert client.post("/write", data=body).status_code == 200

    resp = client.get("/metrics")
    assert resp.status_code == 200
    assert resp.mimetype == "text/plain"
    scraped = {
        ts.labels_map()["__name__"]: ts.samples[0].value
        for ts in parse_exposition(resp.get_data(as_text=True))
    }
    assert scraped["promhouse_spark_written_samples"] == 15.0
    assert scraped["promhouse_spark_written_time_series"] == 3.0
    assert scraped["promhouse_spark_read_queries"] == 0.0


def test_http_bad_payload_is_400(client):
    assert client.post("/write", data=b"\xff\xff\xff").status_code == 400
    assert client.post("/read", data=b"junk").status_code == 400


# ----------------------------------------------------------------- promload


def test_promload_file_to_file(tmp_path):
    import argparse

    from promhouse_spark.edge.promload import copy

    src, dst = tmp_path / "a.bin", tmp_path / "b.bin"
    with open(src, "wb") as f:
        framed.write_frames(f, get_data())
    args = argparse.Namespace(step_ms=60_000, last_ms=10**9)
    n = copy(f"file:{src}", f"file:{dst}", args)
    assert n == 3
    with open(dst, "rb") as f:
        assert normalize(list(framed.read_frames(f))) == normalize(get_data())


def test_promload_file_to_null(tmp_path):
    import argparse

    from promhouse_spark.edge.promload import copy

    src = tmp_path / "a.bin"
    with open(src, "wb") as f:
        framed.write_frames(f, get_data())
    assert copy(f"file:{src}", "null:", argparse.Namespace(step_ms=1, last_ms=1)) == 3


def test_http_bad_matcher_regex_is_400(client):
    rq = snappy_codec.compress(
        prompb.encode_read_request(
            [Query(0, 10, (Matcher("__name__", MatchType.RE, "(unclosed"),))]
        )
    )
    resp = client.post("/read", data=rq)
    assert resp.status_code == 400
    assert b"invalid matcher regex" in resp.data


@given(st.binary(max_size=300))
@settings(max_examples=150, deadline=None)
def test_http_never_500_on_garbage(garbage):
    """Fuzz both endpoints: arbitrary bytes must produce 200/400, never an
    unhandled 500."""
    from promhouse_spark.edge.http import create_app

    app = create_app(MemoryStorage())
    app.testing = False  # let flask convert exceptions to 500 so we can detect them
    c = app.test_client()
    for path in ("/write", "/read"):
        status = c.post(path, data=garbage).status_code
        assert status in (200, 400), f"{path} returned {status} for {garbage!r}"


def _serve_metrics(text: str, delay_s: float = 0.0):
    """Live /metrics server counting requests; returns (httpd, port, counter)."""
    import threading
    import time as _time
    import wsgiref.simple_server

    counter = {"n": 0}

    def app(environ, start_response):
        counter["n"] += 1
        if delay_s:
            _time.sleep(delay_s)
        start_response("200 OK", [("Content-Type", "text/plain")])
        return [text.encode()]

    class _Quiet(wsgiref.simple_server.WSGIRequestHandler):
        def log_message(self, *a):
            pass

    httpd = wsgiref.simple_server.make_server("127.0.0.1", 0, app, handler_class=_Quiet)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, httpd.server_address[1], counter


def test_promload_exporter_replay_windows(tmp_path):
    """S10 replay loop: >=3 step windows from a live exporter, every sample
    restamped to its window start (exporter.go:188-241)."""
    import argparse

    from promhouse_spark.edge.promload import copy

    text = "up 1\nhttp_requests_total 10\n"
    httpd, port, counter = _serve_metrics(text)
    try:
        dst = tmp_path / "replay.bin"
        n = copy(
            f"exporter:http://127.0.0.1:{port}/metrics",
            f"file:{dst}",
            argparse.Namespace(
                step_ms=1000, start_ms=1_000_000, end_ms=1_003_000, cache=False
            ),
        )
        assert n == 6  # 3 windows x 2 series
        with open(dst, "rb") as f:
            series = list(framed.read_frames(f))
        stamps = sorted({s.timestamp_ms for ts in series for s in ts.samples})
        assert stamps == [1_000_000, 1_001_000, 1_002_000]
        ups = [ts for ts in series if ts.labels_map()["__name__"] == "up"]
        assert len(ups) == 3 and all(t.samples[0].value == 1.0 for t in ups)
        # non-cache mode blocks for a fresh scrape per window (exporter.go:238)
        assert counter["n"] >= 3
    finally:
        httpd.shutdown()


def test_promload_exporter_replay_cache_slow_upstream(tmp_path):
    """--cache: a slow upstream never stalls the walk — the last scrape is
    replayed (exporter.go:229-237), so far fewer scrapes than windows."""
    import argparse
    import time as _time

    from promhouse_spark.edge.promload import copy

    httpd, port, counter = _serve_metrics("up 1\n", delay_s=0.5)
    try:
        dst = tmp_path / "cached.bin"
        t0 = _time.monotonic()
        n = copy(
            f"exporter:http://127.0.0.1:{port}/metrics",
            f"file:{dst}",
            argparse.Namespace(
                step_ms=100, start_ms=2_000_000, end_ms=2_001_000, cache=True
            ),
        )
        elapsed = _time.monotonic() - t0
        assert n == 10  # every window emitted despite the 0.5 s/scrape upstream
        with open(dst, "rb") as f:
            series = list(framed.read_frames(f))
        stamps = sorted(ts.samples[0].timestamp_ms for ts in series)
        assert stamps == [2_000_000 + 100 * i for i in range(10)]
        # 10 fresh scrapes would take >= 5 s; the cached walk needs ~1
        assert counter["n"] <= 4, f"cache mode scraped {counter['n']} times"
        assert elapsed < 4.0
    finally:
        httpd.shutdown()


def test_promload_exporter_source_live(tmp_path):
    """S10 end-to-end: scrape a live /metrics endpoint (real HTTP server)
    through promload's exporter source into a framed file."""
    import argparse
    import threading
    import wsgiref.simple_server

    from promhouse_spark.edge.promload import copy

    text = (
        "# HELP up Whether the target is up.\n"
        "# TYPE up gauge\n"
        "up 1\n"
        'http_requests_total{code="200"} 1027\n'
    )

    def app(environ, start_response):
        start_response("200 OK", [("Content-Type", "text/plain")])
        return [text.encode()]

    httpd = wsgiref.simple_server.make_server("127.0.0.1", 0, app)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        dst = tmp_path / "scrape.bin"
        n = copy(
            f"exporter:http://127.0.0.1:{port}/metrics",
            f"file:{dst}",
            argparse.Namespace(step_ms=1, last_ms=1),
        )
        assert n == 2
        with open(dst, "rb") as f:
            series = list(framed.read_frames(f))
        by_name = {ts.labels_map()["__name__"]: ts for ts in series}
        assert by_name["up"].samples[0].value == 1.0
        assert by_name["http_requests_total"].labels_map()["code"] == "200"
        assert by_name["http_requests_total"].samples[0].value == 1027.0
        # reader restamped the scrape with a real timestamp
        assert by_name["up"].samples[0].timestamp_ms > 1_600_000_000_000
    finally:
        httpd.shutdown()


def test_repr_renderers():
    """X7: debug renderers (base.go:49-51, 62-75, 84-98 shapes)."""
    m = Matcher("job", MatchType.RE, "a.+")
    assert repr(m) == '{job=~"a.+"}'
    q = Query(5, 9, (m, Matcher("x", MatchType.NEQ, "y")))
    assert repr(q) == '[5,9,[{job=~"a.+"},{x!="y"}]]'


def test_promql_endpoints_on_frameless_storage_answer_501():
    """PromQL endpoints on a storage without a DataFrame surface (the
    blackhole protocol sink) must answer 501 unavailable, never 500."""
    from promhouse_spark.edge.http import create_app
    from promhouse_spark.storage.blackhole import BlackholeStorage

    app = create_app(
        BlackholeStorage(),
        rule_groups=[{"name": "g", "rules": [
            {"alert": "A", "expr": "sum(m) > 1"},
            {"record": "r", "expr": "sum(m)"},
        ]}],
    )
    app.config["TESTING"] = True
    c = app.test_client()
    for path, qs in (
        ("/api/v1/query_range", {"query": "m", "start": "0", "end": "60", "step": "60"}),
        ("/api/v1/query", {"query": "m"}),
        ("/api/v1/alerts", {}),
        ("/api/v1/rules", {}),
    ):
        r = c.get(path, query_string=qs)
        assert r.status_code == 501, (path, r.status_code)
        assert r.get_json()["errorType"] == "unavailable"
    # labels/series degrade to a clear client error, never a 500
    for path in ("/api/v1/labels", "/api/v1/series"):
        r = c.get(path)
        assert r.status_code in (400, 501), path
    # the remote read/write protocol itself still works on this storage
    assert c.get("/health").status_code == 200
