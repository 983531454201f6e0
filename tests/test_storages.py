"""The backend-parametrized functional suite — port of
``storages/storages_test.go:51-458``.

One shared spec runs against the in-memory oracle and the Spark engine with
both semi-join strategies forced (the reference's Memory /
ClickHouseTempTable / ClickHouseQuery triple, ``storages_test.go:56-75``),
plus the fully-distributed registry mode and the JDBC (ClickHouse-connector)
backend over in-memory Derby. Same data in, same results out.
"""

from __future__ import annotations

import pytest

from promhouse_spark.models import Query, make_matchers
from promhouse_spark.storage.memory import MemoryStorage
from promhouse_spark.storage.parquet import SparkParquetStorage
from tests.fixtures import T0, funny_series, get_data, normalize

WINDOW = (T0 - 54_000, T0 + 6_000)

BACKENDS = [
    "memory",
    "spark_inlist",
    "spark_semijoin",
    "spark_distributed",
    "spark_chunked",
    "jdbc_derby",
]


@pytest.fixture(scope="module", params=BACKENDS)
def storage(request, spark, tmp_path_factory):
    """A freshly-written storage with golden + funny data, per backend."""
    name = request.param
    if name == "memory":
        st = MemoryStorage()
    elif name == "jdbc_derby":
        # the ClickHouse-connector code path (storage/jdbc.py) against
        # Spark's bundled in-memory Derby — same spec, same data
        import uuid

        from promhouse_spark.storage.jdbc import (
            DERBY_DRIVER,
            JdbcStorage,
            derby_memory_url,
        )

        st = JdbcStorage(
            spark, derby_memory_url(f"spec{uuid.uuid4().hex[:8]}"), driver=DERBY_DRIVER
        )
    elif name == "spark_chunked":
        # the Gorilla-XOR chunked fact tier (storage/chunked.py) — same
        # spec, same data, samples at rest as ≤120-sample XOR chunks
        from promhouse_spark.storage.chunked import ChunkedParquetStorage

        st = ChunkedParquetStorage(
            spark, str(tmp_path_factory.mktemp("store_chunked"))
        )
    else:
        root = str(tmp_path_factory.mktemp(f"store_{name}"))
        kwargs = {
            # force IN-list always / semi-join always, like the reference's
            # threshold-1000 and threshold-unset backends
            "spark_inlist": dict(max_series_inlist=1000),
            "spark_semijoin": dict(max_series_inlist=0),
            "spark_distributed": dict(cache_registry=False),
        }[name]
        st = SparkParquetStorage(spark, root, **kwargs)
    st.write(get_data())
    st.write(funny_series())
    return st


def q(*specs, window=WINDOW):
    return Query(window[0], window[1], make_matchers(*specs))


def read_one(storage, query):
    res = storage.read([query])
    assert len(res) == 1
    return res[0]


# --- Read/ByName (storages_test.go:87-171) --------------------------------


def test_by_name_eq(storage):
    series = read_one(storage, q(("__name__", "=", "http_requests_total")))
    assert len(series) == 3
    assert sum(len(s.samples) for s in series) == 15
    assert normalize(series) == normalize(
        MemoryStorageFromGolden().read([q(("__name__", "=", "http_requests_total"))])[0]
    )


def test_by_name_regex(storage):
    series = read_one(storage, q(("__name__", "=~", "http_requests_.+")))
    assert len(series) == 3
    assert sum(len(s.samples) for s in series) == 15


@pytest.mark.parametrize(
    "specs",
    [
        [("__name__", "=", "no_such_metric")],
        [("__name__", "=~", "_requests_")],  # unanchored pattern fails
        [("no_such_label", "=", "value")],
        [("no_such_label", "=~", "value")],
        [("__name__", "=", "")],
        [("no_such_label", "!=", "")],
    ],
)
def test_empty_results(storage, specs):
    assert read_one(storage, q(*specs)) == []


def test_zero_time_range(storage):
    assert read_one(storage, q(("__name__", "=", "http_requests_total"), window=(0, 0))) == []


# --- Read/ByNonExistingLabel (storages_test.go:173-201) -------------------


def test_by_non_existing_label(storage):
    assert read_one(storage, q(("no_such_label", "=", "some_value"))) == []
    assert read_one(storage, q(("no_such_label", "=~", "some_.+"))) == []


# --- Read/BySeveralMatchers (storages_test.go:203-262) --------------------


def test_several_matchers_order_invariant(storage):
    a = read_one(
        storage,
        q(("__name__", "=", "http_requests_total"), ("no_such_label", "!=", "no_such_value")),
    )
    b = read_one(
        storage,
        q(("no_such_label", "!=", "no_such_value"), ("__name__", "=", "http_requests_total")),
    )
    c = read_one(
        storage,
        q(
            ("__name__", "=", "http_requests_total"),
            ("no_such_label", "!=", "no_such_value"),
            ("no_this_label", "=", ""),
        ),
    )
    assert len(a) == 3
    assert normalize(a) == normalize(b) == normalize(c)


def test_conjunction_narrows(storage):
    series = read_one(
        storage, q(("__name__", "=", "http_requests_total"), ("handler", "=", "query"))
    )
    assert len(series) == 1
    assert series[0].labels_map()["handler"] == "query"


# --- Read/Empty — the select-all extension (storages_test.go:264-356) -----


@pytest.mark.parametrize(
    "specs",
    [
        [],
        [("__name__", "!=", "")],
        [("__name__", "!=", "no_such_metric")],
        [("no_such_label", "=", "")],
        [("no_such_label", "!=", "value")],
    ],
)
def test_select_all_extension(storage, specs):
    series = read_one(storage, q(*specs))
    # golden 3 + funny 6 all match these
    assert len(series) == 9


# --- O1: multi-query order preservation -----------------------------------


def test_multi_query_order_preserved(storage):
    res = storage.read(
        [
            q(("__name__", "=", "http_requests_total")),
            q(("__name__", "=", "no_such_metric")),
            q(("handler", "=", "query")),
        ]
    )
    assert [len(r) for r in res] == [3, 0, 1]


# --- WriteFunnyLabels (storages_test.go:391-425) --------------------------


def test_funny_labels_roundtrip(storage):
    series = read_one(storage, q(("__name__", "=~", "funny_.+")))
    assert normalize(series) == normalize(funny_series())


# --- Differential: spark backends ≡ memory oracle -------------------------


def MemoryStorageFromGolden():
    st = MemoryStorage()
    st.write(get_data())
    st.write(funny_series())
    return st


@pytest.mark.parametrize(
    "specs",
    [
        [("__name__", "=", "http_requests_total")],
        [("__name__", "=~", "http_requests_.+")],
        [("handler", "=~", "query(_range)?")],
        [("__name__", "!~", "funny_.+")],
        [("label", "=", "🆗")],
        [],
    ],
)
def test_differential_vs_oracle(storage, specs):
    oracle = MemoryStorageFromGolden()
    assert normalize(read_one(storage, q(*specs))) == normalize(
        read_one(oracle, q(*specs))
    )


# --- JDBC backend: filter pushdown reaches the remote database ------------


def test_jdbc_filters_pushed_to_database(spark):
    """The reference pushes time range + fingerprint IN-list into ClickHouse
    SQL (clickhouse.go:282-308); through Spark's JDBC source the same
    predicates must appear as PushedFilters on the JDBC scan — the database
    ships matching rows only."""
    import uuid

    from promhouse_spark.plans.read import restrict_to_series, samples_in_range
    from promhouse_spark.storage.jdbc import DERBY_DRIVER, JdbcStorage, derby_memory_url

    st = JdbcStorage(
        spark, derby_memory_url(f"push{uuid.uuid4().hex[:8]}"), driver=DERBY_DRIVER
    )
    st.write(get_data())
    df = restrict_to_series(
        samples_in_range(st.samples_df(), WINDOW[0], WINDOW[1]),
        [1, 2, 3],
        max_inlist=50,
    )
    plan = df._jdf.queryExecution().toString()
    assert "JDBCRelation" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "timestamp_ms" in pushed and "fingerprint" in pushed


def test_jdbc_streamed_read_over_http(spark):
    """A streamed remote-read (STREAMED_XOR_CHUNKS, the ``iter_series``
    path) on the JDBC backend: the written series come back whole. The
    JDBC layout has no histogram tier, so nothing may probe one from
    inside the stream, where a failure would follow the 200 header."""
    import uuid

    pytest.importorskip("flask")
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec
    from promhouse_spark.edge.http import create_app
    from promhouse_spark.storage.jdbc import DERBY_DRIVER, JdbcStorage, derby_memory_url

    st = JdbcStorage(
        spark, derby_memory_url(f"stream{uuid.uuid4().hex[:8]}"), driver=DERBY_DRIVER
    )
    app = create_app(st)
    app.testing = True
    client = app.test_client()
    body = snappy_codec.compress(prompb.encode_write_request(get_data()))
    assert client.post("/write", data=body).status_code == 200

    q = Query(*WINDOW, make_matchers(("__name__", "=", "http_requests_total")))
    rq = snappy_codec.compress(
        prompb.encode_read_request_full([q], [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS])
    )
    resp = client.post("/read", data=rq)
    assert resp.status_code == 200
    got = []
    for payload in chunkenc.iter_frames(resp.data):
        series, qi = prompb.decode_chunked_read_response(payload)
        assert qi == 0
        for labels, chunks in series:
            samples = [s for _, _, _, d in chunks for s in chunkenc.decode_xor_chunk(d)]
            got.append((tuple((l.name, l.value) for l in labels), tuple(samples)))
    assert sorted(got) == normalize(get_data())
