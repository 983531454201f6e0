"""Blackhole backend (S14) + read-your-own-writes on the parquet backend."""

import time

from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers
from promhouse_spark.storage.blackhole import BlackholeStorage
from promhouse_spark.storage.parquet import SparkParquetStorage
from tests.fixtures import get_data


def test_blackhole():
    st = BlackholeStorage()
    st.write(get_data())
    assert st.written_series == 3 and st.written_samples == 15
    assert st.read([Query(0, 1, ()), Query(0, 1, ())]) == [[], []]


def _now_series(name, offset_ms, value):
    now = int(time.time() * 1000)
    return TimeSeries(
        labels=[Label("__name__", name)],
        samples=[Sample(value=value, timestamp_ms=now + offset_ms)],
    ), now


def test_read_your_own_writes(spark, tmp_path):
    st = SparkParquetStorage(spark, str(tmp_path / "store"))
    ts, now = _now_series("hot", -1000, 1.0)
    st.write([ts])
    q = Query(now - 3_600_000, now + 3_600_000, make_matchers(("__name__", "=", "hot")))
    [series] = st.read([q])
    assert len(series) == 1 and series[0].samples[0].value == 1.0
    # every read scans the stored tiers, so a second write is visible at once
    ts2, _ = _now_series("hot", -500, 2.0)
    st.write([ts2])
    [series] = st.read([q])
    assert sorted(s.value for s in series[0].samples) == [1.0, 2.0]
