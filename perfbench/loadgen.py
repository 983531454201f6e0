"""Seeded load generator: node-exporter-shaped series over fake instances.

Every series has a closed-form value at every scrape, so the answers the
adapter must give are known without asking it:

- a counter rises at a constant per-series slope, so ``rate()`` over any
  fully-covered window equals that slope;
- a gauge alternates ``mean + amp`` / ``mean - amp`` scrape by scrape, so
  an ``*_over_time`` window holding an even number of scrapes averages to
  exactly ``mean``.

Request bodies are encoded here (protobuf ``prometheus.WriteRequest`` /
``ReadRequest`` 1.0, then snappy block format via pyarrow) with the
benchmark's own encoder, before any timed region, so the program only ever
sees bytes.
"""

from __future__ import annotations

import random
import struct
from dataclasses import dataclass

import pyarrow as pa

from promhouse_spark.edge.faker import fan_out
from promhouse_spark.models import Label, TimeSeries

SCRAPE_MS = 15_000
#: 2026-01-01T01:00:00Z — inside one day partition for every workload
T0_MS = 1_767_229_200_000
INSTANCES = 100
JOB = "node"
#: job of the fresh instance each write adds (registry churn)
CHURN_JOB = "churn"

# (metric, kind, extra labels) per fake instance: 20 series in the shape of
# a small node_exporter scrape
_FAMILY: list[tuple[str, str, dict[str, str]]] = (
    [
        ("node_cpu_seconds_total", "counter", {"cpu": str(c), "mode": m})
        for c in range(2)
        for m in ("idle", "user", "system", "iowait")
    ]
    + [
        ("node_network_receive_bytes_total", "counter", {"device": "eth0"}),
        ("node_network_transmit_bytes_total", "counter", {"device": "eth0"}),
        ("node_disk_read_bytes_total", "counter", {"device": "sda"}),
        ("node_disk_written_bytes_total", "counter", {"device": "sda"}),
        ("node_context_switches_total", "counter", {}),
        ("node_memory_MemAvailable_bytes", "gauge", {}),
        ("node_memory_MemFree_bytes", "gauge", {}),
        ("node_memory_Cached_bytes", "gauge", {}),
        (
            "node_filesystem_avail_bytes",
            "gauge",
            {"device": "/dev/sda1", "fstype": "ext4", "mountpoint": "/"},
        ),
        ("node_load1", "gauge", {}),
        ("node_load5", "gauge", {}),
        ("node_load15", "gauge", {}),
    ]
)
SERIES_PER_INSTANCE = len(_FAMILY)


@dataclass(frozen=True)
class Series:
    labels: tuple[tuple[str, str], ...]  # sorted by name
    kind: str  # "counter" | "gauge"
    a: float  # counter: value at T0; gauge: mean
    b: float  # counter: slope per second; gauge: amplitude

    def value(self, k: int) -> float:
        """Value at scrape index ``k`` (timestamp ``T0_MS + k * SCRAPE_MS``)."""
        if self.kind == "counter":
            return self.a + self.b * (k * SCRAPE_MS / 1000)
        return self.a + (self.b if k % 2 == 0 else -self.b)

    def total(self, n: int) -> float:
        """Sum of the values at scrapes ``0..n-1``."""
        if self.kind == "counter":
            return n * self.a + self.b * (SCRAPE_MS / 1000) * n * (n - 1) / 2
        return n * self.a + self.b * (n % 2)

    @property
    def name(self) -> str:
        return dict(self.labels)["__name__"]

    def label(self, name: str) -> str:
        return dict(self.labels).get(name, "")


def _template(job: str) -> list[TimeSeries]:
    out = []
    for metric, _kind, extra in _FAMILY:
        labels = [Label("__name__", metric), Label("job", job)]
        labels += [Label(k, v) for k, v in extra.items()]
        out.append(TimeSeries(labels=labels, samples=[]))
    return out


def instance_series(instance_ids: list[int], seed: int, job: str = JOB) -> list[Series]:
    """The series of the given fake instances. Label sets come from
    ``edge.faker.fan_out`` (the fake_exporter fan-out); each instance's
    slopes and means are drawn from ``seed`` and the instance id, so a
    new instance gets fresh parameters and the same id always gets the
    same ones."""
    kinds = [kind for _m, kind, _e in _FAMILY]
    fanned = list(fan_out(_template(job), instances=max(instance_ids) + 1))
    out: list[Series] = []
    for i in instance_ids:
        rng = random.Random(seed * 1_000_003 + i)
        for j, kind in enumerate(kinds):
            ts = fanned[i * SERIES_PER_INSTANCE + j]
            labels = tuple(sorted((l.name, l.value) for l in ts.labels))
            if kind == "counter":
                a, b = rng.randint(1, 10**6) * 1.0, rng.randint(1, 5000) / 8
            else:
                a, b = rng.randint(10**3, 10**9) * 1.0, rng.randint(1, 999) * 1.0
            out.append(Series(labels, kind, a, b))
    return out


# ------------------------------------------------------------- wire encoding

_SNAPPY = pa.Codec("snappy")


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return bytes([(field << 3) | 2]) + _uvarint(len(payload)) + payload


def _labels_pb(labels) -> bytes:
    return b"".join(
        _ld(1, _ld(1, n.encode()) + _ld(2, v.encode())) for n, v in labels
    )


def snappy(data: bytes) -> bytes:
    return _SNAPPY.compress(data, asbytes=True)


def unsnappy(data: bytes) -> bytes:
    """Snappy block decode: the preamble varint is the decoded size."""
    size = shift = pos = 0
    while True:
        b = data[pos]
        size |= (b & 0x7F) << shift
        pos += 1
        if b < 0x80:
            break
        shift += 7
    return _SNAPPY.decompress(data, decompressed_size=size, asbytes=True)


def write_body(series: list[Series], k_lo: int, k_hi: int) -> bytes:
    """Snappy-compressed 1.0 WriteRequest carrying scrapes ``k_lo..k_hi-1``
    of every series (one TimeSeries per series)."""
    parts = []
    ts_bytes = [_uvarint(T0_MS + k * SCRAPE_MS) for k in range(k_lo, k_hi)]
    for s in series:
        body = _labels_pb(s.labels)
        samples = b"".join(
            b"\x12" + _uvarint(10 + len(t)) + b"\x09" + struct.pack("<d", s.value(k))
            + b"\x10" + t
            for k, t in zip(range(k_lo, k_hi), ts_bytes)
        )
        parts.append(_ld(1, body + samples))
    return snappy(b"".join(parts))


_MATCH_TYPE = {"=": 0, "!=": 1, "=~": 2, "!~": 3}


def read_body(
    queries: list[tuple[int, int, list[tuple[str, str, str]]]],
    streamed: bool = False,
) -> bytes:
    """Snappy-compressed ReadRequest; ``streamed`` accepts only
    STREAMED_XOR_CHUNKS (ReadRequest.accepted_response_types = [1])."""
    out = b""
    for start, end, matchers in queries:
        q = b"\x08" + _uvarint(start) + b"\x10" + _uvarint(end)
        for name, op, value in matchers:
            m = b""
            if _MATCH_TYPE[op]:
                m += b"\x08" + _uvarint(_MATCH_TYPE[op])
            m += _ld(2, name.encode()) + _ld(3, value.encode())
            q += _ld(3, m)
        out += _ld(1, q)
    if streamed:
        out += _ld(2, _uvarint(1))
    return snappy(out)


def scrapes_in(k_first: int, k_last: int, start_ms: int, end_ms: int) -> range:
    """Scrape indexes in ``[k_first, k_last]`` whose timestamps fall inside
    the inclusive ``[start_ms, end_ms]`` window."""
    lo = max(k_first, -(-(start_ms - T0_MS) // SCRAPE_MS))
    hi = min(k_last, (end_ms - T0_MS) // SCRAPE_MS)
    return range(lo, hi + 1)
