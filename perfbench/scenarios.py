"""The two workloads, driven through the program's public entry points:
the WSGI app from ``edge.http.create_app`` over a
``storage.parquet.SparkParquetStorage`` (through Flask's test client) and
the ``workloads.QUERIES`` registry through the noop sink.

One client thread, closed loop: each request is sent when the previous
reply has been read in full, as a Prometheus remote-write shard or a
remote-read caller does.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import random
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import loadgen as lg
import wire
from statistics import median, median_low
from tracing import Tracer

PRELOAD_HOURS = 1
#: set-up rounds per run; analytics' are shorter and jitter more, so more
SERVE_SETUPS = 7
ANALYTICS_SETUPS = 9
#: scale factor of the generated analytics tables (sf0.1: 600k lineitem rows)
ANALYTICS_SF = 0.1
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CT_V1 = "application/x-protobuf"
WRITE_HEADERS = {"Content-Encoding": "snappy", "X-Prometheus-Remote-Write-Version": "0.1.0"}
READ_HEADERS = {"Content-Encoding": "snappy", "X-Prometheus-Remote-Read-Version": "0.1.0"}
SPARK_OPS = ("write", "read_point", "read_wide", "read_stream", "query_range")
#: Spark's task slots (local[N]). One: on a host that shares its CPUs with
#: other guests, the parallel capacity a guest gets swings between about
#: one core and all of them from minute to minute, and work spread over
#: several cores takes up to twice as long when it is low (README.md).
SPARK_CORES = 1
#: the reference computation (``Run.reference``): 7**REF_POW in the JVM.
#: REF_S is the time it takes at the reference speed: the mean of the
#: faster half of its times in a run (``host_slowdown``), typical of a
#: 4-vCPU VM of the host the benchmark was written on.
REF_POW = 400_000
REF_S = 0.040


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One invocation: settings, the Spark session, and what was measured."""

    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setups: list[dict] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    timeline: list = field(default_factory=list)
    t_start: float = field(default_factory=time.perf_counter)
    calibrating: bool = False
    calib: list[float] = field(default_factory=list)

    def mark(self, stage: str) -> None:
        """Record when a stage of the run ended (seconds since start)."""
        self.timeline.append((stage, round(time.perf_counter() - self.t_start, 2)))

    def reference(self) -> float:
        """Time the reference computation once. It is fixed code of the JDK,
        which runs most of the program's work, that no change to the
        program touches, so its time tells how fast the host runs at that
        moment. Python is left out: the time of a pure-Python loop differs
        by up to a fifth between processes on a quiet host."""
        from pyspark import SparkContext

        big = SparkContext._jvm.java.math.BigInteger
        t0 = time.perf_counter()
        big.valueOf(7).pow(REF_POW).bitLength()
        return time.perf_counter() - t0

    def calibrate(self) -> None:
        """In the untraced measured phase, time the reference computation
        between two timed operations."""
        if self.calibrating:
            self.calib.append(self.reference())

    # ------------------------------------------------------------ spark

    def start_spark(self):
        from promhouse_spark.session import get_spark

        jtmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(jtmp, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench",
            cpus=SPARK_CORES,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        return self.spark

    def clear_job_group(self) -> None:
        """Later jobs on this thread belong to no request."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def check(self, ok: bool, what: str) -> bool:
        """Count one answer check; a failed one is a failed operation."""
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok


# ---------------------------------------------------------------- helpers


def parquet_files(root: str, sub: str = "") -> list[str]:
    return glob.glob(os.path.join(root, sub, "**", "*.parquet"), recursive=True)


def parquet_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(root))


def close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


class Client:
    """The Flask test client plus per-op latency records. With a tracer,
    each request is a root span and a Spark job group."""

    def __init__(self, run: Run, app, tracer: Tracer | None):
        self.run = run
        self.http = app.test_client()
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.groups: list[tuple[str, str]] = []  # (job group, op)

    def call(self, op: str, kind: str, path: str, **kw):
        """One request, timed from send until the body is fully read."""
        self.run.attempted += 1
        self.run.calibrate()
        tracer = self.tracer
        if tracer is None:
            t0 = time.perf_counter()
            resp = self.http.open(path, **kw)
            body = resp.get_data()
            dt = time.perf_counter() - t0
        else:
            rid = f"{op}-{len(self.groups)}"
            self.groups.append((rid, op))
            self.run.spark.sparkContext.setJobGroup(rid, op)
            t0 = time.perf_counter()
            with tracer.request(rid, f"http.{kind}"):
                resp = self.http.open(path, **kw)
                body = resp.get_data()
            dt = time.perf_counter() - t0
            self.run.clear_job_group()
        self.lat.setdefault(op, []).append(dt)
        return resp.status_code, body


def spark_job_counts(spark, groups: list[tuple[str, str]]) -> dict[str, tuple[int, int]]:
    """Jobs and completed tasks per job group, read from the status
    tracker once its listener has caught up (two equal polls)."""
    tracker = spark.sparkContext.statusTracker()

    def poll():
        out = {}
        for rid, _op in groups:
            jobs = tracker.getJobIdsForGroup(rid)
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    tasks += st.numCompletedTasks if st else 0
            out[rid] = (len(jobs), tasks)
        return out

    prev = None
    for _ in range(20):
        time.sleep(0.3)
        cur = poll()
        if cur == prev:
            return cur
        prev = cur
    return prev


def install_protocol_tracer(tracer: Tracer, spark) -> None:
    """Spans around the calls into each protocol-path module."""
    from pyspark.sql import SparkSession

    from promhouse_spark.edge import prompb, snappy_codec
    from promhouse_spark.models import Query
    from promhouse_spark.promql import PromQLEngine, parser
    from promhouse_spark.storage import parquet

    def bytes_out(attrs, args, result):
        attrs["bytes"] = len(result)

    def samples_out(attrs, args, result):
        attrs["samples"] = sum(len(ts.samples) for ts in result)

    def rows_out(attrs, args, result):
        attrs["rows"] = len(result)

    def series_out(attrs, args, result):
        attrs["series"] = sum(len(r) for r in result)

    tracer.wrap(snappy_codec, "decompress", "snappy.decompress", bytes_out)
    tracer.wrap(snappy_codec, "compress", "snappy.compress")
    tracer.wrap(prompb, "decode_write_request", "prompb.decode_write", samples_out)
    tracer.wrap(prompb, "decode_read_request_full", "prompb.decode_read")
    tracer.wrap(prompb, "encode_read_response", "prompb.encode_read_response")
    tracer.wrap(prompb, "encode_chunked_read_response", "prompb.encode_chunked")
    tracer.wrap_hot(parquet, "fingerprint", "fingerprint")
    tracer.wrap_hot(Query, "matches", "registry.matches", timed=False)
    store = parquet.SparkParquetStorage
    tracer.wrap(store, "write", "storage.write")
    tracer.wrap(store, "read", "storage.read", series_out)
    tracer.wrap(store, "ingest_df", "storage.ingest_df")
    tracer.wrap_generator(store, "iter_series", "storage.iter_series", "series")
    tracer.wrap(parser, "parse", "promql.parse")
    tracer.wrap(PromQLEngine, "eval", "promql.compile")
    tracer.wrap(type(spark.range(0)), "collect", "spark.collect", rows_out)
    tracer.wrap_generator(type(spark.range(0)), "toLocalIterator", "spark.collect", "rows")
    create = SparkSession.createDataFrame

    def create_df(session, *args, **kwargs):
        if not tracer.in_span("storage.write"):
            return create(session, *args, **kwargs)
        with tracer.span("storage.handoff"):
            return create(session, *args, **kwargs)

    tracer.patch(SparkSession, "createDataFrame", create_df)


def protocol_layers(run: Run, tracer: Tracer, client: Client) -> dict:
    """Per-layer metrics from the traced phase of serve: the
    median over the requests that call a layer of its per-request time."""
    reqs = tracer.by_request()
    op_of = {rid: "query_range" if op.startswith("qr_") else op for rid, op in client.groups}
    jobs = spark_job_counts(run.spark, client.groups)

    def med(vals):
        vals = [v for v in vals if v is not None]
        return median(vals) if vals else 0.0

    def per_req(pick, ops=None):
        return med([pick(r) for rid, r in reqs.items() if ops is None or op_of[rid] in ops])

    def total(name):
        return lambda r: r["total"][name] if r["calls"][name] else None

    def self_of(name):
        return lambda r: r["self"][name] if r["calls"][name] else None

    writes = [r for rid, r in reqs.items() if op_of[rid] == "write"]
    dec_s = sum(r["total"]["snappy.decompress"] for r in reqs.values())
    dec_b = sum(r["attrs"]["bytes"] for r in reqs.values() if r["calls"]["snappy.decompress"])
    out = {
        "http.write.self_s": per_req(self_of("http.write")),
        "http.read.self_s": per_req(self_of("http.read")),
        "http.query_range.self_s": per_req(self_of("http.query_range")),
        "snappy.decompress_s": per_req(total("snappy.decompress")),
        "snappy.decompress_mb_per_s": dec_b / 1e6 / dec_s if dec_s else 0.0,
        "snappy.compress_s": per_req(total("snappy.compress")),
        "prompb.decode_write_s": per_req(total("prompb.decode_write")),
        "prompb.samples_decoded": med([r["attrs"]["samples"] for r in writes]),
        "prompb.decode_read_s": per_req(total("prompb.decode_read")),
        "prompb.encode_read_response_s": per_req(total("prompb.encode_read_response")),
        "prompb.encode_chunked_s": per_req(total("prompb.encode_chunked")),
        "fingerprint.calls_per_write": med([r["counts"].get("fingerprint.calls", 0) for r in writes]),
        "fingerprint.s": med([r["counts"].get("fingerprint.s", 0.0) for r in writes]),
        "storage.write_s": per_req(total("storage.write")),
        "storage.handoff_s": per_req(total("storage.handoff")),
        "storage.ingest_df_s": per_req(total("storage.ingest_df")),
        "storage.read_s": per_req(total("storage.read")),
        "storage.iter_series_s": per_req(total("storage.iter_series")),
        "promql.parse_s": per_req(total("promql.parse")),
        "promql.compile_s": per_req(self_of("promql.compile")),
        "promql.execute_s": per_req(total("spark.collect"), {"query_range"}),
        "promql.jobs_per_query": med([jobs[rid][0] for rid, op in op_of.items() if op == "query_range"]),
    }
    examined = sum(r["counts"].get("registry.matches.calls", 0) for r in reqs.values())
    returned = sum(r["attrs"]["series"] for r in reqs.values())
    out["storage.registry_keys_examined_per_series"] = examined / returned if returned else 0.0
    for op in SPARK_OPS:
        rids = [rid for rid, o in op_of.items() if o == op]
        out[f"spark.jobs_per_request.{op}"] = med([jobs[rid][0] for rid in rids])
        out[f"spark.tasks_per_request.{op}"] = med([jobs[rid][1] for rid in rids])
        out[f"spark.collect_s.{op}"] = med([reqs[rid]["total"]["spark.collect"] for rid in rids])
        out[f"spark.rows_collected.{op}"] = med([reqs[rid]["attrs"]["rows"] for rid in rids])
    return out


class Protocol:
    """The series written so far and the store that holds them.

    Every write carries the next scrapes of the steady series (100
    instances under ``job="node"``) and the first scrape of one fresh
    instance under ``job="churn"``, so each write also appends 20 series
    to the registry, as instance churn does. Reads and queries select
    ``job="node"``."""

    def __init__(self, run: Run):
        self.run = run
        self.root = os.path.join(run.work, "store")
        self.series = lg.instance_series(list(range(lg.INSTANCES)), run.seed)
        self.next_churn = lg.INSTANCES  # id of the next fresh instance
        self.k_next = 0  # next scrape index to write
        self.acked = 0
        self.acked_sum = 0.0
        self.written_series = 0  # distinct series acknowledged
        self.new_per_write: list[int] = []  # registry growth per traced write
        self.store = None
        self.client: Client | None = None

    def open(self) -> float:
        """Open the store and the app; returns the open time."""
        from promhouse_spark.edge.http import create_app
        from promhouse_spark.storage.parquet import SparkParquetStorage

        t0 = time.perf_counter()
        self.store = SparkParquetStorage(self.run.spark, self.root)
        dt = time.perf_counter() - t0
        self.client = Client(self.run, create_app(self.store), None)
        return dt

    def registry_size(self) -> int:
        """Series in the store's registry, read through its public frame."""
        return self.store.registry_df().count()

    def write(self, scrapes: int, op: str = "write") -> None:
        """POST one remote-write of ``scrapes`` scrapes of the steady series
        plus one fresh churn instance. In a traced phase the registry is
        counted before and after, outside the request."""
        churn = lg.instance_series([self.next_churn], self.run.seed, job=lg.CHURN_JOB)
        self.next_churn += 1
        batch = self.series + churn
        body = lg.write_body(batch, self.k_next, self.k_next + scrapes)
        traced = self.client.tracer is not None
        before = self.registry_size() if traced else 0
        status, _body = self.client.call(
            op, "write", "/write", method="POST", data=body,
            headers=WRITE_HEADERS, content_type=CT_V1,
        )
        if self.run.check(status == 200, f"/write answered {status}"):
            if traced:
                self.new_per_write.append(self.registry_size() - before)
            self.acked += scrapes * len(batch)
            self.acked_sum += sum(
                s.total(self.k_next + scrapes) - s.total(self.k_next) for s in batch)
            self.written_series += len(churn)
        self.k_next += scrapes

    def readback(self) -> None:
        """The samples read back equal the samples acknowledged, and the
        registry holds every series written, once."""
        from pyspark.sql import functions as F

        row = self.store.samples_df().agg(
            F.count("*").alias("n"), F.sum("value").alias("v"),
            F.countDistinct("fingerprint").alias("fps"),
        ).collect()[0]
        registered = self.registry_size()
        self.run.attempted += 1
        self.run.check(row["n"] == self.acked, f"read back {row['n']} samples, acked {self.acked}")
        self.run.check(close(row["v"] or 0.0, self.acked_sum, 1e-9), "read-back value sum differs")
        want = self.written_series
        self.run.check(row["fps"] == want, f"read back {row['fps']} series, wrote {want}")
        self.run.check(registered == want, f"registry holds {registered} series, wrote {want}")


def setup_rounds(run: Run, open_and_warm, rounds: int) -> None:
    """Set up ``rounds`` times: stop the Spark session (untimed: that is
    tear-down), then start a new one, open the store and serve a first
    request. setup_s is the median, at the reference speed; the reference
    computation is timed before each round."""
    for _ in range(rounds):
        run.calib.append(run.reference())
        t0 = time.perf_counter()
        run.spark.stop()
        t1 = time.perf_counter()
        run.start_spark()
        t2 = time.perf_counter()
        open_s = open_and_warm()
        t3 = time.perf_counter()
        run.setups.append({"total_s": t3 - t1, "stop_s": t1 - t0, "session_s": t2 - t1,
                           "open_s": open_s})
    run.mark("setup")


# ---------------------------------------------------------------- serve


def preload(p: Protocol, scrapes: int) -> None:
    """``scrapes`` scrapes of the series set through ``ingest_df``; the
    first goes through ``write`` so the registry holds every series."""
    from pyspark.sql import functions as F

    from promhouse_spark.functions.fingerprint import fingerprint_signed
    from promhouse_spark.models import Label, Sample, TimeSeries

    spark = p.run.spark
    p.open()
    series = p.series
    p.store.write([
        TimeSeries(labels=[Label(n, v) for n, v in s.labels],
                   samples=[Sample(value=s.value(0), timestamp_ms=lg.T0_MS)])
        for s in series
    ])
    params = spark.createDataFrame(
        [(fingerprint_signed(s.labels), s.kind == "counter", s.a, s.b) for s in series],
        "fingerprint long, counter boolean, a double, b double",
    )
    k = F.col("id")
    df = params.crossJoin(spark.range(1, scrapes)).select(
        "fingerprint",
        (F.lit(lg.T0_MS) + k * F.lit(lg.SCRAPE_MS)).alias("timestamp_ms"),
        F.when(F.col("counter"), F.col("a") + F.col("b") * (k * F.lit(lg.SCRAPE_MS / 1000)))
        .otherwise(F.col("a") + F.when(k % 2 == 0, F.col("b")).otherwise(-F.col("b")))
        .alias("value"),
    )
    p.store.ingest_df(df)
    p.k_next = scrapes
    p.acked = scrapes * len(series)
    p.acked_sum = sum(s.total(scrapes) for s in series)
    p.written_series = len(series)


def serve(run: Run) -> dict:
    """A preloaded store and a repeating request cycle: one small write
    (one scrape: 2,000 steady samples plus 20 of a fresh churn instance),
    four point reads, one wide and one streamed read, two range queries."""
    rng = random.Random(run.seed)
    p = Protocol(run)
    scrapes0 = PRELOAD_HOURS * 3600_000 // lg.SCRAPE_MS
    t0 = time.perf_counter()
    preload(p, scrapes0)
    run.mark("preload")
    run.layer["setup.preload_s"] = time.perf_counter() - t0
    series = p.series
    wide_metric = rng.choice([s.name for s in series if s.kind == "gauge"])
    cycle = ["write"] + ["read_point"] * 4 + ["read_wide", "read_stream", "qr_rate", "qr_gauge"]
    rng.shuffle(cycle)
    pending: list[tuple] = []  # (op, k_last, arg, status, body) checked after the loop

    def last_ms():
        return lg.T0_MS + (p.k_next - 1) * lg.SCRAPE_MS

    def point(op="read_point"):
        s = rng.choice(series)
        end = last_ms() + 7_000
        start = end - 3_600_000
        body = lg.read_body([(start, end, [(n, "=", v) for n, v in s.labels])])
        status, out = p.client.call(op, "read", "/read", method="POST", data=body,
                                    headers=READ_HEADERS, content_type=CT_V1)
        pending.append((op, p.k_next - 1, (s, start, end), status, out))

    def wide(op, streamed):
        end = last_ms() + 7_000
        matchers = [("__name__", "=", wide_metric), ("job", "=", lg.JOB)]
        body = lg.read_body([(lg.T0_MS - 7_000, end, matchers)], streamed)
        status, out = p.client.call(op, "read", "/read", method="POST", data=body,
                                    headers=READ_HEADERS, content_type=CT_V1)
        pending.append((op, p.k_next - 1, (lg.T0_MS - 7_000, end), status, out))

    def query_range(op):
        if op == "qr_rate":
            q = f'sum by (mode) (rate(node_cpu_seconds_total{{job="{lg.JOB}"}}[5m]))'
        else:
            q = f'avg_over_time(node_memory_MemAvailable_bytes{{job="{lg.JOB}"}}[5m])'
        # the last 30 minutes: every 5m window lies inside the preload
        end = (last_ms() // 60_000) * 60_000
        start = end - 30 * 60_000
        args = {"query": q, "start": start / 1000, "end": end / 1000, "step": "60"}
        status, out = p.client.call(op, "query_range", "/api/v1/query_range",
                                    method="GET", query_string=args)
        pending.append((op, p.k_next - 1, (start, end), status, out))

    def run_op(op):
        if op == "write":
            p.write(1)
        elif op == "read_point":
            point()
        elif op in ("read_wide", "read_stream"):
            wide(op, op == "read_stream")
        else:
            query_range(op)

    def open_and_warm():
        dt = p.open()
        point(op="warmup")
        return dt

    # one untimed cycle compiles every request type
    for op in cycle:
        run_op(op)
    run.mark("warm")

    def phase(tracer, seconds):
        p.client = Client(run, p.client.http.application, tracer)
        files0 = len(parquet_files(p.root, "samples"))
        wall, cycles = 0.0, []
        while wall < seconds:
            t0, calib = time.perf_counter(), len(run.calib)
            for op in cycle:
                run_op(op)
            # less the reference computations timed between the requests
            cycles.append(time.perf_counter() - t0 - sum(run.calib[calib:]))
            wall += cycles[-1]
        return {"client": p.client, "lat": cycles,
                "files": len(parquet_files(p.root, "samples")) - files0}

    res = measure(run, phase, protocol=True)
    if run.trace:  # the job counts live in the session the rounds stop
        protocol_trace(run, res, p)
    # last, so that they time a JVM that has served each request and the
    # measured cycles do not follow a fresh session
    setup_rounds(run, open_and_warm, SERVE_SETUPS)
    for item in pending:
        check_serve(run, p, wide_metric, *item)
    p.readback()
    lat = dict(res["untraced"]["client"].lat)
    # the cost of one cycle from per-request-type medians, steadier than
    # the few whole cycles a run holds; the low median, so that an even
    # count of samples does not average in one slow request
    cycle_cost = sum(median_low(lat[op]) for op in cycle)
    lat["query_range"] = lat["qr_rate"] + lat["qr_gauge"]
    e2e = {"write_p50_s": (median(lat["write"]), "s")}
    for op in ("read_point", "read_wide", "read_stream", "query_range"):
        e2e[f"{op}_p50_s"] = (median(lat[op]), "s")
    run.info["cycle"] = cycle
    run.info["cycles_s"] = [round(v, 3) for v in res["untraced"]["lat"]]
    run.info["files_per_write"] = res["untraced"]["files"] / len(lat["write"])
    e2e["bytes_per_sample"] = (parquet_bytes(p.root) / p.acked, "B")
    return finish(run, res, e2e, "cycle", [cycle_cost], p,
                  tails={"cycle": res["untraced"]["lat"], "read_point": lat["read_point"],
                         "query_range": lat["query_range"]})


def check_serve(run: Run, p: Protocol, wide_metric: str, op, k_last, arg, status, body) -> None:
    """Answer checks for one recorded serve response."""
    if not run.check(status == 200, f"{op} answered {status}"):
        return
    try:
        if op in ("read_point", "warmup"):
            s, start, end = arg
            got = wire.sampled_response(body)
            want = [(lg.T0_MS + k * lg.SCRAPE_MS, s.value(k))
                    for k in lg.scrapes_in(0, k_last, start, end)]
            run.check(len(got) == 1 and len(got[0]) == 1 and got[0][0][1] == want,
                      f"{op}: wrong samples for {dict(s.labels)}")
        elif op == "read_wide":
            start, end = arg
            (got,) = wire.sampled_response(body)
            n = len(lg.scrapes_in(0, k_last, start, end))
            want = {s.label("instance"): s for s in p.series if s.name == wide_metric}
            ok = len(got) == len(want)
            for labels, samples in got:
                s = want.get(labels.get("instance"))
                ok = ok and s is not None and len(samples) == n and close(
                    sum(v for _t, v in samples), s.total(n), 1e-9)
            run.check(ok, f"{op}: wrong series or sample counts")
        elif op == "read_stream":
            start, end = arg
            got = wire.streamed_response(body)
            n = len(lg.scrapes_in(0, k_last, start, end))
            last = lg.T0_MS + (n - 1) * lg.SCRAPE_MS
            ok = len(got) == lg.INSTANCES and len({g[1]["instance"] for g in got}) == lg.INSTANCES
            ok = ok and all(g[1]["__name__"] == wide_metric and g[1]["job"] == lg.JOB
                            and g[2] == n and g[3] == lg.T0_MS and g[4] == last for g in got)
            run.check(ok, f"{op}: wrong series or sample counts")
        else:
            check_query_range(run, p, op, k_last, arg, body)
    except Exception as e:  # noqa: BLE001 — an undecodable answer is a failed one
        run.check(False, f"{op}: {type(e).__name__}: {e}")


def check_query_range(run: Run, p: Protocol, op, k_last, arg, body) -> None:
    import json

    start, end = arg
    res = json.loads(body)["data"]["result"]
    steps = list(range(start, end + 1, 60_000))
    series = p.series
    if op == "qr_rate":
        want = {}
        for s in series:
            if s.name == "node_cpu_seconds_total":
                want[s.label("mode")] = want.get(s.label("mode"), 0.0) + s.b
        key = "mode"
    else:
        want = {}
        for s in series:
            if s.name == "node_memory_MemAvailable_bytes":
                want[s.label("instance")] = s
        key = "instance"
    ok = len(res) == len(want)
    for r in res:
        w = want.get(r["metric"].get(key))
        ok = ok and w is not None and [int(t * 1000) for t, _ in r["values"]] == steps
        for t, v in r["values"] if ok else ():
            if op == "qr_rate":
                expect = w
            else:
                ks = lg.scrapes_in(0, k_last, int(t * 1000) - 300_000 + 1, int(t * 1000))
                expect = sum(w.value(k) for k in ks) / len(ks)
            ok = ok and close(float(v), expect, 1e-9)
    run.check(ok, f"{op}: values differ from the closed form")


# ---------------------------------------------------------------- analytics


def analytics(run: Run) -> dict:
    """The 13 headline registry queries of ``bench.py`` through the noop
    sink: a pass that checks every answer, the timed passes, then the
    set-up rounds. (The 4 extended queries would more than double the
    run.)"""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import bench
    from promhouse_spark.session import load_table
    from promhouse_spark.workloads import QUERIES, llmdata

    sf_dir = os.path.join(run.work, "sf")
    # in a child process, so that the generator's buffers stay out of the
    # driver's resident set
    subprocess.run(
        [sys.executable, "-c", "import sys, gen_sf; gen_sf.generate("
         "sys.argv[1], float(sys.argv[2]), seed=int(sys.argv[3]))",
         sf_dir, str(ANALYTICS_SF), str(run.seed)],
        cwd=os.path.join(ROOT, "tools"), stdout=sys.stderr, check=True)
    run.mark("data")
    # the two LSH queries stage MinHash signatures under a fixed scratch
    # path; keep that inside the run's work directory
    stage = os.path.join(run.work, "oracle-staging")
    fixed_stage = llmdata._STAGE_DIR
    for attr in ("_MINHASH_STAGE", "_JACC_SIG_STAGE"):
        setattr(llmdata, attr, getattr(llmdata, attr).replace(fixed_stage, stage))
    names = bench.HEADLINE

    def open_and_warm():
        t0 = time.perf_counter()
        load_table(run.spark, sf_dir, "lineitem").count()
        return time.perf_counter() - t0

    def one_pass(times: dict[str, list[float]], jobs: dict[str, str] | None) -> float:
        wall = 0.0
        for n in names:
            run.attempted += 1
            run.calibrate()
            if jobs is not None:
                jobs[n] = f"q-{n}-{len(times[n])}"
                run.spark.sparkContext.setJobGroup(jobs[n], n)
            t0 = time.perf_counter()
            try:
                QUERIES[n](run.spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
                run.check(False, f"{n}: {type(e).__name__}: {e}"[:300])
            dt = time.perf_counter() - t0
            times[n].append(dt)
            wall += dt
        return wall

    # the answer-checking pass also compiles every plan
    check_oracles(run, names, sf_dir, stage, fixed_stage)
    release_memory()
    run.mark("oracle")

    def phase(tracer, seconds):
        times: dict[str, list[float]] = {n: [] for n in names}
        jobs: dict[str, str] = {}
        wall = 0.0
        while wall < seconds:
            wall += one_pass(times, jobs if tracer is not None else None)
        med = {n: median_low(v) for n, v in times.items()}
        return {"lat": [sum(med.values())], "med": med, "jobs": jobs,
                "passes": [sum(p) for p in zip(*times.values())]}

    res = measure(run, phase)
    med = res["untraced"]["med"]
    e2e = {"analytics_headline_s": (sum(med.values()), "s")}
    run.info["passes_s"] = [round(v, 3) for v in res["untraced"]["passes"]]
    run.info["queries_s"] = {n: round(v, 4) for n, v in med.items()}
    if run.trace:
        traced = res["traced"]
        counts = spark_job_counts(run.spark, [(g, n) for n, g in traced["jobs"].items()])
        for n in names:
            run.layer[f"analytics.{n}_s"] = traced["med"][n]
            run.layer[f"analytics.{n}.jobs"] = counts[traced["jobs"][n]][0]
    # last: queries write nothing, so the store the rounds open is the same
    # in every run, and they time a JVM that has run each query
    setup_rounds(run, open_and_warm, ANALYTICS_SETUPS)
    return finish(run, res, e2e, "queries", res["untraced"]["lat"], None)


def check_oracles(run: Run, names, sf_dir, stage, fixed_stage) -> None:
    """A pass that checks each answer against its DuckDB twin (row count,
    columns and order-insensitive hash, as tools/check_oracle.py compares
    them); a query without a twin gets a row-count check. DuckDB runs in
    a child process (``oracle.py``), after every Spark query has staged
    what the twins read."""
    import json

    import __spark_entry__ as entry
    from check_oracle import table_hash

    queries = entry.queries()
    twinned = set(entry.oracle_sql())
    got = {}
    for n in names:
        run.attempted += 1
        try:
            df = queries[n](run.spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            got[n] = {"columns": df.columns, "rows": len(rows),
                      "hash": table_hash(df.columns, rows)}
        except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
            run.check(False, f"{n}: {type(e).__name__}: {e}"[:300])
    run.mark("answers")
    child = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "oracle.py"), sf_dir, stage,
         fixed_stage, *got], stdout=subprocess.PIPE, text=True)
    want = {j["name"]: j for j in map(json.loads, child.stdout.splitlines())}
    for n, g in got.items():
        if n not in twinned:
            run.check(g["rows"] > 0, f"{n}: no rows")
        elif n not in want:
            run.check(False, f"{n}: no DuckDB answer (oracle.py exited {child.returncode})")
        else:
            w = want[n]
            diff = [k for k in ("rows", "columns", "hash") if g[k] != w[k]]
            run.check(not diff, f"{n}: {', '.join(diff)} differ: spark {g['rows']} rows "
                                f"{g['columns']}, duckdb {w['rows']} rows {w['columns']}"[:300])


# ---------------------------------------------------------------- common


class PeakRss:
    """Peak resident set of this process, sampled every 10 ms while in use,
    so that it covers the measured phase and not the benchmark's own
    set-up and checks."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open("/proc/self/statm") as f:
            self.peak = max(self.peak, int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE"))

    def _run(self) -> None:
        while not self._stop.wait(0.01):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def release_memory() -> None:
    """Hand the heap that the benchmark's own checks freed back to the
    system, so that the driver's measured resident set holds live memory
    only, not what the allocator kept."""
    import ctypes
    import gc

    gc.collect()
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL("libc.so.6").malloc_trim(0)


def measure(run: Run, phase, protocol: bool = False) -> dict:
    """The untraced phase (``--seconds`` long) gives the end-to-end
    numbers; with tracing on, a second, traced phase gives the per-layer
    numbers, and a third, untraced again, brackets it, so that the tracing
    overhead is not confused with the JVM getting faster as the run goes
    on. The last two take half as long each. The reference computation is
    timed between the operations of the untraced phase only; a few untimed
    runs of it first let the JIT compile it."""
    for _ in range(3):
        run.reference()
    run.calibrating = True
    with PeakRss() as rss:
        out = {"untraced": phase(None, run.seconds)}
    run.calibrating = False
    run.info["driver_rss_mb"] = rss.peak / 2**20
    run.mark("measure")
    if run.trace:
        tracer = Tracer()
        if protocol:
            install_protocol_tracer(tracer, run.spark)
        try:
            out["traced"] = phase(tracer, run.seconds / 2)
        finally:
            tracer.uninstall()
            run.clear_job_group()
        out["tracer"] = tracer
        run.mark("traced")
        out["untraced_after"] = phase(None, run.seconds / 2)
        run.mark("untraced")
    return out


def protocol_trace(run: Run, res: dict, p: Protocol) -> None:
    """Per-layer metrics of the traced serve phase; writes out its spans."""
    traced, tracer = res["traced"], res["tracer"]
    layers = protocol_layers(run, tracer, traced["client"])
    writes = len(traced["client"].lat.get("write", ()))
    layers["storage.files_per_write"] = traced["files"] / writes if writes else 0.0
    layers["storage.new_series_per_write"] = median(p.new_per_write) if p.new_per_write else 0.0
    run.layer.update(layers)
    tracer.dump(os.path.join(run.work, "spans.jsonl"))


def finish(run: Run, res: dict, e2e: dict, unit: str, lat: list[float], p: Protocol | None,
           tails: dict | None = None) -> dict:
    """Assemble end-to-end metrics, run metadata and per-layer metrics.
    The gated times are at the reference speed: the wall time divided by
    the host's slowdown (``host_slowdown``)."""
    slowdown = host_slowdown(run.calib)
    setup = median([s["total_s"] for s in run.setups])
    work = median(lat)
    e2e = {
        "setup_s": (setup / slowdown, "s"),
        "work_ref_s": (work / slowdown, "s"),
        "driver_rss_mb": (run.info["driver_rss_mb"], "MB"),
        "setup_wall_s": (setup, "s"),
        "work_wall_s": (work, "s"),
        "host_slowdown": (slowdown, "ratio"),
        **e2e,
    }
    run.info["reference_s"] = [round(v, 4) for v in run.calib]
    run.info["unit_of_work"] = unit
    run.info["tails"] = {}
    for name, vals in {unit: lat, **(tails or {})}.items():
        run.info["tails"][name] = tail(vals)
    run.layer["session.start_s"] = median([s["session_s"] for s in run.setups])
    run.layer["storage.open_s"] = median([s["open_s"] for s in run.setups])
    if run.trace:
        traced = res["traced"]
        base = (median(res["untraced"]["lat"]) + median(res["untraced_after"]["lat"])) / 2
        run.layer["trace.overhead_ratio"] = median(traced["lat"]) / base - 1
        run.info["trace_overhead_s"] = median(traced["lat"]) - base
        run.info["spans"] = len(res["tracer"].spans)
    if p is not None:
        run.info["latencies_s"] = {
            op: [round(v, 4) for v in vals] for op, vals in res["untraced"]["client"].lat.items()}
        run.layer["storage.samples_files_at_end"] = len(parquet_files(p.root, "samples"))
    return e2e


def host_slowdown(reference_s: list[float]) -> float:
    """How much slower than the reference speed the host ran: the mean of
    the faster half of the reference computation's times, over ``REF_S``.
    Whatever else runs on the guest or the host (the JVM's compiler and
    collector threads after a request, other guests) can only slow a
    reference computation down, so the faster half tracks the host's own
    speed; it repeated better between runs than the median did."""
    faster = sorted(reference_s)[:max(1, len(reference_s) // 2)]
    return sum(faster) / len(faster) / REF_S


def tail(vals: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(vals)
    if n < 11:
        return {"n": n, "percentile": None, "value": None}
    return {"n": n, "percentile": math.floor(100 * (n - 10) / n), "value": sorted(vals)[n - 11]}
