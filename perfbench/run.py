"""Adapter benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload {serve,analytics} \
        --seed N --seconds S --trace {0,1}

Workloads (see BENCHMARK.json for why each one exists):

- ``serve``     a preloaded store and a repeating read/write/PromQL cycle
- ``analytics`` the 13 headline registry queries of bench.py (noop sink)

Prints every end-to-end metric of the workload as ``name value unit`` lines,
then, as the last line, one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the gated end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced second phase. The
full record (run metadata, tails, every metric, spans) is written under
``.perfbench/out/``. Exits non-zero when any answer check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: gated end-to-end metrics, reported by every workload
END_TO_END = {"setup_s": "s", "work_ref_s": "s", "driver_rss_mb": "MB"}

_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_delta", "orders_semijoin_bigqty", "ph_series_group",
    "ph_downsample_1h", "ph_semijoin_subquery", "ph_delta_window", "ph_sessionize",
    "doc_shingle_jaccard_lsh", "doc_minhash_lsh", "emb_cosine_topk",
]
_OPS = ("write", "read_point", "read_wide", "read_stream", "query_range")
#: per-layer metrics; a layer a workload does not call reports 0
PER_LAYER = {
    "session.start_s": "s", "storage.open_s": "s", "setup.preload_s": "s",
    "http.write.self_s": "s", "http.read.self_s": "s", "http.query_range.self_s": "s",
    "snappy.decompress_s": "s", "snappy.decompress_mb_per_s": "MB/s", "snappy.compress_s": "s",
    "prompb.decode_write_s": "s", "prompb.samples_decoded": "count",
    "prompb.decode_read_s": "s", "prompb.encode_read_response_s": "s",
    "prompb.encode_chunked_s": "s",
    "fingerprint.calls_per_write": "count", "fingerprint.s": "s",
    "storage.write_s": "s", "storage.handoff_s": "s", "storage.new_series_per_write": "count",
    "storage.ingest_df_s": "s", "storage.files_per_write": "count",
    "storage.read_s": "s", "storage.iter_series_s": "s",
    "storage.registry_keys_examined_per_series": "ratio", "storage.samples_files_at_end": "count",
    **{f"spark.{m}.{op}": u for op in _OPS for m, u in (
        ("jobs_per_request", "count"), ("tasks_per_request", "count"),
        ("collect_s", "s"), ("rows_collected", "count"))},
    "promql.parse_s": "s", "promql.compile_s": "s", "promql.execute_s": "s",
    "promql.jobs_per_query": "count",
    **{f"analytics.{q}{m}": u for q in _QUERIES for m, u in (("_s", "s"), (".jobs", "count"))},
    "trace.overhead_ratio": "ratio",
}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "promhouse_spark")):
        print(f"no promhouse_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # everything the run writes, Spark and the JVM included, stays in `work`
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(work, "tiers")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path[:0] = [HERE, ROOT]

    import scenarios

    run = scenarios.Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    load_before, steal_before = _loadavg(), _steal_s()
    t0 = time.perf_counter()
    try:
        run.start_spark()
        cold = time.perf_counter() - t0
        run.mark("jvm")
        e2e = getattr(scenarios, args.workload)(run)
        run.mark("checks")
    finally:
        stop_spark(run)
        run.mark("stop")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, stem + ".spans.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    load_after = _loadavg()

    correct = run.failed == 0
    for name, (value, unit) in e2e.items():
        print(f"{name} {value:.6g} {unit}")
    for name, t in run.info.get("tails", {}).items():
        if t["percentile"] is None:
            print(f"{name}_tail_s n/a ({t['n']} samples, a tail needs at least 11)")
        else:
            print(f"{name}_tail_s {t['value']:.6g} s (p{t['percentile']} of {t['n']})")
    print(f"failed_ratio {run.failed / max(1, run.attempted):.6g} ratio")
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        layer = {k: float(run.layer.get(k, 0.0)) for k in PER_LAYER}
        for k, v in layer.items():
            print(f"{k} {v:.6g} {PER_LAYER[k]}")
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": scenarios.nproc(),
        "master": f"local[{scenarios.SPARK_CORES}]", "jvm_cold_start_s": cold,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_s": _steal_s() - steal_before,
        "setups": run.setups, "timeline": run.timeline,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": run.layer, "info": run.info, "attempted": run.attempted,
        "failed": run.failed, "problems": run.problems,
    }
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def stop_spark(run) -> None:
    """Stop the session and wait for the JVM the session launched to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
