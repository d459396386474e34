#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload point_reads --seed 1 --seconds 12 --trace 0

Workloads: ``point_reads`` and ``graph_session`` (see README.md).  The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is a summary with sample counts, the host sizing and every
workload-specific figure.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.inputs import BASKET, LOOKUP_OPS, SESSION_WRITES  # noqa: E402
from perfbench.trace import Tracer, median, percentile, self_times_ms  # noqa: E402

WORKLOADS = ("point_reads", "graph_session")
MAX_HEAP_MB = 6144
YOUNG_GEN_MB = 1024

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "ops_per_s": "1/s",
    "op_p50_ms": "ms", "op_p90_ms": "ms",
}
# Workload-specific figures: printed in the summary line of every run, and
# as per-layer metrics of the traced run.
WORKLOAD_FIGURES = {
    "read_ops_per_s": "1/s", "lookup_p50_ms": "ms", "lookup_p90_ms": "ms",
    "search_p50_ms": "ms", "search_p90_ms": "ms", "session_s": "s",
    "traverse_p50_ms": "ms", "write_p50_ms": "ms", "read_after_write_p50_ms": "ms",
    "batch_s": "s", "error_rate": "ratio",
}
SELF_LAYERS = ("session", "graph", "queries", "engine", "ir", "scans", "search",
               "traversal", "ingest", "queries_tpch", "graph_algos", "pipeline", "request")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    m = {"session.get_spark_s": "s", "graph.load_tables_s": "s", "queries.fixture_s": "s",
         "warmup_s": "s", "fixture.vertices_rows": "count", "fixture.edges_rows": "count",
         "fixture.indexes_rows": "count", "host.steal_s": "s"}
    for fn in ("point_lookup", "multi_get", "out_edges", "edge_lookup"):
        m.update({f"scans.{fn}.plan_ms": "ms", f"scans.{fn}.exec_ms": "ms",
                  f"scans.{fn}.tasks": "count"})
    m["ir.validate.ms"] = "ms"
    for fn in ("search", "index_condition_ids"):
        m.update({f"search.{fn}.plan_ms": "ms", f"search.{fn}.exec_ms": "ms",
                  f"search.{fn}.jobs": "count", f"search.{fn}.tasks": "count",
                  f"search.{fn}.rows": "count"})
    m.update({"traversal.k_hop.plan_ms": "ms", "traversal.k_hop.exec_ms": "ms",
              "traversal.k_hop.jobs": "count", "traversal.bfs_path.ms": "ms",
              "traversal.bfs_path.jobs": "count", "traversal.bfs_path.levels": "count",
              "ingest.upsert_nodes.plan_ms": "ms", "ingest.upsert_nodes.ack_ms": "ms",
              "ingest.upsert_nodes.jobs": "count", "ingest.upsert_nodes.tasks": "count",
              "ingest.build_indexes.ack_ms": "ms", "ingest.delete_nodes.ack_ms": "ms",
              "engine.upsert_edges.ack_ms": "ms"})
    for d in range(1, len(SESSION_WRITES) + 1):
        m[f"read_after_write.d{d}_ms"] = "ms"
    for q in BASKET:
        m.update({f"batch.{q}.s": "s", f"batch.{q}.jobs": "count",
                  f"batch.{q}.tasks": "count"})
    m["spark.failed_tasks"] = "count"
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = "ms"
    m.update({f"traced.{k}": u for k, u in END_TO_END.items() if k != "peak_rss_mb"})
    m.update(WORKLOAD_FIGURES)
    return m


# ------------------------------------------------------------------- host


def host_sizing() -> dict[str, int]:
    """Spark parallelism from the CPUs this process may use; driver heap a
    quarter of physical memory, capped (the engine's default is 48g)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(MAX_HEAP_MB, mem_kb // 1024 // 4))
    return {"nproc": nproc, "heap_mb": heap_mb}


def steal_seconds() -> float:
    """Cumulative CPU time the hypervisor took from this machine."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident memory of the JVM plus this Python process."""
    with open(f"/proc/{jvm_pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


# ---------------------------------------------------------------- metrics


def _pct(xs, q):
    return percentile(xs, q) if xs else 0.0


def workload_figures(run, workload: str) -> dict[str, float]:
    f = dict.fromkeys(WORKLOAD_FIGURES, 0.0)
    ops = run.all_ops_ms()
    if workload == "point_reads":
        lookups = [x for op in LOOKUP_OPS for x in run.op_ms.get(op, [])]
        f.update(read_ops_per_s=len(ops) / run.wall_s,
                 lookup_p50_ms=_pct(lookups, 50), lookup_p90_ms=_pct(lookups, 90),
                 search_p50_ms=_pct(run.op_ms.get("search", []), 50),
                 search_p90_ms=_pct(run.op_ms.get("search", []), 90),
                 batch_s=run.scalars.get("batch_s", 0.0))
    else:
        f.update(session_s=run.scalars["session_s"],
                 traverse_p50_ms=_pct(run.op_ms.get("traverse", []), 50),
                 write_p50_ms=_pct(run.op_ms.get("write", []), 50),
                 read_after_write_p50_ms=_pct(run.op_ms.get("read_after_write", []), 50))
    f["error_rate"] = len(run.failures) / max(run.attempted, 1)
    return f


def end_to_end(run, setup_s: float, peak_mb: float) -> dict[str, float]:
    ops = run.all_ops_ms()
    return {"setup_s": setup_s, "peak_rss_mb": peak_mb,
            "ops_per_s": len(ops) / run.wall_s if run.wall_s else 0.0,
            "op_p50_ms": _pct(ops, 50), "op_p90_ms": _pct(ops, 90)}


def layer_metrics(run, tracer, e2e, figures, steal_s) -> dict[str, float]:
    out = {name: 0.0 for name in per_layer_units()}
    for name, xs in run.layer.items():
        if name in out:
            out[name] = median(xs)
    out.update({k: v for k, v in run.scalars.items() if k in out})
    for fn, counts in tracer.job_counts().items():
        for i, measure in ((0, "jobs"), (1, "tasks")):
            if f"{fn}.{measure}" in out:
                out[f"{fn}.{measure}"] = median([float(c[i]) for c in counts])
        out["spark.failed_tasks"] += sum(c[2] for c in counts)
    for layer, ms in self_times_ms(tracer.spans).items():
        if f"self.{layer}_ms" in out:
            out[f"self.{layer}_ms"] = ms
    out.update({f"traced.{k}": v for k, v in e2e.items() if f"traced.{k}" in out})
    out.update(figures)
    out["host.steal_s"] = steal_s
    return out


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "egraphdb_spark", "engine.py")):
        print("perfbench: the engine package egraphdb_spark/ is not in this checkout",
              file=sys.stderr)
        return 2
    build = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    build = os.path.abspath(build)
    work = os.path.join(build, "perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        return _run(args, build, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, build: str, work: str) -> int:
    host = host_sizing()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{host['heap_mb']}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # for every JVM spark-submit starts; without -XX:-UsePerfData each
        # would write /tmp/hsperfdata_<user>/<pid>.  A fixed young generation:
        # with G1's adaptive eden sizing the driver's memory high-water mark
        # ranged from 1.4 to 2.0 GB between graph_session runs.
        "JAVA_TOOL_OPTIONS": shlex.join([
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData",
            f"-Xmn{YOUNG_GEN_MB}m"]),
    })
    from pyspark import SparkContext

    from egraphdb_spark.session import get_spark
    from perfbench import datagen, workloads
    from perfbench.model import GraphModel

    tables = datagen.build_tables()
    sf_dir = datagen.write_tables(tables, os.path.join(work, "sf"))
    model = GraphModel.from_tables(tables)

    steal0 = steal_seconds()
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    run = workloads.Run(spark, tracer, model, args.seed, args.seconds, host["nproc"])
    run.scalars["session.get_spark_s"] = get_spark_s
    g = workloads.build_fixture(run, sf_dir)
    if args.workload == "point_reads":
        collected = workloads.analytics_basket(run, sf_dir)
        workloads.point_reads(run, g)
        peak_mb = peak_rss_mb(jvm_pid)  # before the in-process DuckDB oracles
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        import parity
        from egraphdb_spark.queries import REGISTRY

        def oracle_check(q, pdf):
            return parity.compare(pdf, parity.run_oracle(REGISTRY[q][1], sf_dir))

        workloads.check_basket(run, collected, oracle_check)
    else:
        workloads.graph_session(run, g)
        peak_mb = peak_rss_mb(jvm_pid)

    setup_s = (get_spark_s + run.scalars["graph.load_tables_s"]
               + run.scalars["queries.fixture_s"] + run.scalars.get("warmup_s", 0.0))
    e2e = end_to_end(run, setup_s, peak_mb)
    figures = workload_figures(run, args.workload)
    metrics_layer = layer_metrics(run, tracer, e2e, figures,
                                  steal_seconds() - steal0) if args.trace else None

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    if args.trace:
        spans_dir = os.path.join(build, "perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"),
                    {"workload": args.workload, "seed": args.seed})

    failed = len(run.failures)
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": host["nproc"], "heap_mb": host["heap_mb"],
        "steal_s": round(steal_seconds() - steal0, 2),
        "samples": {k: len(v) for k, v in sorted(run.op_ms.items())},
        "get_spark_s": round(get_spark_s, 3),
        "fixture_s": round(run.scalars["graph.load_tables_s"] + run.scalars["queries.fixture_s"], 3),
        "warmup_s": round(run.scalars.get("warmup_s", 0.0), 3),
        "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
        "figures": {k: round(v, 4) for k, v in figures.items()},
        "failures": run.failures[:5],
    }
    print(json.dumps(summary))
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": metrics_layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
