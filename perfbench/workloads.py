"""The workloads and the analytics basket, driven through ``Engine`` and
``queries.REGISTRY``.

Each function takes a :class:`Run` (session, tracer, reference model, seed,
duration) and records latencies, per-layer samples and correctness failures
on it.  Nothing here changes the engine.
"""

from __future__ import annotations

import json
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from egraphdb_spark.engine import Engine
from egraphdb_spark.graph import load_tables
from egraphdb_spark.ingest import make_vertices
from egraphdb_spark.plans.ir import validate
from egraphdb_spark.queries import REGISTRY, fixture

from . import inputs
from .model import GraphModel, check_path, node_id, same_multiset
from .trace import Tracer

# Reads: engine method -> the operator function it plans with.
READ_FN = {
    "get_detail": "scans.point_lookup",
    "multi_get": "scans.multi_get",
    "out_edges": "scans.out_edges",
    "edge": "scans.edge_lookup",
    "index_search": "search.index_condition_ids",
    "search": "search.search",
    "traverse": "traversal.k_hop",
}

@dataclass
class Run:
    spark: object
    tracer: Tracer
    model: GraphModel
    seed: int
    seconds: float
    clients: int
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    op_ms: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    layer: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    scalars: dict[str, float] = field(default_factory=dict)
    wall_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _rid: int = 0

    def request_id(self, op: str) -> str:
        with self._lock:
            self._rid += 1
            return f"{op}-{self._rid}"

    def sample(self, name: str, value: float) -> None:
        with self._lock:
            self.layer[name].append(value)

    def fail(self, what: str) -> None:
        with self._lock:
            self.failures.append(what)

    def all_ops_ms(self) -> list[float]:
        return [x for xs in self.op_ms.values() for x in xs]


# ------------------------------------------------------------------ set-up


def build_fixture(run: Run, sf_dir: str):
    """Read the tables, then derive and cache the serving fixture."""
    t0 = time.perf_counter()
    with run.tracer.span("graph.load_tables", "graph"):
        load_tables(run.spark, sf_dir)
    t1 = time.perf_counter()
    with run.tracer.span("queries.fixture", "queries"):
        g = fixture(run.spark, sf_dir)
        counts = (g.vertices.count(), g.edges.count(), g.indexes.count())
    t2 = time.perf_counter()
    run.scalars.update({"graph.load_tables_s": t1 - t0, "queries.fixture_s": t2 - t1})
    run.scalars.update(zip(("fixture.vertices_rows", "fixture.edges_rows",
                            "fixture.indexes_rows"), map(float, counts)))
    want = (len(run.model.vertices), len(run.model.edges), run.model.index_rows())
    run.attempted += 1
    if counts != want:
        run.fail(f"fixture counts {counts} != model {want}")
    return g


# ------------------------------------------------------------------- reads


def _plan_read(eng: Engine, op: str, args):
    if op == "get_detail":
        return eng.get_detail(*args).select("key", "kind", "details", "version")
    if op == "multi_get":
        return eng.multi_get(*args).select("key")
    if op == "out_edges":
        return eng.out_edges(*args).select("dst_key")
    if op == "edge":
        return eng.edge(*args).select("src_key", "dst_key")
    if op == "index_search":
        return eng.index_search(*args)
    if op == "search":
        return eng.search(*args)
    return eng.traverse(*args)


def normalize(op: str, rows) -> list | int:
    """An engine response as plain values comparable with the model."""
    if op == "get_detail":
        return [(r["key"], r["kind"], json.loads(r["details"]), r["version"]) for r in rows]
    if op == "multi_get":
        return sorted(r["key"] for r in rows)
    if op == "out_edges":
        return sorted(r["dst_key"] for r in rows)
    if op == "edge":
        return len(rows)
    if op == "index_search":
        return sorted(r["id"] for r in rows)
    if op == "traverse":
        return sorted((r["level"], r["key"]) for r in rows)
    return sorted((tuple(r) for r in rows), key=repr)


def expected(model: GraphModel, op: str, args) -> list | int:
    if op == "get_detail":
        d = model.detail(args[0])
        return [] if d is None else [d]
    if op == "multi_get":
        return model.multi_get(args[0])
    if op == "out_edges":
        return model.out_edges(args[0])
    if op == "edge":
        return model.edge(*args)
    if op == "index_search":
        return sorted(node_id(k) for k in model.index_search(args[0]))
    if op == "traverse":
        return model.k_hop(args[0], args[1] + 1)
    return model.search(args[0])


def agrees(op: str, got, want) -> bool:
    if op == "search":
        return same_multiset(got, want)
    return got == want


def read(run: Run, eng: Engine, op: str, args) -> tuple[object, float]:
    """One read request: plan, execute, normalise.  Returns (response, ms)."""
    fn = READ_FN[op]
    layer = fn.split(".")[0]
    rid = run.request_id(op)
    tr = run.tracer
    with tr.job_group(fn, rid), tr.span(f"request.{op}", "request", rid):
        if op == "search" and tr.enabled:
            v0 = time.perf_counter()
            with tr.span("ir.validate", "ir"):
                validate(args[0])
            run.sample("ir.validate.ms", (time.perf_counter() - v0) * 1000.0)
        t0 = time.perf_counter()
        with tr.span(f"{fn}.plan", layer):
            df = _plan_read(eng, op, args)
        t1 = time.perf_counter()
        with tr.span(f"{fn}.exec", layer):
            rows = df.collect()
        t2 = time.perf_counter()
    run.sample(f"{fn}.plan_ms", (t1 - t0) * 1000.0)
    run.sample(f"{fn}.exec_ms", (t2 - t1) * 1000.0)
    run.sample(f"{fn}.rows", float(len(rows)))
    return normalize(op, rows), (t2 - t0) * 1000.0


def _check(run: Run, model: GraphModel, op: str, args, got) -> None:
    want = expected(model, op, args)
    if not agrees(op, got, want):
        run.fail(f"{op}{str(args)[:120]}: got {str(got)[:160]} want {str(want)[:160]}")


# ------------------------------------------------------------- point_reads


def point_reads(run: Run, g) -> None:
    """Closed loop: ``run.clients`` threads, each sending its next read as
    soon as the previous one returns, for ``run.seconds``."""
    eng = Engine(run.spark, g.vertices, g.edges, g.indexes)
    reqs = inputs.point_reads(run.seed, run.model, 1000)
    t0 = time.perf_counter()
    for op in inputs.READ_MIX:  # warm every request shape once
        args = next(a for o, a in reqs if o == op)
        got, _ = read(run, eng, op, args)
        run.attempted += 1
        _check(run, run.model, op, args, got)
    run.scalars["warmup_s"] = time.perf_counter() - t0

    results: list[tuple[str, tuple, object, float]] = []
    cursor = iter(range(10**9))
    start = time.perf_counter()
    deadline = start + run.seconds

    def client():
        while time.perf_counter() < deadline:
            with run._lock:
                i = next(cursor)
            op, args = reqs[i % len(reqs)]
            try:
                got, ms = read(run, eng, op, args)
            except Exception:  # a failed request is counted, not fatal
                run.fail(f"{op}: {traceback.format_exc(limit=1)}")
                with run._lock:
                    run.attempted += 1
                continue
            with run._lock:
                run.attempted += 1
                results.append((op, args, got, ms))

    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(run.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run.wall_s = time.perf_counter() - start
    for op, args, got, ms in results:
        run.op_ms[op].append(ms)
        _check(run, run.model, op, args, got)


# ----------------------------------------------------------- graph_session

_NODE_SCHEMA = ("key string, kind string, details string, "
                "index_paths array<array<string>>, lowercase_index_paths array<array<string>>")
_LINK_SCHEMA = "src_key string, dst_key string, details string"


def _write(run: Run, eng: Engine, op: str, args) -> Engine:
    """Apply one write and acknowledge it by counting the new version."""
    spark, tr = run.spark, run.tracer
    rid = run.request_id(op)
    fn = {"upsert_nodes": "ingest.upsert_nodes", "upsert_edges": "engine.upsert_edges",
          "delete_nodes": "ingest.delete_nodes"}[op]
    with tr.job_group(fn, rid), tr.span(f"request.{op}", "request", rid):
        t0 = time.perf_counter()
        with tr.span(f"{fn}.plan", fn.split(".")[0]):
            if op == "upsert_nodes":
                incoming = spark.createDataFrame(args[0], _NODE_SCHEMA)
                new = eng.upsert_nodes(make_vertices(incoming, kind=F.col("kind")))
            elif op == "upsert_edges":
                new = eng.upsert_edges(spark.createDataFrame(args[0], _LINK_SCHEMA))
            else:
                new = eng.delete_nodes(args[0])
        t1 = time.perf_counter()
        with tr.span(f"{fn}.ack", fn.split(".")[0]):
            nv = new.vertices.count()
        t2 = time.perf_counter()
        with tr.span("ingest.build_indexes.ack", "ingest"):
            ni = new.indexes.count()
        t3 = time.perf_counter()
        with tr.span("engine.edges.ack", "engine"):
            ne = new.edges.count()
        t4 = time.perf_counter()
    run.sample(f"{fn}.plan_ms", (t1 - t0) * 1000.0)
    run.sample(f"{fn}.ack_ms", ((t4 - t3) if op == "upsert_edges" else (t2 - t1)) * 1000.0)
    if op != "upsert_edges":
        run.sample("ingest.build_indexes.ack_ms", (t3 - t2) * 1000.0)
    run.op_ms["write"].append((t4 - t0) * 1000.0)
    getattr(run.model, op)(args[0])
    want = (len(run.model.vertices), run.model.index_rows(), len(run.model.edges))
    if (nv, ni, ne) != want:
        run.fail(f"{op} ack counts (v, ix, e)={(nv, ni, ne)} != model {want}")
    return new


def graph_session(run: Run, g) -> None:
    """One client runs the seeded write sequence with its read-after-write
    reads, exactly once; ``run.seconds`` does not apply."""
    seq = inputs.graph_session(run.seed, run.model)
    eng, depth = Engine(run.spark, g.vertices, g.edges, g.indexes), 0
    start = time.perf_counter()
    for op, args in seq:
        run.attempted += 1
        try:
            if op in ("upsert_nodes", "upsert_edges", "delete_nodes"):
                eng = _write(run, eng, op, args)
                depth += 1
            else:
                _session_read(run, eng, op, args, depth)
        except Exception:
            run.fail(f"{op}: {traceback.format_exc(limit=1)}")
    run.wall_s = time.perf_counter() - start
    run.scalars["session_s"] = run.wall_s


def _session_read(run: Run, eng: Engine, op: str, args, depth: int) -> None:
    if op == "find_path":
        rid = run.request_id(op)
        with run.tracer.job_group("traversal.bfs_path", rid), \
                run.tracer.span("request.find_path", "request", rid):
            t0 = time.perf_counter()
            with run.tracer.span("traversal.bfs_path", "traversal"):
                path = eng.find_path(*args)
            ms = (time.perf_counter() - t0) * 1000.0
        run.sample("traversal.bfs_path.ms", ms)
        run.sample("traversal.bfs_path.levels", float(len(path) - 1 if path else 0))
        run.op_ms["find_path"].append(ms)
        if not check_path(path, run.model, args[0], args[1], 10):
            run.fail(f"find_path{args}: got {path}")
        return
    got, ms = read(run, eng, op, args)
    if op in ("get_detail", "search"):
        run.op_ms["read_after_write"].append(ms)
        if op == "get_detail":
            run.sample(f"read_after_write.d{depth}_ms", run.layer[f"{READ_FN[op]}.exec_ms"][-1])
    else:
        run.op_ms[op].append(ms)
    _check(run, run.model, op, args, got)


# ------------------------------------------------------- analytics basket


def analytics_basket(run: Run, sf_dir: str) -> dict:
    """Run each ``inputs.BASKET`` query in a seeded order: collect its result
    for the oracle check (untimed; this also warms the query up), then time
    one execution into the ``noop`` sink, as ``bench.py`` forces queries."""
    names = list(inputs.BASKET)
    order = [names[i] for i in np.random.default_rng([run.seed, 3]).permutation(len(names))]
    collected = {}
    for q in order:
        layer = inputs.BASKET[q]
        rid = run.request_id(q)
        run.attempted += 1
        try:
            result = REGISTRY[q][0](run.spark, sf_dir).toPandas()
            with run.tracer.job_group(f"batch.{q}", rid), \
                    run.tracer.span(f"request.{q}", "request", rid):
                t0 = time.perf_counter()
                with run.tracer.span(f"{layer}.{q}", layer):
                    REGISTRY[q][0](run.spark, sf_dir).write.format("noop").mode("overwrite").save()
                run.sample(f"batch.{q}.s", time.perf_counter() - t0)
            collected[q] = result
        except Exception:
            run.fail(f"{q}: {traceback.format_exc(limit=1)}")
    run.scalars["batch_s"] = sum(run.layer[f"batch.{q}.s"][0] for q in collected)
    return collected


def check_basket(run: Run, collected: dict, oracle_check) -> None:
    """Compare every collected basket result with its query's oracle."""
    for q, pdf in collected.items():
        problems = oracle_check(q, pdf)
        if problems:
            run.fail(f"{q} differs from its oracle: {problems[:3]}")
