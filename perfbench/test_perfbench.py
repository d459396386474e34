"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import datagen, inputs
from perfbench.model import GraphModel, check_path, xxhash64
from perfbench.trace import Span, percentile, self_times_ms

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def tables():
    return datagen.build_tables()


@pytest.fixture(scope="module")
def model(tables):
    return GraphModel.from_tables(tables)


# ------------------------------------------------------------ determinism


def test_tables_are_a_pure_function_of_the_dataset_seed(tables):
    again = datagen.build_tables()
    assert all(tables[t].equals(again[t]) for t in datagen.TABLES)
    assert not datagen.build_tables(seed=7)["customer"].equals(tables["customer"])


def test_request_streams_depend_only_on_the_seed(model):
    a = inputs.point_reads(5, model, 200)
    assert a == inputs.point_reads(5, model, 200)
    assert a != inputs.point_reads(6, model, 200)
    s = inputs.graph_session(5, model)
    assert s == inputs.graph_session(5, model)
    assert s != inputs.graph_session(6, model)


def test_point_reads_blocks_hold_the_fixed_mix(model):
    reqs = inputs.point_reads(3, model, 40)
    block = sum(inputs.READ_MIX.values())
    for i in range(0, 40, block):
        ops = [op for op, _ in reqs[i:i + block]]
        assert {op: ops.count(op) for op in inputs.READ_MIX} == inputs.READ_MIX


def test_session_generation_leaves_the_model_untouched(model):
    before = (len(model.vertices), len(model.edges))
    inputs.graph_session(9, model)
    assert (len(model.vertices), len(model.edges)) == before


# ------------------------------------------------------------- arithmetic


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    assert percentile(list(range(1, 11)), 90) == pytest.approx(9.1)
    assert percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("request", "request", 0.0, 1.0, None, "r1", 0),
        Span("plan", "scans", 0.1, 0.3, 0, "r1", 1),
        Span("exec", "scans", 0.3, 0.9, 0, "r1", 2),
        Span("inner", "search", 0.4, 0.5, 2, "r1", 3),
    ]
    got = self_times_ms(spans)
    assert got["request"] == pytest.approx(200.0)
    assert got["scans"] == pytest.approx(200.0 + 500.0)
    assert got["search"] == pytest.approx(100.0)
    assert sum(got.values()) == pytest.approx(1000.0)


def test_xxhash64_matches_reference_vectors():
    def signed(x):
        return x - (1 << 64) if x >= 1 << 63 else x

    assert xxhash64(b"", seed=0) == signed(0xEF46DB3751D8E999)
    assert xxhash64(b"abc", seed=0) == signed(0x44BC2CF5AD770999)
    assert xxhash64(b"a" * 100) == xxhash64(b"a" * 100)  # 32-byte stripes path


# --------------------------------------------------------------- checking


def test_checker_accepts_the_model_answer_and_flags_a_wrong_one(model):
    from perfbench.workloads import agrees, expected

    for op, args in inputs.point_reads(1, model, 60):
        want = expected(model, op, args)
        assert agrees(op, want, want)
    key = "customer:7"
    right = expected(model, "get_detail", (key,))
    wrong_version = [(k, kind, d, v + 1) for k, kind, d, v in right]
    assert not agrees("get_detail", wrong_version, right)
    wrong_doc = [(k, kind, dict(d, c_acctbal=0.5), v) for k, kind, d, v in right]
    assert not agrees("get_detail", wrong_doc, right)
    q = inputs.search_query(__import__("numpy").random.default_rng(0), model, "part")
    rows = expected(model, "search", (q,))
    assert rows and not agrees("search", rows[1:], rows)
    assert not agrees("out_edges", expected(model, "out_edges", (key,))[:-1],
                      expected(model, "out_edges", (key,)))


def test_model_applies_writes_the_way_the_engine_versions_them(model):
    m = model.copy()
    doc = json.dumps({"c_custkey": 7, "c_mktsegment": "SEGX", "c_acctbal": 1.5,
                      "c_name": "n"})
    node = {"key": "customer:7", "kind": "customer", "details": doc,
            "index_paths": inputs.CUSTOMER_PATHS, "lowercase_index_paths": [["c_mktsegment"]]}
    m.upsert_nodes([node])
    assert m.detail("customer:7")[3] == 1
    m.upsert_nodes([node])  # unchanged document keeps its version
    assert m.detail("customer:7")[3] == 1
    assert m.index_search({"key": "segx", "key_type": "text",
                           "index_name": "c_mktsegment_lc__"}) == ["customer:7"]
    m.delete_nodes(["customer:7"])
    assert m.detail("customer:7") is None
    assert model.detail("customer:7")[3] == 0  # the copy did not leak


def test_path_check_requires_a_shortest_walk_over_real_edges(model):
    src = "customer:7"
    nation = next(d for d in model.out_edges(src) if d.startswith("nation:"))
    region = model.out_edges(nation)[0]
    assert check_path([src, nation, region], model, src, region, 10)
    assert not check_path([src, region], model, src, region, 10)  # no such edge
    assert not check_path(None, model, src, region, 10)
    assert check_path(None, model, region, src, 10)  # unreachable


def test_benchmark_json_lists_what_run_reports():
    from perfbench.run import END_TO_END, WORKLOADS, per_layer_units

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
