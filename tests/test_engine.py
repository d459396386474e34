"""Engine facade — one method per reference endpoint — and IR validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from egraphdb_spark.engine import Engine
from egraphdb_spark.ingest import make_vertices
from egraphdb_spark.plans.ir import QueryIRError, validate


@pytest.fixture(scope="module")
def engine(spark, graph):
    return Engine(spark, graph.vertices, graph.edges, graph.indexes)


def test_get_detail_and_multi_get(engine):
    assert engine.get_detail("customer:7").collect()[0]["key"] == "customer:7"
    got = {r["key"] for r in engine.multi_get(["region:0", "region:1", "nope"]).collect()}
    assert got == {"region:0", "region:1"}


def test_search_endpoint(engine):
    out = engine.search(
        {
            "type": "index",
            "conditions": {
                "any": [{"key": "BUILDING", "key_type": "text", "index_name": "c_mktsegment"}]
            },
            "selected_paths": {"seg": ["c_mktsegment"]},
        }
    ).collect()
    assert out and all(r["seg"] == "BUILDING" for r in out)


def test_traverse_reference_off_by_one(engine):
    # maxdepth=0 must still reach level-1 neighbours (README.md:184)
    lv = engine.traverse("nation:3", maxdepth=0).collect()
    assert {r["key"] for r in lv} and all(r["level"] == 1 for r in lv)


def test_find_path(engine):
    region = engine.traverse("customer:7", maxdepth=1).where(
        F.col("key").startswith("region:")
    ).head()["key"]
    path = engine.find_path("customer:7", region)
    assert path[0] == "customer:7" and path[-1] == region and len(path) == 3


def test_mutation_returns_new_engine(engine, spark):
    e2 = engine.delete_nodes(["region:0"])
    assert e2.get_detail("region:0").count() == 0
    assert engine.get_detail("region:0").count() == 1  # original untouched


def test_upsert_edges_and_edge_lookup(engine, spark):
    links = spark.createDataFrame(
        [("region:0", "region:1", '{"rel": "adjacent"}')],
        "src_key string, dst_key string, details string",
    )
    e2 = engine.upsert_edges(links)
    got = e2.edge("region:0", "region:1").collect()
    assert len(got) == 1
    assert engine.edge("region:0", "region:1").count() == 0
    # re-upserting an existing (src, dst) replaces it: one row, new details
    relinked = spark.createDataFrame(
        [("region:0", "region:1", '{"rel": "border"}')],
        "src_key string, dst_key string, details string",
    )
    got = e2.upsert_edges(relinked).edge("region:0", "region:1").collect()
    assert [r["details"] for r in got] == ['{"rel": "border"}']


def _nodes(spark, rows):
    """(key, details, index_paths) tuples → canonical incoming vertices."""
    df = spark.createDataFrame(
        [(k, d, p, []) for k, d, p in rows],
        "key string, details string, index_paths array<array<string>>, "
        "lowercase_index_paths array<array<string>>",
    )
    return make_vertices(df, kind=F.lit("test"))


def _leaves(df):
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


def test_chained_upserts_keep_plans_flat(engine, spark):
    """Each write's version is planned over the last version, not over the
    chain of every write before it."""
    eng, leaves = engine, []
    for i in range(4):
        eng = eng.upsert_nodes(_nodes(spark, [(f"chain:{i}", f'{{"n": {i}}}', [["n"]])]))
        leaves.append((_leaves(eng.vertices), _leaves(eng.indexes)))
    assert leaves[-1][0] <= leaves[0][0], leaves
    assert leaves[-1][1] <= leaves[0][1], leaves


def _by_name(eng, name, value):
    cond = {"key": value, "key_type": "text", "index_name": name}
    return (
        eng.search({"conditions": {"any": [cond]}}).count(),
        eng.index_search(cond).count(),
    )


def test_write_chain_keeps_indexes_equal_to_reindex(engine, spark):
    """Per-id index maintenance across upserts, a delete and an edge upsert
    ends exactly where a full re-derivation does."""
    c7 = engine.get_detail("customer:7").head()
    r1 = engine.get_detail("region:1").head()
    retagged = c7["details"][:-1] + ', "tier": "gold"}'
    eng = engine.upsert_nodes(_nodes(spark, [("customer:7", retagged, [["tier"]])]))
    eng = eng.upsert_nodes(_nodes(spark, [("fresh:1", '{"sku": "zz-42"}', [["sku"]])]))
    eng = eng.upsert_nodes(
        _nodes(spark, [("region:1", r1["details"], [list(p) for p in r1["index_paths"]])])
    )
    versions = {r["key"]: r["version"] for r in eng.multi_get(
        ["customer:7", "fresh:1", "region:1"]).collect()}
    assert versions == {"customer:7": c7["version"] + 1, "fresh:1": 0,
                        "region:1": r1["version"]}
    assert _by_name(eng, "tier", "gold") == (1, 1)
    # customer:7 no longer declares c_name: its old index rows are gone
    assert _by_name(engine, "c_name", "Customer#000000007") == (1, 1)
    assert _by_name(eng, "c_name", "Customer#000000007") == (0, 0)
    assert _by_name(eng, "sku", "zz-42") == (1, 1)
    c9 = "Customer#000000009"
    assert _by_name(eng, "c_name", c9) == (1, 1)

    eng = eng.delete_nodes(["fresh:1", "customer:9"])
    eng = eng.upsert_edges(spark.createDataFrame(
        [("region:1", "region:2", '{"rel": "adjacent"}')],
        "src_key string, dst_key string, details string",
    ))
    assert _by_name(eng, "sku", "zz-42") == (0, 0)
    assert _by_name(eng, "c_name", c9) == (0, 0)
    full = eng.reindex().indexes
    assert eng.indexes.exceptAll(full).count() == 0
    assert full.exceptAll(eng.indexes).count() == 0


def test_function_registry_endpoint(engine):
    engine.register_function(
        "engine_inc", lambda x: x + 1, "long", [(1,)], lambda a, r: r == a[0] + 1
    )
    assert engine.invoke_function("engine_inc", 41) == {"status": "ok", "result": 42}


def test_udf_api_surface(engine):
    api = engine.udf_api()
    assert api.get_detail("region:0") is not None
    dsts = api.search_destination("nation:3")
    assert any(d.startswith("region:") for d in dsts)


def test_reindex_is_idempotent(engine):
    e2 = engine.reindex()
    assert e2.indexes.count() == engine.indexes.count()


# ------------------------------------------------------------ IR validation


def test_ir_accepts_reference_query():
    q = {
        "type": "index",
        "conditions": {
            "any": [
                {"key": [9.0, 10.0], "key_type": "double", "index_name": "x"},
                {
                    "key": {"type": "Point", "coordinates": [77.2, 28.6]},
                    "key_type": "geo",
                    "index_name": "loc",
                    "distance_sphere": 1000.0,
                },
            ]
        },
        "filters": [{"key": "a", "key_type": "text", "index_json_path": ["p"]}],
        "selected_paths": {"name": ["p", "q"]},
    }
    assert validate(q) is q


@pytest.mark.parametrize(
    "bad",
    [
        {},  # no conditions
        {"conditions": {"any": []}},  # empty any
        {"conditions": {"any": [{"key": 1, "index_name": "x"}]}},  # no key_type
        {"conditions": {"any": [{"key": 1, "key_type": "bignum", "index_name": "x"}]}},
        {"conditions": {"any": [{"key": [1, 2, 3], "key_type": "int", "index_name": "x"}]}},
        {"conditions": {"any": [{"key": 1, "key_type": "int", "index_name": "x",
                                 "distance_sphere": 5}]}},  # distance on non-geo
        {"conditions": {"any": [{"key": {"type": "Polygon", "coordinates": []},
                                 "key_type": "geo", "index_name": "x"}]}},
        {"conditions": {"any": [{"key": 1, "key_type": "int", "index_name": "x"}]},
         "filters": [{"key": 1, "key_type": "int"}]},  # filter missing path
        {"conditions": {"any": [{"key": 1, "key_type": "int", "index_name": "x"}]},
         "selected_paths": {"n": []}},  # empty path
    ],
)
def test_ir_rejects_malformed(bad):
    with pytest.raises(QueryIRError):
        validate(bad)


def test_session_cache_key_and_prune(spark):
    """Memo dicts must key on applicationId, not id(spark) — a GC'd session's
    address can be reused by a new session, resurrecting dead DataFrames."""
    from egraphdb_spark.session import prune_dead_entries, session_cache_key

    key = session_cache_key(spark)
    assert isinstance(key, str) and key  # e.g. "local-17236..."
    cache = {("app-old", "a"): 1, ("app-old", "b"): 2, (key, "a"): 3}
    prune_dead_entries(cache, key)
    assert cache == {(key, "a"): 3}


def test_reindex_status_watermarks(spark, graph):
    """reindex_status: shard totals reconcile with the base tables and the
    index join; reindex() leaves watermarks unchanged (idempotent)."""
    from egraphdb_spark.engine import Engine

    eng = Engine(spark, graph.vertices, graph.edges, graph.indexes)
    st = eng.reindex_status(n_shards=16)
    rows = st.collect()
    assert 0 < len(rows) <= 16
    assert sum(r["n_nodes"] for r in rows) == graph.vertices.count()
    assert sum(r["n_index_rows"] for r in rows) == graph.indexes.count()
    assert all(r["is_reindexing"] == 0 for r in rows)
    assert all(r["last_updated_at"] is not None for r in rows)
    # rebuild is idempotent: identical status afterwards
    st2 = eng.reindex().reindex_status(n_shards=16)
    assert sorted(map(tuple, st2.collect())) == sorted(map(tuple, rows))
