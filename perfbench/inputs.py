"""Seeded request streams for the three workloads.

Everything a workload sends to the engine is generated here from the
workload seed and the (fixed) reference model, before the engine sees any
of it, so the same seed always produces the same requests.
"""

from __future__ import annotations

import json

import numpy as np

from .model import GraphModel, haversine_m

# ZIPF_S, READ_MIX and MULTI_GET_KEYS are assumptions, not measurements: no
# trace of the reference's request traffic was available to derive them from.
ZIPF_S = 1.1
MULTI_GET_KEYS = (24, 48)
LOOKUP_OPS = ("get_detail", "multi_get", "out_edges", "edge", "index_search")
# point_reads operation mix: every block of 20 requests holds exactly these
# counts in a seeded order, so each run executes the same proportions.
READ_MIX = {
    "get_detail": 6, "multi_get": 2, "out_edges": 3,
    "edge": 2, "index_search": 3, "search": 4,
}
MISSING_KEY = "customer:-1"

# Registry queries for the analytics layers, run once before the point-read
# loop: TPC-H aggregation, an iterative graph algorithm, and the pipeline
# family's text, similarity and sketch operators.
BASKET = {
    "agg_q1_pricing_summary": "queries_tpch",
    "graph_kcore": "graph_algos",
    "txt_stats": "pipeline",
    "sim_cosine_topk": "pipeline",
    "sketch_hll_distinct": "pipeline",
}

# Index paths the workloads query, per vertex kind: (text exact, numeric range).
_SEARCH_KINDS = {
    "customer": {"text": ["c_mktsegment"], "range": [("c_acctbal", "double")],
                 "filter": ("c_acctbal", "double"), "name": ["c_name"]},
    "part": {"text": ["p_brand", "p_type"],
             "range": [("p_size", "int"), ("p_retailprice", "double")],
             "filter": ("p_retailprice", "double"), "name": ["p_name"]},
}


class KeySampler:
    """Zipf-ranked keys over a seeded permutation of all vertex keys."""

    def __init__(self, keys: list[str], rng: np.random.Generator, s: float = ZIPF_S):
        self.keys = [keys[i] for i in rng.permutation(len(keys))]
        w = 1.0 / np.arange(1, len(keys) + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.rng = rng

    def __call__(self, n: int | None = None):
        u = self.rng.random(1 if n is None else n)
        idx = np.minimum(np.searchsorted(self.cdf, u), len(self.keys) - 1)
        picked = [self.keys[i] for i in idx]
        return picked[0] if n is None else picked


def _values(model: GraphModel, kind: str, path: str) -> list:
    return sorted({v.details[path] for v in model.vertices.values()
                   if v.kind == kind and path in v.details})


def _range(rng, values: list, kt: str):
    lo, hi = sorted(rng.choice(len(values), 2, replace=False))
    return [values[lo], values[hi]] if kt == "double" else [int(values[lo]), int(values[hi])]


def _geo_condition(rng, model: GraphModel) -> dict:
    """A distance_sphere condition whose radius sits in the middle of a gap
    between two capitals' distances, so float rounding cannot flip a match."""
    points = [v.details["capital_geolocation"]["coordinates"]
              for v in model.vertices.values() if v.kind == "nation"]
    centre = points[int(rng.integers(len(points)))]
    lon = round(centre[0] + float(rng.uniform(-5, 5)), 3)
    lat = round(centre[1] + float(rng.uniform(-5, 5)), 3)
    dists = sorted(haversine_m(p[0], p[1], lon, lat) for p in points)
    cut = int(rng.integers(1, min(8, len(dists))))
    radius = round((dists[cut - 1] + dists[cut]) / 2.0, 1)
    return {"key": {"type": "Point", "coordinates": [lon, lat]}, "key_type": "geo",
            "index_name": "capital_geolocation", "distance_sphere": radius}


def index_condition(rng, model: GraphModel) -> dict:
    """An exact, range or geo condition, one third each."""
    which = int(rng.integers(3))
    if which == 2:
        return _geo_condition(rng, model)
    kind = ["customer", "part"][int(rng.integers(2))]
    spec = _SEARCH_KINDS[kind]
    if which == 0:
        name = spec["text"][int(rng.integers(len(spec["text"])))]
        vals = _values(model, kind, name)
        return {"key": vals[int(rng.integers(len(vals)))], "key_type": "text",
                "index_name": name}
    name, kt = spec["range"][int(rng.integers(len(spec["range"])))]
    return {"key": _range(rng, _values(model, kind, name), kt), "key_type": kt,
            "index_name": name}


def search_query(rng, model: GraphModel, kind: str | None = None,
                 text_value: str | None = None) -> dict:
    """OR of an exact and a range condition, an AND filter, two selected paths."""
    kind = kind or ["customer", "part"][int(rng.integers(2))]
    spec = _SEARCH_KINDS[kind]
    name = spec["text"][0]
    if text_value is None:
        vals = _values(model, kind, name)
        text_value = vals[int(rng.integers(len(vals)))]
    rname, rkt = spec["range"][int(rng.integers(len(spec["range"])))]
    rvals = _values(model, kind, rname)
    fpath, fkt = spec["filter"]
    fvals = _values(model, kind, fpath)
    lo = fvals[int(rng.integers(len(fvals) // 2))]
    return {
        "type": "index",
        "conditions": {"any": [
            {"key": text_value, "key_type": "text", "index_name": name},
            {"key": _range(rng, rvals, rkt), "key_type": rkt, "index_name": rname},
        ]},
        "filters": [{"key": [lo, fvals[-1]], "key_type": fkt, "index_json_path": [fpath]}],
        "selected_paths": {"key": ["__key"], "name": spec["name"]},
    }


def point_reads(seed: int, model: GraphModel, n: int) -> list[tuple[str, tuple]]:
    """``n`` read requests ``(op, args)`` with Zipf-distributed keys."""
    rng = np.random.default_rng([seed, 1])
    keys = KeySampler(sorted(model.vertices), rng)
    block = [op for op, k in READ_MIX.items() for _ in range(k)]
    out = []
    while len(out) < n:
        out.extend(_read_request(rng, model, keys, block[i])
                   for i in rng.permutation(len(block)))
    return out[:n]


def _read_request(rng, model: GraphModel, keys: KeySampler, op: str) -> tuple[str, tuple]:
    if op in ("get_detail", "out_edges"):
        return op, (keys(),)
    if op == "multi_get":
        return op, (keys(int(rng.integers(MULTI_GET_KEYS[0], MULTI_GET_KEYS[1] + 1))) + [MISSING_KEY],)
    if op == "edge":
        src = keys()
        outs = model.out_edges(src)
        dst = outs[int(rng.integers(len(outs)))] if outs and rng.random() < 0.5 else keys()
        return op, (src, dst)
    if op == "index_search":
        return op, (index_condition(rng, model),)
    return op, (search_query(rng, model),)


# ------------------------------------------------------------ graph session

# The session's writes, in order.  Every write is followed by
# READS_PER_WRITE get_details of keys it touched, then by a traversal, a
# search for the segment the upsert wrote, or a path search.  Three reads per
# write put the session's median operation among the read-after-write reads,
# not on whichever single traversal or write happens to sit in the middle.  Each cumulative write grows the plan
# every later read runs (README.md, "Write-path finding"), which is why the
# sequence stays this short.
SESSION_WRITES = ("upsert_edges", "upsert_nodes", "delete_nodes")
NODES_PER_UPSERT = 20
LINKS_PER_UPSERT = 12
KEYS_PER_DELETE = 5
READS_PER_WRITE = 3
NEW_KEY_BASE = 1_000_000
CUSTOMER_PATHS = [["c_mktsegment"], ["c_acctbal"], ["c_name"]]


def _customer_doc(rng, custkey: int, segment: str) -> str:
    return json.dumps({
        "c_custkey": custkey, "c_name": f"Customer#{custkey:09d}",
        "c_nationkey": int(rng.integers(25)),
        "c_acctbal": round(float(rng.integers(-99999, 999999)) / 100.0, 2),
        "c_mktsegment": segment,
    })


def _segment_query(segment: str, lo: float) -> dict:
    return {
        "type": "index",
        "conditions": {"any": [{"key": segment, "key_type": "text",
                                "index_name": "c_mktsegment"}]},
        "filters": [{"key": [lo, 10000.0], "key_type": "double",
                     "index_json_path": ["c_acctbal"]}],
        "selected_paths": {"key": ["__key"], "name": ["c_name"]},
    }


def graph_session(seed: int, model: GraphModel) -> list[tuple[str, tuple]]:
    """The fixed write sequence with its reads, keys drawn uniformly."""
    rng = np.random.default_rng([seed, 2])
    customers = sorted(k for k in model.vertices if k.startswith("customer:"))
    parts = sorted(k for k in model.vertices if k.startswith("part:"))
    # two hops from every customer: customer->nation->region, customer->part->supplier
    targets = sorted(k for k in model.vertices if k.split(":")[0] in ("region", "supplier"))
    fresh = [f"customer:{NEW_KEY_BASE + i}" for i in range(NODES_PER_UPSERT)]
    written: list[str] = []  # keys the session upserted
    seq: list[tuple[str, tuple]] = []
    for step, kind in enumerate(SESSION_WRITES, 1):
        if kind == "upsert_edges":
            # links out of existing customers and out of customers a later
            # step creates (edges may name nodes that do not exist yet)
            srcs = [customers[i] for i in rng.choice(len(customers), LINKS_PER_UPSERT // 2, replace=False)]
            srcs += [fresh[i] for i in rng.choice(len(fresh), LINKS_PER_UPSERT // 2, replace=False)]
            links = [{"src_key": src,
                      "dst_key": parts[int(rng.integers(len(parts)))] if i % 2 else
                      targets[int(rng.integers(len(targets)))],
                      "details": json.dumps({"rel": "linked", "step": step, "i": i})}
                     for i, src in enumerate(srcs)]
            seq.append(("upsert_edges", (links,)))
            seq.extend(("get_detail", (k,)) for k in srcs[:READS_PER_WRITE])
            seq.append(("traverse", (srcs[0], 1)))
        elif kind == "upsert_nodes":
            segment = f"SEG{step}_{int(rng.integers(1000))}"
            n_new = NODES_PER_UPSERT // 2
            keys = [customers[i] for i in rng.choice(len(customers), NODES_PER_UPSERT - n_new, replace=False)]
            keys += [fresh.pop(0) for _ in range(n_new)]
            nodes = [{"key": k, "kind": "customer",
                      "details": _customer_doc(rng, int(k.split(":")[1]), segment),
                      "index_paths": CUSTOMER_PATHS, "lowercase_index_paths": [["c_mktsegment"]]}
                     for k in keys]
            written.extend(keys)
            seq.append(("upsert_nodes", (nodes,)))
            seq.extend(("get_detail", (nodes[i]["key"],))
                       for i in rng.choice(len(nodes), READS_PER_WRITE, replace=False))
            seq.append(("search", (_segment_query(segment, float(rng.integers(-1000, 5000))),)))
        else:
            live = sorted(written)
            keys = sorted({live[int(rng.integers(len(live)))] for _ in range(KEYS_PER_DELETE - 1)})
            keys.append(MISSING_KEY)
            seq.append(("delete_nodes", (keys,)))
            seq.extend(("get_detail", (keys[i % len(keys)],)) for i in range(READS_PER_WRITE))
            seq.append(("find_path", (customers[int(rng.integers(len(customers)))],
                                      targets[int(rng.integers(len(targets)))])))
    return seq
