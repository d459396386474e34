"""Plain-Python reference model of the engine's graph, used as the oracle.

The model is derived from the raw tables (Arrow, never Spark) following the
fixture rules in ``egraphdb_spark/graph.py`` and the search semantics in
``egraphdb_spark/operators/search.py``.  Every acknowledged write in the
graph-session workload is applied to it, so each read can be checked
against the state the writes produced.

Responses are compared as normalised Python values: details documents as
parsed JSON, result sets as sorted lists.
"""

from __future__ import annotations

import json
import math
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa

LC_SUFFIX = "_lc__"
SPHERE_RADIUS_M = 6370986.0

# ------------------------------------------------------------------ ids

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as a signed 64-bit int: Spark's ``xxhash64`` of a string column
    (UTF-8 bytes, seed 42), which the engine uses as the node id."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def node_id(key: str) -> int:
    return xxhash64(key.encode("utf-8"))


# -------------------------------------------------------------- indexes

_RE_INT = re.compile(r"^-?\d+$")
_RE_DOUBLE = re.compile(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$")


def typed_index_value(value):
    """(key_type, typed value) the engine's index derivation gives a JSON
    value (``ingest.infer_key_type``), for the value kinds the benchmark
    writes: GeoJSON points, numbers and plain strings."""
    if value is None:
        return None
    if isinstance(value, dict):
        return "geo", tuple(float(c) for c in value["coordinates"])
    if isinstance(value, int):
        return "int", value
    if isinstance(value, float):
        return "double", value
    if _RE_INT.match(value):
        return "int", int(value)
    if _RE_DOUBLE.match(value):
        return "double", float(value)
    return "text", value


def haversine_m(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (math.sin(dlat / 2) ** 2
         + math.cos(rlat1) * math.cos(rlat2) * math.sin(dlon / 2) ** 2)
    return 2.0 * SPHERE_RADIUS_M * math.asin(math.sqrt(a))


# ---------------------------------------------------------------- model


@dataclass
class Vertex:
    kind: str | None
    details: dict
    details_text: str
    version: int
    index_paths: list[list[str]]
    lc_paths: list[list[str]]

    def index_entries(self):
        """(index_name, key_type, value) rows this vertex contributes."""
        for paths, lower in ((self.index_paths, False), (self.lc_paths, True)):
            for path in paths:
                tv = typed_index_value(_get_path(self.details, path))
                if tv is None:
                    continue
                kt, v = tv
                if lower and kt == "text":
                    v = v.lower()
                yield path[-1] + (LC_SUFFIX if lower else ""), kt, v


def _get_path(doc, path):
    for p in path:
        if not isinstance(doc, dict) or p not in doc:
            return None
        doc = doc[p]
    return doc


def _nation_point(k: int) -> dict:
    return {"type": "Point", "coordinates": [-180.0 + k * 13.7, -80.0 + k * 6.3]}


@dataclass
class GraphModel:
    vertices: dict[str, Vertex] = field(default_factory=dict)
    edges: dict[tuple[str, str], dict] = field(default_factory=dict)

    # ---------------------------------------------------------- building

    @classmethod
    def from_tables(cls, t: dict[str, pa.Table]) -> "GraphModel":
        """Vertices and edges as ``graph.build_vertices/build_edges`` derive them."""
        m = cls()

        def rows(name):
            return t[name].to_pylist()

        def add(kind, key, details, paths, lc=()):
            m.vertices[key] = Vertex(kind, details, json.dumps(details), 0,
                                     [list(p) for p in paths], [list(p) for p in lc])

        for r in rows("region"):
            add("region", f"region:{r['r_regionkey']}", r, [["r_name"]])
        for r in rows("nation"):
            d = dict(r, capital_geolocation=_nation_point(r["n_nationkey"]))
            add("nation", f"nation:{r['n_nationkey']}", d,
                [["n_name"], ["capital_geolocation"]], [["n_name"]])
            m.edges[(f"nation:{r['n_nationkey']}", f"region:{r['n_regionkey']}")] = {"rel": "in_region"}
        for r in rows("customer"):
            add("customer", f"customer:{r['c_custkey']}", r,
                [["c_mktsegment"], ["c_acctbal"], ["c_name"]], [["c_mktsegment"]])
            m.edges[(f"customer:{r['c_custkey']}", f"nation:{r['c_nationkey']}")] = {"rel": "in_nation"}
        for r in rows("supplier"):
            add("supplier", f"supplier:{r['s_suppkey']}", r, [["s_name"], ["s_acctbal"]])
            m.edges[(f"supplier:{r['s_suppkey']}", f"nation:{r['s_nationkey']}")] = {"rel": "in_nation"}
        for r in rows("part"):
            add("part", f"part:{r['p_partkey']}", r,
                [["p_brand"], ["p_type"], ["p_size"], ["p_retailprice"]], [["p_type"]])
        cust_of = dict(zip(t["orders"]["o_orderkey"].to_pylist(),
                           t["orders"]["o_custkey"].to_pylist()))
        li = t["lineitem"]
        for ok, pk, sk in zip(li["l_orderkey"].to_pylist(), li["l_partkey"].to_pylist(),
                              li["l_suppkey"].to_pylist()):
            if ok in cust_of:
                m.edges[(f"customer:{cust_of[ok]}", f"part:{pk}")] = {"rel": "ordered"}
            m.edges[(f"part:{pk}", f"supplier:{sk}")] = {"rel": "supplied_by"}
        return m

    def copy(self) -> "GraphModel":
        return GraphModel(dict(self.vertices), dict(self.edges))

    # ------------------------------------------------------------ writes

    def upsert_nodes(self, nodes: list[dict]) -> None:
        """Version-bumping upsert: new → 0, unchanged document → same
        version, changed → version + 1."""
        for n in nodes:
            old = self.vertices.get(n["key"])
            version = 0
            if old is not None:
                version = old.version if old.details_text == n["details"] else old.version + 1
            self.vertices[n["key"]] = Vertex(
                n["kind"], json.loads(n["details"]), n["details"], version,
                n["index_paths"], n["lowercase_index_paths"])

    def upsert_edges(self, links: list[dict]) -> None:
        for link in links:
            self.edges[(link["src_key"], link["dst_key"])] = json.loads(link["details"])

    def delete_nodes(self, keys: list[str]) -> None:
        for k in keys:
            self.vertices.pop(k, None)

    # ------------------------------------------------------------- reads

    def index_rows(self) -> int:
        return sum(1 for v in self.vertices.values() for _ in v.index_entries())

    def detail(self, key: str):
        v = self.vertices.get(key)
        return None if v is None else (key, v.kind, v.details, v.version)

    def multi_get(self, keys: list[str]) -> list[str]:
        return sorted(k for k in set(keys) if k in self.vertices)

    def out_edges(self, key: str) -> list[str]:
        return sorted(d for (s, d) in self.edges if s == key)

    def edge(self, src: str, dst: str) -> int:
        return int((src, dst) in self.edges)

    def _matches(self, v: Vertex, cond: dict) -> bool:
        key, kt, name = cond["key"], cond["key_type"], cond["index_name"]
        for iname, ikt, val in v.index_entries():
            if iname != name or ikt != kt:
                continue
            if kt == "geo":
                lon, lat = (float(c) for c in key["coordinates"])
                if "distance_sphere" in cond:
                    if haversine_m(val[0], val[1], lon, lat) <= float(cond["distance_sphere"]):
                        return True
                elif val == (lon, lat):
                    return True
            elif isinstance(key, (list, tuple)):
                if key[0] <= val <= key[1]:
                    return True
            elif val == key:
                return True
        return False

    def index_search(self, cond: dict) -> list[str]:
        """Keys of the vertices an ``index_condition_ids`` call returns."""
        return sorted(k for k, v in self.vertices.items() if self._matches(v, cond))

    def search(self, query: dict) -> list[tuple]:
        """Rows of ``Engine.search`` (selected paths, as strings or None)."""
        out = []
        for k, v in self.vertices.items():
            if not any(self._matches(v, c) for c in query["conditions"]["any"]):
                continue
            if not all(_filter_ok(v.details, f) for f in query.get("filters") or []):
                continue
            out.append(tuple(
                k if path == ["__key"] else _as_json_text(_get_path(v.details, path))
                for path in query["selected_paths"].values()))
        return sorted(out, key=repr)

    def k_hop(self, key: str, depth: int) -> list[tuple[int, str]]:
        adj: dict[str, set[str]] = {}
        for s, d in self.edges:
            adj.setdefault(s, set()).add(d)
        out, frontier = [], {key}
        for level in range(1, depth + 1):
            nxt = set().union(*(adj.get(s, set()) for s in frontier)) if frontier else set()
            out.extend((level, k) for k in nxt)
            frontier = nxt
        return sorted(out)

    def hop_distance(self, src: str, dst: str, max_depth: int) -> int | None:
        adj: dict[str, set[str]] = {}
        for s, d in self.edges:
            adj.setdefault(s, set()).add(d)
        seen, frontier = {src}, {src}
        for level in range(1, max_depth + 1):
            frontier = {d for s in frontier for d in adj.get(s, ())} - seen
            if not frontier:
                return None
            if dst in frontier:
                return level
            seen |= frontier
        return None


def _filter_ok(details: dict, flt: dict) -> bool:
    raw = _get_path(details, flt["index_json_path"])
    kt, key = flt["key_type"], flt["key"]
    if kt in ("int", "double"):
        try:
            val = float(raw) if kt == "double" else int(raw)
        except (TypeError, ValueError):
            return False
    else:
        val = raw
    if isinstance(key, (list, tuple)):
        return val is not None and key[0] <= val <= key[1]
    return val == key


def _as_json_text(value):
    if value is None or isinstance(value, str):
        return value
    return json.dumps(value)


# ------------------------------------------------------------- checking


def check_path(path, model: GraphModel, src: str, dst: str, max_depth: int) -> bool:
    """A ``find_path`` answer is right when it is a shortest src→dst walk
    over existing edges, or None exactly when dst is out of reach."""
    want = model.hop_distance(src, dst, max_depth)
    if path is None or want is None:
        return path is None and want is None
    return (path[0] == src and path[-1] == dst and len(path) - 1 == want
            and all((a, b) in model.edges for a, b in zip(path, path[1:])))


def same_multiset(got: list, want: list) -> bool:
    return Counter(map(repr, got)) == Counter(map(repr, want))
