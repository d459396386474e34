"""Graph traversal — N-depth expansion and path search.

G1: the reference's `GET /v1/search/:key?maxdepth=N` recursively expands
out-edges (src/egraph_api.erl:187-213).  NOTE the off-by-one: maxdepth=N
reaches N+1 hop levels (README.md:184; SURVEY.md §7 risk 4) — callers of
:func:`k_hop` pass ``depth = maxdepth + 1`` for reference parity.

G2: the reference's DFS (`?traverse=dfs`, src/egraph_dfs_algo.erl:36-98)
issues one SQL round-trip per visited vertex and explicitly does NOT
guarantee shortest paths (dfs_algo.erl:63-66) — any valid src→dst path is a
correct answer.  Spark-first we run a level-synchronous frontier expansion
(BFS) with parent tracking: same contract (a valid path), one distributed
join per level instead of one RPC per vertex.

Scale notes: each level is `frontier ⋈ edges` on src — with edges bucketed
by src this is a co-located join; frontiers are localCheckpoint'ed to cut
lineage growth across iterations (the classic iterative-algorithm pitfall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..ingest import node_ids
from .checkpoint import cut_lineage, cut_lineage_lazy


def k_hop(edges: DataFrame, src_keys: list[str], depth: int) -> DataFrame:
    """Distinct nodes reachable at each hop level 1..depth.

    Returns (level INT, key STRING) — the frontier at each level, deduped
    within level (the reference nests per-path duplicates; a relational
    result wants the distinct closure per level).
    """
    frontier = node_ids(edges.sparkSession, src_keys)
    out = None
    for level in range(1, depth + 1):
        hop = (
            edges.join(frontier.hint("broadcast"), edges.src == frontier.id)
            .select(F.col("dst").alias("id"), F.col("dst_key").alias("key"))
            .distinct()
        )
        if level < depth:
            # the hop feeds BOTH the output union and the next level's
            # frontier — checkpoint so the edges join runs once, not twice
            hop = hop.transform(cut_lineage)
        step = hop.select(F.lit(level).alias("level"), "key", "id")
        out = step if out is None else out.unionByName(step)
        frontier = hop.select("id")
    return out.select("level", "key")


def bfs_path(
    edges: DataFrame, src_key: str, dst_key: str, max_depth: int = 10
) -> list[str] | None:
    """A valid src→dst path as a list of keys, or None.

    Level-synchronous frontier expansion with a visited set and parent map
    (the Spark-shaped equivalent of egraph_dfs_algo.erl's explicit stack +
    visited + parent walk :36-98).  The parent map stays distributed; only
    the final path walk collects, one tiny lookup per level.
    """
    src_id_row = node_ids(edges.sparkSession, [src_key])

    frontier = src_id_row
    visited = src_id_row
    parent_levels: list[DataFrame] = []
    found_level = None
    for level in range(1, max_depth + 1):
        expanded = (
            edges.join(frontier.hint("broadcast"), edges.src == frontier.id)
            .select(
                F.col("dst").alias("id"),
                F.col("dst_key").alias("key"),
                F.col("src").alias("parent_id"),
                F.col("src_key").alias("parent_key"),
            )
        )
        fresh = (
            expanded.join(visited, on="id", how="left_anti")
            .dropDuplicates(["id"])
            .transform(cut_lineage)
        )
        # one action per level: frontier size + did-we-reach-dst together
        stats = fresh.agg(
            F.count("*").alias("n"),
            F.max(F.when(F.col("key") == dst_key, 1).otherwise(0)).alias("hit"),
        ).head()
        if stats["n"] == 0:
            return None
        parent_levels.append(fresh)
        if stats["hit"] == 1:
            found_level = level
            break
        visited = visited.unionByName(fresh.select("id")).transform(cut_lineage_lazy)
        frontier = fresh.select("id")
    if found_level is None:
        return None

    # Walk parents back from dst — one single-row collect per level.
    path = [dst_key]
    want_key = dst_key
    for lvl in range(found_level - 1, -1, -1):
        row = (
            parent_levels[lvl]
            .where(F.col("key") == want_key)
            .select("parent_key")
            .head()
        )
        want_key = row["parent_key"]
        path.append(want_key)
    return list(reversed(path))
