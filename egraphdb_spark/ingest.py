"""Node/edge ingest and typed secondary-index extraction.

Reference semantics reproduced here:
  * node id = xxhash64(user key) (reference src/egraph_util.erl:1609-1611;
    Spark's xxhash64 uses seed 42 vs the reference's 0 — internally
    consistent, see SURVEY.md §1.4)
  * per-node declared index paths (generic + lowercase families,
    models/egraph_detail_model.erl:161-189); lowercase index names get the
    ``_lc__`` suffix and lowercased values (egraph_index_model.erl:112-118)
  * index value type inference from the JSON value
    (src/egraph_shard_util.erl:79-104): integer → int, float → double,
    YYYY-MM-DD → date, YYYY-MM-DD[ T]HH:MM:SS → datetime, GeoJSON Point →
    geo, anything else → text
  * version starts at 0 and bumps by 1 per update
    (models/egraph_detail_model.erl:559)

Spark-first design: instead of the reference's incremental index
diff-with-retries protocol (egraph_detail_model.erl:740-777, which tolerates
dangling rows), a node's index rows are a *deterministic derivation* of
that node — `build_indexes(vertices)` is idempotent and is also the whole
"background reindexer" (replaces 2048 gen_servers,
egraph_reindexing_server.erl:243-321).  Every write, to any of the three
tables, follows one rule, :func:`replace_rows`: drop the rows whose key the
write names, union the replacements.  All per-row logic is column
expressions (JVM-side, whole-stage codegen); no Python row loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .schema import GEO_TYPE, LC_SUFFIX

# Classification regexes mirroring egraph_shard_util.erl:79-104.  The
# datetime regex additionally accepts ISO-8601 'T' / fractional seconds /
# trailing 'Z' because our canonical JSON encoder (to_json) emits ISO-8601.
_RE_INT = r"^-?\d+$"
_RE_DOUBLE = r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"
_RE_DATE = r"^\d{4}-\d{2}-\d{2}$"
_RE_DATETIME = r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?Z?$"


def node_id(key: Column | str) -> Column:
    """64-bit node id from the user key (reference: xxhash64 of key_data)."""
    return F.xxhash64(F.col(key) if isinstance(key, str) else key)


def json_path_str(path: list[str]) -> str:
    """JSON-path list → get_json_object path: ["a","b"] → "$.a.b".

    Paths address the root of the node's details document (reference
    `nested:get`, models/egraph_detail_model.erl:648).
    """
    return "$" + "".join("." + p for p in path)


def json_path_col(path_col: Column) -> Column:
    """Same as :func:`json_path_str` but for a runtime ARRAY<STRING> column."""
    return F.concat(
        F.lit("$"),
        F.array_join(F.transform(path_col, lambda k: F.concat(F.lit("."), k)), ""),
    )


def infer_key_type(value: Column) -> Column:
    """Type-inference dispatch on a raw JSON value string.

    Mirrors egraph_shard_util.erl:79-104: geo (GeoJSON Point map) → int →
    double → date/datetime-parse → text fallback.
    """
    return (
        F.when(value.isNull(), F.lit(None).cast("string"))
        .when(
            value.startswith("{")
            & (F.get_json_object(value, "$.type") == "Point"),
            F.lit("geo"),
        )
        .when(value.rlike(_RE_INT) & value.try_cast("long").isNotNull(), F.lit("int"))
        .when(value.rlike(_RE_DOUBLE) & value.try_cast("double").isNotNull(), F.lit("double"))
        # regex match alone is not enough: "2024-02-30" matches the shape but
        # fails to parse — the reference falls back to text there
        # (shard_util.erl:93-104 via convert_binary_to_date's error path)
        .when(value.rlike(_RE_DATE) & value.try_cast("date").isNotNull(), F.lit("date"))
        .when(
            value.rlike(_RE_DATETIME) & value.try_cast("timestamp").isNotNull(),
            F.lit("datetime"),
        )
        .otherwise(F.lit("text"))
    )


def _typed_value_columns(value: Column, key_type: Column, lowercase: bool):
    """Project the raw string value into exactly one non-null v_* column."""
    text_val = F.lower(value) if lowercase else value
    return [
        F.when(key_type == "int", value.try_cast("long")).alias("v_int"),
        F.when(key_type == "double", value.try_cast("double")).alias("v_double"),
        F.when(key_type == "text", text_val).alias("v_text"),
        F.when(key_type == "date", value.try_cast("date")).alias("v_date"),
        F.when(key_type == "datetime", value.try_cast("timestamp")).alias("v_ts"),
        F.when(key_type == "geo", F.from_json(value, GEO_TYPE)).alias("v_geo"),
    ]


def _extract_family(vertices: DataFrame, paths_col: str, lowercase: bool) -> DataFrame:
    exploded = (
        vertices.select(
            "id", "details", F.explode_outer(F.col(paths_col)).alias("path")
        )
        .where(F.col("path").isNotNull())
        .withColumn("_pathstr", json_path_col(F.col("path")))
    )
    # get_json_object with a runtime (non-literal) path — the PySpark wrapper
    # only accepts literal paths, but the SQL expression form does not.
    value = F.expr("get_json_object(details, _pathstr)")
    name = F.element_at(F.col("path"), -1)
    if lowercase:
        name = F.concat(name, F.lit(LC_SUFFIX))
    key_type = infer_key_type(value)
    return exploded.select(
        name.alias("index_name"),
        key_type.alias("key_type"),
        *_typed_value_columns(value, key_type, lowercase),
        F.col("id"),
    ).where(F.col("key_type").isNotNull())


def build_indexes(vertices: DataFrame) -> DataFrame:
    """Derive the long typed index table from each node's declared paths.

    Replaces the reference's 6-families × N-names dynamic lookup tables
    (sql/egraph_table_creation.sql:55-153) and its incremental reindexer.
    Only declared paths produce rows — two nodes may index entirely
    different paths (README.md:80-84, SURVEY.md §7 risk 2).

    Scale: the output should be written partitioned by ``index_name`` so a
    search on one index prunes to one partition (mirrors the reference's
    table-per-index layout with zero custom routing code).
    """
    generic = _extract_family(vertices, "index_paths", lowercase=False)
    lowered = _extract_family(vertices, "lowercase_index_paths", lowercase=True)
    return generic.unionByName(lowered)


def make_vertices(
    nodes: DataFrame,
    kind: Column | None = None,
    updated_at: Column | None = None,
) -> DataFrame:
    """Normalize an ingest DataFrame into the canonical vertices shape.

    ``nodes`` must carry: key STRING, details STRING (JSON), index_paths
    ARRAY<ARRAY<STRING>>, lowercase_index_paths ARRAY<ARRAY<STRING>>.
    Mirrors the reference write path (models/egraph_detail_model.erl:161-257)
    minus the blob compression, which Parquet+zstd replaces.
    """
    return nodes.select(
        node_id("key").alias("id"),
        (kind if kind is not None else F.lit(None).cast("string")).alias("kind"),
        F.col("key"),
        F.col("details"),
        F.xxhash64("details").alias("details_hash"),
        F.lit(0).alias("version"),
        (
            updated_at if updated_at is not None else F.current_timestamp()
        ).alias("updated_at"),
        F.col("index_paths"),
        F.col("lowercase_index_paths"),
    )


def make_edges(links: DataFrame) -> DataFrame:
    """Normalize (src_key, dst_key, details) into the canonical edges shape.

    Directed; callers wanting the reference's bidirectional links insert two
    rows (sql/egraph_table_creation.sql:181-182).
    """
    return links.select(
        node_id("src_key").alias("src"),
        node_id("dst_key").alias("dst"),
        F.col("src_key"),
        F.col("dst_key"),
        F.col("details"),
        F.xxhash64("details").alias("details_hash"),
        F.lit(0).alias("version"),
    )


def node_ids(spark: SparkSession, keys: list[str]) -> DataFrame:
    """One-column ``id`` frame for a list of user keys."""
    return spark.createDataFrame([(k,) for k in keys], "key string").select(
        node_id("key").alias("id")
    )


def replace_rows(
    base: DataFrame, on: list[str], keys: DataFrame, rows: DataFrame | None = None
) -> DataFrame:
    """The one write rule for every table: the next version of ``base``.

    Drops the rows of ``base`` whose ``on`` key appears in ``keys``, then
    unions ``rows`` (if any) onto what is left — an upsert when ``rows``
    carries the replacements, a delete when it is None.  On Delta/Iceberg
    this is one MERGE; on immutable tables the result is the new version,
    which the caller materializes once (``Engine._next``) so the version
    after it plans over one scan, not over every write before it.

    Broadcast anti-join: ``keys`` is one write's batch, ``base`` is the
    table — no shuffle of the big side.
    """
    left = base.join(F.broadcast(keys.select(*on)), on=on, how="left_anti")
    left = left.select(base.columns)  # a USING join moves the keys first
    return left if rows is None else left.unionByName(rows)


def upsert_nodes(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """Version-bumping node upsert: stamp ``version``, then
    :func:`replace_rows` by ``id``.

    Last-writer-wins per key; an incoming row for an existing key bumps
    ``version`` by 1 and replaces details (egraph_detail_model.erl:574-588).
    Unchanged payloads (same details_hash) keep their version, mirroring the
    reference's AnyChange check (egraph_detail_model.erl:219-246).
    """
    cur = current.select(
        "id", F.col("version").alias("_cur_version"), F.col("details_hash").alias("_cur_hash")
    )
    stamped = incoming.join(cur, on="id", how="left").select(
        "id", "kind", "key", "details", "details_hash",
        F.when(F.col("_cur_version").isNull(), F.lit(0))
        .when(F.col("_cur_hash") == F.col("details_hash"), F.col("_cur_version"))
        .otherwise(F.col("_cur_version") + 1)
        .cast("int")
        .alias("version"),
        "updated_at", "index_paths", "lowercase_index_paths",
    )
    return replace_rows(current, ["id"], incoming, stamped)


def delete_nodes(current: DataFrame, keys: list[str]) -> DataFrame:
    """S18 node delete (egraph_detail_model.erl:260-277): :func:`replace_rows`
    by ``id`` with no replacement rows."""
    return replace_rows(current, ["id"], node_ids(current.sparkSession, keys))


def upsert_edges(current: DataFrame, links: DataFrame) -> DataFrame:
    """Edge upsert (POST /link): :func:`replace_rows` by ``(src, dst)`` with
    the canonical edges of ``links`` — one row per pair, last writer wins."""
    edges = make_edges(links)
    return replace_rows(current, ["src", "dst"], edges, edges)


def delete_edges(edges: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """S18 edge delete: (source, destination) exact pairs
    (egraph_link_model.erl:229-264), :func:`replace_rows` with no
    replacement rows."""
    pdf = edges.sparkSession.createDataFrame(pairs, "src_key string, dst_key string").select(
        node_id("src_key").alias("src"), node_id("dst_key").alias("dst")
    )
    return replace_rows(edges, ["src", "dst"], pdf)
