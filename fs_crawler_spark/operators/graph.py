"""Graph analytics over the crawl output (SURVEY.md §2.5/§2.6).

DataFrame re-expressions of the reference's SQLite/dict analytics:

  * resolution rule A4        (graph.py:188-224, determine_resolution)
  * horizon classification A2/A3 (graph_db_impl.py:201-215, graph_writer.py:100-114)
  * validator pivots A5-A7    (graph_validator.py:96-189)
  * lifespan -> birth year P6 (graph_validator.py:24-35, quirks preserved)
  * hop filtering J6          (db_reader.py:84-155)
  * CSR export prep J5/O2/O3  (db_reader.py:8-49)

Everything is equi-join + groupBy + window algebra — no UDFs — so Catalyst
handles pushdown/broadcast; the vertices side of every join here is the small
dimension at crawl scale (edges ≫ vertices) and broadcasts automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import ASSUMED_BIOLOGICAL, RESOLVE, UNTYPED_PARENT

# Type sets from the reference validator/reader.
RELATIONSHIP_VALIDATIONS = ("BiologicalParent", "UnspecifiedParentType")
RELATIONSHIPS_RESOLUTIONS = (UNTYPED_PARENT,)
CSR_EDGE_TYPES = ("AssumedBiological", "UnspecifiedParentType", "BiologicalParent")


# ---------------------------------------------------------------------------
# A4 — relationship resolution rule.
# ---------------------------------------------------------------------------
def determine_resolution(relationships: DataFrame) -> DataFrame:
    """Flag each relationship id AssumedBiological or Resolve.

    Input columns: (source, id, color) — one row per (child, rel, parent
    gender) observation; duplicates collapse (the reference accumulates into
    per-gender **sets**, graph.py:201-211).

    Rule (graph.py:214-224): within a child, group rel-ids by parent gender;
    total = Σ group sizes (a rel counted once per gender it appears with); a
    gender-group of size 1 with total < 3 ⇒ AssumedBiological, else Resolve.
    A rel flagged from several groups resolves Resolve-wins (deterministic
    version of the reference's dict-order last-write).

    Returns (id, type).
    """
    rels = relationships.select("source", "id", "color").distinct()
    groups = rels.groupBy("source", "color").agg(F.count("*").alias("grp_size"))
    totals = groups.withColumn(
        "total", F.sum("grp_size").over(Window.partitionBy("source"))
    )
    flagged = rels.join(totals, on=["source", "color"], how="inner").withColumn(
        "_resolve",
        F.when((F.col("grp_size") == 1) & (F.col("total") < 3), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    return flagged.groupBy("id").agg(
        F.when(F.max("_resolve") == 1, F.lit(RESOLVE))
        .otherwise(F.lit(ASSUMED_BIOLOGICAL))
        .alias("type")
    )


def resolution_input(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """J4: untyped edges joined to destination gender -> A4 input.

    The reference's ORDER BY source (graph_db_impl.py:228) existed only to
    enable a streaming group-by; groupBy makes it unnecessary (SURVEY.md O1).
    """
    return (
        edges.filter(F.col("type").isin(*RELATIONSHIPS_RESOLUTIONS))
        .join(
            vertices.select(F.col("id").alias("destination"), "color"),
            on="destination",
            how="inner",
        )
        .select("source", F.col("id"), "color")
    )


# ---------------------------------------------------------------------------
# A2/A3 — horizon classification of edges.
# ---------------------------------------------------------------------------
def classify_edges(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Add ``class`` ∈ {within, spanning, frontier} per edge: both endpoints
    resolved / exactly one / neither (graph.py:18-26)."""
    v = vertices.select("id")
    src_in = v.select(F.col("id").alias("source")).withColumn("_src_in", F.lit(True))
    dst_in = v.select(F.col("id").alias("destination")).withColumn("_dst_in", F.lit(True))
    out = (
        edges.join(src_in, on="source", how="left")
        .join(dst_in, on="destination", how="left")
        .withColumn(
            "class",
            F.when(F.col("_src_in").isNotNull() & F.col("_dst_in").isNotNull(), "within")
            .when(F.col("_src_in").isNotNull() | F.col("_dst_in").isNotNull(), "spanning")
            .otherwise("frontier"),
        )
        .drop("_src_in", "_dst_in")
    )
    return out


def relationship_counts(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(within, spanning, frontier) counts — A2 (graph_db_impl.py:201-215)."""
    return (
        classify_edges(edges, vertices)
        .groupBy()
        .agg(
            F.sum(F.when(F.col("class") == "within", 1).otherwise(0)).alias("within"),
            F.sum(F.when(F.col("class") == "spanning", 1).otherwise(0)).alias("spanning"),
            F.sum(F.when(F.col("class") == "frontier", 1).otherwise(0)).alias("frontier"),
        )
    )


# ---------------------------------------------------------------------------
# P6 — lifespan parsing (quirks of graph_validator.py:24-35 preserved:
# the delimiter search is for the SUBSTRING '-1', so '1900-2005' -> 0/Dead).
# ---------------------------------------------------------------------------
def birth_year(lifespan) -> F.Column:
    pos = F.locate("-1", lifespan)
    return (
        F.when(pos > 1, F.substring(lifespan, F.lit(1), pos - 1).cast("int"))
        .when(pos == 1, F.substring(lifespan, F.lit(2), F.lit(2147483647)).cast("int"))
        .when(lifespan == "Living", F.lit(3000))
        .otherwise(F.lit(0))
    )


# ---------------------------------------------------------------------------
# A5/A6/A7 — validator analytics.
# ---------------------------------------------------------------------------
def validation_counts(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Per-child parent counts by gender over validation-type edges
    (graph_validator.py:96-119): (source, male, female, unknown, total)."""
    parents = vertices.select(F.col("id").alias("destination"), "color")
    return (
        edges.filter(F.col("type").isin(*RELATIONSHIP_VALIDATIONS))
        .join(parents, on="destination", how="inner")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("color") == -1, 1).otherwise(0)).alias("male"),
            F.sum(F.when(F.col("color") == 1, 1).otherwise(0)).alias("female"),
            F.sum(F.when(F.col("color") == 0, 1).otherwise(0)).alias("unknown"),
            F.count("*").alias("total"),
        )
    )


def invalid_children(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Children with > 2 validated parents, sub-classified into the reference's
    8 buckets (graph_validator.py:126-154 when-cascade, order preserved)."""
    c = validation_counts(edges, vertices).filter(F.col("total") > 2)
    m, f, u = F.col("male") > 1, F.col("female") > 1, F.col("unknown") > 1
    return c.withColumn(
        "bucket",
        F.when(m & f & u, "male_female_unknown")
        .when(f & u, "female_unknown")
        .when(m & u, "male_unknown")
        .when(m & f, "male_female")
        .when(m, "father")
        .when(f, "mother")
        .otherwise("unknown"),
    )


def invalid_birth_decade_histogram(
    edges: DataFrame, vertices: DataFrame
) -> DataFrame:
    """A6: decade histogram of invalid children's birth years."""
    inv = invalid_children(edges, vertices).select(F.col("source").alias("id"))
    by = vertices.join(inv, on="id", how="inner").select(
        (F.floor(birth_year(F.col("lifespan")) / 10) * 10).alias("decade")
    )
    return by.groupBy("decade").agg(F.count("*").alias("n")).orderBy("decade")


def invalid_by_iteration_histogram(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """A7: invalid children per crawl iteration."""
    inv = invalid_children(edges, vertices).select(F.col("source").alias("id"))
    return (
        vertices.join(inv, on="id", how="inner")
        .groupBy("iteration")
        .agg(F.count("*").alias("n"))
        .orderBy("iteration")
    )


def unknown_vertices(
    edges: DataFrame, vertices: DataFrame, frontier: DataFrame
) -> DataFrame:
    """J8/A5 unknown-vertex detection (graph_validator.py:109-119): edge
    destinations that are neither fetched (in vertices) nor queued (in
    frontier) — a crawl-consistency warning in the reference. Two anti-joins;
    both right sides are the small dimension and broadcast."""
    v = vertices.select(F.col("id").alias("destination"))
    f = frontier.select(F.col("id").alias("destination"))
    return (
        edges.select("destination")
        .distinct()
        .join(v, on="destination", how="left_anti")
        .join(f, on="destination", how="left_anti")
        .select(F.col("destination").alias("id"))
    )


def validator_stats(
    edges: DataFrame, vertices: DataFrame, frontier: DataFrame
) -> DataFrame:
    """The complete A5 counter row (graph_validator.py:51-66 fields +
    get_validation_stats:228-246): vertex/edge/frontier/unknown counts,
    child count, the 7 invalid buckets, max-father/max-mother, roots
    (no-rel) count, resolution and invalid source counts.

    Everything reduces to one row via independent single-row aggregates
    cross-joined together — each input is scanned once, no collect().

    Note on ``no_rel_count``: the reference increments it for validation
    children whose gender counts are all zero, but its counter dict only
    creates entries by incrementing (graph_validator.py:110-115), so the
    count is structurally 0; reproduced faithfully.
    """
    inv = invalid_children(edges, vertices)
    inv_row = inv.agg(
        F.count("*").alias("n_invalid_src"),
        F.coalesce(
            F.max(F.when(F.col("male") > 1, F.col("male"))), F.lit(0)
        ).alias("max_father"),
        F.coalesce(
            F.max(F.when(F.col("female") > 1, F.col("female"))), F.lit(0)
        ).alias("max_mother"),
        *[
            F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"inv_{b}")
            for b in (
                "male_female_unknown",
                "male_unknown",
                "female_unknown",
                "male_female",
                "father",
                "mother",
                "unknown",
            )
        ],
    )
    base = (
        vertices.agg(F.count("*").alias("vertex_count"))
        .crossJoin(edges.agg(F.count("*").alias("edge_count")))
        .crossJoin(frontier.agg(F.count("*").alias("frontier_vertex_count")))
        .crossJoin(
            unknown_vertices(edges, vertices, frontier).agg(
                F.count("*").alias("unknown_vertex_count")
            )
        )
    )
    # child_count = |validation children| + |resolution children| (the
    # reference sums both dict sizes, double-counting overlaps — preserved).
    parents = vertices.select(F.col("id").alias("destination"))
    val_children = (
        edges.filter(F.col("type").isin(*RELATIONSHIP_VALIDATIONS))
        .join(parents, on="destination", how="left_semi")
        .select("source")
        .distinct()
        .agg(F.count("*").alias("n_val_children"))
    )
    res_children = (
        edges.filter(F.col("type").isin(*RELATIONSHIPS_RESOLUTIONS))
        .join(parents, on="destination", how="left_semi")
        .select("source")
        .distinct()
        .agg(F.count("*").alias("n_res_children"))
    )
    n_resolution = children_needing_resolution(edges, vertices).agg(
        F.count("*").alias("n_resolution_src")
    )
    return (
        base.crossJoin(val_children)
        .crossJoin(res_children)
        .crossJoin(inv_row)
        .crossJoin(n_resolution)
        .select(
            "vertex_count",
            "edge_count",
            "frontier_vertex_count",
            "unknown_vertex_count",
            (F.col("n_val_children") + F.col("n_res_children")).alias("child_count"),
            "inv_male_female_unknown",
            "inv_male_unknown",
            "inv_female_unknown",
            "inv_male_female",
            "inv_father",
            "inv_mother",
            "inv_unknown",
            "max_father",
            "max_mother",
            F.lit(0).cast("long").alias("no_rel_count"),
            "n_resolution_src",
            "n_invalid_src",
        )
    )


def save_valid_graph(
    vertices: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """save_valid_graph (graph_validator.py:194-225): renumber vertices
    1..N, drop edges whose source child is invalid, and list the invalid
    children's relationship ids.

    Returns (validated_vertices, validated_edges, invalid_edges):
      validated_vertices  (vertex_number, id, color, surname, given_name,
                           iteration, lifespan) — 1-based canonical order
      validated_edges     (source_number, destination_number)
      invalid_edges       (source, relationship_id) — every rel id of every
                          invalid child (child_to_rel covers ALL edge types,
                          graph_validator.py:108)

    Ordering note: the reference numbers vertices in file-write order; the
    engine's canonical order is lexicographic by id (the same deterministic
    convention as every CSV export here), via the distributed
    ``with_positions`` — no single-task sort.
    """
    vp = with_positions(vertices, order_col="id", distributed=True).withColumn(
        "vertex_number", (F.col("position") + 1).cast("long")
    )
    numbers = vp.select("id", "vertex_number")
    invalid_src = invalid_children(edges, vertices).select(F.col("source")).distinct()
    valid_edges = (
        edges.join(invalid_src, on="source", how="left_anti")
        .join(
            numbers.select(
                F.col("id").alias("source"), F.col("vertex_number").alias("source_number")
            ),
            on="source",
            how="inner",
        )
        .join(
            numbers.select(
                F.col("id").alias("destination"),
                F.col("vertex_number").alias("destination_number"),
            ),
            on="destination",
            how="inner",
        )
        .select("source_number", "destination_number")
    )
    invalid_edges = (
        edges.join(invalid_src, on="source", how="left_semi")
        .select("source", F.col("id").alias("relationship_id"))
        .distinct()
    )
    validated_vertices = vp.select(
        "vertex_number", "id", "color", "surname", "given_name", "iteration", "lifespan"
    )
    return validated_vertices, valid_edges, invalid_edges


def children_needing_resolution(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Children whose UNTYPED edges have >1 same-gender parent
    (graph_validator.py:161-164)."""
    parents = vertices.select(F.col("id").alias("destination"), "color")
    return (
        edges.filter(F.col("type").isin(*RELATIONSHIPS_RESOLUTIONS))
        .join(parents, on="destination", how="inner")
        .groupBy("source", "color")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("source")
        .distinct()
    )


def relationships_to_resolve(edges: DataFrame) -> DataFrame:
    """A8: distinct rel ids flagged Resolve (graph_db_impl.py:233-249)."""
    return edges.filter(F.col("type") == RESOLVE).select("id").distinct()


# ---------------------------------------------------------------------------
# J6 — hop filtering (predicate pushed below the joins; with Iceberg
# partition-by-iteration this is partition pruning).
# ---------------------------------------------------------------------------
def hop_filter(vertices: DataFrame, edges: DataFrame, hops: int | None):
    if hops is None:
        return vertices, edges
    v = vertices.filter(F.col("iteration") < hops)
    ids = v.select("id")
    e = (
        edges.join(ids.withColumnRenamed("id", "source"), on="source", how="left_semi")
        .join(ids.withColumnRenamed("id", "destination"), on="destination", how="left_semi")
        .select(edges.columns)
    )
    return v, e


# ---------------------------------------------------------------------------
# J5/O2/O3 — CSR export prep: positions + red-black adjacency entries.
# ---------------------------------------------------------------------------
def with_positions(
    vertices: DataFrame, order_col: str = "id", distributed: bool = True
) -> DataFrame:
    """O3 canonical ordering: dense 0-based position (ORDERING-table analog).

    The reference delegates ordering to a pluggable graph builder
    (db_reader.py:189); default here is lexicographic by id — deterministic
    and total.

    ``distributed=True`` (default, the 10^10-vertex path): range-partitioned
    sort, per-partition counts collected (tiny), cumulative offsets broadcast
    back, position = offset + local rank — no single-task sort anywhere.
    ``distributed=False``: a global row_number (single-partition window) —
    the reference's in-memory semantics verbatim, kept as the equivalence
    oracle for tests (distributed == global is asserted in
    tests/test_graph_ops.py).
    """
    if not distributed:
        w = Window.orderBy(F.col(order_col).asc())
        return vertices.withColumn("position", F.row_number().over(w) - 1)

    # persist pins the sampled range boundaries so the count pass and the
    # rank pass see the identical partitioning
    ordered = (
        vertices.repartitionByRange(F.col(order_col).asc())
        .sortWithinPartitions(F.col(order_col).asc())
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = ordered.groupBy("pid").count().collect()
    offsets = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["pid"]):
        offsets[r["pid"]] = acc
        acc += r["count"]
    spark = vertices.sparkSession
    offset_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "pid int, _offset long"
    )
    # local rank within the CAPTURED pre-shuffle partition + its broadcast
    # offset reproduces the global dense rank exactly
    w_local = Window.partitionBy("pid").orderBy(F.col(order_col).asc())
    return (
        ordered.withColumn("_local", F.row_number().over(w_local) - 1)
        .join(F.broadcast(offset_df), on="pid", how="inner")
        .withColumn("position", (F.col("_offset") + F.col("_local")).cast("int"))
        .drop("pid", "_local", "_offset")
    )


def save_ordering(vertices_pos: DataFrame, path: str) -> None:
    """ORDERING persistence (db_reader.py:308-316 save_ordering): write the
    canonical (id, position) table once; every downstream ordered consumer
    (CSR assembly, vertex_key, ordered_edges) joins against it instead of
    re-sorting the vertex set. At 10^10 vertices the ordering is computed
    once per graph build, exactly like the reference's SQLite ORDERING table
    (whose ORDER_INDEX this parquet layout replaces)."""
    vertices_pos.select("id", "position").write.mode("overwrite").parquet(path)


def load_ordering(spark, path: str) -> DataFrame:
    """Reload a persisted ORDERING table (db_reader.py:46-58 join source)."""
    return spark.read.parquet(path)


def vertex_key(vertices: DataFrame, ordering: DataFrame) -> DataFrame:
    """vertex_key_query (db_reader.py:46-50, get_vertex_key :318-330):
    (position, id, given_name, surname) — the position-keyed person lookup.
    Positions are 0-based (engine-wide CSR convention; the reference's
    SQLite table is 1-based, db_reader.py:316)."""
    return vertices.join(ordering, on="id", how="inner").select(
        "position", "id", "given_name", "surname"
    )


def csr_entries(vertices_pos: DataFrame, edges: DataFrame) -> DataFrame:
    """Red-black adjacency entries (test_db_reader.py:15-45 semantics):
    one diagonal entry per vertex (val = color) + one entry per
    CSR-type edge (val = 3 if destination is female else 2).

    Returns (row, col, val); consumer assembles CSR via mapInArrow.
    """
    v = vertices_pos.select("id", "color", "position")
    diag = v.select(
        F.col("position").alias("row"),
        F.col("position").alias("col"),
        F.col("color").alias("val"),
    )
    src = v.select(F.col("id").alias("source"), F.col("position").alias("row"))
    dst = v.select(
        F.col("id").alias("destination"),
        F.col("position").alias("col"),
        F.col("color").alias("_dcolor"),
    )
    edge_entries = (
        edges.filter(F.col("type").isin(*CSR_EDGE_TYPES))
        .join(src, on="source", how="inner")
        .join(dst, on="destination", how="inner")
        .select(
            "row",
            "col",
            F.when(F.col("_dcolor") == 1, F.lit(3)).otherwise(F.lit(2)).alias("val"),
        )
    )
    return diag.unionByName(edge_entries)


# ---------------------------------------------------------------------------
# J7 — relationship rewriter (relationship_rewriter.py:36-58): apply an
# (source, destination) -> (type, id) update map, then route edges into the
# main file (types the downstream graph keeps) vs the aux file.
# ---------------------------------------------------------------------------
REWRITE_REL_TYPES = (UNTYPED_PARENT, "UnspecifiedParentType", "BiologicalParent")


def rewrite_relationships(edges: DataFrame, updates: DataFrame) -> DataFrame:
    """edges + updates(source, destination, new_type, new_id) ->
    edges with (type, id) overridden where an update matches, plus a
    ``routed`` column: 'main' if the final type is in REWRITE_REL_TYPES,
    else 'aux' (write with ``partitionBy('routed')`` for the two-file split).

    The update map is small (resolution output) — broadcast join, no shuffle
    on the edges side."""
    u = updates.select(
        "source",
        "destination",
        F.col("new_type").alias("_nt"),
        F.col("new_id").alias("_ni"),
    )
    return (
        edges.join(F.broadcast(u), on=["source", "destination"], how="left")
        .withColumn("type", F.coalesce(F.col("_nt"), F.col("type")))
        .withColumn("id", F.when(F.col("_nt").isNotNull(), F.col("_ni")).otherwise(F.col("id")))
        .drop("_nt", "_ni")
        .withColumn(
            "routed",
            F.when(F.col("type").isin(*REWRITE_REL_TYPES), "main").otherwise("aux"),
        )
    )

