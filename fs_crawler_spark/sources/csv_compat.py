"""Reference-schema CSV compatibility exporter/reader (SURVEY.md S6/S7).

The reference's primary sink is six per-crawl CSV files (graph_writer.py:5-7,
78-122; filenames graph_io.py:12-16):

  {base}.vertices.csv           fetched individuals
  {base}.edges.csv              within-class edges (both endpoints fetched)
  {base}.spanning.edges.csv     exactly one endpoint fetched
  {base}.frontier.edges.csv     neither endpoint fetched
  {base}.frontier.vertices.csv  queued-but-unfetched ids (read back by the
                                validator, graph_validator.py:84-92)
  {base}.log.csv                per-iteration metrics (graph_writer.py:32-48)

plus the validator outputs (graph_validator.py:194-225):

  {base}.validated.vertices.csv  renumbered 1..N (CANONICAL_VERTEX_HEADER)
  {base}.validated.edges.csv     (source_number, destination_number), no header
  {base}.invalid.edges.csv       (#source_vertex, relationship_id)

The engine's primary sink is the snapshot store; this module is the
byte-compatible exporter so downstream RedBlackGraph tooling keeps working,
plus the readers for CSV-resume (S7).

Headers (graph_writer.py:5-7):
  vertices  #external_id,color,name,iteration,lifespan   (name = "surname, given")
  edges     #source_vertex,destination_vertex,relationship_type,relationship_id
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..operators.graph import classify_edges, save_valid_graph

VERTEX_HEADER = ["#external_id", "color", "name", "iteration", "lifespan"]
EDGE_HEADER = [
    "#source_vertex",
    "destination_vertex",
    "relationship_type",
    "relationship_id",
]

VERTEX_CSV_SCHEMA = StructType(
    [
        StructField("#external_id", StringType(), False),
        StructField("color", IntegerType(), True),
        StructField("name", StringType(), True),
        StructField("iteration", IntegerType(), True),
        StructField("lifespan", StringType(), True),
    ]
)

EDGE_CSV_SCHEMA = StructType(
    [
        StructField("#source_vertex", StringType(), False),
        StructField("destination_vertex", StringType(), False),
        StructField("relationship_type", StringType(), True),
        StructField("relationship_id", StringType(), True),
    ]
)


def vertices_to_csv_form(vertices: DataFrame, include_living: bool = True) -> DataFrame:
    """Engine vertices -> reference CSV column shape. ``living`` filter analog
    (graph_writer.py:86): living = lifespan == 'Living'."""
    df = vertices
    if not include_living:
        df = df.filter(
            F.col("lifespan").isNull() | (F.col("lifespan") != "Living")
        )
    name = F.when(
        F.col("surname").isNotNull() | F.col("given_name").isNotNull(),
        F.concat_ws(", ", F.col("surname"), F.col("given_name")),
    )
    return df.select(
        F.col("id").alias("#external_id"),
        "color",
        name.alias("name"),
        "iteration",
        "lifespan",
    )


def edges_to_csv_form(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("source").alias("#source_vertex"),
        F.col("destination").alias("destination_vertex"),
        F.col("type").alias("relationship_type"),
        F.col("id").alias("relationship_id"),
    )


def write_graph_csv(
    vertices: DataFrame, edges: DataFrame, out_dir: str, sort: bool = True
) -> None:
    v = vertices_to_csv_form(vertices)
    e = edges_to_csv_form(edges)
    if sort:  # deterministic byte-stable export (SURVEY.md §5 item 2)
        v = v.orderBy("#external_id")
        e = e.orderBy("#source_vertex", "destination_vertex")
    v.write.mode("overwrite").option("header", True).csv(f"{out_dir}/vertices.csv")
    e.write.mode("overwrite").option("header", True).csv(f"{out_dir}/edges.csv")


def _write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).csv(path)


def write_crawl_csv(
    vertices: DataFrame,
    edges: DataFrame,
    frontier: DataFrame,
    crawl_log: DataFrame | None,
    out_dir: str,
    basename: str = "graph",
    save_living: bool = True,
    sort: bool = True,
) -> dict[str, str]:
    """The COMPLETE reference sink: all six per-crawl files
    (graph_io.py:12-16), with A3's write-time edge routing
    (graph_writer.py:100-114) done as one classify + three filtered writes —
    classify_edges is a single pass (two broadcast semi-join lookups), and
    the three class writes share it.

    ``frontier`` is the engine frontier table (url column) or any DataFrame
    with an ``id``/``url`` column. Returns {logical name: path}.

    Exporting a crawl checkpoint, finished or mid-crawl, reads only its
    committed state: ``write_crawl_csv(read_output(spark, ckpt, "vertices"),
    read_output(spark, ckpt, "edges"), load_frontier(spark, ckpt),
    read_output(spark, ckpt, "crawl_log"), out_dir)``.
    """
    id_col = "url" if "url" in frontier.columns else "id"
    paths = {
        "vertices": f"{out_dir}/{basename}.vertices.csv",
        "edges": f"{out_dir}/{basename}.edges.csv",
        "spanning_edges": f"{out_dir}/{basename}.spanning.edges.csv",
        "frontier_edges": f"{out_dir}/{basename}.frontier.edges.csv",
        "frontier_vertices": f"{out_dir}/{basename}.frontier.vertices.csv",
        "log": f"{out_dir}/{basename}.log.csv",
    }
    v = vertices_to_csv_form(vertices, include_living=save_living)
    classified = classify_edges(edges, vertices)
    if sort:
        v = v.orderBy("#external_id")
        classified = classified.orderBy("source", "destination")
    _write_csv(v, paths["vertices"])
    for cls, key in (("within", "edges"), ("spanning", "spanning_edges"), ("frontier", "frontier_edges")):
        _write_csv(
            edges_to_csv_form(classified.filter(F.col("class") == cls).drop("class")),
            paths[key],
        )
    fv = frontier.select(F.col(id_col).alias("#external_id")).distinct()
    _write_csv(fv.orderBy("#external_id") if sort else fv, paths["frontier_vertices"])
    if crawl_log is not None:
        # no coalesce(1): coalescing a tiny relation costs ~6 s of fixed
        # overhead on this Spark build (BENCH/BASELINE.md); readers treat the
        # dir as one CSV and the log is keyed by #iteration, not row order
        _write_csv(crawl_log_csv_form(vertices, edges, crawl_log), paths["log"])
    return paths


def crawl_log_csv_form(
    vertices: DataFrame, edges: DataFrame, crawl_log: DataFrame
) -> DataFrame:
    """Reference log.csv rows (graph_writer.py:32-48): per iteration the
    CUMULATIVE graph state — total vertices, frontier size, and the
    within/spanning/frontier edge-class counts of the graph as of that
    iteration.

    The reference recounts the whole in-memory graph each round; here the
    historical classification is reconstructed from vertex iterations:
    an edge discovered at src-iteration s is 'within' once its destination
    is fetched (iteration d), i.e. from iteration max(s, d); before that it
    is 'spanning'. Histogram + cumulative window over the tiny per-iteration
    table — no per-round rescans of the full graph.
    """
    vit = vertices.select("id", "iteration")
    # Edges whose source was never fetched (possible only for graphs round-
    # tripped through CSV resume — engine-native crawls emit edges from
    # fetched pages) are 'frontier' class in every historical state from
    # load on; they ride as a constant on every cumulative row instead of
    # the hardcoded 0 that disagreed with the sibling frontier.edges.csv.
    frontier_cnt = edges.join(
        vit.select(F.col("id").alias("source")), on="source", how="left_anti"
    ).agg(F.count("*").cast("long").alias("_fe"))
    e = (
        edges.join(
            vit.select(F.col("id").alias("source"), F.col("iteration").alias("_si")),
            on="source",
            how="inner",
        )
        .join(
            vit.select(
                F.col("id").alias("destination"), F.col("iteration").alias("_di")
            ),
            on="destination",
            how="left",
        )
        .select(
            "_si",
            # Spark's greatest() skips nulls; an unfetched destination must
            # stay spanning forever, so gate on _di explicitly.
            F.when(
                F.col("_di").isNotNull(), F.greatest("_si", "_di")
            ).alias("_wi"),
        )
    )
    known_h = e.groupBy(F.col("_si").alias("iteration")).agg(
        F.count("*").alias("_known")
    )
    within_h = e.filter(F.col("_wi").isNotNull()).groupBy(
        F.col("_wi").alias("iteration")
    ).agg(F.count("*").alias("_within"))
    v_h = vertices.groupBy("iteration").agg(F.count("*").alias("_v"))
    # Resilient to a missing totals row (crash before the piggybacked write,
    # see plans/crawl.py): iterations come from ALL log rows (the per-
    # partition lineage rows always commit with the round), totals left-join
    # in; unrecoverable duration -> 0, frontier -> null (empty CSV field).
    iters = crawl_log.select("iteration").distinct()
    totals = iters.join(
        crawl_log.filter(F.col("partition_id") == -1).select(
            "iteration", "duration", F.col("frontier").alias("_f")
        ),
        on="iteration",
        how="left",
    ).select("iteration", F.coalesce("duration", F.lit(0.0)).alias("duration"), "_f")
    w = Window.orderBy("iteration").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        totals.join(v_h, on="iteration", how="left")
        .join(known_h, on="iteration", how="left")
        .join(within_h, on="iteration", how="left")
        .select(
            "iteration",
            "duration",
            F.sum(F.coalesce("_v", F.lit(0))).over(w).alias("_cv"),
            F.col("_f"),
            F.sum(F.coalesce("_known", F.lit(0))).over(w).alias("_ck"),
            F.sum(F.coalesce("_within", F.lit(0))).over(w).alias("_cw"),
        )
        .crossJoin(F.broadcast(frontier_cnt))
        .select(
            F.col("iteration").alias("#iteration"),
            "duration",
            F.col("_cv").alias("vertices"),
            F.col("_f").alias("frontier"),
            F.col("_cw").alias("edges"),
            (F.col("_ck") - F.col("_cw")).alias("spanning_edges"),
            F.col("_fe").alias("frontier_edges"),
        )
    )
    return out


CANONICAL_VERTEX_HEADER = [
    "vertex_number",
    "external_id",
    "color",
    "name",
    "iteration",
    "lifespan",
]


def write_validated_csv(
    vertices: DataFrame, edges: DataFrame, out_dir: str, basename: str = "graph"
) -> dict[str, str]:
    """Validator sink (graph_validator.py:194-225): validated.vertices.csv
    (CANONICAL_VERTEX_HEADER, 1-based renumber), validated.edges.csv
    (numbered pairs, headerless — the reference writes no header row), and
    invalid.edges.csv (#source_vertex, relationship_id)."""
    vv, ve, inv = save_valid_graph(vertices, edges)
    paths = {
        "validated_vertices": f"{out_dir}/{basename}.validated.vertices.csv",
        "validated_edges": f"{out_dir}/{basename}.validated.edges.csv",
        "invalid_edges": f"{out_dir}/{basename}.invalid.edges.csv",
    }
    name = F.when(
        F.col("surname").isNotNull() | F.col("given_name").isNotNull(),
        F.concat_ws(", ", F.col("surname"), F.col("given_name")),
    )
    _write_csv(
        vv.select(
            "vertex_number",
            F.col("id").alias("external_id"),
            "color",
            name.alias("name"),
            "iteration",
            "lifespan",
        ).orderBy("vertex_number"),
        paths["validated_vertices"],
    )
    _write_csv(
        ve.orderBy("source_number", "destination_number"),
        paths["validated_edges"],
        header=False,
    )
    _write_csv(
        inv.select(
            F.col("source").alias("#source_vertex"), "relationship_id"
        ).orderBy("#source_vertex", "relationship_id"),
        paths["invalid_edges"],
    )
    return paths


def read_frontier_vertices_csv(spark: SparkSession, path: str) -> DataFrame:
    """S7: the validator's frontier read-back (graph_validator.py:84-92)."""
    schema = StructType([StructField("#external_id", StringType(), False)])
    raw = spark.read.option("header", True).schema(schema).csv(path)
    return raw.select(F.col("#external_id").alias("id"))


def read_vertices_csv(spark: SparkSession, path: str) -> DataFrame:
    """S7 resume path: CSV -> engine vertices schema."""
    raw = spark.read.option("header", True).schema(VERTEX_CSV_SCHEMA).csv(path)
    parts = F.split(F.col("name"), ", ", 2)
    return raw.select(
        F.col("#external_id").alias("id"),
        "color",
        parts.getItem(0).alias("surname"),
        parts.getItem(1).alias("given_name"),
        "iteration",
        "lifespan",
    )


def read_edges_csv(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.option("header", True).schema(EDGE_CSV_SCHEMA).csv(path)
    return raw.select(
        F.col("#source_vertex").alias("source"),
        F.col("destination_vertex").alias("destination"),
        F.col("relationship_type").alias("type"),
        F.col("relationship_id").alias("id"),
    )
