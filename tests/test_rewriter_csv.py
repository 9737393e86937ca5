"""J7 rewriter + S6/S7 CSV roundtrip."""

from pyspark.sql import functions as F

from fs_crawler_spark.operators.graph import rewrite_relationships
from fs_crawler_spark.sources.csv_compat import (
    read_edges_csv,
    read_vertices_csv,
    write_graph_csv,
)


def test_rewrite_relationships(spark):
    edges = spark.createDataFrame(
        [
            ("C1", "P1", "UntypedParent", "R1"),
            ("C1", "P2", "UntypedParent", "R1"),
            ("C2", "P3", "BiologicalParent", "R2"),
        ],
        "source string, destination string, type string, id string",
    )
    updates = spark.createDataFrame(
        [("C1", "P1", "StepParent", "R1x")],
        "source string, destination string, new_type string, new_id string",
    )
    out = {
        (r["source"], r["destination"]): (r["type"], r["id"], r["routed"])
        for r in rewrite_relationships(edges, updates).collect()
    }
    assert out[("C1", "P1")] == ("StepParent", "R1x", "aux")  # updated + moved
    assert out[("C1", "P2")] == ("UntypedParent", "R1", "main")
    assert out[("C2", "P3")] == ("BiologicalParent", "R2", "main")


def test_csv_roundtrip(spark, tmp_path):
    vertices = spark.createDataFrame(
        [
            ("V1", -1, "Doe", "John", 0, "1900-1980"),
            ("V2", 1, "Roe", "Jane", 1, "Living"),
        ],
        "id string, color int, surname string, given_name string, iteration int, lifespan string",
    )
    edges = spark.createDataFrame(
        [("V1", "V2", "UntypedParent", "R9")],
        "source string, destination string, type string, id string",
    )
    out = str(tmp_path / "csv")
    write_graph_csv(vertices, edges, out)
    v2 = read_vertices_csv(spark, f"{out}/vertices.csv")
    e2 = read_edges_csv(spark, f"{out}/edges.csv")
    assert sorted(map(tuple, v2.collect())) == sorted(map(tuple, vertices.collect()))
    assert sorted(map(tuple, e2.collect())) == sorted(map(tuple, edges.collect()))
    # reference header compatibility (graph_writer.py:6: name = "surname, given")
    import glob

    header = open(glob.glob(f"{out}/vertices.csv/part-*.csv")[0]).readline().strip()
    assert header.replace('"', "") == "#external_id,color,name,iteration,lifespan"


def test_full_csv_family(spark, tmp_path):
    """All six reference files (graph_io.py:12-16) + validated/invalid
    exports (graph_validator.py:194-225) write and read back consistently."""
    import glob

    from fs_crawler_spark.sources.csv_compat import (
        read_frontier_vertices_csv,
        write_crawl_csv,
        write_validated_csv,
    )

    vertices = spark.createDataFrame(
        [
            ("A", 0, None, None, 0, ""),
            ("B", -1, "Doe", "Jo", 1, "1900-1980"),
            ("C", 1, None, None, 1, "Living"),
            ("D", -1, None, None, 2, ""),
        ],
        "id string, color int, surname string, given_name string, iteration int, lifespan string",
    )
    edges = spark.createDataFrame(
        [
            ("A", "B", "UntypedParent", "R1"),   # within from iter 1
            ("A", "C", "UntypedParent", "R2"),   # within from iter 1
            ("B", "D", "UntypedParent", "R3"),   # within from iter 2
            ("B", "X", "UntypedParent", "R4"),   # spanning forever (X unfetched)
            ("Z", "W", "UntypedParent", "R5"),   # frontier (neither fetched —
            # only possible for CSV-roundtripped graphs)
        ],
        "source string, destination string, type string, id string",
    )
    frontier = spark.createDataFrame([("X",), ("Y",)], "url string")
    crawl_log = spark.createDataFrame(
        [(0, -1, 0.5, 1, 3, 0, 1, 1, 0, 1), (1, -1, 0.4, 2, 2, 2, 2, 2, 0, 2),
         (2, -1, 0.3, 1, 2, 2, 1, 1, 0, 3)],
        "iteration int, partition_id int, duration double, vertices long, "
        "frontier long, edges long, urls_in long, urls_fetched long, "
        "urls_deduped long, snapshot_id long",
    )
    out = str(tmp_path / "csvfam")
    paths = write_crawl_csv(vertices, edges, frontier, crawl_log, out, basename="g")
    assert len(paths) == 6 and all(glob.glob(f"{p}/part-*.csv") for p in paths.values())

    # class routing: 3 within, 1 spanning, 1 frontier
    n_within = spark.read.option("header", True).csv(paths["edges"]).count()
    n_span = spark.read.option("header", True).csv(paths["spanning_edges"]).count()
    n_front = spark.read.option("header", True).csv(paths["frontier_edges"]).count()
    assert (n_within, n_span, n_front) == (3, 1, 1)

    fv = read_frontier_vertices_csv(spark, paths["frontier_vertices"])
    assert sorted(r["id"] for r in fv.collect()) == ["X", "Y"]

    log = spark.read.option("header", True).csv(paths["log"]).collect()
    rows = {int(r["#iteration"]): r for r in log}
    assert len(rows) == 3
    # cumulative vertices: 1, 3, 4; within edges appear at max(si, di)
    assert [int(rows[k]["vertices"]) for k in (0, 1, 2)] == [1, 3, 4]
    assert [int(rows[k]["edges"]) for k in (0, 1, 2)] == [0, 2, 3]
    # iter 0: A->B, A->C discovered but B, C unfetched -> both spanning;
    # iter 1 they become within and B->D, B->X appear (D unfetched, X never)
    assert [int(rows[k]["spanning_edges"]) for k in (0, 1, 2)] == [2, 2, 1]
    # frontier column passes through from the engine log
    assert [int(rows[k]["frontier"]) for k in (0, 1, 2)] == [3, 2, 2]
    # frontier-class edges agree with the sibling frontier.edges.csv file
    # (previously a hardcoded 0)
    assert [int(rows[k]["frontier_edges"]) for k in (0, 1, 2)] == [1, 1, 1]

    vpaths = write_validated_csv(vertices, edges, out, basename="g")
    vv = spark.read.option("header", True).csv(vpaths["validated_vertices"])
    assert vv.columns == ["vertex_number", "external_id", "color", "name",
                          "iteration", "lifespan"]
    assert vv.count() == 4
    # no invalid children here -> all edges with both endpoints known survive
    ve = spark.read.csv(vpaths["validated_edges"])
    assert ve.count() == 3


def test_migrate_job_end_to_end(spark, tmp_path):
    """S8: CSV family -> parquet lake migration with count verification."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from migrate_job import migrate

    from fs_crawler_spark.sources.csv_compat import write_crawl_csv

    vertices = spark.createDataFrame(
        [("A", 0, None, None, 0, ""), ("B", -1, "Doe", "Jo", 1, "1900-1980")],
        "id string, color int, surname string, given_name string, iteration int, lifespan string",
    )
    edges = spark.createDataFrame(
        [("A", "B", "UntypedParent", "R1"), ("A", "X", "UntypedParent", "R2")],
        "source string, destination string, type string, id string",
    )
    frontier = spark.createDataFrame([("X",)], "url string")
    crawl_log = spark.createDataFrame(
        [(0, -1, 0.5, 1, 1, 0, 1, 1, 0, 1), (1, -1, 0.4, 1, 1, 1, 1, 1, 0, 2)],
        "iteration int, partition_id int, duration double, vertices long, "
        "frontier long, edges long, urls_in long, urls_fetched long, "
        "urls_deduped long, snapshot_id long",
    )
    csv_dir = str(tmp_path / "legacy")
    write_crawl_csv(vertices, edges, frontier, crawl_log, csv_dir, basename="m")
    out = str(tmp_path / "lake")
    result = migrate(spark, csv_dir, "m", out)
    assert result["verified"]
    assert result["stats"]["vertices"] == 2
    assert result["stats"]["edges"] == 1          # within: A->B
    assert result["stats"]["spanning_edges"] == 1  # A->X
    assert result["stats"]["frontier_vertices"] == 1
    assert result["stats"]["log_entries"] == 2
    v = spark.read.parquet(f"{out}/vertices").collect()
    by_id = {r["id"]: r for r in v}
    assert by_id["B"]["surname"] == "Doe" and by_id["B"]["given_name"] == "Jo"
    assert by_id["A"]["surname"] == "" and by_id["A"]["given_name"] == ""


def test_crawl_checkpoint_csv_export(spark, sf_dir, tmp_path):
    """write_crawl_csv over a crawl's committed state: log.csv comes from the
    real crawl_log (per-partition lineage rows mixed with one totals row per
    round), so each cumulative row must agree with the committed tables."""
    from fs_crawler_spark.plans.crawl import CrawlConfig, load_frontier, read_output, run_crawl
    from fs_crawler_spark.sources.corpus import build_pages, doc_url
    from fs_crawler_spark.sources.csv_compat import write_crawl_csv

    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    ckpt = str(tmp_path / "ckpt")
    res = run_crawl(
        spark, pages, [doc_url(0)], ckpt,
        CrawlConfig(max_rounds=4, host_budget=10),
    )
    assert res["rounds"] == 4

    vertices = read_output(spark, ckpt, "vertices")
    edges = read_output(spark, ckpt, "edges")
    frontier = load_frontier(spark, ckpt)
    crawl_log = read_output(spark, ckpt, "crawl_log")
    out = str(tmp_path / "csv")
    paths = write_crawl_csv(vertices, edges, frontier, crawl_log, out)

    def read(key):
        return spark.read.option("header", True).csv(paths[key])

    log = sorted(read("log").collect(), key=lambda r: int(r["#iteration"]))
    assert [int(r["#iteration"]) for r in log] == [0, 1, 2, 3]
    v_iters = [r["iteration"] for r in vertices.select("iteration").collect()]
    totals = {
        r["iteration"]: r["frontier"]
        for r in crawl_log.filter(F.col("partition_id") == -1).collect()
    }
    for i, row in enumerate(log):
        assert int(row["vertices"]) == sum(1 for it in v_iters if it <= i), i
        assert int(row["frontier"]) == totals[i], i
    assert int(log[-1]["edges"]) + int(log[-1]["spanning_edges"]) == edges.count()

    exported_v = {
        (r["#external_id"], int(r["iteration"])) for r in read("vertices").collect()
    }
    assert exported_v == {
        (r["id"], r["iteration"]) for r in vertices.select("id", "iteration").collect()
    }
    exported_f = {r["#external_id"] for r in read("frontier_vertices").collect()}
    assert exported_f == {r["url"] for r in frontier.select("url").collect()}
    pages.unpersist()


def test_validate_job_end_to_end(spark, sf_dir, tmp_path):
    """jobs/validate_job.py: the validate-fs CLI analog over both input
    layouts, stats row + histograms + validated exports."""
    import glob
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import validate_job

    from fs_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from fs_crawler_spark.sources.corpus import build_persons_pages, doc_url

    pages = build_persons_pages(spark, sf_dir, limit_docs=60).cache()
    ckpt = str(tmp_path / "ckpt")
    run_crawl(
        spark, pages, [doc_url(0)], ckpt,
        CrawlConfig(max_rounds=6, mode="persons"),
    )

    class A:
        checkpoint = ckpt
        csv_dir = None
        basename = "graph"

    v, e, f = validate_job.load_graph(spark, A)
    result = validate_job.validate(spark, v, e, f)
    s = result["stats"]
    assert s["vertex_count"] == v.count() > 0
    assert s["edge_count"] == e.count() > 0
    assert isinstance(result["invalid_by_decade"], dict)
    assert isinstance(result["invalid_by_iteration"], dict)

    # CSV-layout input path + validated exports
    from fs_crawler_spark.sources.csv_compat import write_crawl_csv, write_validated_csv

    fam_dir = str(tmp_path / "csvfam")
    log = None
    write_crawl_csv(v, e, f.withColumnRenamed("id", "url"), log, fam_dir, basename="g")

    class B:
        checkpoint = None
        csv_dir = fam_dir
        basename = "g"

    v2, e2, f2 = validate_job.load_graph(spark, B)
    r2 = validate_job.validate(spark, v2, e2, f2)
    # within + spanning edges survive the roundtrip into the validator view
    assert r2["stats"]["vertex_count"] == s["vertex_count"]

    out = str(tmp_path / "validated")
    paths = write_validated_csv(v, e, out, basename="g")
    assert all(glob.glob(f"{p}/part-*.csv") for p in paths.values())
    pages.unpersist()
