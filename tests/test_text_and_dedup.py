import duckdb
import pytest
from pyspark.sql import functions as F

from fs_crawler_spark.functions.textfns import (
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    quality_score,
    text_sha,
    token_count,
)
from fs_crawler_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    simhash_dup_groups,
    token_jaccard_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_token_counts_match_duckdb(spark, docs, sf_dir):
    got = {
        r["doc_id"]: (r["tc"], r["bc"])
        for r in docs.select(
            "doc_id",
            token_count(F.col("text")).alias("tc"),
            bpe_token_count(F.col("text")).alias("bc"),
        ).collect()
    }
    want = {
        row[0]: (row[1], row[2])
        for row in duckdb.sql(
            f"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')) AS tc,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bc
            FROM '{sf_dir}/documents.parquet'
            """
        ).fetchall()
    }
    assert got == want


def test_exact_dedup_and_sha(spark, docs):
    # construct a frame with known duplicates
    dup = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c"), (5, "x z")],
        "doc_id long, text string",
    )
    groups = {r["sha"]: (r["n_docs"], r["keeper_id"]) for r in exact_dup_groups(dup).collect()}
    assert len(groups) == 1
    ((n, keeper),) = groups.values()
    assert (n, keeper) == (3, 1)
    # md5 agrees with duckdb
    s = dup.select(text_sha(F.col("text")).alias("s")).limit(1).collect()[0]["s"]
    assert s == duckdb.sql("select md5('a b c')").fetchone()[0]


def test_token_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fox jumps"),
            (3, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in token_jaccard_pairs(df, 0.5).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == 0.8  # 4 / 5


def test_minhash_lsh_finds_near_dups(spark):
    base = "w%d " * 30
    rows = [
        (1, (base % tuple(range(30))).strip()),
        (2, (base % tuple(range(30))).strip() + " extra"),  # near dup of 1
        (3, ("z%d " * 30 % tuple(range(30))).strip()),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_texts_group(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon")],
        "doc_id long, text string",
    )
    groups = simhash_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keeper_id"] == 1


def test_quality_langid_fingerprint_deterministic(spark, docs):
    out1 = docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
        doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    out2 = docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
        doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    qs = [r["q"] for r in out1]
    assert all(0.0 <= q <= 1.0 for q in qs)
    assert {r["lang"] for r in out1} <= {"en", "de", "es", "fr", "und"}


def test_simhash_near_dup_pairs_finds_close_texts(spark):
    from fs_crawler_spark.operators.dedup import simhash_near_dup_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # identical -> hamming 0
        (3, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dup_pairs(df, max_hamming=3, blocks=8).collect()}
    assert pairs.get((1, 2)) == 0
    assert all(3 not in p for p in pairs)


def test_simhash_blocking_candidates_bounded(spark, docs):
    """The pigeonhole blocking must NOT degenerate to all-pairs: with 16-bit
    block values the candidate join volume stays within a small multiple of
    the true near-dup output (round-1's 4-bit blocks emitted 64% of all
    possible pairs — an all-pairs join in disguise)."""
    from fs_crawler_spark.operators.dedup import (
        simhash_blocks,
        simhash_near_dup_pairs,
    )

    n = docs.count()
    sh = docs.select(
        F.col("doc_id").alias("id"), simhash_blocks("text", 64, 4).alias("shb")
    ).persist()
    banded = sh.select("id", F.posexplode("shb").alias("blk", "val"))
    a = banded.select("blk", "val", F.col("id").alias("id_a"))
    b = banded.select("blk", "val", F.col("id").alias("id_b"))
    n_cand = (
        a.join(b, on=["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    n_out = simhash_near_dup_pairs(docs, max_hamming=3, bits=64, blocks=4).count()
    all_pairs = n * (n - 1) / 2
    sh.unpersist()
    assert n_out > 0  # planted dups guarantee non-trivial output
    assert n_cand < 0.35 * all_pairs  # not all-pairs
    assert n_cand < 8 * n_out  # candidates within a small factor of output


def test_simhash_kernel_matches_expression(spark, docs):
    """The Arrow simhash kernel must produce bit-identical block values to
    the Column-expression path (same md5 digests, same majority rule)."""
    from fs_crawler_spark.operators.dedup import simhash_blocks, simhash_blocks_kernel

    expr = {
        r["id"]: list(r["shb"])
        for r in docs.select(
            F.col("doc_id").alias("id"), simhash_blocks("text", 64, 4).alias("shb")
        ).collect()
    }
    kern = {
        r["id"]: list(r["shb"])
        for r in simhash_blocks_kernel(docs, "doc_id", "text", 64, 4).collect()
    }
    assert expr == kern


def test_connected_components_chain_and_cliques(spark):
    """Hash-to-min label propagation: chains merge to the min id across
    multiple rounds; disjoint cliques keep separate canonicals."""
    from fs_crawler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            # a 5-chain (requires >1 propagation round): 10-11-12-13-14
            (10, 11), (11, 12), (12, 13), (13, 14),
            # a triangle
            (20, 21), (21, 22), (20, 22),
            # an isolated pair
            (30, 31),
        ],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir switches per-round state from localCheckpoint to a
    reliable checkpoint (fault-tolerant cluster mode); labels identical."""
    from fs_crawler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3")],
        "id_a string, id_b string",
    )
    local = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    reliable = {
        r["id"]: r["comp"]
        for r in connected_components(
            pairs, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert reliable == local
    assert reliable["c"] == "a" and reliable["y"] == "x" and reliable["p3"] == "p"


def test_repetition_signals_hand_computed(spark):
    """Gopher-style repetition signals against hand-computed values."""
    from pyspark.sql import functions as F

    from fs_crawler_spark.functions.textfns import bigrams, dup_line_frac

    df = spark.createDataFrame(
        [
            # 4 non-empty lines, 'same line' repeats twice -> dup frac 1/4;
            # bigrams of 'a b a b a' -> [a b, b a, a b, b a] -> top 2/4
            (1, "same line\nother\n\n  same line  \nend"),
            (2, "a b a b a"),
            (3, "one token"),   # 1 bigram, top frac 1.0; no dup lines
            (4, "solo"),        # no bigrams
            (5, ""),            # empty doc: both 0.0
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            dup_line_frac(F.col("text")).alias("dlf"),
            F.size(bigrams(F.col("text"))).alias("n_bg"),
        ).collect()
    }
    assert rows[1]["dlf"] == 0.25
    assert rows[2]["dlf"] == 0.0 and rows[2]["n_bg"] == 4
    assert rows[3]["n_bg"] == 1
    assert rows[4]["n_bg"] == 0 and rows[4]["dlf"] == 0.0
    assert rows[5]["dlf"] == 0.0 and rows[5]["n_bg"] == 0


def test_repetition_stats_query_matches_oracle(spark, sf_dir):
    import duckdb

    import __spark_entry__ as e

    srows = sorted(map(tuple, e.queries()["repetition_stats"](spark, sf_dir).collect()))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    orows = sorted(map(tuple, con.sql(e.oracle_sql()["repetition_stats"]).fetchall()))
    assert srows == orows and len(srows) > 0


def test_token_jaccard_prefix_equals_allpairs_across_thresholds(spark):
    """Prefix filtering must be output-identical to the naive all-pairs join
    at EVERY threshold — including ones like 0.55/0.67/0.81 whose double
    product t*|d| overshoots the exact value (0.55*20 -> 11.000000000000002),
    where a bare ceil() would shorten the prefix below the AllPairs lemma
    bound and silently drop qualifying pairs."""
    import random

    rng = random.Random(20260821)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        sz = rng.randint(5, 25)
        rows.append((i, " ".join(rng.sample(vocab, sz))))
    # seed exact-overlap families around the awkward sizes: |d|=20 with
    # t=0.55 is the documented ceil-overshoot case
    rows.append((100, " ".join(vocab[:20])))
    rows.append((101, " ".join(vocab[:20])))          # J = 1.0
    rows.append((102, " ".join(vocab[2:22])))         # J = 18/22
    rows.append((103, " ".join(vocab[5:25])))         # J = 15/25 vs 100
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.27, 0.5, 0.55, 0.67, 0.81):
        got_prefix = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in token_jaccard_pairs(df, t, method="prefix").collect()
        }
        got_allpairs = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in token_jaccard_pairs(df, t, method="allpairs").collect()
        }
        assert got_prefix == got_allpairs, f"threshold {t}"
        if t <= 0.81:
            assert (100, 101, 1.0) in got_prefix
