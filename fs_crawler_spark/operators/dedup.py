"""Deduplication operators for web-text corpora.

The crawl engine's seen-set handles URL-level dedup; these operators handle
CONTENT-level dedup — the first stage of any 100 TB training-data pipeline.
Five strategies, cheapest-first:

  exact          md5(text) groupBy — one shuffle on a 32-byte key
  fingerprint    shingle rolling-hash key (functions.textfns.doc_fingerprint)
  minhash LSH    shingle -> k minhashes -> b bands -> bucket join; candidate
                 pairs verified with exact Jaccard (no false positives)
  simhash        64-bit simhash + hamming-ball grouping on 16-bit blocks
  ngram Jaccard  exact token-set Jaccard via explode + self-join (the
                 verifier; quadratic within blocking keys only)
  embedding      cosine near-dup over embedding vectors (operators.similarity)

Scale notes: every strategy is shuffle-bounded by its blocking key (hash,
band, simhash block) — never an unblocked cross join. The md5/minhash choice
is deliberate: md5 is computable in DuckDB too, so every operator here has an
exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import text_sha, ws_tokens


def _spread(df: DataFrame, key: str, parts: int | None = None) -> DataFrame:
    """Hash-repartition an under-partitioned input before a compute-heavy
    per-row stage (optimization guide §2.5 "input skew"). A single-file
    parquet table scans as ONE partition (a 6 MB file is one split and one
    row group), so every downstream signature kernel / pair join otherwise
    runs on one core of the whole cluster. Partition count defaults to the
    session's default parallelism (scale-adaptive: local[N] -> N, cluster ->
    total executor cores), and the shuffle is skipped when the input is
    already at least that parallel. Hash on ``key`` (deterministic), not
    round-robin (avoids the sort-before-repartition pass)."""
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(sha, n_docs, keeper_id) per duplicate group with n_docs >= 2."""
    return (
        docs.select(F.col(id_col), text_sha(F.col(text_col)).alias("sha"))
        .groupBy("sha")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Token-set Jaccard (exact verifier; also standalone with a blocking key)
# ---------------------------------------------------------------------------
def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    method: str = "prefix",
) -> DataFrame:
    """All doc pairs (a < b) with token-set Jaccard >= threshold.

    ``method="prefix"`` (default, the scale path — AllPairs/PPJoin prefix
    filtering): tokens get a global rarest-first total order (doc frequency,
    then token); a pair with J >= t MUST share a token among each doc's
    first ``|d| - ceil(t*|d|) + 1`` tokens in that order, so only prefix
    tokens enter the self-join. The candidate count drops from sum(df^2)
    over ALL tokens (hot stopwords dominate) to sum over rare prefix
    tokens; verification is an exact array_intersect over the full sorted
    token arrays, so the OUTPUT is identical to the naive join. Two extra
    narrow shuffles (doc-frequency agg, per-doc array rebuild) buy a
    quadratic-term reduction — the trade that matters at 100 TB. MEASURED
    at sf0.1 (54k docs, source-blocked, t=0.4, 16c): prefix 12.4 s vs
    allpairs 12.5 s, outputs identical — at this scale/threshold the
    corpus has no stopword-df^2 blowup to prune, so the two extra
    shuffles cost nothing net; the prefix shape is strictly safer on a
    real web corpus where a few tokens appear in 10^8 docs.

    ``method="allpairs"``: the naive shape — explode to (token, id),
    self-join on token, groupBy pair. Kept as the oracle-shaped baseline.

    ``block_col`` (e.g. source, LSH band) bounds either join — still
    recommended at real scale; with prefix filtering it is no longer the
    only thing standing between you and sum(df^2) on stopwords.
    Returns (id_a, id_b, jaccard) with jaccard rounded to 4 dp.

    The prefix path's persisted token-array frame outlives the call.
    """
    docs = _spread(docs, id_col)
    blk = [F.col(block_col).alias("_blk")] if block_col else []
    toks = docs.select(
        F.col(id_col).alias("id"),
        *blk,
        F.explode(F.array_distinct(ws_tokens(F.col(text_col)))).alias("tok"),
    )
    join_keys = ["tok"] + (["_blk"] if block_col else [])
    if method == "prefix":
        grp = ["id"] + (["_blk"] if block_col else [])
        # Candidate bounds below are derived for exact J >= t, but the OUTPUT
        # filter is on round(J, 4) >= t — a pair can round up from just below
        # t. Every bound therefore uses t_eff = t - 5e-5 (the half-ulp of the
        # 4-dp rounding) so the candidate set is a superset of everything the
        # rounded filter can accept; verification stays exact.
        t_eff = threshold - 5e-5
        # Global rarest-first total order shared by every doc (the
        # prefix-filter guarantee requires one). Tokens are DICTIONARY-
        # ENCODED to their dense rank in that order: integer join keys and
        # integer verify arrays are several times cheaper than string ones
        # at candidate volume, and set sizes (hence jaccard) are unchanged
        # under the bijection. The rank window is a single-task sort of the
        # VOCABULARY (not the corpus) — fine into the 10^8-token range; at
        # larger vocabularies switch to a zipWithIndex-style distributed
        # rank (order only needs to be total and deterministic, not dense).
        df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
        rank_w = Window.orderBy(F.col("_df").asc(), F.col("tok").asc())
        ranked = df_counts.select(
            "tok", F.row_number().over(rank_w).alias("_rnk")
        )
        arrs = (
            toks.join(ranked, on="tok")
            .groupBy(*grp)
            .agg(
                F.sort_array(F.collect_list("_rnk")).alias("toks"),
                F.count(F.lit(1)).alias("sz"),
            )
            .withColumn(
                # prefix length |d| - ceil(t*|d|) + 1. The product is double
                # arithmetic: 0.55*100 evaluates to 55.000000000000007, whose
                # bare ceil (56) would SHORTEN the prefix below the AllPairs
                # lemma bound and silently drop qualifying pairs. The 1e-9
                # epsilon absorbs that representation error (double relative
                # error ~1e-16*t*sz, far below 1e-9 at any realistic doc
                # size); an epsilon overshoot can only LENGTHEN the prefix,
                # which keeps the output exact (superset of candidates).
                "_plen",
                F.col("sz")
                - F.ceil(F.lit(t_eff) * F.col("sz") - F.lit(1e-9))
                + 1,
            )
        ).persist()
        # PPJoin POSITIONAL filtering (guide §2.3 "shuffle fewer bytes"):
        # prefix rows carry (position, set size); a joined row survives only
        # if the overlap still achievable from the match position onward,
        # 1 + min(sz_a - p_a, sz_b - p_b), reaches the minimal overlap
        # i_min = ceil(t/(1+t) * (sz_a + sz_b)) that J >= t requires. For a
        # truly qualifying pair, its FIRST shared token in the global order
        # (which both sorted prefixes contain, by the AllPairs lemma) has
        # the minimal positions on both sides, so the bound holds at that
        # match — any qualifying pair survives. Rows die BEFORE the distinct
        # exchange: measured at sf1.0 this cuts the 566M-row raw join to a
        # fraction ahead of the 62M-pair dedup, and subsumes length
        # filtering (at p_a = p_b = 1 the bound reduces to
        # min(sz) >= i_min).
        prefix = arrs.select(
            *grp,
            F.col("sz"),
            F.posexplode(F.slice("toks", 1, F.col("_plen"))).alias("_p", "tok"),
        )
        a = prefix.select(
            *join_keys,
            F.col("id").alias("id_a"),
            F.col("sz").alias("_sza"),
            F.col("_p").alias("_pa"),
        )
        b = prefix.select(
            *join_keys,
            F.col("id").alias("id_b"),
            F.col("sz").alias("_szb"),
            F.col("_p").alias("_pb"),
        )
        i_min = F.ceil(
            F.lit(t_eff / (1.0 + t_eff)) * (F.col("_sza") + F.col("_szb"))
            - F.lit(1e-9)
        )
        cand = (
            a.join(b, on=join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                1
                + F.least(
                    F.col("_sza") - (F.col("_pa") + 1),
                    F.col("_szb") - (F.col("_pb") + 1),
                )
                >= i_min
            )
            .select("id_a", "id_b")
            .distinct()
        )
        full = arrs.select(F.col("id"), F.col("toks"), F.col("sz"))
        inter = (
            cand.join(
                full.select(
                    F.col("id").alias("id_a"),
                    F.col("toks").alias("_ta"),
                    F.col("sz").alias("sz_a"),
                ),
                "id_a",
            )
            .join(
                full.select(
                    F.col("id").alias("id_b"),
                    F.col("toks").alias("_tb"),
                    F.col("sz").alias("sz_b"),
                ),
                "id_b",
            )
            .withColumn("inter", F.size(F.array_intersect("_ta", "_tb")))
        )
    elif method == "allpairs":
        sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
        a = toks.select(*[F.col(c) for c in join_keys], F.col("id").alias("id_a"))
        b = toks.select(*[F.col(c) for c in join_keys], F.col("id").alias("id_b"))
        inter = (
            a.join(b, on=join_keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
            .join(
                sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"),
                "id_a",
            )
            .join(
                sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"),
                "id_b",
            )
        )
    else:
        raise ValueError(f"unknown method: {method!r}")
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _shingle_hashes(text_col: str, shingle: int):
    toks = ws_tokens(F.col(text_col))
    n_windows = F.greatest(F.lit(1), F.size(toks) - (shingle - 1))
    return F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.concat_ws(" ", F.slice(toks, i, shingle)),
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne); a*x+b stays < 2^62


def minhash_affine_coeffs(num_hashes: int, prime: int = MINHASH_PRIME):
    """Deterministic (a_j, b_j) for the affine permutation family
    h_j(x) = (a_j*x + b_j) mod prime. Derived from a fixed 63-bit LCG so
    the operator and the DuckDB oracle embed the SAME literals."""
    state, out = 1, []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (prime - 1)) + 1  # nonzero mod prime
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % prime
        out.append((a, b))
    return out


def _affine_base_hash(s):
    """60-bit int from the shingle's md5 prefix, reduced mod the prime.
    conv(hex,16,10) here == CAST('0x'||hex AS BIGINT) in DuckDB — verified
    value-identical; 15 hex chars = 60 bits, no sign/overflow hazard."""
    return (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_PRIME
    )


def minhash_signature(text_col: str, num_hashes: int, shingle: int):
    """Array of ``num_hashes`` minhash values, min over shingles per hash.

    ONE md5 per shingle -> 60-bit int -> ``num_hashes`` affine transforms
    (a_j*x + b_j) mod 2^31-1, all in whole-stage-codegen int64 arithmetic,
    identically computable in DuckDB (exact oracles). A per-hash string-md5
    family pays num_hashes md5s PER SHINGLE — at 100 TB the signature scan
    is hash-bound, so this is ~an order of magnitude less signature compute
    (and the sig is 16 longs, not 16 hex strings, shrinking the persisted
    barrier). MEASURED end-to-end at sf0.1 (54k short docs, 16c): affine
    14.6 s vs md5 17.6 s — tokenize/shingle/join overheads dominate at
    this doc length, the hashing share (and this win) grows with document
    size.
    31-bit hash space is ample: P(collision within a doc) ~ n_shingles^2 /
    2^32, ~2e-4 at 1k shingles.
    """
    return _sig_from_shingles(_shingle_hashes(text_col, shingle), num_hashes)


def _sig_from_shingles(shingles, num_hashes: int):
    # Single-expression fold: per shingle ONE base md5 -> a 16-vector of
    # affine values -> element-wise min across shingles via aggregate +
    # zip_with. 16 separate array_min(transform(xs, ...)) columns would
    # duplicate the xs subtree (and its md5) 16x unless codegen CSE saves
    # us — this shape makes single evaluation structural, no persist
    # barrier or CSE reliance.
    coeffs = minhash_affine_coeffs(num_hashes)
    per_shingle = F.transform(
        F.transform(shingles, _affine_base_hash),
        lambda x: F.array(
            *[(F.lit(a) * x + F.lit(b)) % MINHASH_PRIME for a, b in coeffs]
        ),
    )
    init = F.array(*[F.lit(MINHASH_PRIME).cast("long")] * num_hashes)
    return F.aggregate(
        per_shingle, init, lambda acc, cur: F.zip_with(acc, cur, lambda p, q: F.least(p, q))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact shingle
    Jaccard (so the output has no false positives; recall is the LSH knob).

    Plan shape: shingle+signature projections are PERSISTED barriers —
    without them Catalyst's projection collapse inlines the 16-way minhash
    expression into every band column and recomputes it per band (measured
    ~10x slowdown). Bands explode -> self-join on (band, bucket) carrying only
    ids -> candidate pairs -> exact-Jaccard verify by joining the shingle sets
    back by id. Shuffles: band-bucket join + two id joins, all narrow keys.
    The persisted frames outlive the call. Returns (id_a, id_b, jaccard).
    """
    rows_per_band = num_hashes // bands
    docs = _spread(docs, id_col)
    base = docs.select(
        F.col(id_col).alias("id"),
        _shingle_hashes(text_col, shingle).alias("shingles"),
    ).persist()
    sigs = base.select(
        "id",
        _sig_from_shingles(F.col("shingles"), num_hashes).alias("sig"),
    ).persist()
    # band index is folded into the bucket hash so distinct bands never
    # collide into one bucket key (keeps the candidate set identical to the
    # (band, bucket)-keyed formulation and its SQL oracle)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            # sigs are array<long>; cast renders plain
                            # decimal, same as DuckDB array_to_string
                            F.slice("sig", b * rows_per_band + 1, rows_per_band).cast(
                                "array<string>"
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    a = banded.select(F.col("bucket"), F.col("id").alias("id_a"))
    b = banded.select(F.col("bucket"), F.col("id").alias("id_b"))
    cand = (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = base.select("id", F.array_distinct("shingles").alias("sh"))
    cand = cand.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        cand.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(text_col: str, bits: int = 32):
    """SimHash over whitespace tokens using md5-derived per-token bit vectors
    (first ``bits`` hex chars -> 4 bits each... simplified: bit i of token t =
    parity of hex digit i of md5(t)). Cross-engine reproducible."""
    toks = F.array_distinct(ws_tokens(F.col(text_col)))
    # bit i contribution: +1 if hex digit i of md5(tok) >= '8' (top bit set)
    digits = F.transform(toks, lambda t: F.md5(t))

    def bit_sum(i: int):
        one = F.size(
            F.filter(
                digits,
                lambda h: F.upper(F.substring(h, i + 1, 1)).isin(
                    "8", "9", "A", "B", "C", "D", "E", "F"
                ),
            )
        )
        return (one * 2 > F.size(digits)).cast("long")

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + (bit_sum(i) * F.lit(1 << i))
    return out


def simhash_blocks(text_col: str, bits: int = 64, blocks: int = 4):
    """SimHash as an ARRAY of ``blocks`` block values (block j = bits
    [j*w, (j+1)*w), w = bits/blocks) instead of one packed integer — this
    sidesteps BIGINT sign overflow at bit 63 and exposes the pigeonhole
    bucket key directly (no shift/mask at join time).

    Bit derivation matches :func:`simhash` for bits 0-31 (top bit of hex
    digit i of md5(token), majority over distinct tokens); bits 32-63 use a
    second md5 round, md5('1:' || token). Pure Column algebra, cross-engine
    reproducible (the DuckDB oracle replays the identical arithmetic).
    """
    assert bits % blocks == 0 and bits <= 64
    w = bits // blocks
    toks = F.array_distinct(ws_tokens(F.col(text_col)))
    rounds = [F.transform(toks, lambda t: F.md5(t))]
    if bits > 32:
        rounds.append(F.transform(toks, lambda t: F.md5(F.concat(F.lit("1:"), t))))
    n = F.size(toks)

    def bit(i: int):
        digits = rounds[i // 32]
        one = F.size(
            F.filter(
                digits,
                lambda h: F.upper(F.substring(h, (i % 32) + 1, 1)).isin(
                    "8", "9", "A", "B", "C", "D", "E", "F"
                ),
            )
        )
        return (one * 2 > n).cast("long")

    vals = []
    for j in range(blocks):
        v = F.lit(0).cast("long")
        for t in range(w):
            v = v + bit(j * w + t) * F.lit(1 << t)
        vals.append(v)
    return F.array(*vals)


def simhash_blocks_kernel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    blocks: int = 4,
) -> DataFrame:
    """Arrow-batched kernel computing EXACTLY the same block values as the
    :func:`simhash_blocks` Column expression (asserted equal in
    tests/test_text_and_dedup.py), ~3x faster end-to-end: the 64-term
    majority expression defeats codegen (interpreted eval per row), while
    the kernel vectorizes the majority count with one numpy pass over the
    concatenated hex digests. Returns (id, shb: array<long>).

    Tokenization parity with textfns.ws_tokens: split lower(text) on \\s+,
    drop empties, distinct; corpus text is ASCII so Python/Java \\s agree.
    Majority bit i = [2 * #tokens with top-bit-set hex digit i%32 of md5
    round i//32] > n, where round 0 = md5(tok), round 1 = md5('1:'+tok).
    """
    import hashlib
    import re as _re

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    assert bits % blocks == 0 and bits <= 64
    w = bits // blocks
    id_field = docs.schema[id_col]
    schema = StructType(
        [
            StructField("id", id_field.dataType, True),
            StructField("shb", ArrayType(LongType()), False),
        ]
    )
    n_rounds = 2 if bits > 32 else 1

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out_blocks = []
            for t in pdf[text_col]:
                toks = {x for x in _re.split(r"\s+", (t or "").lower()) if x}
                n = len(toks)
                if n == 0:
                    out_blocks.append([0] * blocks)
                    continue
                cols = []
                for r in range(n_rounds):
                    prefix = b"" if r == 0 else b"1:"
                    hexcat = "".join(
                        hashlib.md5(prefix + tok.encode()).hexdigest() for tok in toks
                    )
                    arr = np.frombuffer(hexcat.encode(), dtype=np.uint8).reshape(n, 32)
                    # top bit of a hex digit set <=> char in '89abcdef'
                    # <=> ascii >= ord('8') for lowercase hexdigest output
                    cols.append((arr >= 56).sum(axis=0))
                ones = np.concatenate(cols)[:bits]
                bit = (2 * ones > n).astype(np.int64)
                weights = 1 << np.arange(w, dtype=np.int64)
                out_blocks.append(
                    [int(bit[j * w : (j + 1) * w] @ weights) for j in range(blocks)]
                )
            yield pd.DataFrame({"id": pdf[id_col], "shb": out_blocks})

    return docs.select(id_col, text_col).mapInPandas(batches, schema)


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    blocks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.

    Pigeonhole blocking: with ``blocks`` > max_hamming, any pair within the
    hamming ball shares at least one identical block — candidates are pairs
    sharing (block_idx, block_value), verified exactly with
    bit_count(a XOR b). Full recall, no unblocked cross join; the shuffle key
    is the (block, value) pair.

    Block width is the scale knob: 64-bit hashes in 4 blocks give 16-bit
    block values (65,536 distinct bucket values per block), so candidate
    volume stays ~n·(collision rate) instead of degenerating to all-pairs —
    the round-1 32-bit/4-bit-block scheme had only 16 values per block and
    emitted 64% of all possible pairs at n=500 (an all-pairs join in
    disguise at 10^10 docs). tests/test_text_and_dedup.py asserts the
    candidate:pair ratio stays far below n^2/2.
    Returns (id_a, id_b, hamming).
    """
    assert blocks > max_hamming, "pigeonhole requires blocks > max_hamming"
    # persist: the signature pass is the expensive part; both sides of the
    # self-join read the cached signatures instead of recomputing. The
    # Arrow-vectorized kernel is ~3x the pure-Column ``simhash_blocks``,
    # which stays as its parity oracle.
    docs = _spread(docs, id_col)
    sh = simhash_blocks_kernel(docs, id_col, text_col, bits, blocks).persist()
    banded = sh.select(
        "id", "shb", F.posexplode("shb").alias("blk", "val")
    )
    a = banded.select("blk", "val", F.col("id").alias("id_a"), F.col("shb").alias("shb_a"))
    b = banded.select("blk", "val", F.col("id").alias("id_b"), F.col("shb").alias("shb_b"))
    hamming = F.lit(0)
    for j in range(blocks):
        hamming = hamming + F.bit_count(
            F.col("shb_a").getItem(j).bitwiseXOR(F.col("shb_b").getItem(j))
        )
    # (First-matching-block emission — filtering each pair to its smallest
    # shared block so the distinct dedups a ~4x smaller input — was tried
    # and A/B-REJECTED in round 6: sf1.0 measured 14.3 s vs 13.1 s without
    # it; the join ENUMERATION dominates, not the dedup exchange, and the
    # per-row block comparisons cost what they save.)
    return (
        a.join(b, on=["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Group docs by identical simhash (hamming distance 0 buckets);
    returns (simhash, n_docs, keeper_id) for groups of >= 2. Near-dup search
    at hamming<=k extends this by exploding 16-bit blocks as bucket keys."""
    return (
        docs.select(F.col(id_col), simhash(text_col, bits).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over a pair list
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> DataFrame:
    """(id_a, id_b) undirected near-dup pairs -> (id, component) where
    component = the min id reachable (the canonical "keeper" of each dup
    cluster — the standard final step of a dedup pipeline: drop every row
    whose id != component).

    Hash-to-min label propagation (Pregel-style driver loop): each round,
    every node takes the min label among itself and its neighbors — one
    keyed shuffle per round, converging in O(cluster diameter) rounds
    (near-dup clusters are shallow; chains longer than ``max_iter`` raise).
    Per-round state is checkpointed (eager): caching alone keeps
    the full logical plan, and each round's plan references the previous
    round's TWICE (neighbor-min join + the new-label join), so lineage
    doubles per round and a >15-round propagation OOMs the DRIVER on plan
    bookkeeping alone. Checkpointing truncates lineage to the materialized
    partitions — plans stay O(1) per round, memory O(|nodes|).

    ``checkpoint_dir=None`` (default) uses ``localCheckpoint`` — executor-
    local blocks, fastest, but NOT fault-tolerant: losing an executor loses
    its blocks and fails the job. A cluster run should pass a reliable
    ``checkpoint_dir`` (HDFS/S3); per-round state then goes through
    ``DataFrame.checkpoint`` and survives executor loss. Both modes plan
    identically. The convergence check is a limit(1) count — control plane
    only, no data collect.
    """
    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = _ckpt(
        edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    labels = _ckpt(
        edges.select(F.col("u").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("v"), "comp"), on="v"
            )
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
            .select(F.col("u").alias("id"), "nbr_comp")
        )
        new_labels = _ckpt(
            labels.join(nbr_min, on="id", how="left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
        )
        changed = (
            new_labels.join(
                labels.select("id", F.col("comp").alias("_old")), on="id"
            )
            .filter(F.col("comp") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    return labels
