"""The crawl loop: BSP rounds over DataFrames (SURVEY.md §3.1 Spark lifecycle).

One reference iteration (fsapi.py:194-222 — frontier swap, 200×40 request
waves, graph mutation, LOG row) becomes one pure-function Spark round:

    frontier --(politeness window O5)--> batch + deferred
    batch  ⋈  pages on url             (the "fetch"; join replaces HTTP GET)
    mapInPandas extract (P1)           -> text + outlinks per fetched page
    outlinks -> canonicalize/hash (P7) -> anti-join vs seen (F1) -> robots split
    new frontier = deferred ∪ allowed candidates (first-write-wins)
    seen += batch ∪ blocked;  vertices/edges/log deltas appended;  ONE commit

``crawl_round`` is a pure function of (pages, frontier, seen, robots) — that,
plus the atomic per-round snapshot, is what makes a killed run resume with an
identical crawl ordering (north_rule). The driver loop is the only imperative
code; every operator inside a round is declarative DataFrame algebra, so
Catalyst/AQE choose broadcast-vs-shuffle per round from runtime stats (early
rounds: tiny batch -> broadcast join against the huge pages table; later
rounds: shuffled join with skew splitting).

Scale notes (10^10-URL frontier, 1000 executors):
  * the two shuffles per round are exactly the ones north_rule names — the
    host-partitioned politeness window (salted two-phase top-k) and the
    url-keyed seen anti-join (bucketed seen-set => storage-partitioned join
    under Iceberg; the parquet store keeps seen as plain per-round deltas,
    which the loop's LSM probe parts re-lay-out on the join keys);
  * per-round state writes are append-only deltas; nothing rewrites O(seen)
    in the checkpoint (the loop's cached probe parts merge every few
    rounds, see MAX_PROBE_PARTS);
  * extraction is Arrow-batched and partition-preserving (no shuffle);
  * lineage is truncated every round by reading state back from the snapshot;
  * round counts (the reference's LOG row, A9) come from one footer-count job
    over the committed tables; only the dedup metric rides on
    ``DataFrame.observe``, filled during the commit writes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import extract_pages, extract_persons
from ..operators.frontier import (
    anti_join_seen_chain,
    as_frontier_rows,
    dedup_frontier,
    frontier_from_links,
    merge_frontier_fww,
)
from ..operators.politeness import select_batch
from ..operators.robots import robots_gate, robots_split
from ..schemas import CRAWL_LOG, UNTYPED_PARENT
from ..sources.checkpoint import CheckpointStore
from ..sources.fetcher import CorpusJoinFetcher, Fetcher


@dataclass
class CrawlConfig:
    max_rounds: int = 8
    host_budget: int | None = None  # None = fetch whole frontier per round
    salt_n: int = 4  # politeness two-phase top-k salt width. Selection is
    # EXACT for any salt_n >= 1; the knob trades phase-1 cell size against
    # phase-2 funnel width (phase 2 re-ranks <= salt_n x budget rows per
    # host in ONE task). Round-6 sf1.0 A/B (1M pages, budget 5000): 16 -> 4
    # cut the re-rank input 4x and the crawl ~10% wall; raise it on
    # clusters where a single phase-1 cell of a hub host would exceed a
    # task's comfortable sort size (cell ~ frontier/host/salt_n rows).
    mode: str = "web"  # "web" (href links) | "persons" (GedcomX-parity JSON)
    pages_url_partitioned: bool = False  # caller declares the pages corpus
    # is hash-partitioned/bucketed by url (an Iceberg bucket(N, url) table,
    # or a `.repartition(K, "url").persist()` cache). The fetch join then
    # hints SHUFFLE_HASH with the batch as build side: pages stream from
    # their partitions — no corpus shuffle, no sort — and only the batch
    # shuffles. Measured at 16c/16M: the fetch stage drops 12.4s -> 5.1s.
    # With an UNpartitioned corpus the same hint would shuffle the whole
    # html-carrying corpus into hash maps (measured 66s) — hence opt-in.


class RoundPlan(NamedTuple):
    batch: DataFrame
    deferred: DataFrame
    parsed: DataFrame
    vertices_delta: DataFrame
    edges_delta: DataFrame
    seen_delta: DataFrame
    new_frontier: DataFrame
    raw_candidates: DataFrame
    candidates: DataFrame
    spool: DataFrame | None  # politeness rank-1 subplan (persist per round)


def _committed_counts(
    spark: SparkSession,
    store,
    round_i: int,
    frontier_next: DataFrame | None = None,
    host_budget: int | None = None,
    materialize: DataFrame | None = None,
) -> dict[str, int]:
    """Exact per-round counts from the committed snapshot in ONE job: a
    union of per-table count aggregates (parquet footer metadata — no data
    pages are read). Authoritative where observations can race (see caller).
    ``batch`` = sum of the committed per-partition lineage rows.

    ``frontier_next``/``host_budget`` (the loop's budgeted path) add one more
    leg: next round's politeness host stats — (#hosts, #hosts over budget) of
    the next frontier, exploded into two (t, n) rows off a single scan. This
    folds select_batch's eager shape-picking aggregate into the SAME job
    (one job per round instead of two).

    ``materialize`` (optional) rides one more count leg over a persisted
    DataFrame purely to populate its cache inside this job — the loop
    passes the round's LSM seen-probe part here, which used to cost a
    dedicated per-round job (+ its scheduling gap)."""
    legs = []
    for name in ("vertices", "edges", "frontier"):
        legs.append(
            store.read(spark, round_i, name)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(name).alias("t"), F.col("n"))
        )
    legs.append(
        store.read(spark, round_i, "crawl_log")
        .filter(F.col("partition_id") >= 0)
        .filter(F.col("iteration") == round_i)
        .groupBy()
        .agg(F.coalesce(F.sum("urls_in"), F.lit(0)).alias("n"))
        .select(F.lit("batch").alias("t"), F.col("n"))
    )
    if frontier_next is not None and host_budget is not None:
        host_counts = frontier_next.groupBy("host").agg(
            F.count(F.lit(1)).alias("_n")
        )
        legs.append(
            host_counts.groupBy()
            .agg(
                F.count(F.lit(1)).alias("hosts"),
                F.coalesce(
                    F.sum((F.col("_n") > host_budget).cast("long")),
                    F.lit(0).cast("long"),
                ).alias("over"),
            )
            .select(
                F.explode(
                    F.create_map(
                        F.lit("hosts"),
                        F.col("hosts"),
                        F.lit("over"),
                        F.col("over"),
                    )
                ).alias("t", "n")
            )
        )
    if materialize is not None:
        legs.append(
            materialize.groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("_materialize").alias("t"), F.col("n"))
        )
    u = legs[0]
    for df in legs[1:]:
        u = u.unionByName(df)
    return {r["t"]: int(r["n"]) for r in u.collect()}


def _load_frontier(spark: SparkSession, store, round_i: int) -> DataFrame:
    """The frontier as of AFTER ``round_i``: the whole frontier that round
    committed (a lineage-truncating read-back of committed state).

    This is also where checkpoints written by older builds are refused, so
    resume and ``load_frontier`` reject them alike:
      * a round whose manifest says ``frontier_full: false`` committed only
        its new urls as the frontier; reading that as the whole frontier
        would silently drop the rest;
      * a seen table with a ``shard`` column comes from the shard-partitioned
        seen layout, which does not union with the plain seen deltas written
        now. The check reads only the table's schema."""
    if not store.manifest(round_i).get("meta", {}).get("frontier_full", True):
        raise ValueError(
            f"round {round_i} under {store.root} committed a delta frontier "
            "(frontier_full=false); only whole-frontier checkpoints can be "
            "read"
        )
    if "shard" in store.read(spark, round_i, "seen").columns:
        raise ValueError(
            f"round {round_i} under {store.root} has a shard-partitioned seen "
            "table (written by an older build); only plain seen tables can be "
            "read"
        )
    return store.read(spark, round_i, "frontier")


def load_frontier(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Public accessor: the current frontier of a crawl checkpoint."""
    store = CheckpointStore(checkpoint_dir)
    latest = store.latest_round()
    if latest is None:
        raise FileNotFoundError(f"no committed rounds under {checkpoint_dir}")
    return _load_frontier(spark, store, latest)


def seed_frontier(spark: SparkSession, seeds: list[str]) -> DataFrame:
    raw = spark.createDataFrame([(u,) for u in seeds], "url string")
    return dedup_frontier(as_frontier_rows(raw, discovered_iter=0))


def crawl_round(
    pages: DataFrame,
    frontier: DataFrame,
    seen_parts: list[DataFrame],
    robots: DataFrame | None,
    round_i: int,
    cfg: CrawlConfig,
    observations: dict[str, Observation] | None = None,
    fetcher: Fetcher | None = None,
    host_stats: tuple[int, int] | None = None,
) -> RoundPlan:
    """One BFS round as a pure function of snapshot state. Lazy except for
    ``select_batch``'s one scalar host-stats job (two ints at plan time,
    picking the politeness shape — skipped entirely when the caller passes
    ``host_stats``; the loop piggybacks them on its committed-counts job).

    ``seen_parts``: the seen-set as (url_hash, url) probe frames for
    ``anti_join_seen_chain``, this round's batch appended last (the loop's
    LSM list of cached, pre-partitioned deltas; ``[]`` if nothing is seen).

    ``fetcher`` overrides the fetch seam (default: inner-join against
    ``pages`` — see sources/fetcher.py). A url the fetcher neither returns
    nor retries is the 404-analog (session.py:137-146 warn-and-continue): it
    still enters the seen-set so it is never retried, but produces no
    vertex. Urls the fetcher reports via ``retry_urls`` (transient failures)
    do NOT enter the seen-set and stay in the frontier for a later round.

    ``observations`` (optional) attaches Observation counters under the keys
    ``raw_candidates`` and ``candidates`` (the dedup metric: candidates
    before the seen anti-join and after the robots split); they fill during
    whatever action first executes each node (the snapshot writes).
    """
    obs = observations or {}
    batch, deferred, spool = select_batch(
        frontier, cfg.host_budget, cfg.salt_n, host_stats=host_stats
    )

    # "Fetch" through the pluggable seam (S3).
    if fetcher is None:
        fetcher = CorpusJoinFetcher(pages, cfg.pages_url_partitioned)
    fetched = fetcher.fetch(batch)
    retry = fetcher.retry_urls(batch)
    if retry is not None:
        # transient failures re-queue: out of the seen-set, back into the
        # frontier. fww-merge exactness holds — retry rows keep their
        # original discovered_iter (<= round_i), still strictly below any
        # fresh candidate's round_i + 1.
        retry = retry.select(*frontier.columns)
        batch_done = batch.join(
            retry.select("url_hash", "url"), on=["url_hash", "url"], how="left_anti"
        ).select(*batch.columns)
        deferred = deferred.unionByName(retry)
    else:
        batch_done = batch

    if cfg.mode == "persons":
        parsed = extract_persons(fetched)
        vertices_delta = parsed.select(
            F.col("url").alias("id"),
            F.col("color"),
            F.col("surname"),
            F.col("given_name"),
            F.lit(round_i).cast("int").alias("iteration"),
            F.col("lifespan"),
        )
        parent_links = parsed.select(
            F.col("url").alias("source"), F.explode("parents").alias("p")
        ).select("source", F.col("p.url").alias("raw_url"), F.col("p.rel_id").alias("rel_id"))
        # child->parent edges carry the childAndParents rel id (shared by both
        # parent edges of one rel, fsapi.py:140-143); first-write-wins = min.
        edges_delta = (
            parent_links.select(
                "source",
                F.col("raw_url").alias("destination"),
                F.lit(UNTYPED_PARENT).alias("type"),
                F.col("rel_id").alias("id"),
            )
            .groupBy("source", "destination")
            .agg(F.min("type").alias("type"), F.min("id").alias("id"))
            .select("source", "destination", "type", "id")
        )
        # Couple partners reach the frontier but emit no edge (F6,
        # fsapi.py:151-155).
        out_links = parent_links.select("source", "raw_url").unionByName(
            parsed.select(
                F.col("url").alias("source"), F.explode("couples").alias("raw_url")
            )
        )
    else:
        parsed = extract_pages(fetched)
        vertices_delta = parsed.select(
            F.col("url").alias("id"),
            F.lit(0).cast("int").alias("color"),
            F.lit(None).cast("string").alias("surname"),
            F.lit(None).cast("string").alias("given_name"),
            F.lit(round_i).cast("int").alias("iteration"),
            F.lit(None).cast("string").alias("lifespan"),
        )
        out_links = parsed.select(
            F.col("url").alias("source"), F.explode("links").alias("raw_url")
        )
        # Within-round first-write-wins (F4); cross-round dedup is structural —
        # a url is fetched exactly once, so (source, destination) never recurs.
        # type/id are per-round literals in web mode, so min() first-write-wins
        # collapses to DISTINCT: the exchange ships only the two url strings
        # (persons mode keeps the real min(rel_id) aggregate below).
        edges_delta = (
            out_links.select("source", F.col("raw_url").alias("destination"))
            .distinct()
            .select(
                "source",
                "destination",
                F.lit(UNTYPED_PARENT).alias("type"),
                F.lit(None).cast("string").alias("id"),
            )
        )

    def _to_seen(df: DataFrame) -> DataFrame:
        return df.select("url", "url_hash", "host", "discovered_iter")

    batch_seen = _to_seen(batch_done)

    raw_candidates = frontier_from_links(
        out_links.select(F.col("raw_url").alias("url")), round_i + 1
    )
    if "raw_candidates" in obs:
        raw_candidates = raw_candidates.observe(
            obs["raw_candidates"], F.count(F.lit(1)).alias("n")
        )
    probes = [*seen_parts, batch_seen.select("url_hash", "url")]
    unseen = anti_join_seen_chain(raw_candidates, probes)

    # robots-blocked urls enter the seen-set (never re-extracted round after
    # round); fetched-or-blocked is the seen invariant.
    candidates, blocked = robots_split(unseen, robots)
    if "candidates" in obs:
        candidates = candidates.observe(obs["candidates"], F.count(F.lit(1)).alias("n"))
    seen_delta = batch_seen if blocked is None else batch_seen.unionByName(_to_seen(blocked))

    # fww is exact here: candidates carry discovered_iter = round_i + 1,
    # strictly greater than every deferred row's, and priority is constant —
    # so the deferred (≫ candidates under a budget) side never re-shuffles.
    new_frontier = merge_frontier_fww(deferred, candidates)

    return RoundPlan(
        batch,
        deferred,
        parsed,
        vertices_delta,
        edges_delta,
        seen_delta,
        new_frontier,
        raw_candidates,
        candidates,
        spool,
    )


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    checkpoint_dir: str,
    cfg: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    store: Any | None = None,
    fetcher: Fetcher | None = None,
) -> dict[str, Any]:
    """Resumable driver loop: one snapshot commit per round until the frontier
    is exhausted or ``cfg.max_rounds`` is hit. Returns run totals.

    ``store`` overrides the snapshot backend (default: parquet
    ``CheckpointStore``; pass an ``IcebergCheckpointStore`` when an Iceberg
    catalog is configured — same commit/read surface).

    ``fetcher`` overrides the fetch seam (default: corpus join — see
    sources/fetcher.py)."""
    cfg = cfg or CrawlConfig()
    store = store or CheckpointStore(checkpoint_dir)
    fetcher = fetcher or CorpusJoinFetcher(pages, cfg.pages_url_partitioned)

    # AQE off inside the loop: it re-plans every stage of every job — pure
    # driver latency on the iterative path (measured 26% of wall at 16 cores,
    # 8M pages), and redundant here: the loop's skew risk (hot hosts) is
    # handled EXPLICITLY by politeness salting, and its join keys (md5 url
    # hashes) are uniform. Restored after the loop; analytics queries keep AQE.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    cached: list[DataFrame] = []  # every frame the loop persists
    try:
        return _run_crawl_loop(
            spark, pages, seeds, cfg, store, robots, cached, fetcher
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        for df in cached:
            df.unpersist()
        fetcher.close()


# The LSM seen probe list never reaches this many cached parts: the round
# whose part would make it this long merges every part into one instead.
# Each part costs one sorted anti-join pass over a round's candidates; each
# merge re-shuffles the cached seen set once. The round-6 sf1.0 sweep
# (BENCH/BASELINE.md) measured collapsing the chain every 4 rounds ~10%
# faster than every 8, credited to the shorter chain.
MAX_PROBE_PARTS = 4


def _run_crawl_loop(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    cfg: CrawlConfig,
    store: CheckpointStore,
    robots: DataFrame | None,
    cached: list[DataFrame],
    fetcher: Fetcher,
) -> dict[str, Any]:
    from pyspark import StorageLevel

    # LSM-style seen probe list: each round's committed seen delta is cached
    # pre-partitioned + pre-sorted on the anti-join keys, so the per-round
    # F1 probe never re-shuffles the accumulated seen set (see
    # anti_join_seen_chain). The list stays below MAX_PROBE_PARTS: the round
    # that would reach it merges its delta with every cached part into one
    # part, read from the cache, so the checkpoint only ever appends. Parts
    # are DISK_ONLY — BENCH/BASELINE.md records the cache-eviction storms
    # that rejected MEMORY_AND_DISK next to a cached pages corpus. Each
    # round's part is filled by that round's counts job (no job of its own),
    # so the next round's anti-joins read a populated cache; every part is
    # unpersisted on exit.
    probe_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen_parts: list[DataFrame] = []

    def _as_part(df: DataFrame, materialize: bool = True) -> DataFrame:
        part = (
            df.select("url_hash", "url")
            .repartition(probe_n, "url_hash", "url")
            .sortWithinPartitions("url_hash", "url")
            .persist(StorageLevel.DISK_ONLY)
        )
        cached.append(part)
        if materialize:
            part.count()
        return part

    def _release(frames: list[DataFrame]) -> None:
        for df in frames:
            df.unpersist()
        # identity-filter (DataFrame __eq__ builds a Column, no `in`)
        cached[:] = [c for c in cached if all(c is not f for f in frames)]

    latest = store.latest_round()
    if latest is not None:
        # Stores with mutable shared tables (Iceberg) first discard rows a
        # crashed attempt appended without reaching its manifest row, so the
        # re-run round appends exactly once. The parquet store needs no hook —
        # its round-dir overwrite is idempotent by construction.
        rollback = getattr(store, "rollback_to_committed", None)
        if rollback is not None:
            rollback()
        frontier = _load_frontier(spark, store, latest)
        seen_parts = [_as_part(store.read_union(spark, "seen", up_to_round=latest))]
        start_round = latest + 1
    else:
        frontier = seed_frontier(spark, seeds)
        if robots is not None:  # persisted: lazily, every round-0 write re-gates
            frontier = robots_gate(frontier, robots).persist()
            cached.append(frontier)
        start_round = 0

    rounds_run = 0
    total_fetched = 0
    urls_in: int | None = None  # carried from the previous round's counts
    # Round-total log rows need observation values the commit itself
    # produces, so round r's totals PIGGYBACK on round r+1's crawl_log write
    # (zero extra jobs); the final round's totals flush once after the loop.
    pending_totals: list[tuple] = []
    if latest is not None:
        # A crash between round `latest`'s commit and the next one loses
        # exactly that round's totals row (it would have piggybacked on the
        # next commit). Re-derive it from the committed counts so the log
        # export never silently skews cumulative counts. Duration and the
        # dedup metric are unrecoverable -> 0. Every committed round wrote
        # crawl_log inside its atomic commit, so a failing read is a fault.
        has_totals = (
            store.read(spark, latest, "crawl_log")
            .filter((F.col("partition_id") == -1) & (F.col("iteration") == latest))
            .limit(1)
            .count()
            > 0
        )
        if not has_totals:
            stats = _committed_counts(spark, store, latest)
            pending_totals.append(
                (
                    latest,
                    -1,
                    0.0,
                    int(stats["vertices"]),
                    int(stats["frontier"]),
                    int(stats["edges"]),
                    int(stats["batch"]),
                    int(stats["vertices"]),
                    0,
                    int(store.manifest(latest).get("snapshot_id", 0)),
                )
            )
    host_stats: tuple[int, int] | None = None  # piggybacked on counts job
    for round_i in range(start_round, cfg.max_rounds):
        t0 = time.monotonic()
        if urls_in is None:
            urls_in = frontier.count()
        if urls_in == 0:
            break

        # only the dedup metric rides on observations; all load-bearing
        # counts come from the committed snapshot (see below)
        obs = {
            name: Observation(f"{name}_{round_i}")
            for name in ("raw_candidates", "candidates")
        }
        plan = crawl_round(
            pages, frontier, seen_parts, robots, round_i, cfg, obs,
            fetcher=fetcher, host_stats=host_stats,
        )
        # Shared by several of the commit's concurrent writes, so each is
        # computed once. The racing writes fill these caches lazily: an
        # eager fill job before the commit lost its A/B (min 52.8 s vs
        # 48.5 s lazy, 32 cores / 100k pages) — the extra job per round
        # cost more than the block-manager lock waits it saved. The
        # politeness rank-1 pass (spool) is shared by the batch path AND the
        # deferred path (frontier write); pinned so neither recomputes it.
        # Registered in ``cached``, so a round that raises releases them.
        round_cached = [
            df.persist()
            for df in (plan.parsed, plan.batch, plan.spool)
            if df is not None
        ]
        cached.extend(round_cached)
        snapshot_id = time.time_ns()

        # Per-partition lineage (north_rule): rows per seen-probe partition
        # of this round's fetch batch — the bucket of the probe parts' hash
        # partitioning, i.e. the anti-join partition that handled the url —
        # computed DISTRIBUTIVELY as part of the committed crawl_log table,
        # not collect()ed to the driver (round 1 spent one extra blocking
        # job per round on exactly this). Keyed on the url, not on
        # spark_partition_id(), so the rows are identical run to run.
        log_parts = (
            plan.batch.groupBy(
                F.pmod(F.hash("url_hash", "url"), F.lit(probe_n)).alias(
                    "partition_id"
                )
            )
            .agg(F.count(F.lit(1)).alias("urls_in"))
            .select(
                F.lit(round_i).cast("int").alias("iteration"),
                F.col("partition_id").cast("int"),
                F.lit(0.0).alias("duration"),
                F.lit(0).cast("long").alias("vertices"),
                F.lit(0).cast("long").alias("frontier"),
                F.lit(0).cast("long").alias("edges"),
                F.col("urls_in").cast("long"),
                F.lit(0).cast("long").alias("urls_fetched"),
                F.lit(0).cast("long").alias("urls_deduped"),
                F.lit(snapshot_id).cast("long").alias("snapshot_id"),
            )
        )
        if pending_totals:
            log_parts = log_parts.unionByName(
                spark.createDataFrame(pending_totals, CRAWL_LOG)
            )
            pending_totals = []

        # The commit's 5 concurrent writes are the ONLY actions on the round
        # critical path; they fill every observation as a side effect. The
        # frontier is committed whole every round (the reference swaps its
        # FRONTIER_VERTEX set whole every iteration).
        store.commit(
            round_i,
            {
                "frontier": plan.new_frontier,
                "seen": plan.seen_delta,
                "vertices": plan.vertices_delta,
                "edges": plan.edges_delta,
                "crawl_log": log_parts,
            },
            # S9 provenance analog (crawler.py:107-122 .settings file): the
            # full run configuration rides in every snapshot manifest.
            meta={
                "urls_in": urls_in,
                "settings": {
                    "max_rounds": cfg.max_rounds,
                    "host_budget": cfg.host_budget,
                    "salt_n": cfg.salt_n,
                    "mode": cfg.mode,
                    "seeds": seeds,
                },
            },
            snapshot_id=snapshot_id,
        )
        # Next round's frontier (lineage truncation + exact resume
        # equivalence: read back from the committed snapshot, not in-memory
        # lineage).
        frontier_next = store.read(spark, round_i, "frontier")

        # Next round's LSM probe part (this round's committed seen delta,
        # re-laid-out for the zero-exchange anti-join chain) is built here
        # and MATERIALIZED BY THE COUNTS JOB below — folding what used to
        # be a dedicated per-round cache-fill job (+ scheduling gap) into
        # the one job the loop already pays. A round whose part would make
        # the list reach MAX_PROBE_PARTS builds one part from the delta and
        # every cached part instead (a merge of the LSM levels).
        delta = store.read(spark, round_i, "seen").select("url_hash", "url")
        merged = len(seen_parts) + 1 >= MAX_PROBE_PARTS
        if merged:
            for p in seen_parts:
                delta = delta.unionByName(p)
        next_part = _as_part(delta, materialize=False)

        # Loop-control and logged counts come from the COMMITTED parquet —
        # one job for all of them (table count() legs read parquet footers
        # only; the budgeted path folds in next round's politeness host
        # stats off one scan of frontier_next). Observations are NOT
        # authoritative here: with 5 concurrent commit jobs racing to
        # populate the shared caches, the first-completing job's
        # CollectMetrics row only covers the partitions ITS tasks computed
        # (cache hits contribute nothing), so observed counts can
        # undercount nondeterministically — seen in the wild as a run
        # reporting 99,412 of 100,000 fetches and, worse, an early loop exit
        # if the frontier count raced to 0.
        stats = _committed_counts(
            spark,
            store,
            round_i,
            frontier_next=frontier_next if cfg.host_budget is not None else None,
            host_budget=cfg.host_budget,
            materialize=next_part,
        )
        host_stats = (
            (stats["hosts"], stats["over"])
            if cfg.host_budget is not None
            else None
        )
        batch_n = stats["batch"]
        urls_fetched = stats["vertices"]
        n_edges = stats["edges"]
        # exact: both observed nodes sit above the round's caches and only on
        # the streamed side of the writes' joins, so they count every row
        urls_deduped = int(obs["raw_candidates"].get["n"]) - int(obs["candidates"].get["n"])
        duration = time.monotonic() - t0

        pending_totals.append(
            (
                round_i,
                -1,
                float(duration),
                int(urls_fetched),
                int(stats["frontier"]),
                int(n_edges),
                int(batch_n),
                int(urls_fetched),
                int(urls_deduped),
                snapshot_id,
            )
        )

        _release(round_cached)

        frontier = frontier_next
        # The merged part was filled from the old parts by the counts job,
        # so they can go now.
        if merged:
            _release(seen_parts)
            seen_parts = [next_part]
        else:
            seen_parts.append(next_part)

        urls_in = stats["frontier"]
        rounds_run += 1
        total_fetched += urls_fetched

    if pending_totals:
        # flush the final round's totals (one append for the whole run;
        # NOTE: no coalesce(1) — coalescing a 1-row local relation costs
        # ~6 s of fixed overhead per write on this Spark build)
        store.append(
            start_round + rounds_run - 1,
            "crawl_log",
            spark.createDataFrame(pending_totals, CRAWL_LOG),
        )

    return {
        "rounds": rounds_run,
        "start_round": start_round,
        "total_fetched": total_fetched,
        "store": store,
    }


def read_output(spark: SparkSession, checkpoint_dir: str, name: str) -> DataFrame:
    """Union view over an append table's committed deltas."""
    store = CheckpointStore(checkpoint_dir)
    df = store.read_union(spark, name)
    if df is None:
        raise FileNotFoundError(f"no committed '{name}' deltas under {checkpoint_dir}")
    return df
