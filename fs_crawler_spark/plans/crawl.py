"""The crawl loop: BSP rounds over DataFrames (SURVEY.md §3.1 Spark lifecycle).

One reference iteration (fsapi.py:194-222 — frontier swap, 200×40 request
waves, graph mutation, LOG row) becomes one pure-function Spark round:

    frontier --(politeness window O5)--> batch + deferred
    batch  ⋈  pages on url             (the "fetch"; join replaces HTTP GET)
    mapInPandas extract (P1)           -> text + outlinks per fetched page
    outlinks -> canonicalize/hash (P7) -> robots gate -> anti-join vs seen (F1)
    new frontier = deferred ∪ fresh candidates (first-write-wins)
    seen += batch;  vertices/edges/log deltas appended;  ONE snapshot commit

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
    under Iceberg; parquet impl models it with shard partitions);
  * per-round state writes are append-only deltas; nothing rewrites O(seen);
  * extraction is Arrow-batched and partition-preserving (no shuffle);
  * lineage is truncated every round by reading state back from the snapshot;
  * round counts (the reference's LOG row, A9) come from one footer-count job
    over the committed tables; only the cosmetic dedup metric rides on
    ``DataFrame.observe``, filled during the commit writes.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import extract_pages, extract_persons
from ..functions.urls import url_shard
from ..operators.frontier import (
    anti_join_seen_chain,
    as_frontier_rows,
    dedup_frontier,
    frontier_from_links,
    merge_frontier_fww,
)
from ..operators.politeness import select_batch
from ..operators.robots import robots_gate
from ..schemas import CRAWL_LOG, UNTYPED_PARENT
from ..sources.checkpoint import CheckpointStore
from ..sources.fetcher import CorpusJoinFetcher, Fetcher

logger = logging.getLogger(__name__)


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
    n_shards: int = 32  # seen-set shard count (Iceberg bucket(N) analog)
    edge_type: str = UNTYPED_PARENT
    mode: str = "web"  # "web" (href links) | "persons" (GedcomX-parity JSON)
    compact_every: int | None = 4  # rewrite seen as one snapshot every K
    # rounds (Iceberg compaction analog) so read fan-in stays bounded.
    # Cadence trades O(seen) rewrite volume against LSM probe-chain length
    # (each chained anti-join is one sorted candidate pass) and frontier-
    # reconstruction fan-in (union legs since the last full snapshot).
    # Round-6 sf1.0 A/B: 8 -> 4 was worth ~10% of crawl wall here, where
    # the full-seen rewrite (<= 1M rows) is cheap next to the chain; at a
    # 10^10-url seen set the rewrite dominates and the cadence should grow
    # (Iceberg's rewrite_data_files scheduling makes the same trade).
    frontier_mode: str = "auto"  # "rewrite" | "delta" | "auto".
    # rewrite: commit the FULL new frontier every round — O(frontier) parquet
    #   per round, fine when the frontier drains every round (no budget).
    # delta: commit only this round's NEW urls; the frontier is reconstructed
    #   as (last full frontier ∪ deltas since) anti-join (seen deltas since) —
    #   per-round durable writes drop from O(frontier) to O(new urls). At a
    #   10^10-URL budget-constrained frontier the full rewrite IS the
    #   per-round write bottleneck (the batch is a tiny fraction of the
    #   frontier); deltas are disjoint by construction (candidates are
    #   anti-joined against the current frontier), so reconstruction needs
    #   no dedup and round counts stay exact.
    #   A full frontier still lands every ``compact_every`` rounds (same
    #   cadence as seen compaction) to bound read fan-in.
    # auto: PER-ROUND choice — delta only when the frontier is much larger
    #   than the previous round's batch (urls_in > 4x prev batch, i.e. the
    #   rewrite would mostly re-copy deferred rows) and a budget is set;
    #   measured at bench scale: always-delta is a net loss on small
    #   frontiers (extra anti-join stages + delta read fan-in), a net win
    #   when deferred >> batch.
    csv_dir: str | None = None  # per-round reference-CSV appends (the
    # GraphWriter.end_iteration cadence) — opt-in; see CrawlCsvAppender
    csv_basename: str = "graph"
    csv_save_living: bool = True
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


def _load_frontier(spark: SparkSession, store, up_to_round: int) -> DataFrame:
    """The frontier as of AFTER ``up_to_round``, from committed state only
    (lineage-truncating read-back, both frontier modes).

    Rounds whose manifest says ``frontier_full`` (every rewrite-mode round,
    delta-mode compaction rounds, and legacy manifests without the key)
    committed the complete frontier; later delta rounds committed disjoint
    additions, and their seen deltas are the tombstones for rows fetched (or
    robots-blocked) since the base. Reconstruction is
        (base ∪ adds) LEFT ANTI JOIN (seen deltas since base)
    — no dedup needed: deltas are written disjoint from the then-current
    frontier and from each other (a re-discovered url is either still in the
    frontier, or in seen)."""
    rounds = [r for r in store.committed_rounds() if r <= up_to_round]
    base = None
    for r in rounds:
        if store.manifest(r).get("meta", {}).get("frontier_full", True):
            base = r
    if base is None:  # no full frontier yet: fresh delta-mode crawl
        base = -1
        f = None
    else:
        f = store.read(spark, base, "frontier")
    tomb = None
    for r in rounds:
        if r <= base:
            continue
        add = store.read(spark, r, "frontier")
        f = add if f is None else f.unionByName(add)
        s = store.read(spark, r, "seen").select("url_hash", "url")
        tomb = s if tomb is None else tomb.unionByName(s)
    if f is None:
        raise FileNotFoundError(f"no committed frontier under {store.root}")
    if tomb is not None:
        cols = f.columns  # the join moves key columns first; keep the schema
        f = f.join(tomb, on=["url_hash", "url"], how="left_anti").select(*cols)
    return f


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
    seen: DataFrame | None,
    robots: DataFrame | None,
    round_i: int,
    cfg: CrawlConfig,
    observations: dict[str, Observation] | None = None,
    seen_parts: list[DataFrame] | None = None,
    fetcher: Fetcher | None = None,
    host_stats: tuple[int, int] | None = None,
) -> RoundPlan:
    """One BFS round as a pure function of snapshot state. Lazy except for
    ``select_batch``'s one scalar host-stats job (two ints at plan time,
    picking the politeness shape — skipped entirely when the caller passes
    ``host_stats``; the loop piggybacks them on its committed-counts job).

    ``fetcher`` overrides the fetch seam (default: inner-join against
    ``pages`` — see sources/fetcher.py). A url the fetcher neither returns
    nor retries is the 404-analog (session.py:137-146 warn-and-continue): it
    still enters the seen-set so it is never retried, but produces no
    vertex. Urls the fetcher reports via ``retry_urls`` (transient failures)
    do NOT enter the seen-set and stay in the frontier for a later round.

    ``observations`` (optional) attaches Observation counters to the fetched /
    edges / candidates / frontier nodes; they fill during whatever action
    first executes each node (the snapshot writes) — the free metrics path.
    """
    obs = observations or {}
    batch, deferred, spool = select_batch(
        frontier, cfg.host_budget, cfg.salt_n, host_stats=host_stats
    )
    if "batch" in obs:
        batch = batch.observe(obs["batch"], F.count(F.lit(1)).alias("n"))

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
        if "fetched" in obs:
            parsed = parsed.observe(obs["fetched"], F.count(F.lit(1)).alias("n"))
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
        if "fetched" in obs:
            parsed = parsed.observe(obs["fetched"], F.count(F.lit(1)).alias("n"))
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
                F.lit(cfg.edge_type).alias("type"),
                F.lit(None).cast("string").alias("id"),
            )
        )
    if "edges" in obs:
        edges_delta = edges_delta.observe(obs["edges"], F.count(F.lit(1)).alias("n"))

    def _to_seen(df: DataFrame) -> DataFrame:
        return df.select(
            "url",
            "url_hash",
            "host",
            F.col("discovered_iter"),
            url_shard(F.col("url_hash"), cfg.n_shards).alias("shard"),
        )

    batch_seen = _to_seen(batch_done)

    raw_candidates = frontier_from_links(
        out_links.select(F.col("raw_url").alias("url")), round_i + 1
    )
    if "raw_candidates" in obs:
        raw_candidates = raw_candidates.observe(
            obs["raw_candidates"], F.count(F.lit(1)).alias("n")
        )
    # The probe side: either the loop-maintained LSM list of cached,
    # pre-partitioned seen deltas (zero-shuffle chained anti-joins), or the
    # flat union read (standalone/pure-function use). This round's batch is
    # always the last probe in the chain.
    if seen_parts is not None:
        probes = [*seen_parts, batch_seen.select("url_hash", "url")]
    elif seen is not None:
        probes = [
            seen.select("url_hash", "url").unionByName(
                batch_seen.select("url_hash", "url")
            )
        ]
    else:
        probes = [batch_seen.select("url_hash", "url")]
    unseen = anti_join_seen_chain(raw_candidates, probes)

    candidates = robots_gate(unseen, robots)
    if "candidates" in obs:
        candidates = candidates.observe(obs["candidates"], F.count(F.lit(1)).alias("n"))

    # robots-blocked urls enter the seen-set (never re-extracted round after
    # round); fetched-or-blocked is the seen invariant.
    if robots is not None:
        blocked = unseen.join(
            candidates.select("url_hash", "url"), on=["url_hash", "url"], how="left_anti"
        )
        seen_delta = batch_seen.unionByName(_to_seen(blocked))
    else:
        seen_delta = batch_seen

    # One shuffle partition per shard -> exactly one file per shard dir in
    # the snapshot (the parquet stand-in for Iceberg's bucket(N, url) layout;
    # without this, |batch partitions| x |shards| tiny files accrete and the
    # per-round seen read becomes listing-bound).
    seen_delta = seen_delta.repartition(cfg.n_shards, F.col("shard"))
    # fww is exact here: candidates carry discovered_iter = round_i + 1,
    # strictly greater than every deferred row's, and priority is constant —
    # so the deferred (≫ candidates under a budget) side never re-shuffles.
    new_frontier = merge_frontier_fww(deferred, candidates)
    if "frontier" in obs:
        new_frontier = new_frontier.observe(obs["frontier"], F.count(F.lit(1)).alias("n"))

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
    sources/fetcher.py). A ``may_retry`` fetcher forces full frontier
    snapshots: delta-frontier round accounting assumes every batch url
    leaves the frontier, which retried urls violate."""
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
    cached: list[DataFrame] = []  # every probe part the loop persists
    try:
        return _run_crawl_loop(
            spark, pages, seeds, cfg, store, robots, cached, fetcher
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        for df in cached:
            df.unpersist()
        close = getattr(fetcher, "close", None)
        if close is not None:
            close()


def _lsm_length_warning(n_parts: int, compact_every: int | None) -> str | None:
    """Guard message when the LSM seen probe list outgrows the compaction
    cadence (> 2x ``compact_every``, or a fixed 32 when compaction is off):
    each chained anti-join is one sorted pass over the candidate set per
    part, so a silently mis-set ``compact_every`` turns the per-round probe
    into O(parts) candidate passes with no other symptom than slowness."""
    bound = 2 * compact_every if compact_every else 32
    if n_parts > bound:
        return (
            f"LSM seen probe list has {n_parts} cached parts (bound {bound}, "
            f"compact_every={compact_every}): every round now makes "
            f"{n_parts} sorted anti-join passes over the candidate set. "
            "Lower compact_every (or check that compaction rounds actually "
            "commit) to collapse the list."
        )
    return None


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
    delta_allowed = not fetcher.may_retry and (
        cfg.frontier_mode == "delta"
        or (cfg.frontier_mode == "auto" and cfg.host_budget is not None)
    )

    from pyspark import StorageLevel

    # LSM-style seen probe list: each round's committed seen delta is cached
    # pre-partitioned + pre-sorted on the anti-join keys, so the per-round
    # F1 probe never re-shuffles the accumulated seen set (see
    # anti_join_seen_chain). List length is bounded by the compaction cadence
    # (a compaction round collapses it to one entry). Parts are DISK_ONLY —
    # BENCH/BASELINE.md records the cache-eviction storms that rejected
    # MEMORY_AND_DISK next to a cached pages corpus. Each round's part is
    # filled by that round's counts job (no job of its own), so the next
    # round's anti-joins read a populated cache; every part is unpersisted
    # on exit.
    probe_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen_parts: list[DataFrame] = []
    probe_n_warned = False

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
        seen = store.read_union(spark, "seen", up_to_round=latest)
        seen_parts = [_as_part(seen)]
        start_round = latest + 1
    else:
        frontier = seed_frontier(spark, seeds)
        seen = None
        start_round = 0

    rounds_run = 0
    total_fetched = 0
    urls_in: int | None = None  # carried from the previous round's observation
    # Round-total log rows need observation values the commit itself
    # produces, so round r's totals PIGGYBACK on round r+1's crawl_log write
    # (zero extra jobs); the final round's totals flush once after the loop.
    pending_totals: list[tuple] = []
    prev_batch_n: int | None = None  # feeds the auto frontier-mode heuristic
    if latest is not None:
        # A crash between round `latest`'s commit and the next one loses
        # exactly that round's totals row (it would have piggybacked on the
        # next commit). Re-derive it from the committed counts so the log
        # export never silently skews cumulative counts. Duration and the
        # dedup metric are unrecoverable -> 0.
        try:
            has_totals = (
                store.read(spark, latest, "crawl_log")
                .filter(
                    (F.col("partition_id") == -1) & (F.col("iteration") == latest)
                )
                .limit(1)
                .count()
                > 0
            )
        except Exception:
            has_totals = False
        if not has_totals:
            stats = _committed_counts(spark, store, latest)
            if store.manifest(latest).get("meta", {}).get("frontier_full", True):
                n_front = int(stats["frontier"])
            else:  # committed table is a delta; count the reconstruction
                n_front = frontier.count()
            pending_totals.append(
                (
                    latest,
                    -1,
                    0.0,
                    int(stats["vertices"]),
                    n_front,
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
        if not probe_n_warned:
            cur_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            if cur_n != probe_n:
                # results stay correct, but every cached probe part was laid
                # out for probe_n partitions — the zero-exchange SMJ chain
                # silently regains an exchange per link. Surface it.
                logger.warning(
                    "spark.sql.shuffle.partitions changed mid-crawl "
                    "(%d -> %d): LSM seen-probe parts keep their original "
                    "partitioning, so the chained anti-joins will re-add "
                    "exchanges until the next compaction round.",
                    probe_n,
                    cur_n,
                )
                probe_n_warned = True

        # only the cosmetic dedup metric rides on observations now; all
        # load-bearing counts come from the committed snapshot (see below)
        obs = {
            name: Observation(f"{name}_{round_i}")
            for name in ("raw_candidates", "candidates")
        }
        plan = crawl_round(
            pages, frontier, seen, robots, round_i, cfg, obs,
            seen_parts=seen_parts, fetcher=fetcher, host_stats=host_stats,
        )
        # Shared by several of the commit's concurrent writes, so each is
        # computed once. The racing writes fill these caches lazily: an
        # eager fill job before the commit lost its A/B (min 52.8 s vs
        # 48.5 s lazy, 32 cores / 100k pages) — the extra job per round
        # cost more than the block-manager lock waits it saved.
        parsed = plan.parsed.persist()
        batch = plan.batch.persist()
        # the politeness rank-1 pass is shared by the batch path AND the
        # deferred path (frontier write); pin it so neither recomputes it
        spool = plan.spool.persist() if plan.spool is not None else None
        snapshot_id = time.time_ns()

        # Per-partition lineage (north_rule): rows per partition of this
        # round's fetch batch (the politeness-window output layout) —
        # computed DISTRIBUTIVELY as part of the committed crawl_log table,
        # not collect()ed to the driver (round 1 spent one extra blocking
        # job per round on exactly this).
        log_parts = (
            batch.groupBy(F.spark_partition_id().alias("partition_id"))
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

        # Periodic seen compaction: write the FULL seen-set this round and
        # flag it in the manifest, so subsequent read_unions start here.
        seen_out = plan.seen_delta
        compacted: list[str] = []
        compaction_round = bool(
            cfg.compact_every
            and seen is not None
            and (round_i + 1) % cfg.compact_every == 0
        )
        if compaction_round:
            seen_out = seen.unionByName(plan.seen_delta).repartition(
                cfg.n_shards, F.col("shard")
            )
            compacted = ["seen"]

        # Frontier commit: full rewrite, or (delta mode) only this round's
        # NEW urls — disjoint from the current frontier via an anti-join
        # against the cached politeness spool, so reconstruction needs no
        # dedup and |next frontier| = urls_in - batch + delta exactly.
        # Full frontiers land on seen-compaction rounds to bound read fan-in.
        delta_this_round = delta_allowed and not (
            cfg.frontier_mode == "auto"
            and (prev_batch_n is None or urls_in <= 4 * prev_batch_n)
        )
        frontier_full = (not delta_this_round) or compaction_round
        seeds_in_delta = False
        if frontier_full:
            frontier_out = plan.new_frontier
        else:
            # disjointness vs the CURRENT frontier (re-adds of still-queued
            # urls): anti-join against the committed-parquet-backed frontier
            # itself (the politeness spool only covers over-budget hosts)
            cand_new = plan.candidates.join(
                frontier.select("url_hash", "url"),
                on=["url_hash", "url"],
                how="left_anti",
            )
            seeds_in_delta = round_i == start_round and latest is None
            if seeds_in_delta:
                # fresh crawl: the seed frontier is the first "addition"
                cand_new = frontier.unionByName(cand_new)
            frontier_out = cand_new

        # The commit's 5 concurrent writes are the ONLY actions on the round
        # critical path; they fill every observation as a side effect.
        store.commit(
            round_i,
            {
                "frontier": frontier_out,
                "seen": seen_out,
                "vertices": plan.vertices_delta,
                "edges": plan.edges_delta,
                "crawl_log": log_parts,
            },
            compacted=compacted,
            # S9 provenance analog (crawler.py:107-122 .settings file): the
            # full run configuration rides in every snapshot manifest.
            meta={
                "urls_in": urls_in,
                "frontier_full": frontier_full,
                "settings": {
                    "max_rounds": cfg.max_rounds,
                    "host_budget": cfg.host_budget,
                    "salt_n": cfg.salt_n,
                    "n_shards": cfg.n_shards,
                    "mode": cfg.mode,
                    "seeds": seeds,
                },
            },
            partition_by={"seen": ["shard"]},
            snapshot_id=snapshot_id,
        )
        # Next round's frontier (lineage truncation + exact resume
        # equivalence: read back from the committed snapshot, not in-memory
        # lineage). Delta mode rebuilds it lazily from committed parquet
        # (base ∪ adds anti-join seen deltas); its consumers re-execute
        # that plan — persisting it lost the round-5 A/B (BENCH/BASELINE.md).
        frontier_next = (
            store.read(spark, round_i, "frontier")
            if frontier_full
            else _load_frontier(spark, store, round_i)
        )

        # Next round's LSM probe part (this round's committed seen delta,
        # re-laid-out for the zero-exchange anti-join chain) is built here
        # and MATERIALIZED BY THE COUNTS JOB below — folding what used to
        # be a dedicated per-round cache-fill job (+ scheduling gap) into
        # the one job the loop already pays.
        next_part = _as_part(store.read(spark, round_i, "seen"), materialize=False)

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
        if frontier_full:
            n_frontier_next = stats["frontier"]
        elif seeds_in_delta:
            # the committed delta includes the seed frontier itself
            n_frontier_next = stats["frontier"] - batch_n
        else:
            # exact: deltas are disjoint from the frontier and batch ⊆ frontier
            n_frontier_next = urls_in - batch_n + stats["frontier"]
        # deduped is cosmetic (log only): observation value, never recomputed
        try:
            n_raw_candidates = int(obs["raw_candidates"].get["n"])
            n_candidates = int(obs["candidates"].get["n"])
            urls_deduped = max(0, n_raw_candidates - n_candidates)
        except Exception:
            urls_deduped = 0
        duration = time.monotonic() - t0

        pending_totals.append(
            (
                round_i,
                -1,
                float(duration),
                int(urls_fetched),
                int(n_frontier_next),
                int(n_edges),
                int(batch_n),
                int(urls_fetched),
                int(urls_deduped),
                snapshot_id,
            )
        )

        parsed.unpersist()
        batch.unpersist()
        if spool is not None:
            spool.unpersist()

        frontier = frontier_next
        seen = store.read_union(spark, "seen", up_to_round=round_i)
        # LSM probe-list maintenance: append this round's committed delta;
        # a compaction round collapses the list to the one full snapshot.
        if compaction_round:
            for p in seen_parts:
                p.unpersist()
            # identity-filter (DataFrame __eq__ builds a Column, no `in`)
            cached[:] = [c for c in cached if all(c is not p for p in seen_parts)]
            seen_parts = [next_part]
        else:
            seen_parts.append(next_part)
        lsm_msg = _lsm_length_warning(len(seen_parts), cfg.compact_every)
        if lsm_msg:
            logger.warning(lsm_msg)
        if cfg.csv_dir:
            from ..sources.csv_compat import CrawlCsvAppender

            CrawlCsvAppender(
                cfg.csv_dir, cfg.csv_basename, cfg.csv_save_living
            ).end_iteration(spark, store, round_i, duration)

        urls_in = n_frontier_next
        prev_batch_n = batch_n
        rounds_run += 1
        total_fetched += urls_fetched

    if cfg.csv_dir and rounds_run > 0:
        from ..sources.csv_compat import CrawlCsvAppender

        CrawlCsvAppender(cfg.csv_dir, cfg.csv_basename, cfg.csv_save_living).finalize(
            spark, store, start_round + rounds_run - 1
        )

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
