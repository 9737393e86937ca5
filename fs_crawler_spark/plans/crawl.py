"""The crawl loop: BSP rounds over DataFrames (SURVEY.md §3.1 Spark lifecycle).

One reference iteration (fsapi.py:194-222 — frontier swap, 200×40 request
waves, graph mutation, LOG row) becomes one pure-function Spark round:

    frontier --(politeness window O5)--> batch + deferred
    batch  ⋈  pages on url             (the "fetch"; join replaces HTTP GET)
    mapInPandas extract (P1)           -> text + outlinks per fetched page
    outlinks -> canonicalize/hash (P7) -> anti-join vs seen ∪ frontier (F1)
             -> robots tag (one broadcast of the crawl's per-host rules)
    new frontier = deferred ∪ allowed candidates (disjoint by the probe)
    seen += batch ∪ blocked;  vertices/edges/log deltas appended;  ONE commit

``crawl_round`` is a pure function of (pages, frontier, seen, rules) — that,
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
  * every number the loop reads before a round — the frontier size, the
    politeness shape and the round counts of the reference's LOG row (A9) —
    comes from one boundary stats job (footer counts of the committed
    tables), run at the fresh start, at resume and after each commit; only
    the dedup metric rides on ``DataFrame.observe``, filled during the
    commit writes.
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
)
from ..operators.politeness import select_batch
from ..operators.robots import robots_rules, robots_tag
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
    parsed: DataFrame
    vertices_delta: DataFrame
    edges_delta: DataFrame
    seen_delta: DataFrame
    new_frontier: DataFrame
    shared: list[DataFrame]  # read by >1 commit write; in dependency order


def _boundary_stats(
    spark: SparkSession,
    frontier: DataFrame,
    host_budget: int | None,
    store=None,
    round_i: int | None = None,
    materialize: DataFrame | None = None,
) -> dict[str, int]:
    """Every number the loop reads before a round, in ONE job: a union of
    count aggregates, each exploded into (t, n) rows. Called at the fresh
    start, at resume and after each commit. Exact, unlike the observations
    (see the caller).

      * ``frontier``: the frontier's row count; with a ``host_budget`` also
        ``hosts`` and ``over`` (#hosts, #hosts over budget), the politeness
        shape select_batch would otherwise pick with an aggregate of its own;
      * with a committed ``round_i``: ``vertices`` and ``edges`` (parquet
        footer counts — no data pages are read) and, off one scan of that
        round's crawl_log, ``batch`` (the sum of its lineage rows' urls_in)
        and ``totals`` (how many of its totals rows it holds);
      * ``materialize``: one more count over a persisted frame, purely to fill
        its cache inside this job (the loop's LSM seen-probe part)."""

    def leg(df: DataFrame, **aggs) -> DataFrame:
        row = df.groupBy().agg(
            *(F.coalesce(c.cast("long"), F.lit(0).cast("long")).alias(k) for k, c in aggs.items())
        )
        pairs = [x for k in aggs for x in (F.lit(k), F.col(k))]
        return row.select(F.explode(F.create_map(*pairs)).alias("t", "n"))

    one = F.count(F.lit(1))
    legs = [leg(frontier, frontier=one)]
    if host_budget is not None:
        per_host = frontier.groupBy("host").agg(one.alias("_n"))
        legs.append(leg(per_host, hosts=one, over=F.sum((F.col("_n") > host_budget).cast("long"))))
    if round_i is not None:
        legs.append(leg(store.read(spark, round_i, "vertices"), vertices=one))
        legs.append(leg(store.read(spark, round_i, "edges"), edges=one))
        log = store.read(spark, round_i, "crawl_log").filter(F.col("iteration") == round_i)
        legs.append(
            leg(
                log,
                batch=F.sum(F.when(F.col("partition_id") >= 0, F.col("urls_in"))),
                totals=F.sum((F.col("partition_id") == -1).cast("long")),
            )
        )
    if materialize is not None:
        legs.append(leg(materialize, _materialize=one))
    u = legs[0]
    for df in legs[1:]:
        u = u.unionByName(df)
    return {r["t"]: int(r["n"]) for r in u.collect()}


def _totals_row(
    round_i: int, stats: dict[str, int], duration: float, urls_deduped: int, snapshot_id: int
) -> tuple:
    """Round ``round_i``'s crawl_log totals row (``partition_id = -1``) from
    its boundary stats."""
    return (
        round_i,
        -1,
        float(duration),
        stats["vertices"],
        stats["frontier"],
        stats["edges"],
        stats["batch"],
        stats["vertices"],
        int(urls_deduped),
        int(snapshot_id),
    )


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
    rules: DataFrame | None,
    round_i: int,
    cfg: CrawlConfig,
    observations: dict[str, Observation] | None = None,
    fetcher: Fetcher | None = None,
    host_stats: tuple[int, int] | None = None,
) -> RoundPlan:
    """One BFS round as a pure function of snapshot state. Lazy except for
    ``select_batch``'s one scalar host-stats job (two ints at plan time,
    picking the politeness shape — skipped entirely when the caller passes
    ``host_stats``; the loop reads them from its boundary stats job).

    ``seen_parts``: the seen-set as (url_hash, url) probe frames for
    ``anti_join_seen_chain`` (the loop's LSM list of cached, pre-partitioned
    deltas; ``[]`` if nothing is seen). The round appends its frontier keys.

    ``rules``: the per-host robots rules (``robots_rules``, built once per
    crawl by the caller), or None for no robots.

    ``fetcher`` overrides the fetch seam (default: inner-join against
    ``pages`` — see sources/fetcher.py). A url the fetcher neither returns
    nor retries is the 404-analog (session.py:137-146 warn-and-continue): it
    still enters the seen-set so it is never retried, but produces no
    vertex. Urls the fetcher reports via ``retry_urls`` (transient failures)
    do NOT enter the seen-set and stay in the frontier for a later round.

    ``observations`` (optional) attaches Observation counters under the keys
    ``raw_candidates`` and ``candidates`` (the dedup metric: candidates
    before the seen/frontier anti-join and after the robots gate); they fill
    during whatever action first executes each node (the snapshot writes).
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
        # frontier with their original row. They are frontier rows, so the
        # frontier probe below keeps them out of the new candidates.
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

    raw_candidates = frontier_from_links(
        out_links.select(F.col("raw_url").alias("url")), round_i + 1
    )
    if "raw_candidates" in obs:
        raw_candidates = raw_candidates.observe(
            obs["raw_candidates"], F.count(F.lit(1)).alias("n")
        )
    # Probing the whole frontier (batch ∪ deferred) drops every url already
    # queued, so the candidates are disjoint from deferred: the new frontier
    # is a plain union, and a queued url keeps its row (first-write-wins).
    probes = [*seen_parts, frontier.select("url_hash", "url")]
    candidates = anti_join_seen_chain(raw_candidates, probes)
    shared = [df for df in (spool, batch, parsed) if df is not None]

    # robots-blocked urls enter the seen-set (never re-extracted round after
    # round); fetched-or-blocked is the seen invariant. The frontier and seen
    # writes both read the tagged frame, so it is shared.
    seen_delta = _to_seen(batch_done)
    if rules is not None:
        tagged = robots_tag(candidates, rules)
        shared.append(tagged)
        candidates = tagged.filter("_ok").drop("_ok")
        seen_delta = seen_delta.unionByName(_to_seen(tagged.filter("NOT _ok")))
    if "candidates" in obs:
        candidates = candidates.observe(obs["candidates"], F.count(F.lit(1)).alias("n"))
    new_frontier = deferred.unionByName(candidates)

    return RoundPlan(
        batch,
        parsed,
        vertices_delta,
        edges_delta,
        seen_delta,
        new_frontier,
        shared,
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
        # The per-host rules are run-constant: aggregated once, filled
        # lazily by the first write that reads them (no eager count job).
        rules = None
        if robots is not None:
            rules = robots_rules(robots).persist()
            cached.append(rules)
        return _run_crawl_loop(
            spark, pages, seeds, cfg, store, rules, cached, fetcher
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
    rules: DataFrame | None,
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
    # that rejected MEMORY_AND_DISK next to a cached pages corpus. Every part
    # is filled by the boundary stats job before the round that reads it
    # (the resume's merged part at start-up, each round's part after its
    # commit), so no part costs a job of its own; every part is unpersisted
    # on exit.
    probe_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen_parts: list[DataFrame] = []

    def _as_part(df: DataFrame) -> DataFrame:
        part = (
            df.select("url_hash", "url")
            .repartition(probe_n, "url_hash", "url")
            .sortWithinPartitions("url_hash", "url")
            .persist(StorageLevel.DISK_ONLY)
        )
        cached.append(part)
        return part

    def _release(frames: list[DataFrame]) -> None:
        for df in frames:
            df.unpersist()
        # identity-filter (DataFrame __eq__ builds a Column, no `in`)
        cached[:] = [c for c in cached if all(c is not f for f in frames)]

    # Round-total log rows need observation values the commit itself
    # produces, so round r's totals PIGGYBACK on round r+1's crawl_log write
    # (zero extra jobs); the final round's totals flush once after the loop.
    pending_totals: list[tuple] = []
    # ``stats``: the boundary stats of the state the next round reads — the
    # one source of its frontier size, politeness shape and (after a
    # commit) the logged counts.
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
        stats = _boundary_stats(
            spark, frontier, cfg.host_budget, store, latest, materialize=seen_parts[0]
        )
        if stats["totals"] == 0:
            # A crash between round `latest`'s commit and the next one loses
            # exactly that round's totals row (it would have piggybacked on
            # the next commit). Re-derive it from the committed counts so the
            # log export never silently skews cumulative counts. Duration and
            # the dedup metric are unrecoverable -> 0.
            snapshot_id = store.manifest(latest).get("snapshot_id", 0)
            pending_totals.append(_totals_row(latest, stats, 0.0, 0, snapshot_id))
        start_round = latest + 1
    else:
        frontier = seed_frontier(spark, seeds)
        if rules is not None:  # persisted: filled by the stats job below
            frontier = robots_tag(frontier, rules).filter("_ok").drop("_ok").persist()
            cached.append(frontier)
        stats = _boundary_stats(spark, frontier, cfg.host_budget)
        start_round = 0

    rounds_run = 0
    total_fetched = 0
    for round_i in range(start_round, cfg.max_rounds):
        t0 = time.monotonic()
        if stats["frontier"] == 0:
            break

        # only the dedup metric rides on observations; all load-bearing
        # counts come from the boundary stats
        obs = {
            name: Observation(f"{name}_{round_i}")
            for name in ("raw_candidates", "candidates")
        }
        plan = crawl_round(
            pages, frontier, seen_parts, rules, round_i, cfg, obs,
            fetcher=fetcher,
            host_stats=(stats["hosts"], stats["over"]) if cfg.host_budget is not None else None,
        )
        # Each frame in ``plan.shared`` is read by several of the commit's
        # concurrent writes. persist() plans a cache over the caches that
        # exist, so persisting in dependency order makes each cache read the
        # one below it (``parsed`` reads ``batch``'s, not the politeness
        # windows). The racing writes fill them lazily: an eager fill job
        # lost its A/B (min 52.8 s vs 48.5 s lazy, 32 cores / 100k pages).
        # Registered in ``cached``, so a round that raises releases them.
        round_cached = [df.persist() for df in plan.shared]
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
                "urls_in": stats["frontier"],
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
        frontier = store.read(spark, round_i, "frontier")

        # Next round's LSM probe part (this round's committed seen delta,
        # re-laid-out for the zero-exchange anti-join chain), filled by the
        # stats job below. A round whose part would make the list reach
        # MAX_PROBE_PARTS builds one part from the delta and every cached
        # part instead (a merge of the LSM levels).
        delta = store.read(spark, round_i, "seen").select("url_hash", "url")
        merged = len(seen_parts) + 1 >= MAX_PROBE_PARTS
        if merged:
            for p in seen_parts:
                delta = delta.unionByName(p)
        next_part = _as_part(delta)

        # Loop-control and logged counts come from the COMMITTED snapshot.
        # Observations are NOT authoritative here: with 5 concurrent commit
        # jobs racing to populate the shared caches, the first-completing
        # job's CollectMetrics row only covers the partitions ITS tasks
        # computed (cache hits contribute nothing), so observed counts can
        # undercount nondeterministically — seen in the wild as a run
        # reporting 99,412 of 100,000 fetches and, worse, an early loop exit
        # if the frontier count raced to 0.
        stats = _boundary_stats(
            spark, frontier, cfg.host_budget, store, round_i, materialize=next_part
        )
        # exact: both observed nodes sit above the round's caches and only on
        # the streamed side of the writes' joins, so they count every row
        urls_deduped = int(obs["raw_candidates"].get["n"]) - int(obs["candidates"].get["n"])
        pending_totals.append(
            _totals_row(round_i, stats, time.monotonic() - t0, urls_deduped, snapshot_id)
        )

        _release(round_cached)
        # The merged part was filled from the old parts by the stats job,
        # so they can go now.
        if merged:
            _release(seen_parts)
            seen_parts = [next_part]
        else:
            seen_parts.append(next_part)

        rounds_run += 1
        total_fetched += stats["vertices"]

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
