"""Crawl phase: crawl a seeded corpus for a fixed number of rounds, resume
a mid-crawl checkpoint, and check both against a pure-Python BFS.

The traced variant wraps ``crawl_round``, ``CheckpointStore.commit`` and
``CheckpointStore.read_union`` from the outside, then replays each round's
layers on that round's committed state (see ``replay_round``).
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from common import Spans, last_job_id, noop
from fs_crawler_spark.functions.extract import extract_pages
from fs_crawler_spark.operators.frontier import anti_join_seen_chain, frontier_from_links
from fs_crawler_spark.operators.politeness import select_batch
from fs_crawler_spark.operators.robots import robots_gate
from fs_crawler_spark.plans import crawl as crawl_mod
from fs_crawler_spark.plans.crawl import CrawlConfig, load_frontier, read_output, run_crawl
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import HUB_HOST, build_pages, doc_url
from fs_crawler_spark.sources.fetcher import CorpusJoinFetcher

# The warm-up crawl stops after this many rounds; its checkpoint is the
# mid-crawl state the resume measurement starts from.
WARMUP_ROUNDS = 1


@dataclass(frozen=True)
class CrawlSpec:
    n_pages: int
    host_budget: int | None
    robots: bool
    n_seeds: int
    rounds: int  # rounds per measured crawl


def _draw(spec: CrawlSpec, seed: int, attempt: int) -> list[int]:
    """``n_seeds`` distinct documents the robots rule does not block; the
    first draw of seed 0 starts at doc 0."""
    rng = np.random.default_rng([seed, 3, attempt])
    ids = rng.permutation(spec.n_pages).tolist()
    if attempt == 0:
        ids.insert(0, (seed * 7919) % spec.n_pages)
    prefix = robots_prefix(seed)
    out: list[int] = []
    for d in ids:
        if d not in out and not (spec.robots and _blocked(d, prefix)):
            out.append(d)
        if len(out) == spec.n_seeds:
            break
    return sorted(out)


def _fetched(spec: CrawlSpec, seed: int, ids: list[int]) -> int:
    return sum(len(batch) for batch, _ in expected_rounds(spec, ids, robots_prefix(seed)))


def seed_ids(spec: CrawlSpec, seed: int) -> list[int]:
    """The crawl's seed documents for ``seed``: the first draw whose crawl
    fetches within 2% of the median over draws of seeds 0-14, so every seed
    gives the same amount of work (with a fixed cost per round, the fetched
    count would otherwise set the urls/s figure). Under a budget the hub
    host must also be over it in round 0, so the warm-up round already runs
    the politeness path every measured round takes."""
    target = sorted(_fetched(spec, s, _draw(spec, s, 0)) for s in range(15))[7]
    for attempt in range(200):
        ids = _draw(spec, seed, attempt)
        hub_over = spec.host_budget is None or sum(d % 3 == 0 for d in ids) > spec.host_budget
        if hub_over and abs(_fetched(spec, seed, ids) - target) <= max(1, 0.02 * target):
            return ids
    raise RuntimeError(f"no seed set near {target} fetched urls for seed {seed}")


def robots_prefix(seed: int) -> str:
    """Disallowed path prefix on the hub host: ``/doc/<2..9>`` (each covers
    the same share of ids below 2,000)."""
    return f"/doc/{2 + seed % 8}"


def _blocked(d: int, prefix: str) -> bool:
    return d % 3 == 0 and f"/doc/{d}".startswith(prefix)


def _host(url: str) -> str:
    return url.split("/")[2]


def expected_rounds(spec: CrawlSpec, ids: list[int], prefix: str) -> list[tuple[set, set]]:
    """Pure-Python crawl from seed documents ``ids`` over the corpus'
    arithmetic link graph, for ``spec.rounds`` rounds: per round, (urls
    fetched, frontier after the round). Mirrors the engine's rules: per host
    the first ``host_budget`` urls in url order, candidates minus everything
    fetched or blocked so far, blocked urls never fetched."""
    n = spec.n_pages
    prefix = prefix if spec.robots else None
    frontier = set(ids)
    seen: set[int] = set()
    out = []
    while frontier and len(out) < spec.rounds:
        if spec.host_budget is None:
            batch = set(frontier)
        else:
            by_host = defaultdict(list)
            for d in frontier:
                by_host[_host(doc_url(d))].append(doc_url(d))
            batch_urls = set()
            for urls in by_host.values():
                batch_urls.update(sorted(urls)[: spec.host_budget])
            batch = {d for d in frontier if doc_url(d) in batch_urls}
        seen |= batch
        cands = set()
        for d in batch:
            cands.update(c for c in (2 * d + 1, 2 * d + 2) if c < n)
            if (7 * d + 3) % n != d:
                cands.add((7 * d + 3) % n)
        cands -= seen
        blocked = {c for c in cands if prefix and _blocked(c, prefix)}
        seen |= blocked
        frontier = (frontier - batch) | (cands - blocked)
        out.append(({doc_url(d) for d in batch}, {doc_url(d) for d in frontier}))
    return out


class CrawlBench:
    def __init__(self, spark, spec: CrawlSpec, seed: int, docs_dir: str, work: str):
        self.spark = spark
        self.spec = spec
        self.docs_dir = docs_dir
        self.work = work
        ids = seed_ids(spec, seed)
        self.seeds = [doc_url(d) for d in ids]
        self.expected = expected_rounds(spec, ids, robots_prefix(seed))
        self.robots = (
            spark.createDataFrame(
                [(HUB_HOST, robots_prefix(seed))], "host string, disallow_prefix string"
            )
            if spec.robots
            else None
        )
        self.cfg = CrawlConfig(
            max_rounds=spec.rounds,
            host_budget=spec.host_budget,
            pages_url_partitioned=True,
        )
        self.pages = None
        self._n_ckpt = 0

    # -- set-up ---------------------------------------------------------------
    def build(self) -> float:
        """Build the url-partitioned, persisted pages corpus; returns seconds."""
        if self.pages is not None:
            self.pages.unpersist()
        t = time.monotonic()
        parts = self.spark.sparkContext.defaultParallelism
        self.pages = build_pages(self.spark, self.docs_dir).repartition(parts, "url").persist()
        self.pages.count()
        return time.monotonic() - t

    def new_ckpt(self, tag: str) -> str:
        self._n_ckpt += 1
        return os.path.join(self.work, f"ckpt-{tag}-{self._n_ckpt}")

    # -- one crawl --------------------------------------------------------------
    def crawl(self, ckpt: str, max_rounds: int | None = None) -> dict:
        cfg = CrawlConfig(**{**self.cfg.__dict__, "max_rounds": max_rounds or self.spec.rounds})
        j0 = last_job_id(self.spark)
        t0 = time.monotonic()
        res = run_crawl(self.spark, self.pages, self.seeds, ckpt, cfg, robots=self.robots)
        wall = time.monotonic() - t0
        return {
            "ckpt": ckpt,
            "wall": wall,
            "jobs": last_job_id(self.spark) - j0,
            "fetched": res["total_fetched"],
        }

    def round_durations(self, ckpt: str) -> list[float]:
        rows = (
            read_output(self.spark, ckpt, "crawl_log")
            .filter(F.col("partition_id") == -1)
            .orderBy("iteration")
            .select("duration")
            .collect()
        )
        return [float(r[0]) for r in rows]

    def vertices(self, ckpt: str) -> dict[str, int]:
        rows = read_output(self.spark, ckpt, "vertices").select("id", "iteration").collect()
        out = {r[0]: int(r[1]) for r in rows}
        if len(out) != len(rows):
            raise AssertionError("duplicate vertex ids")
        return out

    def check_crawl(self, ckpt: str) -> list[str]:
        """Vertex set and iteration against the Python BFS; per-host
        per-round fetch count within the budget."""
        got = self.vertices(ckpt)
        want = {u: r for r, (batch, _) in enumerate(self.expected) for u in batch}
        errors = []
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:3]
            errors.append(f"crawl vertices differ from BFS ({len(got)} vs {len(want)}): {diff}")
        if self.spec.host_budget is not None:
            per = defaultdict(int)
            for u, r in got.items():
                per[(_host(u), r)] += 1
            worst = max(per.values(), default=0)
            if worst > self.spec.host_budget:
                errors.append(f"host budget exceeded: {worst} > {self.spec.host_budget}")
        return errors

    # -- checkpoints ------------------------------------------------------------
    def copy_rounds(self, src: str, upto: int, tag: str) -> str:
        """A checkpoint holding only the committed rounds <= ``upto`` of
        ``src``: the state a crawl killed right after that round's commit
        leaves behind."""
        dst = self.new_ckpt(tag)
        for r in range(upto + 1):
            rel = os.path.join("snapshots", f"round={r}")
            shutil.copytree(os.path.join(src, rel), os.path.join(dst, rel))
        return dst

    def warm_up(self) -> None:
        """The warm-up crawl: the first ``WARMUP_ROUNDS`` rounds. Its
        checkpoint is the mid-crawl state every measured crawl resumes."""
        self.warm_ckpt = self.new_ckpt("warm")
        self.crawl(self.warm_ckpt, max_rounds=WARMUP_ROUNDS)

    def resumed_crawl(self) -> dict:
        """``run_crawl`` on a fresh copy of the warm-up checkpoint (copied
        before the timer starts), through round ``spec.rounds - 1``."""
        ckpt = self.new_ckpt("crawl")
        shutil.copytree(self.warm_ckpt, ckpt)
        return self.crawl(ckpt)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def run_untraced(cb: CrawlBench, seconds: float) -> tuple[dict, int, list[str]]:
    """Resume the warm-up checkpoint and crawl to ``spec.rounds``, until
    ``seconds`` have passed (at least once). Returns (samples, operations
    attempted, errors).

    Per crawl: ``crawl_urls_per_s`` = urls fetched by the call / its wall
    time; ``resume_s`` = the call's wall time through its first resumed
    round, i.e. minus the committed durations of its later rounds."""
    samples: dict[str, list] = defaultdict(list)
    errors: list[str] = []
    jobs = []
    t0 = time.monotonic()
    while not jobs or time.monotonic() - t0 < seconds:
        res = cb.resumed_crawl()
        durations = cb.round_durations(res["ckpt"])[WARMUP_ROUNDS:]
        samples["crawl_s"].append(res["wall"])
        samples["crawl_urls_per_s"].append(res["fetched"] / res["wall"])
        samples["round_s"].extend(durations)
        samples["resume_s"].append(res["wall"] - sum(durations[1:]))
        errors += cb.check_crawl(res["ckpt"])
        n_urls = sum(len(batch) for batch, _ in cb.expected)
        samples["ckpt_bytes_per_url"].append(dir_size(res["ckpt"])[0] / n_urls)
        jobs.append(res["jobs"])
    if len(set(jobs)) > 1:
        errors.append(f"job count differs between identical crawls: {jobs}")
    samples["jobs_per_crawl"] = jobs
    return samples, len(jobs), errors


# -- traced run -----------------------------------------------------------------
class Wrappers:
    """Time ``crawl_round``, ``CheckpointStore.commit`` and
    ``CheckpointStore.read_union`` by replacing them from outside; the
    originals come back on exit."""

    def __init__(self, spans: Spans, spark):
        self.spans = spans
        self.spark = spark
        self.round_jobs: dict[int, int] = {}
        self.overhead_s = 0.0  # spent reading job ids, the costly part

    def __enter__(self):
        spans, spark, round_jobs = self.spans, self.spark, self.round_jobs
        self.saved = (crawl_mod.crawl_round, CheckpointStore.commit, CheckpointStore.read_union)
        orig_round, orig_commit, orig_union = self.saved

        def crawl_round(*args, **kw):
            round_i = args[4]
            t = time.monotonic()
            round_jobs[round_i] = last_job_id(spark)
            self.overhead_s += time.monotonic() - t
            with spans.span("crawl.plan", round=round_i):
                return orig_round(*args, **kw)

        def commit(store, round_i, tables, *args, **kw):
            with spans.span("checkpoint.commit", round=round_i, compact=bool(kw.get("compacted"))):
                return orig_commit(store, round_i, tables, *args, **kw)

        def read_union(store, *args, **kw):
            with spans.span("checkpoint.read_union"):
                return orig_union(store, *args, **kw)

        crawl_mod.crawl_round = crawl_round
        CheckpointStore.commit = commit
        CheckpointStore.read_union = read_union
        return self

    def __exit__(self, *exc):
        crawl_mod.crawl_round, CheckpointStore.commit, CheckpointStore.read_union = self.saved


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def replay_round(cb: CrawlBench, src: str, r: int, spans: Spans, counts: dict, vertices: dict) -> list[str]:
    """Re-run round ``r``'s layers on the state committed by round r-1:
    select_batch -> fetch -> extract_pages -> frontier_from_links ->
    anti_join_seen_chain -> robots_gate. Each input is persisted and
    materialized first; each stage is forced with a noop sink, so every
    time is that layer's own work."""
    spark = cb.spark
    view = cb.copy_rounds(src, r - 1, "view")
    cached = []

    def keep(df):
        cached.append(_persisted(df))
        return cached[-1]

    def timed(name, df):
        with spans.span(name, round=r):
            noop(df)
        return keep(df)

    frontier = timed("crawl.load_frontier", load_frontier(spark, view))
    seen = keep(read_output(spark, view, "seen").select("url_hash", "url"))

    with spans.span("politeness.select", round=r):
        sel = select_batch(frontier, cb.cfg.host_budget, cb.cfg.salt_n)
        if sel.spool is not None:
            keep(sel.spool)
        noop(sel.batch)
        noop(sel.deferred)
    batch, deferred = keep(sel.batch), keep(sel.deferred)
    counts["politeness.batch_rows"].append(batch.count())
    counts["politeness.deferred_rows"].append(deferred.count())
    if cb.cfg.host_budget is not None:
        counts["politeness.hosts_over"].append(
            frontier.groupBy("host").count().filter(F.col("count") > cb.cfg.host_budget).count()
        )

    fetched = timed("fetcher.fetch", CorpusJoinFetcher(cb.pages, True).fetch(batch))
    counts["fetcher.rows"].append(fetched.count())
    parsed = timed("extract", extract_pages(fetched))
    counts["extract.links"].append(parsed.select(F.sum(F.size("links"))).first()[0] or 0)
    mismatches = (
        parsed.join(cb.pages.select("url", F.col("text").alias("want")), "url", "left")
        .filter(~F.col("text").eqNullSafe(F.col("want")))
        .count()
    )
    counts["extract.text_mismatches"].append(mismatches)

    raw = timed(
        "frontier.candidates",
        frontier_from_links(parsed.select(F.explode("links").alias("url")), r + 1),
    )
    unseen = timed(
        "frontier.antijoin",
        anti_join_seen_chain(raw, [seen, batch.select("url_hash", "url")]),
    )
    n_raw, n_new = raw.count(), unseen.count()
    counts["frontier.raw_candidates"].append(n_raw)
    counts["frontier.new_candidates"].append(n_new)
    counts["frontier.new_frac"].append(n_new / n_raw if n_raw else 1.0)
    gated = timed("robots.gate", robots_gate(unseen, cb.robots))
    counts["robots.blocked"].append(n_new - gated.count())

    errors = []
    got = {row[0] for row in batch.select("url").collect()}
    if got != {u for u, it in vertices.items() if it == r}:
        errors.append(f"replayed batch of round {r} differs from the crawl's")
    if mismatches:
        errors.append(f"extract_pages text differs from pages.text on {mismatches} rows (round {r})")
    for df in cached:
        df.unpersist()
    return errors


def run_traced(cb: CrawlBench, seconds: float) -> tuple[dict, int, list[str], dict]:
    """A plain and a wrapped resumed crawl (identical inputs, so identical
    job counts), then replays of the wrapped crawl's rounds until
    ``seconds`` have passed (at least one)."""
    spark = cb.spark
    spans = Spans()
    plain = cb.resumed_crawl()
    with Wrappers(spans, spark) as w:
        traced = cb.resumed_crawl()
    end_job = last_job_id(spark)
    errors = cb.check_crawl(plain["ckpt"]) + cb.check_crawl(traced["ckpt"])
    if plain["jobs"] != traced["jobs"]:
        errors.append(f"job count differs between identical crawls: {plain['jobs']} vs {traced['jobs']}")

    ckpt = traced["ckpt"]
    store = CheckpointStore(ckpt)
    rounds = range(WARMUP_ROUNDS, cb.spec.rounds)
    durations = dict(zip(range(cb.spec.rounds), cb.round_durations(ckpt)))
    # the last round's delta runs to the end of the call, less the one job
    # that appends the final totals row
    starts = [w.round_jobs[r] for r in rounds] + [end_job - 1]
    jobs = [b - a for a, b in zip(starts, starts[1:])]
    outside, commit_s, commit_compact = [], [], []
    for r in rounds:
        (c,) = spans.durations("checkpoint.commit", round=r)
        (p,) = spans.durations("crawl.plan", round=r)
        outside.append(durations[r] - c - p)
        compact = bool(spans.durations("checkpoint.commit", round=r, compact=True))
        (commit_compact if compact else commit_s).append(c)
    sizes = [dir_size(store._round_dir(r)) for r in rounds]
    delta_rounds = sum(1 for r in rounds if not store.manifest(r)["meta"].get("frontier_full", True))

    counts: dict[str, list] = defaultdict(list)
    verts = cb.vertices(ckpt)
    t0 = time.monotonic()
    replayed = 0
    for r in rounds:
        if replayed and time.monotonic() - t0 >= seconds:
            break
        errors += replay_round(cb, ckpt, r, spans, counts, verts)
        replayed += 1

    def med(name):
        return median(spans.durations(name))

    metrics = {
        "crawl.jobs_per_round": (median(jobs), "count"),
        "crawl.plan_s": (med("crawl.plan"), "s"),
        "crawl.outside_commit_s": (median(outside), "s"),
        "crawl.load_frontier_s": (med("crawl.load_frontier"), "s"),
        "checkpoint.commit_s": (median(commit_s), "s"),
        "checkpoint.commit_s_compact": (median(commit_compact) if commit_compact else 0.0, "s"),
        "checkpoint.read_union_s": (med("checkpoint.read_union"), "s"),
        "checkpoint.bytes_per_round": (median([b for b, _ in sizes]), "bytes"),
        "checkpoint.files_per_round": (median([f for _, f in sizes]), "count"),
        "checkpoint.delta_rounds": (delta_rounds, "count"),
        "politeness.select_s": (med("politeness.select"), "s"),
        "fetcher.fetch_s": (med("fetcher.fetch"), "s"),
        "extract.s": (med("extract"), "s"),
        "frontier.candidates_s": (med("frontier.candidates"), "s"),
        "frontier.antijoin_s": (med("frontier.antijoin"), "s"),
        "robots.gate_s": (med("robots.gate"), "s"),
        "trace.crawl_overhead_frac": (w.overhead_s / traced["wall"], "ratio"),
        "trace.replayed_rounds": (replayed, "count"),
    }
    for name, values in counts.items():
        metrics[name] = (median(values), "ratio" if name.endswith("frac") else "count")
    metrics.setdefault("politeness.hosts_over", (0, "count"))
    info = {
        "round_s": [durations[r] for r in rounds],
        "round_jobs": jobs,
        "crawl_s": {"plain": plain["wall"], "wrapped": traced["wall"]},
        "crawl_spans": spans.items,
    }
    return metrics, 2 + replayed, errors, info
