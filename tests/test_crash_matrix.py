"""Crash-window matrix for the crawl's write boundary: a crawl killed at any
point of a round's commit, or inside the final totals flush, resumes to the
committed output of one uninterrupted run.

A test-local store raises at the chosen point; the crawl is then resumed
with a plain ``CheckpointStore`` on the same directory. Only the totals row
of the round whose row the crash lost may differ: it is re-derived on resume
with ``duration`` and ``urls_deduped`` zeroed."""

import os

import pytest
from pyspark.sql import functions as F

from fs_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import build_pages, doc_url

# five hub seeds and a budget of 3: the politeness selection defers urls
# every round, and the robots rule blocks some outlinks into seen
SEEDS = [doc_url(d) for d in (0, 6, 9, 12, 15)]
ROBOTS = ("hub.example.com", "/doc/3")
CFG = CrawlConfig(max_rounds=3, host_budget=3)


class Crash(Exception):
    pass


class FaultStore(CheckpointStore):
    """Raises before commit ``round_i`` writes anything, after it publishes,
    or at the entry of the final totals ``append``."""

    def __init__(self, root: str, point: str, round_i: int) -> None:
        super().__init__(root)
        self.point, self.round_i = point, round_i

    def commit(self, round_i, tables, *args, **kw):
        if (self.point, self.round_i) == ("before_commit", round_i):
            raise Crash(f"before commit {round_i}")
        snapshot_id = super().commit(round_i, tables, *args, **kw)
        if (self.point, self.round_i) == ("after_commit", round_i):
            raise Crash(f"after commit {round_i}")
        return snapshot_id

    def append(self, round_i, name, df):
        if self.point == "append":
            raise Crash(f"inside append {round_i}")
        super().append(round_i, name, df)


@pytest.fixture(scope="module")
def pages60(spark, sf_dir):
    return build_pages(spark, sf_dir, limit_docs=60).cache()


@pytest.fixture(scope="module")
def robots(spark):
    return spark.createDataFrame([ROBOTS], "host string, disallow_prefix string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _committed(spark, d):
    """(tables, totals rows by iteration) of a checkpoint."""
    store = CheckpointStore(d)
    tables = {t: _rows(store.read_union(spark, t)) for t in ("vertices", "edges", "seen")}
    tables["frontier"] = {
        r: _rows(store.read(spark, r, "frontier")) for r in store.committed_rounds()
    }
    log = store.read_union(spark, "crawl_log")
    tables["lineage"] = _rows(log.filter(F.col("partition_id") >= 0).drop("snapshot_id"))
    totals = {
        row["iteration"]: row.asDict()
        for row in log.filter(F.col("partition_id") == -1).collect()
    }
    return tables, totals


@pytest.fixture(scope="module")
def uninterrupted(spark, pages60, robots, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("full"))
    run_crawl(spark, pages60, SEEDS, d, CFG, robots=robots)
    return _committed(spark, d)


# (crash point, round, rounds whose totals row resume re-derives): a crash
# before commit r loses round r-1's piggybacked totals row, one after commit r
# publishes loses round r's
CASES = [
    ("before_commit", 0, set()),
    ("before_commit", 1, {0}),
    ("before_commit", 2, {1}),
    ("after_commit", 0, {0}),
    ("after_commit", 1, {1}),
    ("after_commit", 2, {2}),
    ("staging_rename", 1, {0}),
    ("append", 2, {2}),
]


@pytest.mark.parametrize(
    "point, round_i, rederived", CASES, ids=[f"{p}_{r}" for p, r, _ in CASES]
)
def test_crash_then_resume_equals_uninterrupted(
    spark, pages60, robots, uninterrupted, tmp_path, monkeypatch, point, round_i, rederived
):
    d = str(tmp_path / "c")
    store = FaultStore(d, point, round_i)
    with monkeypatch.context() as m:
        if point == "staging_rename":
            # between the round's staging writes and their publishing rename
            real_rename = os.rename
            staging = store._staging_dir(round_i)

            def rename(src, dst):
                if src == staging:
                    raise Crash(f"before rename {round_i}")
                return real_rename(src, dst)

            m.setattr(os, "rename", rename)
        with pytest.raises(Crash):
            run_crawl(spark, pages60, SEEDS, d, CFG, robots=robots, store=store)

    run_crawl(spark, pages60, SEEDS, d, CFG, robots=robots)
    want_tables, want_totals = uninterrupted
    got_tables, got_totals = _committed(spark, d)
    for name, want in want_tables.items():
        assert got_tables[name] == want, name

    assert sorted(got_totals) == sorted(want_totals) == [0, 1, 2]
    assert {r for r, row in got_totals.items() if row["duration"] == 0.0} == rederived
    for r in want_totals:
        got, want = dict(got_totals[r]), dict(want_totals[r])
        for row in (got, want):
            del row["duration"], row["snapshot_id"]
        if r in rederived:
            assert got.pop("urls_deduped") == 0, r
            want.pop("urls_deduped")
        assert got == want, r
