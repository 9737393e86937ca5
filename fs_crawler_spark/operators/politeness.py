"""Per-host politeness budget selection (SURVEY.md B1/B3/O5).

The reference paces a single API host with fixed batch constants
(MAX_PERSONS=200, 40-wide waves, 2 s sleeps — fsapi.py:24-34, 43-69). The
engine generalizes this to per-host priority queues: each round fetches at
most ``host_budget`` urls per host, ordered by (priority, url); the remainder
stays in the frontier ("deferred"). Pacing is modeled, not slept — the budget
caps per-host request rate per round.

Skew: one hub host can hold a third of a 10^10-URL frontier, so a single
``Window.partitionBy(host)`` rank would funnel it through one task. Selection
is therefore **two-phase top-k**: rank within (host, salt) and keep the local
top-``budget`` (a guaranteed superset of the global top-``budget``), then
re-rank the ≤ salt_n×budget survivors per host. Both phases are windows —
pure Catalyst, no UDFs — and AQE skew-join splitting covers the residual.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class BatchSelection(NamedTuple):
    batch: DataFrame  # rows to fetch this round
    deferred: DataFrame  # over-budget rows that stay in the frontier
    spool: DataFrame | None  # shared ranked subplan (oversized hosts only) —
    # persist() this across the round's jobs so neither branch recomputes
    # the salted window


def _order_cols():
    return [F.col("priority").asc(), F.col("url").asc()]


def select_batch(
    frontier: DataFrame,
    host_budget: int | None,
    salt_n: int = 16,
    host_stats: tuple[int, int] | None = None,
) -> BatchSelection:
    """Pick this round's fetch batch under the per-host budget.

    ``host_budget=None`` fetches the whole frontier (reference hop-crawl mode).
    Ordering is total and deterministic: (priority, url).

    batch and deferred PARTITION the frontier by construction — deferred is
    the union of phase-1 losers and phase-2 losers, not an anti-join of the
    frontier against the batch (the round-1 shape, which re-ran the whole
    two-phase selection plus a frontier-sized shuffle inside the frontier
    write). Both branches hang off the shared ranked ``spool`` subplan.

    UNDER-BUDGET BYPASS: a host whose whole frontier fits in the budget
    selects everything — ranking it is wasted work, and the phase-2
    ``partitionBy(host)`` window funnels a hot host through ONE task (the
    hub holds a third of the frontier; profiled as the dominant serial
    stage of big rounds). One scalar aggregate job at PLAN time (two ints:
    host count, over-budget host count) picks the shape:

      * no host over budget   -> the frontier IS the batch; zero joins,
        zero windows (the common big-corpus round — and the round-2 bench
        shape, where the split's two broadcast joins were pure overhead);
      * every host over       -> the whole frontier runs the salted
        two-phase top-k directly; no split joins;
      * mixed                 -> the few oversized hosts split off with a
        BROADCAST semi-join (no frontier shuffle) and only they are ranked.

    Selection semantics are identical in all three shapes (rank <= budget
    is trivially true for every bypassed row).

    ``host_stats=(n_hosts, n_over)`` supplies the two ints from outside and
    skips the eager aggregate entirely — the crawl loop computes them as two
    legs of its boundary stats job, which runs before every round, the
    first of a fresh or resumed run included. Standalone callers (the
    streaming crawl among them) omit it and pay the one small
    aggregate; the frontier they pass is either a committed-parquet read or
    a caller-persisted DataFrame, so the job is a map-side-combined count —
    tiny next to the two full broadcast-join passes the blind split always
    paid. The stats ints affect only the plan SHAPE, never the selected
    rows, but an UNDERcounted ``n_over`` would wrongly pick the bypass
    shape (which assumes no host is over budget) — so they must be exact,
    not sampled (and never taken from racy ``observe`` metrics).
    """
    if host_budget is None:
        return BatchSelection(frontier, frontier.limit(0), None)

    counts = frontier.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
    if host_stats is None:
        stats = counts.agg(
            F.count(F.lit(1)).alias("hosts"),
            F.coalesce(
                F.sum((F.col("_n") > host_budget).cast("int")), F.lit(0)
            ).alias("over"),
        ).collect()[0]
        n_hosts, n_over = int(stats["hosts"]), int(stats["over"])
    else:
        n_hosts, n_over = int(host_stats[0]), int(host_stats[1])
    if n_over == 0:
        return BatchSelection(frontier, frontier.limit(0), None)

    cols = frontier.columns
    if n_over == n_hosts:
        small = None
        big = frontier
    else:
        over_hosts = counts.filter(F.col("_n") > host_budget).select("host")
        # the `on="host"` joins move host first; re-select the frontier's
        # column order so every shape returns an identical schema
        small = frontier.join(
            F.broadcast(over_hosts), on="host", how="left_anti"
        ).select(*cols)
        big = frontier.join(
            F.broadcast(over_hosts), on="host", how="left_semi"
        ).select(*cols)
    salted = big.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(salt_n)))
    w1 = Window.partitionBy("host", "_salt").orderBy(*_order_cols())
    flagged = salted.withColumn("_rn1", F.row_number().over(w1))
    survivors = flagged.filter(F.col("_rn1") <= host_budget)
    w2 = Window.partitionBy("host").orderBy(*_order_cols())
    ranked = survivors.withColumn("_rn2", F.row_number().over(w2))
    drop = ["_salt", "_rn1", "_rn2"]
    winners = ranked.filter(F.col("_rn2") <= host_budget).drop(*drop).select(*cols)
    batch = winners if small is None else small.unionByName(winners)
    deferred = (
        flagged.filter(F.col("_rn1") > host_budget)
        .drop("_salt", "_rn1")
        .select(*cols)
        .unionByName(
            ranked.filter(F.col("_rn2") > host_budget).drop(*drop).select(*cols)
        )
    )
    return BatchSelection(batch, deferred, flagged)
