"""robots.txt disallow gate (BASELINE.json north_rule component).

The reference has no robots analog (its politeness is hardwired constants,
fsapi.py:24-34); the engine models robots as a small rules table
``(host, disallow_prefix)``, applied to the seeds and to each round's unseen
candidates, whose blocked urls enter the seen-set instead of the frontier.

Physical shape: rules collapse to one array per host and **broadcast** — the
rules side is tiny relative to a 10^10-URL frontier, so the gate is a
map-side broadcast join + a higher-order ``exists`` over the prefix array
(all JVM-side, no UDF, no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def robots_split(
    candidates: DataFrame, robots: DataFrame | None
) -> tuple[DataFrame, DataFrame | None]:
    """(allowed, blocked) candidates off ONE broadcast join of the rules. A
    url is blocked when its path starts with a disallowed prefix (or the
    match is null). No rules: ``blocked`` is None, not an empty relation
    that would let the optimizer prune observed nodes upstream of it."""
    if robots is None:
        return candidates, None
    per_host = robots.groupBy("host").agg(
        F.collect_list("disallow_prefix").alias("_disallow")
    )
    path = F.regexp_extract(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(/[^?#]*)?", 1)
    blocked = F.exists("_disallow", lambda p: path.startswith(p))
    ok = F.coalesce(F.col("_disallow").isNull() | ~blocked, F.lit(False))
    tagged = candidates.join(F.broadcast(per_host), on="host", how="left").withColumn("_ok", ok)
    cols = candidates.columns
    return tagged.filter("_ok").select(*cols), tagged.filter("NOT _ok").select(*cols)


def robots_gate(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop candidate urls whose path starts with a disallowed prefix."""
    return robots_split(candidates, robots)[0]
