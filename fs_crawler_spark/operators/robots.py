"""robots.txt disallow gate (BASELINE.json north_rule component).

The reference has no robots analog (its politeness is hardwired constants,
fsapi.py:24-34); the engine models robots as a small rules table
``(host, disallow_prefix)``, applied to the seeds and to each round's unseen
candidates, whose blocked urls enter the seen-set instead of the frontier.

Physical shape: rules collapse to one array per host (``robots_rules``, an
aggregate the crawl loop builds and persists once per crawl) and
**broadcast** — the rules side is tiny relative to a 10^10-URL frontier, so
``robots_tag`` is a map-side broadcast join + a higher-order ``exists`` over
the prefix array (all JVM-side, no UDF, no extra shuffle). The allowed and
blocked halves are filters on the one tagged frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def robots_rules(robots: DataFrame) -> DataFrame:
    """One ``(host, _disallow)`` row per host: its disallowed prefixes."""
    return robots.groupBy("host").agg(F.collect_list("disallow_prefix").alias("_disallow"))


def robots_tag(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """The candidates plus ``_ok``, off ONE broadcast join of the per-host
    ``rules``. A url is blocked (``_ok`` false) when its path starts with a
    disallowed prefix (or the match is null)."""
    path = F.regexp_extract(F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(/[^?#]*)?", 1)
    blocked = F.exists("_disallow", lambda p: path.startswith(p))
    ok = F.coalesce(F.col("_disallow").isNull() | ~blocked, F.lit(False))
    tagged = candidates.join(F.broadcast(rules), on="host", how="left")
    return tagged.select(*candidates.columns, ok.alias("_ok"))


def robots_gate(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop candidate urls whose path starts with a disallowed prefix
    (``robots`` is the raw ``(host, disallow_prefix)`` table)."""
    if robots is None:
        return candidates
    return robots_tag(candidates, robots_rules(robots)).filter("_ok").drop("_ok")
