"""Shared helpers: statistics, in-memory spans, Spark job ids, JVM memory."""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


def tail(values, beyond: int = 10):
    """(value, percentile): the highest of p99/p95/p90/p75 with at least
    ``beyond`` samples above it; p90 when there are too few samples for any
    (the caller reports the sample count next to it)."""
    n = len(values)
    pct = next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= beyond), 90)
    if n == 1:
        return values[0], pct
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[pct - 1], pct


class Spans:
    """Spans kept in memory while the run goes; the run prints them once,
    in its info line, when it ends."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.monotonic(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self.items.append(rec)

    def durations(self, name: str, **match) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.items
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]


def last_job_id(spark) -> int:
    """Highest Spark job id started so far. Jobs run without a job group
    (the crawl's commit threads never set one), so the id delta across a
    call counts every job it ran."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_live_heap_mb(spark) -> float:
    """Heap still in use right after a full GC of the driver JVM: the
    retained (cached, broadcast, planner) state, which does not depend on
    when collections happened to run."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def noop(df) -> None:
    """Force every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()
