"""Near-dup phase: the four near-dup queries of ``__spark_entry__`` over the
seeded ``documents`` and ``embeddings`` tables.

Each query is forced by one aggregate over a hash of every output column,
so no column can be pruned; the (row count, hash) pair doubles as the
pass-to-pass output check. The DuckDB ``oracle_sql()`` answer is compared
once per run, outside the timer.
"""

from __future__ import annotations

import math
import time
from statistics import median

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry
from common import Spans, last_job_id, noop
from fs_crawler_spark.operators.dedup import minhash_signature, simhash_blocks_kernel

OPS = {
    "token_jaccard": "dedup.token_jaccard",
    "simhash_near_dup": "dedup.simhash_near_dup",
    "minhash_lsh": "dedup.minhash_lsh",
    "emb_near_dup_lsh": "similarity.emb_near_dup_lsh",
}


def _digest(df) -> tuple[int, int]:
    h = F.pmod(F.xxhash64(*df.columns), F.lit(2**31 - 1))
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(row[0]), int(row[1] or 0)


def one_pass(spark, data_dir: str, spans: Spans | None = None, jobs: dict | None = None):
    """Run the four queries once; returns (pass seconds, {query: digest}).
    With ``spans``, each query gets a span and ``jobs`` its job count (plus
    ``jobs["overhead_s"]``, the time spent reading job ids)."""
    queries = entry.queries()
    out = {}
    t0 = time.monotonic()
    for name, layer in OPS.items():
        if spans is None:
            out[name] = _digest(queries[name](spark, data_dir))
            continue
        t = time.monotonic()
        j0 = last_job_id(spark)
        jobs["overhead_s"] = jobs.get("overhead_s", 0.0) + time.monotonic() - t
        with spans.span(layer):
            out[name] = _digest(queries[name](spark, data_dir))
        t = time.monotonic()
        jobs[name] = last_job_id(spark) - j0
        jobs["overhead_s"] += time.monotonic() - t
    return time.monotonic() - t0, out


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def oracle_check(spark, data_dir: str) -> list[str]:
    """Each query's rows against its DuckDB ``oracle_sql()`` answer."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    queries, oracles = entry.queries(), entry.oracle_sql()
    errors = []
    for name in OPS:
        df = queries[name](spark, data_dir)
        cols = sorted(df.columns)
        got = sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())
        res = con.execute(oracles[name])
        names = [d[0] for d in res.description]
        want = sorted(tuple(_norm(dict(zip(names, row))[c]) for c in cols) for row in res.fetchall())
        if got != want:
            errors.append(f"{name}: {len(got)} rows differ from the DuckDB oracle's {len(want)}")
    con.close()
    return errors


def run_untraced(spark, data_dir: str, seconds: float):
    """Passes until ``seconds`` have passed (at least three)."""
    passes, digests = [], []
    t0 = time.monotonic()
    while len(passes) < 3 or time.monotonic() - t0 < seconds:
        t, d = one_pass(spark, data_dir)
        passes.append(t)
        digests.append(d)
    errors = [f"near-dup output changed between passes: {digests}"] if any(d != digests[0] for d in digests) else []
    errors += oracle_check(spark, data_dir)
    return {"neardup_pass_s": passes}, len(passes) + 1, errors


def run_traced(spark, data_dir: str, seconds: float):
    """Traced passes with per-query spans and job counts until ``seconds``
    have passed (at least two), then the two signature kernels on their
    own."""
    spans = Spans()
    traced, jobs, digests = [], [], []
    t0 = time.monotonic()
    while len(traced) < 2 or time.monotonic() - t0 < seconds:
        j: dict = {}
        t, d = one_pass(spark, data_dir, spans, j)
        traced.append(t)
        jobs.append(j)
        digests.append(d)
    errors = [] if all(d == digests[0] for d in digests) else ["near-dup output changed between passes"]
    op_jobs = [{k: v for k, v in j.items() if k in OPS} for j in jobs]
    if any(j != op_jobs[0] for j in op_jobs):
        errors.append(f"near-dup job counts differ between passes: {op_jobs}")

    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id").persist()
    docs.count()
    for _ in range(3):
        with spans.span("dedup.minhash_signature"):
            noop(docs.select("doc_id", minhash_signature("text", 16, 4).alias("sig")))
        with spans.span("dedup.simhash_kernel"):
            noop(simhash_blocks_kernel(docs, bits=64, blocks=4))
    docs.unpersist()

    metrics = {}
    for name, layer in OPS.items():
        metrics[f"{layer}_s"] = (median(spans.durations(layer)), "s")
        metrics[f"{layer}.pairs"] = (digests[0][name][0], "count")
    metrics["dedup.minhash_signature_s"] = (median(spans.durations("dedup.minhash_signature")), "s")
    metrics["dedup.simhash_kernel_s"] = (median(spans.durations("dedup.simhash_kernel")), "s")
    metrics["dedup.jobs_per_op"] = (sum(op_jobs[0].values()) / len(OPS), "count")
    metrics["trace.pass_overhead_frac"] = (
        median([j["overhead_s"] / t for j, t in zip(jobs, traced)]), "ratio"
    )
    return metrics, len(traced), errors, {"jobs_per_op": op_jobs[0], "neardup_spans": spans.items}
