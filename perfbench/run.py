"""Crawl + near-dup benchmark for fs_crawler_spark.

    python3 perfbench/run.py --workload crawl_budgeted --seed 0 --seconds 10 --trace 0

Run from the repository root. One process, one SparkSession on
``local[<cpus>]``. Each run is a two-phase pipeline over inputs generated
from ``--seed``: a crawl of a synthetic page corpus, resumed from a
mid-crawl checkpoint, then the four near-dup operators over a document
table. The workloads differ in the input properties each layer depends on
(see README.md). Every output is checked; the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 1`` swaps the end-to-end metrics for per-layer ones. ``--smoke``
shrinks every input, for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclasses.dataclass(frozen=True)
class Workload:
    crawl: object  # crawlbench.CrawlSpec
    n_docs: int
    n_emb: int
    dup_frac: float


def workloads(smoke: bool) -> dict[str, Workload]:
    from crawlbench import CrawlSpec

    table = {
        # budget + robots: the hub host is over budget every round (the
        # mixed politeness shape) and batches stay under ~110 urls, so the
        # per-round fixed cost dominates; near-dup input without duplicates
        "crawl_budgeted": Workload(CrawlSpec(600, 15, True, 64, 3), 200, 100, 0.0),
        # near-dup input with near-duplicate families; a crawl without
        # budget or robots (politeness bypassed)
        "neardup": Workload(CrawlSpec(200, None, False, 32, 3), 500, 200, 0.05),
    }
    if smoke:
        for name, w in table.items():
            budget = w.crawl.host_budget and 1
            crawl = dataclasses.replace(w.crawl, n_pages=60, host_budget=budget, n_seeds=4)
            table[name] = dataclasses.replace(w, crawl=crawl, n_docs=100, n_emb=100)
    return table


def _capture(out: dict, fn, *args) -> None:
    try:
        out["value"] = fn(*args)
    except BaseException as e:  # re-raised by the joining thread
        out["error"] = e


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fs_crawler_spark")):
        print(f"perfbench: no fs_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    table = workloads(args.smoke)
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(table)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package from the checkout; scratch files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return run(args, table[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl: Workload, work: str) -> int:
    import crawlbench
    import gen
    import neardupbench
    from common import jvm_live_heap_mb, jvm_peak_rss_mb, stop_spark, tail
    from fs_crawler_spark.session import get_spark

    c = wl.crawl
    if args.trace:  # reach round 3, a seen-compaction round (compact_every=4)
        c = dataclasses.replace(c, rounds=4)
    crawl_dir = gen.write_tables(os.path.join(work, "crawl"), c.n_pages, 0, args.seed)
    nd_dir = gen.write_tables(os.path.join(work, "neardup"), wl.n_docs, wl.n_emb, args.seed, wl.dup_frac)

    t = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t
    try:
        # -- set-up: corpus build and warm-up crawl, with one near-dup warm-up
        # pass running alongside in a second thread; then two more builds
        cb = crawlbench.CrawlBench(spark, c, args.seed, crawl_dir, work)
        t = time.monotonic()
        nd_warm: dict = {}
        th = threading.Thread(target=_capture, args=(nd_warm, neardupbench.one_pass, spark, nd_dir))
        th.start()
        builds = [cb.build()]
        cb.warm_up()
        warm_crawl_s = time.monotonic() - t
        th.join()
        if "error" in nd_warm:
            raise nd_warm["error"]
        warm_s = time.monotonic() - t
        builds += [cb.build() for _ in range(2)]
        setup_s = session_s + warm_s + statistics.median(builds[1:])

        # -- measured phases, half of --seconds each. Near-dup goes first: the
        # JIT work the crawl needs finishes at a varying point of the first
        # crawl rounds, so the crawl is measured as late as possible.
        half = args.seconds / 2
        if args.trace:
            nm, na, nerr, ninfo = neardupbench.run_traced(spark, nd_dir, half)
            cm, ca, cerr, cinfo = crawlbench.run_traced(cb, half)
            metrics = {
                **cm,
                **nm,
                "session.start_s": (session_s, "s"),
                "corpus.build_s": (statistics.median(builds), "s"),
                "session.peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
                "session.live_heap_mb": (jvm_live_heap_mb(spark), "MB"),
            }
            info = {**cinfo, **ninfo}
        else:
            ns, na, nerr = neardupbench.run_untraced(spark, nd_dir, half)
            cs, ca, cerr = crawlbench.run_untraced(cb, half)
            round_tail, pct = tail(cs["round_s"])
            metrics = {
                "setup_s": (setup_s, "s"),
                "crawl_urls_per_s": (statistics.median(cs["crawl_urls_per_s"]), "1/s"),
                "round_s_p50": (statistics.median(cs["round_s"]), "s"),
                "round_s_tail": (round_tail, "s"),
                "resume_s": (statistics.median(cs["resume_s"]), "s"),
                "ckpt_bytes_per_url": (statistics.median(cs["ckpt_bytes_per_url"]), "bytes"),
                "neardup_pass_s": (statistics.median(ns["neardup_pass_s"]), "s"),
            }
            info = {"round_s_tail_percentile": pct}
            for name, v in {**cs, **ns}.items():
                info[name] = {"n": len(v), "median": statistics.median(v), "values": v}
                if len(v) > 1:
                    info[name]["quartiles"] = statistics.quantiles(v, n=4)
    finally:
        stop_spark(spark)

    errors = cerr + nerr
    info.update(
        workload=args.workload,
        seed=args.seed,
        cores=cores,
        crawl=dataclasses.asdict(c),
        near_dup={"docs": wl.n_docs, "vectors": wl.n_emb, "dup_frac": wl.dup_frac},
        setup={
            "session_s": session_s,
            "builds_s": builds,
            "warmup_s": warm_s,
            "warmup_crawl_s": warm_crawl_s,
            "warmup_crawl_rounds": crawlbench.WARMUP_ROUNDS,
            "warmup_pass_s": nd_warm["value"][0],
        },
    )
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps(info))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    result = {
        "correct": not errors,
        "attempted": ca + na,
        "failed": min(len(errors), ca + na),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
