"""Driver-action (Spark job) audit for the crawl loops.

The round-4 verdict's remaining scale concern is DRIVER-side: each
wave/round launches a fixed number of Spark jobs (checkpoints, counts,
collects) whose scheduling latency doesn't shrink with executor count —
the Amdahl term behind the loop stage's sub-0.8 scaling efficiency.
This tool MEASURES jobs per wave/round (StatusTracker job ids, public
API) for both loops so the reduction work is driven by numbers, not
guesses, and SCALE.md can report before/after.

Usage:
  python tools/job_audit.py --loop bfs --pages 20000
  python tools/job_audit.py --loop budgeted --pages 20000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def count_jobs(sc) -> int:
    """Total jobs the driver has launched so far (all job groups): the
    latest job id plus one. Job ids are sequential per SparkContext, so
    the difference of two counts is exact however few jobs the status
    store retains (``spark.ui.retainedJobs``)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--loop", default="bfs", choices=["bfs", "budgeted"])
    ap.add_argument("--pages", type=int, default=20_000)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--fetch", default="join", choices=["join", "http"])
    args = ap.parse_args()

    from course_scraper_spark.session import get_spark
    from course_scraper_spark.operators.frontier import (
        crawl_sources,
        crawl_sources_budgeted,
    )
    from course_scraper_spark.synth.spark_world import build_pages_spark
    from course_scraper_spark.synth.world import WorldSpec, build_sources

    spark = get_spark(
        app_name=f"job-audit-{args.loop}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    try:
        sc = spark.sparkContext

        spec = WorldSpec(
            n_hosts=max(40, args.pages // 500),
            total_pages=args.pages,
            branching=8,
            extra_links=4,
            filler_paras=2,
            max_courses=3,
        )
        sources = build_sources(spec)
        for s in sources:
            s.crawl_depth = max(s.crawl_depth, 10)
        # generated on the executors: a driver-side list ships as one task
        # that grows with --pages (18.6 MB at 100,000)
        pages = build_pages_spark(spark, spec, partitions=args.cpus).cache()
        pages.count()

        kw: dict = {}
        if args.fetch == "http":
            from course_scraper_spark.operators.fetch import NO_SLEEP
            from course_scraper_spark.synth.transport import spec_transport_factory

            kw.update(
                fetch="http",
                transport_factory=spec_transport_factory(spec),
                fetch_kwargs={"sleep_fn": NO_SLEEP},
            )

        j0, t0 = count_jobs(sc), time.time()
        if args.loop == "bfs":
            res = crawl_sources(spark, sources, pages, **kw)
            rounds = len(res.metrics)
        else:
            res = crawl_sources_budgeted(
                spark, sources, pages, round_budget_s=1e9, **kw
            )
            rounds = len(res.metrics)
        n_seen = res.seen.count()
        wall = time.time() - t0
        jobs = count_jobs(sc) - j0 - 1  # exclude the final seen count

        print(
            json.dumps(
                {
                    "loop": args.loop,
                    "fetch": args.fetch,
                    "pages": args.pages,
                    "cpus": args.cpus,
                    "rounds": rounds,
                    "jobs_total": jobs,
                    "jobs_per_round": round(jobs / max(1, rounds), 2),
                    "seen": n_seen,
                    "wall_sec": round(wall, 2),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
