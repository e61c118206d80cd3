"""Compose-everything equality check at a large world.

Runs the budgeted crawl with EVERY scale feature active simultaneously
— co-partitioned seen store forced on, host salting, fused HTTP fetch
with in-band metrics, cross-round cadence carry-over, min-depth
re-admission — and asserts the final seen set equals the plain
unbudgeted BFS oracle. The CI twin (tests/test_budgeted_crawl.py::
test_compose_all_features_equality) runs a 400-page world; this tool
scales the same check to a world big enough to cross
COPARTITION_SEEN_THRESHOLD organically (default 100k pages).

Usage: python tools/compose_check.py [--pages 100000] [--cpus 16]
Prints one JSON line with counts and walls.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--budget", type=float, default=3600.0)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from course_scraper_spark.operators.fetch import NO_SLEEP
    from course_scraper_spark.operators.frontier import (
        crawl_sources,
        crawl_sources_budgeted,
    )
    from course_scraper_spark.operators.metrics import MetricsStore
    from course_scraper_spark.session import get_spark
    from course_scraper_spark.synth.spark_world import build_pages_spark
    from course_scraper_spark.synth.transport import spec_transport_factory
    from course_scraper_spark.synth.world import WorldSpec, build_sources

    spark = get_spark(
        app_name="compose-check",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
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
    world_path = f"/tmp/compose_world_{args.pages}.parquet"
    if not os.path.exists(world_path):
        build_pages_spark(spark, spec, partitions=64).write.mode("overwrite").parquet(world_path)
    pages = spark.read.parquet(world_path)
    hosts = sorted({s.root_url.split("/")[2] for s in sources})
    robots = spark.createDataFrame([(h, 0.01) for h in hosts], "host string, crawl_delay double")

    t0 = time.time()
    oracle = crawl_sources(spark, sources, pages, copartition_seen=False)
    oracle_keys = oracle.seen.select("source_id", "url").cache()
    n_oracle = oracle_keys.count()
    wall_oracle = time.time() - t0

    mroot = f"/tmp/compose_metrics_{args.pages}_{int(time.time())}"
    t1 = time.time()
    composed = crawl_sources_budgeted(
        spark,
        sources,
        pages,
        robots=robots,
        round_budget_s=args.budget,
        copartition_seen=True,
        salt_hosts_threshold=2000,
        fetch="http",
        transport_factory=spec_transport_factory(spec),
        fetch_kwargs={"sleep_fn": NO_SLEEP},
        metrics_store=MetricsStore(spark, mroot),
        run_id="compose",
        readmit_min_depth=True,
    )
    comp_keys = composed.seen.select("source_id", "url").cache()
    n_comp = comp_keys.count()
    wall_comp = time.time() - t1

    missing = oracle_keys.join(comp_keys, ["source_id", "url"], "left_anti").count()
    extra = comp_keys.join(oracle_keys, ["source_id", "url"], "left_anti").count()
    print(
        json.dumps(
            {
                "pages": args.pages,
                "oracle_seen": n_oracle,
                "composed_seen": n_comp,
                "missing": missing,
                "extra": extra,
                "equal": missing == 0 and extra == 0 and n_oracle == n_comp,
                "wall_oracle_sec": round(wall_oracle, 2),
                "wall_composed_sec": round(wall_comp, 2),
            }
        )
    )
    assert missing == 0 and extra == 0, (missing, extra)
    spark.stop()


if __name__ == "__main__":
    main()
