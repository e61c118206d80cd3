"""Skew evidence: salted_repartition on a Zipf frontier (BASELINE.md).

The north rule requires "salted repartitioning for skewed domains" — this
harness shows the operator's effect where it matters: a stage whose work
is partitioned by host (the live-cluster fetch/parse stage runs over the
frontier's own partitioning). A Zipf(1.2) frontier concentrates 30-50%
of rows on the top host; partitioned by bare host, one task owns that
share and gates the stage. Salting fans the hot host across shards.

Measures, per mode (unsalted / salted):
  * max partition share (the straggler bound — a stage cannot finish
    faster than its biggest partition)
  * wall time of a simulated per-URL fetch stage (mapInPandas with a
    fixed per-row CPU cost) over the host-partitioned frontier

Usage: python tools/skew_bench.py [--rows 400000] [--cpus 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def zipf_frontier(spark, rows: int, n_hosts: int = 200, s: float = 1.2):
    """Deterministic Zipf(s) host distribution over `rows` URLs."""
    from pyspark.sql import functions as F

    # inverse-CDF over the Zipf pmf, computed driver-side for n_hosts rows
    weights = [1.0 / (k ** s) for k in range(1, n_hosts + 1)]
    total = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    bounds = spark.createDataFrame(
        [(i, cum[i - 1] if i else 0.0, cum[i]) for i in range(n_hosts)],
        "hid int, lo double, hi double",
    )
    base = spark.range(rows).withColumn(
        "u", (F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_003)) / F.lit(1_000_003.0))
    )
    return (
        base.join(F.broadcast(bounds), (F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
        .select(
            F.concat(F.lit("h"), F.col("hid"), F.lit(".edu")).alias("host"),
            F.concat(F.lit("https://h"), F.col("hid"), F.lit(".edu/p"), F.col("id")).alias("url"),
        )
    )


def simulated_fetch_wall(df, cost_per_row_us: int = 30) -> float:
    """mapInPandas stage with a fixed CPU cost per row — the stand-in for
    the live fetch/parse UDF. Partitioning of `df` IS the task layout."""
    import pandas as pd

    def work(batches):
        for pdf in batches:
            t_end = time.perf_counter() + len(pdf) * cost_per_row_us / 1e6
            x = 0
            while time.perf_counter() < t_end:
                x += 1  # busy loop = CPU-bound fetch/parse stand-in
            yield pd.DataFrame({"n": [len(pdf)]})

    t0 = time.time()
    n = df.mapInPandas(work, "n long").agg({"n": "sum"}).collect()[0][0]
    wall = time.time() - t0
    assert n == df.count()
    return wall


def max_partition_share(df) -> float:
    from pyspark.sql import functions as F

    sizes = df.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").count()
    mx, tot = sizes.agg(F.max("count"), F.sum("count")).collect()[0]
    return mx / tot


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=400_000)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from course_scraper_spark.operators.salting import salted_repartition
    from course_scraper_spark.session import get_spark

    spark = get_spark(app_name="skew-bench", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")

        frontier = zipf_frontier(spark, args.rows).localCheckpoint(eager=True)
        threshold = args.rows // (4 * args.cpus)

        unsalted = frontier.repartition(args.cpus, F.col("host")).localCheckpoint(eager=True)
        salted = salted_repartition(
            frontier, "host", n_salts=args.cpus, threshold=threshold,
            num_partitions=args.cpus, salt_col="url",
        ).localCheckpoint(eager=True)

        report = {"rows": args.rows, "cpus": args.cpus, "zipf_s": 1.2, "threshold": threshold}
        for name, df in (("unsalted", unsalted), ("salted", salted)):
            share = max_partition_share(df)
            simulated_fetch_wall(df, cost_per_row_us=5)  # warm-up python workers
            wall = simulated_fetch_wall(df)
            report[name] = {"max_partition_share": round(share, 4), "fetch_wall_sec": round(wall, 2)}
        report["speedup"] = round(
            report["unsalted"]["fetch_wall_sec"] / report["salted"]["fetch_wall_sec"], 2
        )
        print(json.dumps(report))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
