"""Per-partition lineage + fetch/parse metrics (north-rule requirement).

The reference logs per-stage counts into ``logs``/``RunStatistics``
(``src/storage.py:211-217``, ``src/models.py:32-66``). Our engine keeps
two append-only snapshot tables:

* ``run_log(run_id, source_id, stage, msg, ts)`` — K7 sink
  (storage.py:211-217), written with ``current_timestamp()``.
* ``partition_metrics(run_id, wave, source_id, host, n_urls, n_fetch_ok,
  n_failed, n_docs, n_records)`` — per-host-bucket lineage per wave; this
  is the skew evidence feed (max/median bucket size before/after
  salting) the BASELINE.md protocol reports.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..storage.snaptable import SnapshotTable
from .frontier import fetch_ok_col


class MetricsStore:
    """``table_factory(name, bucket_col, n_buckets)`` makes the backend
    pluggable: the default builds parquet-emulated ``SnapshotTable``s
    under ``root``; pass a factory returning
    ``storage.iceberg.IcebergTable`` handles to write the same
    append-only tables into a real catalog (the metrics interface uses
    only append/read, which both backends share)."""

    def __init__(self, spark: SparkSession, root: str, table_factory=None):
        mk = table_factory or (
            lambda name, bucket_col=None, n_buckets=16: SnapshotTable.create(
                spark, os.path.join(root, name), bucket_col=bucket_col, n_buckets=n_buckets
            )
        )
        self.run_log = mk("run_log")
        self.partition_metrics = mk("partition_metrics", bucket_col="host", n_buckets=16)
        self.spark = spark

    def log(self, run_id: str, source_id: str, stage: str, msg: str) -> None:
        df = local_frame(
            self.spark, [(run_id, source_id, stage, msg)], "run_id string, source_id string, stage string, msg string"
        ).withColumn("ts", F.current_timestamp())
        self.run_log.append(df)

    def record_wave(self, run_id: str, wave: int, wave_fetch_stats: DataFrame) -> None:
        self.partition_metrics.append(
            wave_fetch_stats.withColumn("run_id", F.lit(run_id)).withColumn("wave", F.lit(wave))
        )


def fetch_stats_per_host(wave_with_pages: DataFrame) -> DataFrame:
    """(source_id, host, n_urls, n_fetch_ok, n_failed, n_attempts) for
    one wave's fetch join (wave rows left-joined to pages). Attempts come
    from the deterministic Column mirror of the HTTP ladder, so both
    fetch modes report identical totals."""
    from .fetch import attempts_col

    ok = fetch_ok_col()
    return wave_with_pages.groupBy("source_id", "host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_fetch_ok"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_failed"),
        F.sum(attempts_col().cast("long")).alias("n_attempts"),
    )


def fetch_stats_from_http(fetched: DataFrame) -> DataFrame:
    """Same shape as :func:`fetch_stats_per_host`, from the ``fetch_http``
    output (which carries real ``ok``/``n_attempts`` per row)."""
    return fetched.groupBy("source_id", "host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_fetch_ok"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_failed"),
        F.sum(F.col("n_attempts").cast("long")).alias("n_attempts"),
    )


def skew_evidence(partition_metrics: DataFrame) -> DataFrame:
    """Max vs median host-bucket volume per wave — the BASELINE.md skew
    report."""
    return partition_metrics.groupBy("run_id", "wave").agg(
        F.max("n_urls").alias("max_host_urls"),
        F.expr("percentile_approx(n_urls, 0.5)").alias("median_host_urls"),
        F.count(F.lit(1)).alias("n_host_buckets"),
    )
