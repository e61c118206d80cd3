"""Scalable deterministic sequence assignment.

The reference's FIFO visit order (``deque.popleft()`` insertion order,
``src/crawler.py:167,186,230``) must be reconstructed in parallel without
a global single-partition sort. ``Window.orderBy`` with no partition key
funnels the whole wave through one task — fine at test scale, fatal on a
10^10-URL frontier — so we use the classic two-phase ranking:

1. range-repartition by the order key (each partition holds a contiguous
   key range),
2. count rows per (partition, group) — a tiny driver-side collect,
3. rank within each partition with a *local* window, add the broadcast
   prefix offset.

Cost: one extra count job per wave; no partition ever holds more than
its range share. Deterministic for any partition-boundary placement
because the final rank depends only on the total order key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def assign_seq(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    seq_col: str = "seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1-based rank — see :func:`assign_seq_with_totals`."""
    out, _ = assign_seq_with_totals(df, group_col, order_cols, seq_col, num_partitions)
    return out


def assign_seq_with_totals(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    seq_col: str = "seq",
    num_partitions: int | None = None,
    small_threshold: int = 200_000,
) -> tuple[DataFrame, dict]:
    """Dense 1-based rank over ``order_cols`` within each ``group_col``,
    without a per-group global sort. Also returns {group: row_count}.

    Adaptive: small inputs (≤ ``small_threshold`` rows total — known from
    the totals count this function needs anyway) rank with one per-group
    window (single shuffle, no sampling pass); big inputs use the
    two-phase range ranking so no group ever funnels through one task.

    NOTE: the totals come from a driver collect that materializes the
    whole upstream pipeline BEFORE the ranked output is consumed —
    callers that materialize the ranked result anyway (the crawl loops
    checkpoint their delta every wave) should use :func:`assign_seq_lazy`
    and count groups from the materialized result instead, halving the
    pipeline executions per wave.

    Rows must be unique on (group_col, *order_cols).
    """
    totals_rows = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt")).collect()
    totals = {r[group_col]: r["_cnt"] for r in totals_rows}
    n_total = sum(totals.values())
    if n_total == 0:
        return df.withColumn(seq_col, F.lit(None).cast("long")), totals
    if n_total <= small_threshold:
        w = Window.partitionBy(group_col).orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(seq_col, F.row_number().over(w).cast("long")), totals
    out, two_phase_totals = _two_phase_rank(df, group_col, order_cols, seq_col, num_partitions)
    return out, two_phase_totals


def assign_seq_lazy(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    seq_col: str = "seq",
    est_rows: int | None = None,
    num_partitions: int | None = None,
    small_threshold: int = 200_000,
) -> DataFrame:
    """Rank WITHOUT the upfront driver totals collect — the loop-body
    form (round-5 jobs/wave fold). The crawl loops materialize their
    per-wave delta anyway (store checkpoint), so the per-source counts
    that drive ``seq_base`` come from a cheap post-materialization agg
    over checkpointed blocks instead of a pre-job that runs the whole
    candidate pipeline a second time.

    ``est_rows`` picks the strategy (an upper-bound estimate is fine):
    ≤ ``small_threshold`` → one per-group window, fully lazy, ZERO extra
    jobs; above → the two-phase range ranking, whose internal
    checkpoint + per-partition counts are its only jobs and whose result
    is exact regardless of the estimate. Overestimating costs two small
    jobs; underestimating would funnel a mega-wave through one window
    task — so estimate with the branching upper bound, not the mean."""
    if est_rows is not None and est_rows > small_threshold:
        out, _ = _two_phase_rank(df, group_col, order_cols, seq_col, num_partitions)
        return out
    w = Window.partitionBy(group_col).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(seq_col, F.row_number().over(w).cast("long"))


def _two_phase_rank(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    seq_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, dict]:
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col(group_col), *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("_pid", F.spark_partition_id())
    # repartitionByRange picks boundaries by SAMPLING, and each action
    # re-samples with a fresh seed — without pinning, the counts job below
    # and the final ranked output could see DIFFERENT _pid assignments,
    # misaligning the broadcast offsets (duplicate/skipped seq values).
    # Eager localCheckpoint materializes one partitioning both jobs share.
    ranged = ranged.localCheckpoint(eager=True)

    # tiny: one row per (physical partition, group)
    counts = (
        ranged.groupBy("_pid", group_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    )
    # prefix offsets per group in partition order
    by_group: dict = {}
    for row in sorted(counts, key=lambda r: (r[group_col], r["_pid"])):
        by_group.setdefault(row[group_col], []).append((row["_pid"], row["_cnt"]))
    offsets = []
    totals: dict = {}
    for g, lst in by_group.items():
        run = 0
        for pid, cnt in lst:
            offsets.append((g, pid, run))
            run += cnt
        totals[g] = run
    spark = df.sparkSession
    # _pid int: spark_partition_id()'s type, so the join needs no cast
    group_type = ranged.schema[group_col].dataType.simpleString()
    off_schema = f"`{group_col}` {group_type}, _pid int, _offset long"
    off_df = local_frame(spark, offsets, off_schema) if offsets else None

    local_w = Window.partitionBy("_pid", group_col).orderBy(*[F.col(c) for c in order_cols])
    ranked = ranged.withColumn("_local_rn", F.row_number().over(local_w))
    if off_df is None:
        return ranked.withColumn(seq_col, F.col("_local_rn")).drop("_pid", "_local_rn"), totals
    out = (
        ranked.join(F.broadcast(off_df), ["_pid", group_col], "left")
        .withColumn(seq_col, F.col("_local_rn") + F.coalesce(F.col("_offset"), F.lit(0)))
        .drop("_pid", "_local_rn", "_offset")
    )
    return out, totals
