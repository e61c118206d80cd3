"""Upsert sinks: courses (K6), urls (K1), is_target flags (K2).

Reference semantics, re-expressed as snapshot-table MERGEs (Iceberg
``MERGE INTO`` on a real cluster):

* K6 course merge (``src/merge_courses.py:15-56``, mirror of the SQL
  MERGE): match on ``(COALESCE(course_code,''), course_title)``; matched →
  UPDATE description + credits; unmatched → INSERT. When the scraped batch
  contains duplicate keys, the reference's sequential loop makes the LAST
  occurrence win — reproduced with a max-by-seq dedup.
* K1 url upsert (``src/storage.py:227-246``): WHEN NOT MATCHED INSERT
  (never updates).
* K2 is_target flags (``src/storage.py:248-276``): WHEN MATCHED UPDATE
  is_target only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..storage.snaptable import SnapshotTable

COURSE_COLS = [
    "course_code",
    "course_title",
    "course_description",
    "course_credits",
    "course_media",
    "_source_url",
    "source_id",
]
# the table persists the merge keys so the bucket layout aligns with them
TABLE_COLS = COURSE_COLS + ["k_code", "k_title"]


def with_merge_keys(df: DataFrame) -> DataFrame:
    # COALESCE(code,'') / (title or '') — merge_courses.py:31-32,40-41
    return df.withColumn("k_code", F.coalesce(F.col("course_code"), F.lit(""))).withColumn(
        "k_title", F.coalesce(F.col("course_title"), F.lit(""))
    )


@dataclass
class MergeStats:
    inserted: int
    updated: int


def occurrence_stats(src_all: DataFrame, existing_keys: DataFrame | None) -> MergeStats:
    """Reference per-occurrence merge tally in ONE aggregation job:
    inserted = distinct batch keys absent from ``existing_keys``;
    updated = every other scraped row (matches + later duplicate
    occurrences). ``existing_keys=None`` means an empty table."""
    new_key = F.struct("k_code", "k_title")
    marked = src_all
    cond = new_key
    if existing_keys is not None:
        marked = src_all.join(
            existing_keys.distinct().withColumn("_ex", F.lit(True)), ["k_code", "k_title"], "left"
        )
        cond = F.when(F.col("_ex").isNull(), new_key)
    row = marked.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(cond).alias("n_new"),
    ).collect()[0]
    return MergeStats(inserted=row.n_new, updated=row.n_rows - row.n_new)


def merge_courses(
    table: SnapshotTable, scraped: DataFrame, seq_col: str | None = None
) -> MergeStats:
    """K6. ``scraped`` needs COURSE_COLS; ``seq_col`` (optional) breaks
    duplicate-key ties the way the reference's sequential loop does
    (last occurrence wins).

    Stats follow the reference's PER-OCCURRENCE tally
    (merge_courses.py:15-56: a key scraped twice and absent from the
    table counts inserted=1 THEN updated=1): inserted = distinct keys
    not already in the table, updated = every other scraped row. Into a
    filled table both come from the MERGE's own pass: inserted is its
    tally (the batch is deduped by key, so each new key inserts once)
    and the scraped row count is observed on the batch as the MERGE
    reads it. An empty table takes them from one aggregation job."""
    src_all = with_merge_keys(scraped)
    if table.is_empty():
        stats = occurrence_stats(src_all, existing_keys=None)
        table.append(_latest_per_key(src_all, seq_col))
        return stats

    rows = Observation()
    table.merge(
        _latest_per_key(src_all.observe(rows, F.count(F.lit(1)).alias("n")), seq_col),
        on=["k_code", "k_title"],
        update_cols=["course_description", "course_credits"],
        insert=True,
    )
    inserted, _ = table.last_commit_tally()
    return MergeStats(inserted=inserted, updated=rows.get["n"] - inserted)


def _latest_per_key(src_all: DataFrame, seq_col: str | None) -> DataFrame:
    """One row per merge key: the highest ``seq_col`` (the reference's
    last occurrence), or any when there is no order."""
    if seq_col is not None:
        w = Window.partitionBy("k_code", "k_title").orderBy(F.col(seq_col).desc())
        deduped = src_all.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    else:
        deduped = src_all.dropDuplicates(["k_code", "k_title"])
    return deduped.select(*TABLE_COLS)


def create_courses_table(spark, path: str) -> SnapshotTable:
    """Courses table; rows must carry the persisted merge keys
    (:func:`with_merge_keys`), which also drive the bucket layout so a
    MERGE rewrites only the buckets its batch touches."""
    return SnapshotTable.create(spark, path, bucket_col="k_title", n_buckets=16)


def save_urls(table: SnapshotTable, batch: DataFrame) -> None:
    """K1: insert (source_id, url, is_target=true) when not matched."""
    src = batch.select("source_id", "url").withColumn("is_target", F.lit(True))
    table.merge(src, on=["source_id", "url"], update_cols=[], insert=True)


def update_url_targets(table: SnapshotTable, flags: DataFrame) -> None:
    """K2: WHEN MATCHED UPDATE is_target (no inserts)."""
    table.merge(
        flags.select("source_id", "url", "is_target"),
        on=["source_id", "url"],
        update_cols=["is_target"],
        insert=False,
    )
