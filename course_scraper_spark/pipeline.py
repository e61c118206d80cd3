"""End-to-end pipeline: the Spark form of the reference ``main()``
lifecycle (``src/main.py:380-612``):

    lock -> plan (task anti-join) -> crawl -> scrape -> store -> unlock

Differences by design (Spark-first, not a port):

* all sources ride one wave loop (reference batches 2 at a time behind
  semaphores, main.py:476-597 — a python-concurrency workaround we don't
  need; parallelism is partitioning).
* every stage's outputs land in snapshot tables, so the reference's
  memoized stage-skipping (main.py:165-176,189-251) generalizes to
  resume-from-any-wave.
* failures are status rows (failed_sources, url_flags, fetch metrics),
  never exceptions mid-plan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import SourceConfig
from .operators.frontier import CrawlResult, crawl_sources
from .operators.merge import MergeStats, merge_courses, save_urls, update_url_targets, with_merge_keys, create_courses_table
from .operators.metrics import MetricsStore
from .operators.spans import ScrapeOutput, scrape_targets
from .session import local_frame
from .storage.crawl_state import CrawlStateStore
from .storage.runlock import RunLock
from .storage.snaptable import SnapshotTable


@dataclass
class PipelineResult:
    run_id: str
    crawl: CrawlResult
    scrape: ScrapeOutput
    merge_stats: MergeStats
    tables: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    sources: list[SourceConfig],
    pages: DataFrame,
    schemas: DataFrame,
    workdir: str,
    resume: bool = False,
    max_waves: int | None = None,
) -> PipelineResult:
    lock = RunLock(workdir)
    run_id = lock.begin_run()
    if run_id is None:
        raise RuntimeError("another run is active (begin_run returned NULL, storage.py:103-108)")
    try:
        metrics = MetricsStore(spark, os.path.join(workdir, "metrics"))
        state = CrawlStateStore(spark, os.path.join(workdir, "crawl"))

        # plan: task anti-join (S3) — skip sources that already have courses
        courses_table = create_courses_table(spark, os.path.join(workdir, "courses"))
        if not courses_table.is_empty():
            done = courses_table.read().select("source_id").distinct()
            src_df = local_frame(spark, [(s.source_id,) for s in sources], "source_id string")
            todo = {r.source_id for r in src_df.join(done, "source_id", "left_anti").collect()}
            sources = [s for s in sources if s.source_id in todo]
        metrics.log(run_id, "*", "PLAN", f"{len(sources)} sources to process")

        crawl = crawl_sources(
            spark, sources, pages, state_store=state, resume=resume, max_waves=max_waves
        )
        for sid in crawl.failed_sources:
            metrics.log(run_id, sid, "CRAWL", "root fetch failed; source skipped")

        # K1: urls upsert (insert-only)
        urls_table = SnapshotTable.create(
            spark, os.path.join(workdir, "urls"), bucket_col="url", n_buckets=16
        )
        seen_urls = crawl.seen.select("source_id", "url")
        if urls_table.is_empty():
            urls_table.append(seen_urls.withColumn("is_target", F.lit(True)))
        else:
            save_urls(urls_table, seen_urls)

        # K3: schema sink/scan (storage.py:280-298) — persist then read
        # back so the scrape consumes the stored copy
        schemas_table = SnapshotTable.create(spark, os.path.join(workdir, "schemas"))
        schemas_table.overwrite(schemas.select("source_id", "schema_json"))

        # scrape -> docs spans + courses + flags
        scrape = scrape_targets(seen_urls, pages, schemas_table.read())
        docs_table = SnapshotTable.create(
            spark, os.path.join(workdir, "docs"), bucket_col="doc_id", n_buckets=16
        )
        docs_table.append(scrape.docs, tag=f"run_{run_id}")

        # K6: course merge — deterministic last-wins key: (page url, pos)
        scraped = with_merge_keys(
            scrape.courses.withColumn(
                "seq",
                F.concat_ws(
                    "#", F.col("_source_url"), F.lpad(F.col("record_pos").cast("string"), 6, "0")
                ),
            )
        )
        stats = merge_courses(courses_table, scraped, seq_col="seq")

        # K2: is_target flags
        update_url_targets(urls_table, scrape.url_flags)
        scrape.release()
        metrics.log(
            run_id,
            "*",
            "STORE",
            f"merge inserted={stats.inserted} updated={stats.updated}",
        )
        return PipelineResult(
            run_id=run_id,
            crawl=crawl,
            scrape=scrape,
            merge_stats=stats,
            tables={
                "courses": courses_table,
                "urls": urls_table,
                "docs": docs_table,
                "run_log": metrics.run_log,
            },
        )
    finally:
        lock.end_run()
