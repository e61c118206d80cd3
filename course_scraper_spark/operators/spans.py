"""Span extraction: pages -> interleaved span docs + course records.

The Spark form of the reference scrape stage (``src/scraper.py:26-162``):
target URLs are fetched (synthetic pages join), the per-source JSON-CSS
schema is applied inside an Arrow-batched ``mapInPandas`` and every page
yields

* one ``docs`` row — the BASELINE payload:
  ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``,
* zero or more ``courses`` rows (required-field filter F8, clean_text,
  course_code normalization A5 — scraper.py:137-158),
* a good/bad verdict per URL (scraper.py:36) feeding the ``is_target``
  flag MERGE (storage.py:248-276).

Scale notes: the parse UDF is the expensive stage — it is preceded by an
explicit repartition so a mega-host's pages spread across the cluster;
everything after the UDF is built-in (from_json/explode/filter) and stays
in whole-stage codegen.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.jsoncss import clean_records, extract_page, finalize_records
from .frontier import fetch_ok_col

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ]
    )
)

RECORD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("course_title", T.StringType(), True),
            T.StructField("course_description", T.StringType(), True),
            T.StructField("course_code", T.StringType(), True),
            T.StructField("course_credits", T.StringType(), True),
            T.StructField("course_media", T.StringType(), True),
            T.StructField("_source_url", T.StringType(), True),
            T.StructField("record_pos", T.IntegerType(), True),
        ]
    )
)

_PARSE_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("records", RECORD_TYPE, True),
        T.StructField("n_items", T.IntegerType(), False),
    ]
)

_RECORD_FIELDS = (
    "course_title",
    "course_description",
    "course_code",
    "course_credits",
    "course_media",
    "_source_url",
)


def _make_parser(schemas_bc):
    """Parser UDF with the per-source JSON-CSS schemas captured via a
    Spark broadcast — schema bytes never ride the rows through Arrow."""

    def _parse_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        schema_cache: dict[str, dict] = {
            sid: json.loads(sj) for sid, sj in schemas_bc.value.items()
        }
        for pdf in batches:
            rows = {k: [] for k in ("source_id", "doc_id", "spans", "records", "n_items")}
            for sid, url, html in zip(pdf["source_id"], pdf["url"], pdf["html"]):
                schema = schema_cache.get(sid)
                if schema is None:
                    continue  # schema-less source: reference fails it earlier
                items, raw_spans = extract_page(html, schema)
                if not items:
                    # reference: "No extracted content" -> error row, no
                    # doc (scraper.py:103-106)
                    rows["source_id"].append(sid)
                    rows["doc_id"].append(url)
                    rows["spans"].append(None)
                    rows["records"].append(None)
                    rows["n_items"].append(0)
                    continue
                items = clean_records(items)
                records, _errors = finalize_records(items, url)
                spans = [
                    (sp["kind"], sp["text"], sp["media_ref"], sp["offset"])
                    for sp in raw_spans
                ]
                rows["source_id"].append(sid)
                rows["doc_id"].append(url)
                rows["spans"].append(spans)
                rows["records"].append(
                    [tuple(r.get(f) for f in _RECORD_FIELDS) + (i,) for i, r in enumerate(records)]
                )
                rows["n_items"].append(len(items))
            yield pd.DataFrame(rows)

    return _parse_pages


@dataclass
class ScrapeOutput:
    docs: DataFrame      # source_id, doc_id, spans — BASELINE shape
    courses: DataFrame   # exploded course records
    url_flags: DataFrame  # source_id, url, is_target (storage.py:248-276)
    # the persisted parse all three derive from, and the schemas broadcast
    # its UDF reads
    parsed: DataFrame = field(repr=False)
    schemas_bc: Broadcast = field(repr=False)

    def release(self) -> None:
        """Drop the parse cache and the executors' copies of the schemas
        broadcast. The outputs stay valid: a later action re-runs the parse.
        The broadcast is unpersisted, not destroyed: a re-run that read a
        destroyed broadcast would fail."""
        self.parsed.unpersist()
        self.schemas_bc.unpersist()


def scrape_targets(
    targets: DataFrame,
    pages: DataFrame,
    schemas: DataFrame,
    parse_partitions: int | None = None,
    n_targets: int | None = None,
    broadcast_threshold: int = 5_000_000,
) -> ScrapeOutput:
    """targets: (source_id, url). pages: synthetic web. schemas:
    (source_id, schema_json).

    ``n_targets`` (row-count hint, no job spent): at or below
    ``broadcast_threshold`` — and when no hint is given (the small-crawl
    callers) — the slim target list is broadcast so the page-body table
    never shuffles (html is the heavy column). The threshold is a DRIVER
    MEMORY bound, not a performance bound: A/B at 460k targets measured
    the shuffle path at 159s/123s (4/16 cores) vs 103s/33s broadcast —
    moving the html corpus through the exchange loses outright, so
    broadcast stays right up to the memory limit (~5M rows ≈ 400 MB
    serialized), and only a frontier beyond that routes to the shuffle
    join (which would OOM the driver otherwise)."""
    # F7: skip 'archive' URLs before any fetch (scraper.py:84)
    current = targets.filter(~F.col("url").contains("archive"))

    # The per-source schema joins on AFTER the fetch so schema_json is
    # never part of the join. Inner join == left join: URLs with no page
    # row fail fetch_ok and land in the bad flags via the anti-join
    # below. On a live cluster the fetch happens inside the UDF
    # (network), so this join only exists in the synthetic harness.
    slim = current.select("source_id", "url")
    left = (
        slim
        if (n_targets is not None and n_targets > broadcast_threshold)
        else F.broadcast(slim)
    )
    fetched = (
        left.join(
            pages.select(F.col("url").alias("p_url"), "html", "status_code", "fetch_mode"),
            slim.url == F.col("p_url"),
            "inner",
        )
        .filter(fetch_ok_col())
        .select("source_id", "url", "html")
    )
    if parse_partitions is not None:
        # opt-in only: shuffles the html payload. Usually unnecessary —
        # the UDF parallelism follows the pages scan splits, so size the
        # page store's files (or files.maxPartitionBytes) instead.
        fetched = fetched.repartition(parse_partitions)

    # schemas ride a Spark broadcast into the UDF closure, not the rows
    spark = targets.sparkSession
    schemas_map = {r["source_id"]: r["schema_json"] for r in schemas.collect()}
    schemas_bc = spark.sparkContext.broadcast(schemas_map)
    # persist: docs, courses AND url_flags all derive from the parse —
    # without the cache each consumed output re-runs the fetch join and
    # the parse UDF from scratch (round 6: materializing docs + courses
    # paid the parse twice, measured ~2x the stage in the bench loop).
    # Callers that consume a single output pay one extra cache write;
    # the parse output is slim (spans + records, no html).
    # ScrapeOutput.release() drops it once the outputs are written.
    parsed = fetched.mapInPandas(_make_parser(schemas_bc), _PARSE_SCHEMA).persist()

    docs = parsed.filter(F.col("n_items") > 0).select("source_id", "doc_id", "spans")

    courses = (
        parsed.filter(F.col("n_items") > 0)
        .select("source_id", F.explode("records").alias("r"))
        .select("source_id", "r.*")
    )

    # good = any items extracted (scraper.py:134-135); bad = targets - good
    # over the ORIGINAL url list, so archive-skipped URLs flag bad
    # (scraper.py:36 + main.py:226-243 semantics).
    good = parsed.filter(F.col("n_items") > 0).select(
        "source_id", F.col("doc_id").alias("url"), F.lit(True).alias("is_target")
    )
    bad = (
        targets.select("source_id", "url")
        .join(good.select("source_id", "url"), ["source_id", "url"], "left_anti")
        .withColumn("is_target", F.lit(False))
    )
    url_flags = good.unionByName(bad)

    return ScrapeOutput(docs=docs, courses=courses, url_flags=url_flags,
                        parsed=parsed, schemas_bc=schemas_bc)
