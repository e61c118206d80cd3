"""Schema validation (reference ``src/schema_manager.py:202-279``).

The reference sanity-checks a freshly generated JSON-CSS schema by
scraping just the source's ``schema_url`` and declaring the schema valid
iff at least one extracted record carries every required field non-empty
(``course_title``, ``course_description`` — schema_manager.py:29). Spark
form: one scrape_targets pass over the schema_url set, grouped verdicts.
The LLM schema *generation* itself is out of deterministic scope
(SURVEY.md §3.5); validation is what gates the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SourceConfig
from ..session import local_frame
from .spans import scrape_targets

REQUIRED_FIELDS = ("course_title", "course_description")


def validate_schemas(
    spark,
    sources: list[SourceConfig],
    pages: DataFrame,
    schemas: DataFrame,
) -> DataFrame:
    """(source_id, n_records, n_good, valid) per source — valid iff the
    schema_url page yields ≥1 record with all required fields truthy."""
    targets = local_frame(
        spark,
        [(s.source_id, s.schema_url) for s in sources if s.schema_url],
        "source_id string, url string",
    )
    out = scrape_targets(targets, pages, schemas)
    good = F.lit(True)
    for f in REQUIRED_FIELDS:
        good = good & F.col(f).isNotNull() & (F.length(F.col(f)) > 0)
    per_source = out.courses.groupBy("source_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(good, 1).otherwise(0)).alias("n_good"),
    )
    all_sources = local_frame(
        spark, [(s.source_id,) for s in sources if s.schema_url], "source_id string"
    )
    return (
        all_sources.join(per_source, "source_id", "left")
        .fillna(0, ["n_records", "n_good"])
        .withColumn("valid", F.col("n_good") > 0)
    )
