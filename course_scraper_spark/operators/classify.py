"""Classification stage: taxonomy flatten, label validation, explode sink.

Covers the reference's optional classify phase (SURVEY.md §2 rows J4, J7,
K5, F11, A7, O4, SET3, AR5):

* taxonomy tree -> flat id set: driver-side recursion, same shape as the
  reference's ``flatten_taxonomy`` (classify_manager.py:165-179) over the
  nested-dict format of prompts/taxonomy.json (``_description`` keys are
  metadata, every other key is a taxonomy node).
* label validity partition (main.py:282-302): valid = left_semi against
  the broadcast taxonomy, invalid = left_anti (F11, SET3).
* K5 sink: ``explode(labels)`` -> (course_id, taxonomy_id) rows
  (storage.py:391-423).
* J4 lookup: classified courses for a source = inner join + filter with
  the small side broadcast (storage.py:378-389).
* O4 batching: ``floor(rank/batch_size)`` batch ids replace the
  reference's list slicing (classify_manager.py:28,40-41) — deterministic
  by course_id order.
* A7: token-usage sum over classifier responses.

The LLM call itself is out of deterministic scope (SURVEY.md §3, fifth
entry point); ``fake_classifier`` is a deterministic stand-in keyed on a
hash of the course code+title so the whole stage is testable.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def flatten_taxonomy(tree: dict, parent: str | None = None, depth: int = 0) -> list[tuple]:
    """[(taxonomy_id, parent_id, depth)] — driver recursion; the tree is
    tiny (26 top classes in the reference)."""
    out = []
    for key, val in tree.items():
        if key == "_description":
            continue
        out.append((key, parent, depth))
        if isinstance(val, dict):
            out.extend(flatten_taxonomy(val, key, depth + 1))
    return out


def taxonomy_df(spark, tree: dict) -> DataFrame:
    return local_frame(
        spark, flatten_taxonomy(tree), "taxonomy_id string, parent_id string, depth int"
    )


def validate_labels(
    classified_raw: DataFrame, taxonomy: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """classified_raw: (course_id, labels array<string>). Returns
    (valid, invalid) exploded rows — F11's partition into the flattened
    id set (main.py:282-302)."""
    exploded = classified_raw.select(
        "course_id", F.explode("labels").alias("taxonomy_id")
    )
    tax = F.broadcast(taxonomy.select("taxonomy_id"))
    valid = exploded.join(tax, "taxonomy_id", "left_semi").select("course_id", "taxonomy_id")
    invalid = exploded.join(tax, "taxonomy_id", "left_anti").select("course_id", "taxonomy_id")
    return valid, invalid


def save_classified(table, valid: DataFrame) -> None:
    """K5: flattened (course_id, taxonomy_id) append (storage.py:399-423)."""
    table.append(valid.select("course_id", "taxonomy_id"))


def classified_for_source(
    course_taxonomy: DataFrame, courses: DataFrame, source_id: str
) -> DataFrame:
    """J4 (storage.py:378-389): inner join, broadcast the filtered
    courses side."""
    side = F.broadcast(
        courses.filter(F.col("source_id") == source_id).select("course_id")
    )
    return course_taxonomy.join(side, "course_id")


def with_batch_ids(courses: DataFrame, batch_size: int = 300) -> DataFrame:
    """O4: the reference slices the course list 300-at-a-time
    (classify_manager.py:28); here a deterministic batch-id column."""
    w = Window.orderBy("course_id")  # tiny driver-side stage in reference;
    # at scale swap for assign_seq (operators/ranking.py)
    return courses.withColumn(
        "batch_id", F.floor((F.row_number().over(w) - 1) / batch_size).cast("int")
    )


def fake_classifier(courses: DataFrame, taxonomy: DataFrame, labels_per_course: int = 2) -> DataFrame:
    """Deterministic classifier stand-in: hash the course key onto
    taxonomy ids; emits (course_id, labels array, total_tokens)."""
    tax_ids = sorted(r.taxonomy_id for r in taxonomy.select("taxonomy_id").collect())
    n = len(tax_ids)
    id_arr = F.array(*[F.lit(t) for t in tax_ids])
    h = F.abs(F.xxhash64(F.coalesce(F.col("course_code"), F.lit("")), F.col("course_title")))
    labels = F.array_distinct(
        F.array(*[F.element_at(id_arr, ((h + F.lit(i * 7)) % n + 1).cast("int")) for i in range(labels_per_course)])
    )
    tokens = (F.length("course_title") + F.length(F.coalesce("course_description", F.lit("")))) / 4
    return courses.select(
        F.col("course_id"), labels.alias("labels"), F.ceil(tokens).cast("long").alias("total_tokens")
    )


def token_usage(classified: DataFrame) -> int:
    """A7 (classify_manager.py:78,111-112)."""
    return classified.agg(F.sum("total_tokens")).first()[0] or 0
