"""Source configuration records.

Mirrors the reference's per-source crawl config (SourceConfig pydantic
model, reference ``src/config.py:11-30``) as a plain dataclass plus a
Spark ``StructType`` so the whole seed list travels as a small broadcast
dimension DataFrame. Defaults match the reference exactly:
``crawl_depth=100``, ``page_timeout_s=60``, ``max_concurrency=1``,
``include_external=False``, ``max_links_per_page=None``
(reference ``src/config.py:21-27``) and the YAML loader's
``source_id = LOCAL_{name}`` default (reference ``src/config.py:47-48``).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import Optional

from pyspark.sql import SparkSession, DataFrame
from pyspark.sql import types as T

from .session import local_frame

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("root_url", T.StringType(), False),
        T.StructField("schema_url", T.StringType(), True),
        T.StructField("include_external", T.BooleanType(), True),
        T.StructField("crawl_depth", T.IntegerType(), True),
        T.StructField("page_timeout_s", T.IntegerType(), True),
        T.StructField("max_concurrency", T.IntegerType(), True),
        T.StructField("url_base_exclude", T.StringType(), True),
        T.StructField("url_exclude_patterns", T.ArrayType(T.StringType()), True),
        T.StructField("max_links_per_page", T.IntegerType(), True),
    ]
)

# Default URL blacklist, identical regex strings to the reference
# (``src/crawler.py:163-165``). Order matters only for readability; the
# filter drops a URL on *any* match.
DEFAULT_EXCLUDE_PATTERNS: list[str] = [r"/pdf/", r"\.pdf$", r"\.jpg$", r"\.png$", r"\.gif$"]


@dataclass
class SourceConfig:
    source_id: str
    name: str
    root_url: str
    schema_url: Optional[str] = None
    type: str = "html"
    include_external: bool = False
    crawl_depth: int = 100
    page_timeout_s: int = 60
    max_concurrency: int = 1
    url_base_exclude: Optional[str] = None
    url_exclude_patterns: Optional[list[str]] = None
    max_links_per_page: Optional[int] = None

    @property
    def effective_exclude_patterns(self) -> list[str]:
        """Default blacklist + per-source additions (crawler.py:162-166)."""
        extra = self.url_exclude_patterns or []
        return DEFAULT_EXCLUDE_PATTERNS + list(extra)

    def to_row(self) -> dict:
        d = asdict(self)
        return {k: d[k] for k in SOURCE_SCHEMA.fieldNames()}


def load_sources_yaml(path: str) -> list[SourceConfig]:
    """Load a sources.yaml-shaped file (reference ``src/config.py:41-53``).

    Applies the same ``source_id = LOCAL_{name}`` default.
    """
    import yaml

    with open(path, "r") as f:
        raw = yaml.safe_load(f)
    out = []
    for src in raw.get("sources", []):
        src.setdefault("source_id", f"LOCAL_{src['name']}")
        src.pop("clean_name", None)
        out.append(SourceConfig(**src))
    return out


def sources_df(spark: SparkSession, sources: list[SourceConfig]) -> DataFrame:
    """Seed list as a tiny dimension DataFrame (broadcast everywhere)."""
    return local_frame(spark, [tuple(s.to_row().values()) for s in sources], SOURCE_SCHEMA)
