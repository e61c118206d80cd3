"""Distributed synthetic-world generation.

``build_pages`` (synth/world.py) loops on the driver — fine for fixture
worlds, too slow for bench-scale ones. Because every page is a pure
function of ``(host_index, page_index)``, generation distributes
trivially: a tiny (host, size) dimension explodes into page indices and
a ``mapInPandas`` stage renders the same rows ``build_pages`` would
(equivalence is pinned by tests/test_spark_world.py)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

from .world import (
    WorldSpec,
    _h,
    aux_page_html,
    fetch_status,
    generic_page_html,
    mc_page_html,
    mc_preview_html,
    mc_preview_url,
    page_url,
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("html", T.StringType(), False),
        T.StructField("status_code", T.IntegerType(), False),
        T.StructField("fetch_mode", T.StringType(), False),
        T.StructField("template_id", T.StringType(), False),
    ]
)


def build_pages_spark(spark: SparkSession, spec: WorldSpec, partitions: int | None = None) -> DataFrame:
    sizes = spec.host_sizes()
    dim = local_frame(
        spark, [(k, sizes[k]) for k in range(spec.n_hosts)], "k int, n_pages int"
    )
    idx = dim.select("k", "n_pages", F.explode(F.sequence(F.lit(0), F.col("n_pages") - 1)).alias("i"))
    parts = partitions or spark.sparkContext.defaultParallelism
    idx = idx.repartition(parts, F.col("k"), F.col("i"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: [] for c in PAGES_SCHEMA.fieldNames()}

            def emit(url, host, html, status, mode, template):
                out["url"].append(url)
                out["host"].append(host)
                out["html"].append(html)
                out["status_code"].append(status)
                out["fetch_mode"].append(mode)
                out["template_id"].append(template)

            for k, n_pages, i in zip(pdf["k"], pdf["n_pages"], pdf["i"]):
                k, n_pages, i = int(k), int(n_pages), int(i)
                host = spec.host_name(k)
                status, mode = fetch_status(spec, k, i)
                if spec.is_mc(k):
                    emit(page_url(spec, k, i, n_pages), host, mc_page_html(spec, k, i, n_pages), status, mode, "modern_campus")
                    for c in range(3):
                        j = 10 * i + c
                        emit(mc_preview_url(spec, k, j), host, mc_preview_html(spec, k, j), 200, "static", "modern_campus_preview")
                else:
                    template = "generic_list" if i < max(2, n_pages // 6) else "generic_detail"
                    emit(page_url(spec, k, i, n_pages), host, generic_page_html(spec, k, i, n_pages), status, mode, template)
                    r = _h(spec.seed, "decoy", host, i)
                    if r % 4 == 0:
                        emit(f"https://{host}/catalog/search?q=term{r % 50}", host, aux_page_html(spec, host, "search", r % 50), 200, "static", "aux")
                    if r % 5 == 0:
                        emit(f"https://{host}/catalog/archive/old{i}.html", host, aux_page_html(spec, host, "archive", i), 200, "static", "aux")
            yield pd.DataFrame(out)

    # the dedup shuffle lands in spark.sql.shuffle.partitions — re-spread
    # afterwards so the written table carries `partitions` files/row-groups
    # (scan splits = files; a 4-file world serializes every reader)
    return idx.mapInPandas(gen, PAGES_SCHEMA).dropDuplicates(["url"]).repartition(parts)


def build_urls_spark(
    spark: SparkSession, spec: WorldSpec, partitions: int | None = None
) -> DataFrame:
    """URL list of the world WITHOUT rendering html — (url, host, is_mc).

    The fetch-throughput bench pairs this with SpecTransport: the wave
    side stays tiny while pages are regenerated executor-side inside the
    fetch UDF, so worlds 10-100x bigger than the parquet one are cheap
    (no multi-GB html materialization anywhere)."""
    sizes = spec.host_sizes()
    dim = local_frame(
        spark, [(k, sizes[k]) for k in range(spec.n_hosts)], "k int, n_pages int"
    )
    idx = dim.select(
        "k", "n_pages", F.explode(F.sequence(F.lit(0), F.col("n_pages") - 1)).alias("i")
    )
    parts = partitions or spark.sparkContext.defaultParallelism
    idx = idx.repartition(parts, F.col("k"), F.col("i"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, hosts, mcs = [], [], []
            for k, n_pages, i in zip(pdf["k"], pdf["n_pages"], pdf["i"]):
                k, n_pages, i = int(k), int(n_pages), int(i)
                urls.append(page_url(spec, k, i, n_pages))
                hosts.append(spec.host_name(k))
                mcs.append(spec.is_mc(k))
            yield pd.DataFrame({"url": urls, "host": hosts, "is_mc": mcs})

    return idx.mapInPandas(gen, "url string, host string, is_mc boolean")
