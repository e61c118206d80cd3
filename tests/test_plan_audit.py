"""Plan contracts: pushdown reaches the parquet scan, column pruning
works, small dims broadcast, no accidental cartesian products."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from course_scraper_spark.plans import audit

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("n_chars") > 300).select("doc_id")
    pf = audit.pushed_filters(df)
    assert "GreaterThan(n_chars" in pf, pf


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    n = audit.scan_column_count(df)
    assert 0 < n <= 2, audit.read_schema(df)


def test_anti_join_query_broadcasts(spark):
    df = entrymod.q_task_anti_join(spark, SF)
    assert audit.has_broadcast_join(df)
    assert not audit.has_cartesian(df)


def test_no_cartesian_in_contract_queries(spark):
    qs = entrymod.queries()
    for name in ("q_merge_upsert", "q_first_occurrence_dedup", "q_exact_dedup", "q_token_stats"):
        df = qs[name](spark, SF)
        assert not audit.has_cartesian(df), name


def test_codegen_present_in_builtin_pipeline(spark):
    df = entrymod.q_token_stats(spark, SF)
    assert audit.codegen_stage_count(df) >= 1


def test_robots_disallow_is_pure_codegen(spark):
    """The Disallow filter is Column algebra — no Python UDF node may
    appear in its plan (BatchEvalPython / ArrowEvalPython / mapInPandas)."""
    from course_scraper_spark.operators.robots import filter_disallowed

    frontier = spark.createDataFrame(
        [("a.edu", f"https://a.edu/p{i}") for i in range(100)], ["host", "url"]
    )
    robots = spark.createDataFrame(
        [("a.edu", 1.0, ["/private/"])], "host string, crawl_delay double, disallow array<string>"
    )
    plan = audit.plan_string(filter_disallowed(frontier, robots), "simple")
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas", "MapInPandas"):
        assert node not in plan, node
    assert audit.has_broadcast_join(filter_disallowed(frontier, robots))


def test_salted_repartition_single_shuffle(spark):
    """salting = hot-key count + ONE repartition exchange; the data path
    must not pick up extra exchanges."""
    from course_scraper_spark.operators.salting import salted_repartition

    df = spark.createDataFrame(
        [("h.edu", f"https://h.edu/p{i}") for i in range(1000)], ["host", "url"]
    )
    out = salted_repartition(df, "host", n_salts=4, threshold=10, num_partitions=8)
    plan = audit.plan_string(out, "simple")
    # exactly one REPARTITION exchange on the data path; the only other
    # exchange allowed is the hot-key count's partial-agg shuffle (tiny,
    # separate subtree feeding the broadcast)
    import re

    repartitions = re.findall(r"REPARTITION_BY_NUM", plan)
    assert len(repartitions) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan


def test_fused_fetch_is_single_python_stage(spark, spec, pages):
    """The fusion contract: fetch_extract_http is ONE MapInPandas node —
    page html never crosses the Arrow boundary — while the two-step form
    pays two Python stages with the html column between them."""
    from course_scraper_spark.operators.fetch import NO_SLEEP, fetch_extract_http, fetch_http
    from course_scraper_spark.operators.frontier import _LINKS_SCHEMA, _extract_links
    from course_scraper_spark.synth.transport import spec_transport_factory

    wave = (
        pages.select("url")
        .withColumn("source_id", F.lit("s"))
        .withColumn("seq", F.monotonically_increasing_id())
        .withColumn("depth", F.lit(0))
        .withColumn("is_mc", F.col("url").contains("mc-catalog"))
    )
    factory = spec_transport_factory(spec)
    fused_plan = audit.plan_string(fetch_extract_http(wave, factory, sleep_fn=NO_SLEEP), "simple")
    assert fused_plan.count("MapInPandas") == 1, fused_plan
    two_step = (
        fetch_http(wave, factory, sleep_fn=NO_SLEEP)
        .filter(F.col("ok"))
        .select(
            "source_id", F.col("url").alias("page_url"), F.col("seq").alias("parent_seq"),
            "depth", "html", "is_mc",
        )
        .mapInPandas(_extract_links, _LINKS_SCHEMA)
    )
    assert audit.plan_string(two_step, "simple").count("MapInPandas") == 2
