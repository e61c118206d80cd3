"""Salted repartitioning: hot hosts fan out across salt shards, cold
hosts keep one shard, row set is untouched; the fetch-join broadcast
guard flips plan shape on the wave-size threshold; the crawl is
bit-identical with salting + shuffle-join on."""

import pytest
from pyspark.sql import functions as F

from course_scraper_spark.operators import frontier
from course_scraper_spark.operators.frontier import _fetch_join, crawl_sources
from course_scraper_spark.operators.salting import hot_keys, salted_repartition


@pytest.fixture(scope="module")
def zipf_frontier(spark):
    # mega.edu owns 80% of the frontier; tail hosts a handful each
    rows = [("mega.edu", f"https://mega.edu/p{i}") for i in range(4000)] + [
        (f"t{j}.edu", f"https://t{j}.edu/p{i}") for j in range(20) for i in range(50)
    ]
    return spark.createDataFrame(rows, ["host", "url"])


def test_hot_keys_detects_mega_host(zipf_frontier):
    hot = {r.host for r in hot_keys(zipf_frontier, "host", threshold=1000).collect()}
    assert hot == {"mega.edu"}


def test_salted_repartition_spreads_hot_only(zipf_frontier):
    out = salted_repartition(zipf_frontier, "host", n_salts=8, threshold=1000, num_partitions=16)
    pid = out.withColumn("_pid", F.spark_partition_id())
    spread = (
        pid.groupBy("host")
        .agg(F.countDistinct("_pid").alias("n_parts"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_host = {r.host: r for r in spread}
    assert by_host["mega.edu"].n_parts > 1, "hot host must fan out"
    for j in range(20):
        assert by_host[f"t{j}.edu"].n_parts == 1, "cold host keeps one shard"
    # no row gained/lost/dup'd
    assert out.count() == zipf_frontier.count()
    assert out.exceptAll(zipf_frontier).count() == 0


def test_salted_max_partition_share_drops(zipf_frontier):
    """The straggler metric: largest partition's row share must fall from
    ~the hot host's share to ~1/n_salts of it."""
    def max_share(df):
        sizes = (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").count().agg(F.max("count")).collect()[0][0]
        )
        return sizes / df.count()

    unsalted = zipf_frontier.repartition(16, F.col("host"))
    salted = salted_repartition(zipf_frontier, "host", n_salts=8, threshold=1000, num_partitions=16)
    assert max_share(unsalted) >= 0.5
    assert max_share(salted) < 0.35


def test_fetch_join_plan_shapes(spark):
    wave = spark.createDataFrame(
        [("s", f"https://h.edu/p{i}", i, 0, False) for i in range(50)],
        "source_id string, url string, seq long, depth int, is_mc boolean",
    )
    pages = spark.createDataFrame(
        [(f"https://h.edu/p{i}", "h.edu", "<html></html>", 200, "static") for i in range(50)],
        "p_url string, host string, html string, status_code int, fetch_mode string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bc = _fetch_join(wave, pages, wave_rows=50, broadcast_threshold=1000)
        assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
        sh = _fetch_join(wave, pages, wave_rows=50, broadcast_threshold=10)
        assert "BroadcastHashJoin" not in sh._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_shuffle_crawl_identical(spark, sources, pages, monkeypatch):
    """Salting + shuffle-path fetch join are physical-only: seen set and
    visit order match the plain crawl bit-for-bit."""
    plain = crawl_sources(spark, sources, pages)
    monkeypatch.setattr(frontier, "BROADCAST_WAVE_THRESHOLD", 0)
    tweaked = crawl_sources(spark, sources, pages, salt_hosts_threshold=1)
    for s in sources:
        assert tweaked.seen_urls(s.source_id) == plain.seen_urls(s.source_id)
        assert tweaked.visit_order(s.source_id) == plain.visit_order(s.source_id)
