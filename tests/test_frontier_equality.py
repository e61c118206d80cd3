"""Crawl-equality: the Spark wave-loop frontier reproduces the reference
BFS exactly — final sorted seen set (crawler.py:63), exact visit order,
per-URL depth — for every source in the fixture world, including the
Modern-Campus branch, fetch failures, depth guards and scope overrides."""

import pytest

from course_scraper_spark.operators.frontier import crawl_sources
from course_scraper_spark.oracle.crawl import PageStore, oracle_crawl


@pytest.fixture(scope="module")
def crawl_result(spark, sources, pages):
    return crawl_sources(spark, sources, pages)


@pytest.fixture(scope="module")
def store(pages_pdf):
    return PageStore(pages_pdf)


def test_no_failed_sources(crawl_result):
    assert crawl_result.failed_sources == []


def test_seen_set_equality(crawl_result, sources, store):
    for s in sources:
        oracle = oracle_crawl(s, store)
        assert crawl_result.seen_urls(s.source_id) == oracle.seen_sorted, s.source_id


def test_visit_order_equality(crawl_result, sources, store):
    for s in sources:
        oracle = oracle_crawl(s, store)
        assert crawl_result.visit_order(s.source_id) == oracle.visit_order, s.source_id


def test_mc_previews_not_visited(crawl_result, sources, store):
    mc = [s for s in sources if "mc-catalog" in s.root_url]
    assert mc, "fixture must include a Modern-Campus host"
    s = mc[0]
    oracle = oracle_crawl(s, store)
    visited = {u for u, _ in oracle.visit_order}
    previews = [u for u in oracle.seen_sorted if "preview_course_nopop.php" in u]
    assert previews, "MC host must yield preview URLs"
    assert not visited & set(previews)
    got_seen = set(crawl_result.seen_urls(s.source_id))
    assert set(previews) <= got_seen


def test_failed_fetches_stay_in_seen(crawl_result, sources, store):
    any_failed = False
    for s in sources:
        oracle = oracle_crawl(s, store)
        if oracle.failed:
            any_failed = True
            assert set(oracle.failed) <= set(crawl_result.seen_urls(s.source_id))
    assert any_failed, "fixture should exercise the fetch-failure path"
