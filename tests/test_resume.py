"""Kill/resume: a crawl interrupted after round k and resumed from the
snapshot store finishes with state identical to an uninterrupted run
(SURVEY.md §5.4) — for every kill point, on both entry points."""

import pytest

from course_scraper_spark.operators.frontier import crawl_sources, crawl_sources_budgeted
from course_scraper_spark.storage.crawl_state import CrawlStateStore

KILL_POINTS = ["first", "middle", "last"]


def canon(df):
    return sorted(
        (r.source_id, r.url, r.depth, r.seq, r.visited)
        for r in df.select("source_id", "url", "depth", "seq", "visited").collect()
    )


def kill_round(result, kill: str) -> int:
    """Round to stop after: the first, a middle one, or the one before
    the last round that still adds URLs (the fixpoint comes after it)."""
    last = max(i for i, m in enumerate(result.metrics, 1) if m.new_urls)
    return {"first": 1, "middle": (last + 1) // 2, "last": last - 1}[kill]


@pytest.fixture(scope="module")
def full(spark, sources, pages):
    return crawl_sources(spark, sources, pages)


@pytest.fixture(scope="module")
def robots(spark, sources):
    hosts = [(s.root_url.split("/")[2], 1.0) for s in sources]
    return spark.createDataFrame(hosts, "host string, crawl_delay double")


@pytest.fixture(scope="module")
def full_budgeted(spark, sources, pages, robots):
    return crawl_sources_budgeted(spark, sources, pages, robots=robots, round_budget_s=8.0)


def check_bfs_resume(spark, sources, pages, tmp_path, full, kill):
    store = CrawlStateStore(spark, str(tmp_path / "state"), n_buckets=8)
    partial = crawl_sources(
        spark, sources, pages, state_store=store, max_waves=kill_round(full, kill)
    )
    n_partial = store.read_seen().count()

    resumed = crawl_sources(spark, sources, pages, state_store=store, resume=True)
    assert canon(resumed.seen) == canon(full.seen)
    assert resumed.seen.count() > n_partial  # the kill actually cut it short


def test_resume_equals_uninterrupted(spark, sources, pages, tmp_path, full):
    check_bfs_resume(spark, sources, pages, tmp_path, full, "middle")


@pytest.mark.parametrize("kill", ["first", "last"])
def test_resume_at_kill_point(spark, sources, pages, tmp_path, full, kill):
    check_bfs_resume(spark, sources, pages, tmp_path, full, kill)


@pytest.mark.parametrize("kill", KILL_POINTS)
def test_budgeted_resume_at_any_round(
    spark, sources, pages, robots, tmp_path, full_budgeted, kill
):
    kw = dict(robots=robots, round_budget_s=8.0)
    store = CrawlStateStore(spark, str(tmp_path / "bstate"), n_buckets=8)
    crawl_sources_budgeted(
        spark, sources, pages, state_store=store,
        max_rounds=kill_round(full_budgeted, kill), **kw,
    )
    n_partial = store.read_seen().count()

    resumed = crawl_sources_budgeted(
        spark, sources, pages, state_store=store, resume=True, **kw
    )
    assert canon(resumed.seen) == canon(full_budgeted.seen)
    assert resumed.seen.count() > n_partial


def test_resume_of_finished_crawl_is_noop(spark, sources, pages, tmp_path):
    store = CrawlStateStore(spark, str(tmp_path / "state2"), n_buckets=8)
    first = crawl_sources(spark, sources, pages, state_store=store)
    before = canon(store.read_seen())
    again = crawl_sources(spark, sources, pages, state_store=store, resume=True)
    assert canon(again.seen) == before
