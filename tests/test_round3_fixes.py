"""Round-3 fixes: driver-collect hygiene, broadcast guards, crash-safe
round commits, IVF NaN guard + k-means centroids, LSH plane scaling."""

import math

import pytest
from pyspark.sql import functions as F

from course_scraper_spark.operators import similarity as S
from course_scraper_spark.plans import audit


# -- resolve_sources collects booleans, never html --------------------------


def test_root_probe_projects_no_html(spark, pages, sources):
    from course_scraper_spark.operators.frontier import _root_probe

    df = _root_probe(pages, [s.root_url for s in sources])
    assert df.columns == ["url", "status_code", "is_mc"]
    rows = {r.url: r.is_mc for r in df.collect()}
    assert any(rows.values())  # the MC host detected
    assert not all(rows.values())


# -- robots dim broadcast guard ---------------------------------------------


def _tiny_robots(spark):
    frontier = spark.createDataFrame(
        [("a.edu", f"https://a.edu/p{i}") for i in range(100)], ["host", "url"]
    )
    robots = spark.createDataFrame(
        [("a.edu", 1.0, ["/private/"])], "host string, crawl_delay double, disallow array<string>"
    )
    return frontier, robots


def test_robots_broadcast_guard_shapes(spark):
    from course_scraper_spark.operators.robots import filter_disallowed

    frontier, robots = _tiny_robots(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable Catalyst's size-based auto-broadcast so the plan shape
        # reflects OUR hint (or its absence) alone
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        below = filter_disallowed(frontier, robots, robots_rows=1, broadcast_threshold=100)
        above = filter_disallowed(frontier, robots, robots_rows=101, broadcast_threshold=100)
        assert audit.has_broadcast_join(below)
        assert not audit.has_broadcast_join(above)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # results identical at both shapes
    assert sorted(r.url for r in below.collect()) == sorted(r.url for r in above.collect())


def test_politeness_schedule_broadcast_guard(spark):
    from course_scraper_spark.operators.politeness import with_schedule
    from course_scraper_spark.operators import robots as R

    wave = spark.createDataFrame(
        [("a.edu", f"https://a.edu/p{i}", i + 1) for i in range(50)], ["host", "url", "seq"]
    )
    robots = spark.createDataFrame([("a.edu", 2.0)], "host string, crawl_delay double")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thresh = R.ROBOTS_BROADCAST_THRESHOLD
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        small = with_schedule(wave, robots, robots_rows=1)
        assert audit.has_broadcast_join(small)
        R.ROBOTS_BROADCAST_THRESHOLD = 0
        big = with_schedule(wave, robots, robots_rows=10)
        assert not audit.has_broadcast_join(big)
    finally:
        R.ROBOTS_BROADCAST_THRESHOLD = old_thresh
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert sorted((r.url, r.slot) for r in small.collect()) == sorted(
        (r.url, r.slot) for r in big.collect()
    )


# -- budgeted round commit is crash-safe ------------------------------------


def test_latest_round_skips_orphaned_seen_tag(spark, tmp_path):
    from course_scraper_spark.storage.crawl_state import CrawlStateStore

    store = CrawlStateStore(spark, str(tmp_path / "bst"), n_buckets=4)
    seen0 = spark.createDataFrame(
        [("s", "https://a.edu/", "a.edu", 0, 1, True)],
        "source_id string, url string, host string, depth int, seq long, visited boolean",
    )
    pend0 = seen0.drop("visited")
    store.save_round(0, seen0, pend0, {"s": 1})
    store.save_round(1, seen0, pend0, {"s": 2})
    # simulate a crash between the two writes of round 2 — with the
    # frontier-first ordering the orphan is a frontier snapshot
    store.frontier.overwrite(pend0, tag="round_2", meta={"round": 2})
    rnd, seq_base, _snap = store.latest_round()
    assert rnd == 1 and seq_base == {"s": 2}
    # and an orphaned SEEN tag (old ordering / partial history) also falls back
    store2 = CrawlStateStore(spark, str(tmp_path / "bst2"), n_buckets=4)
    store2.save_round(0, seen0, pend0, {"s": 1})
    store2.seen.append(seen0, tag="round_1", meta={"round": 1, "seq_base": {"s": 9}})
    rnd2, seq2, _ = store2.latest_round()
    assert rnd2 == 0 and seq2 == {"s": 1}


# -- IVF: NaN guard + deterministic k-means ---------------------------------


@pytest.fixture(scope="module")
def clustered_emb(spark):
    rows, vid = [], 0
    for c in range(3):
        base = [math.sin((c + 1) * 13.7 + j) for j in range(8)]
        n = math.sqrt(sum(v * v for v in base))
        base = [v / n for v in base]
        for k in range(12):
            rows.append((vid, [x + 0.02 * math.sin(vid * 7.3 + j) for j, x in enumerate(base)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_ivf_zero_norm_centroid_captures_nothing(clustered_emb):
    zero = [0.0] * 8
    real = [1.0 / math.sqrt(8)] * 8
    assigned, _ = S.ivf_assign(clustered_emb, n_lists=2, centroids=[(0, zero), (1, real)])
    # NaN cosine vs the zero centroid maps to -2.0 — it must never win argmax
    assert assigned.filter(F.col("ivf_list") == 0).count() == 0


def test_kmeans_centroids_deterministic_and_bounded(clustered_emb):
    c1 = S.kmeans_centroids(clustered_emb, n_lists=3)
    c2 = S.kmeans_centroids(clustered_emb, n_lists=3)
    assert c1 == c2
    with pytest.raises(ValueError, match="4096"):
        S.kmeans_centroids(clustered_emb, n_lists=5000)


def test_kmeans_ivf_separates_clusters_and_recalls(clustered_emb):
    assigned, cents = S.ivf_assign(clustered_emb, n_lists=3)
    # k-means on 3 tight clusters: every cluster lands whole in one list
    lists = {
        r.vec_id // 12: r.ivf_list for r in assigned.select("vec_id", "ivf_list").collect()
    }
    per_cluster = {}
    for r in assigned.collect():
        per_cluster.setdefault(r.vec_id // 12, set()).add(r.ivf_list)
    assert all(len(s) == 1 for s in per_cluster.values())
    assert len({next(iter(s)) for s in per_cluster.values()}) == 3
    # nprobe=1 recall: the true best for a query near cluster 1's center
    q = [float(x) for x in clustered_emb.filter(F.col("vec_id") == 13).first().embedding]
    best = S.brute_force_topk(clustered_emb, q, k=1).first().vec_id
    got = [r.vec_id for r in S.ivf_topk(clustered_emb, q, k=3, n_lists=3, nprobe=1).collect()]
    assert best in got


# -- LSH plane scaling -------------------------------------------------------


def test_planes_scale_with_corpus():
    assert S.planes_for_corpus(10_000, target_bucket_size=256) == 6
    assert S.planes_for_corpus(100_000, target_bucket_size=256) == 9
    # 10x corpus -> more buckets, never fewer
    assert S.planes_for_corpus(1_000_000) > S.planes_for_corpus(100_000)
    # 10^9 vectors: ~2^22 buckets, not 16
    assert S.planes_for_corpus(10 ** 9) == 22
    assert S.planes_for_corpus(10, target_bucket_size=256) == 4  # floor


def test_lsh_near_dup_derives_planes_and_guards_saturation(clustered_emb):
    # derived planes (None) still verifies with exact cosine — subset of
    # the pinned-plane result is not required (different buckets), but
    # every returned pair must truly clear the threshold
    got = S.lsh_near_dup_pairs(clustered_emb, dim=8, n_planes=None, threshold=0.99).collect()
    vecs = {r.vec_id: r.embedding for r in clustered_emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    assert all(cos(vecs[r.id_a], vecs[r.id_b]) >= 0.99 - 1e-9 for r in got)
    # saturation guard fires loudly when a bucket exceeds the cap
    with pytest.raises(RuntimeError, match="saturation"):
        S.lsh_near_dup_pairs(
            clustered_emb, dim=8, n_planes=1, threshold=0.99, max_bucket_rows=2
        )


def test_check_bucket_load_reports_max(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, _bucket int")
    assert S.check_bucket_load(df) == 10
    with pytest.raises(RuntimeError):
        S.check_bucket_load(df, max_bucket_rows=9)


# -- shingle cache hygiene ---------------------------------------------------


def test_shingle_cache_keys_on_app_id_and_clears(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    df = entrymod._shingles_shared(spark, sf)
    app_id = spark.sparkContext.applicationId
    assert (app_id, sf) in entrymod._SHINGLE_CACHE
    # a stale entry from a previous application gets evicted on next access
    entrymod._SHINGLE_CACHE[("dead-app", sf)] = df
    entrymod._shingles_shared(spark, sf)
    assert ("dead-app", sf) not in entrymod._SHINGLE_CACHE
    entrymod.shingle_cache_clear()
    assert not entrymod._SHINGLE_CACHE
