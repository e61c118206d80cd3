"""Snapshot-table semantics: append/overwrite/merge commits, time travel,
tags, bucket-scoped merge rewrites."""

import pytest
from pyspark.sql import functions as F

from course_scraper_spark.storage.snaptable import SnapshotTable


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t1"))
    s1 = t.append(spark.createDataFrame([(1, "a")], ["id", "v"]), tag="first")
    s2 = t.append(spark.createDataFrame([(2, "b")], ["id", "v"]))
    assert rows(t.read()) == [(1, "a"), (2, "b")]
    assert rows(t.read(snapshot_id=s1)) == [(1, "a")]
    assert rows(t.read(tag="first")) == [(1, "a")]
    assert s2 > s1


def test_overwrite_replaces_everything(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t2"))
    t.append(spark.createDataFrame([(1, "a")], ["id", "v"]))
    t.overwrite(spark.createDataFrame([(9, "z")], ["id", "v"]))
    assert rows(t.read()) == [(9, "z")]


def test_merge_upsert_semantics(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t3"))
    t.append(spark.createDataFrame([(1, "a", "old"), (2, "b", "keep")], ["id", "k", "v"]))
    src = spark.createDataFrame([(1, "a", "new"), (3, "c", "ins")], ["id", "k", "v"])
    t.merge(src, on=["id"], update_cols=["v"], insert=True)
    assert rows(t.read()) == [(1, "a", "new"), (2, "b", "keep"), (3, "c", "ins")]


def test_merge_insert_only(spark, tmp_path):
    # K1 semantics: WHEN NOT MATCHED INSERT, matched rows untouched
    t = SnapshotTable.create(spark, str(tmp_path / "t4"))
    t.append(spark.createDataFrame([(1, "orig")], ["id", "v"]))
    t.merge(spark.createDataFrame([(1, "CHANGED"), (2, "new")], ["id", "v"]), on=["id"], update_cols=[], insert=True)
    assert rows(t.read()) == [(1, "orig"), (2, "new")]


def test_merge_update_only(spark, tmp_path):
    # K2 semantics: WHEN MATCHED UPDATE, no inserts
    t = SnapshotTable.create(spark, str(tmp_path / "t5"))
    t.append(spark.createDataFrame([(1, True), (2, True)], ["id", "flag"]))
    t.merge(spark.createDataFrame([(2, False), (99, False)], ["id", "flag"]), on=["id"], update_cols=["flag"], insert=False)
    assert rows(t.read()) == [(1, True), (2, False)]


def test_bucketed_merge_touches_only_source_buckets(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t6"), bucket_col="host", n_buckets=8)
    base = spark.createDataFrame(
        [(f"h{i}.edu", f"u{i}", 0) for i in range(40)], ["host", "url", "n"]
    )
    t.append(base)
    src = spark.createDataFrame([("h3.edu", "u3", 99), ("h3.edu", "uNEW", 1)], ["host", "url", "n"])
    cid = t.merge(src, on=["host", "url"], update_cols=["n"], insert=True)
    commit = t.commits[cid]
    assert commit.op == "merge"
    assert commit.buckets is not None and len(commit.buckets) < 8  # scoped rewrite
    out = {(r.host, r.url): r.n for r in t.read().collect()}
    assert out[("h3.edu", "u3")] == 99
    assert out[("h3.edu", "uNEW")] == 1
    assert len(out) == 41
    assert out[("h7.edu", "u7")] == 0


def test_persistence_across_instances(spark, tmp_path):
    p = str(tmp_path / "t7")
    t = SnapshotTable.create(spark, p)
    t.append(spark.createDataFrame([(1,)], ["id"]), tag="w0")
    t2 = SnapshotTable(spark, p)
    assert rows(t2.read()) == [(1,)]
    assert t2.latest_tag("w")[0] == "w0"


def test_overwrite_then_scoped_merge_no_duplicates(spark, tmp_path):
    """Regression: a bucket-scoped merge after an overwrite must EXCLUDE
    the touched buckets from the overwrite dir at read time — otherwise
    those buckets' rows are read from both dirs and duplicated."""
    t = SnapshotTable.create(spark, str(tmp_path / "t8"), bucket_col="host", n_buckets=8)
    t.append(spark.createDataFrame([("seed.edu", "s", 0)], ["host", "url", "n"]))
    base = spark.createDataFrame(
        [(f"h{i}.edu", f"u{i}", 0) for i in range(40)], ["host", "url", "n"]
    )
    t.overwrite(base)
    src = spark.createDataFrame([("h3.edu", "u3", 99), ("h3.edu", "uNEW", 1)], ["host", "url", "n"])
    t.merge(src, on=["host", "url"], update_cols=["n"], insert=True)
    got = [(r.host, r.url, r.n) for r in t.read().collect()]
    assert len(got) == len(set(got)) == 41, "no duplicated rows after overwrite->merge"
    out = dict(((h, u), n) for h, u, n in got)
    assert out[("h3.edu", "u3")] == 99 and out[("h3.edu", "uNEW")] == 1
    assert ("seed.edu", "s") not in out
    # untouched buckets still served from the overwrite dir
    assert out[("h7.edu", "u7")] == 0


def test_overwrite_merge_time_travel_still_exact(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t9"), bucket_col="host", n_buckets=4)
    base = spark.createDataFrame([(f"h{i}.edu", i) for i in range(12)], ["host", "n"])
    cid_ow = t.overwrite(base)
    t.merge(
        spark.createDataFrame([("h1.edu", 100)], ["host", "n"]),
        on=["host"], update_cols=["n"], insert=True,
    )
    # snapshot at the overwrite still reads the pre-merge values, once each
    old = [(r.host, r.n) for r in t.read(snapshot_id=cid_ow).collect()]
    assert sorted(old) == sorted((f"h{i}.edu", i) for i in range(12))


def test_expire_snapshots(spark, tmp_path):
    """Iceberg-style maintenance: expired snapshots' unique data dirs are
    deleted from disk, their reads raise, retained history still works."""
    import os

    from course_scraper_spark.storage.snaptable import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "exp"), bucket_col="host", n_buckets=4)
    mk = lambda i: spark.createDataFrame([(f"h{i}.edu", f"u{i}")], ["host", "url"])
    ids = [t.append(mk(i), tag=f"s{i}") for i in range(5)]
    t.overwrite(mk(99), tag="cut")  # makes the first appends' dirs dead
    t.append(mk(100), tag="tail")
    n_dirs_before = len(os.listdir(os.path.join(t.path, "data")))

    deleted = t.expire_snapshots(keep_last=2)  # retain only cut+tail... last 2 commits
    assert deleted  # the pre-overwrite append dirs are gone from disk
    n_dirs_after = len(os.listdir(os.path.join(t.path, "data")))
    assert n_dirs_after < n_dirs_before

    # latest read unaffected
    rows = sorted((r.host, r.url) for r in t.read().collect())
    assert rows == [("h100.edu", "u100"), ("h99.edu", "u99")]
    # retained time travel works; expired raises
    assert sorted(r.url for r in t.read(tag="tail").collect()) == ["u100", "u99"]
    import pytest as _pytest

    with _pytest.raises(KeyError, match="expired"):
        t.read(snapshot_id=ids[0])
    with _pytest.raises(KeyError, match="expired"):
        t.read(tag="s0")
    # a reloaded handle enforces the same horizon (persisted in the log)
    t2 = SnapshotTable(spark, t.path)
    with _pytest.raises(KeyError, match="expired"):
        t2.read(tag="s2")


@pytest.mark.parametrize("bucket_col", [None, "k2"])
@pytest.mark.parametrize("insert", [True, False])
def test_merge_null_key_matched(spark, tmp_path, bucket_col, insert):
    """Matching is null-safe end to end: a NULL key part matches NULL, so
    the row updates (it is neither kept stale, counted as an insert, nor
    dropped by the update-only form)."""
    t = SnapshotTable.create(spark, str(tmp_path / "nk"), bucket_col=bucket_col, n_buckets=4)
    schema = "k1 string, k2 string, v long"
    t.append(spark.createDataFrame([(None, "a", 0), ("x", "b", 0), ("y", "c", 0)], schema))
    src = spark.createDataFrame([(None, "a", 1), ("x", "b", 5), ("z", "d", 7)], schema)
    t.merge(src, on=["k1", "k2"], update_cols=["v"], insert=insert)
    want = [("x", "b", 5), ("y", "c", 0), (None, "a", 1)] + ([("z", "d", 7)] if insert else [])
    assert sorted(map(tuple, t.read().collect()), key=str) == sorted(want, key=str)
    assert t.last_commit_tally() == ((1 if insert else 0), 2)


def test_merge_keys_must_include_bucket_col(spark, tmp_path):
    """A MERGE joins within buckets, so keys that leave out the bucket
    column could match rows across buckets: it is refused."""
    t = SnapshotTable.create(spark, str(tmp_path / "bk"), bucket_col="host", n_buckets=4)
    t.append(spark.createDataFrame([("h.edu", "u", 0)], ["host", "url", "n"]))
    with pytest.raises(ValueError, match="bucket column"):
        t.merge(spark.createDataFrame([("h.edu", "u", 1)], ["host", "url", "n"]), on=["url"])


def test_merge_type_round_trip(spark, tmp_path):
    """Matched, target-only and inserted rows read back bit-exact: longs
    above 2**53 and nullable int/boolean columns never pass through
    float64. The table is bucketless, so every row goes through the
    merge (none is served from the old dir)."""
    big = 2**53 + 1
    schema = "id bigint, big bigint, n int, flag boolean, s string"
    t = SnapshotTable.create(spark, str(tmp_path / "types"))
    t.append(spark.createDataFrame(
        [(1, big, 1, True, "t1"), (2, None, None, None, None), (3, -big, 3, False, "t3")], schema
    ))
    src = spark.createDataFrame(
        [(1, big + 4, None, None, "s1"), (3, big + 6, 30, True, None), (big, big + 8, None, False, "s4")],
        schema,
    )
    t.merge(src, on=["id"], update_cols=["big", "n", "flag", "s"], insert=True)
    got = {r.id: tuple(r) for r in t.read().collect()}
    assert got == {
        1: (1, big + 4, None, None, "s1"),  # matched: source values, nulls included
        2: (2, None, None, None, None),  # target-only
        3: (3, big + 6, 30, True, None),  # matched
        big: (big, big + 8, None, False, "s4"),  # inserted
    }
    assert t.last_commit_tally() == (1, 2)
    assert t.read().dtypes == [
        ("id", "bigint"), ("big", "bigint"), ("n", "int"), ("flag", "boolean"), ("s", "string")
    ]


def test_write_path_job_counts(spark, tmp_path):
    """Each write is one pass and a read infers no schema. With AQE off a
    job is an action: a MERGE, an append and a read are one job each, a
    round commit two (AQE on, the same calls measured 2, 2 and 4 jobs)."""
    from course_scraper_spark.storage.crawl_state import CrawlStateStore

    sc = spark.sparkContext

    def mk(n, off):
        return spark.range(off, off + n).select(
            F.concat(F.lit("h"), (F.col("id") % 50).cast("string"), F.lit(".edu")).alias("host"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            F.lit(1).cast("long").alias("n"),
        )

    t = SnapshotTable.create(spark, str(tmp_path / "jobs"), bucket_col="host", n_buckets=32)
    t.append(mk(1500, 0))
    store = CrawlStateStore(spark, str(tmp_path / "state"))
    store.save_round(0, mk(300, 0).select("host", "url"), mk(300, 300).select("host", "url"), {"s": 0})
    calls = {
        "merge": lambda: t.merge(mk(1500, 750), on=["host", "url"], update_cols=["n"]),
        "append": lambda: t.append(mk(300, 5000)),
        "read": lambda: t.read().collect(),
        "save_round": lambda: store.save_round(
            1, mk(300, 600).select("host", "url"), mk(300, 900).select("host", "url"), {"s": 1}
        ),
    }
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    jobs = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"write-path-{name}", name)
            call()
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # the status store lags the jobs
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"write-path-{name}"))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert jobs == {"merge": 1, "append": 1, "read": 1, "save_round": 2}
    assert t.last_commit_tally() == (300, 0)
    assert t.read().count() == 1500 + 750 + 300


def test_schema_recorded_per_commit(spark, tmp_path):
    """Each commit records its dir's schema: an overwrite may change it,
    time travel reads the old one, and a log written before schemas were
    recorded falls back to inference."""
    import json
    import os

    t = SnapshotTable.create(spark, str(tmp_path / "sch"), bucket_col="host", n_buckets=4)
    old = t.overwrite(spark.createDataFrame([("a.edu", "u1")], ["host", "url"]))
    t.overwrite(spark.createDataFrame([("a.edu", "u2", True)], ["host", "url", "is_mc"]))
    assert t.read(snapshot_id=old).columns == ["host", "url"]
    assert [tuple(r) for r in t.read().collect()] == [("a.edu", "u2", True)]

    with open(os.path.join(t.path, "snapshots.json")) as f:
        log = json.load(f)
    for c in log["commits"]:
        c.pop("schema", None)
    with open(os.path.join(t.path, "snapshots.json"), "w") as f:
        json.dump(log, f)
    legacy = SnapshotTable(spark, t.path)
    assert [tuple(r) for r in legacy.read().collect()] == [("a.edu", "u2", True)]
    assert [tuple(r) for r in legacy.read(snapshot_id=old).collect()] == [("a.edu", "u1")]
