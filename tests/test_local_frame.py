"""``session.local_frame``: driver rows become an Arrow ``LocalRelation``
with the same rows and schema as ``createDataFrame(<list>)``, and the
engine builds no DataFrame from Python rows any other way, so a session
runs one Python worker daemon, not two."""

import ast
import os
import subprocess
import sys
import textwrap

import pytest

from course_scraper_spark.config import SOURCE_SCHEMA
from course_scraper_spark.operators.frontier import SEEN_SCHEMA
from course_scraper_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DIM_DDL = (
    "source_id string, is_mc boolean, scope_domain string, root_path string, "
    "include_external boolean, excl_regex string, max_depth int"
)

CASES = {
    "seen": (SEEN_SCHEMA, [
        ("s1", "https://a.edu/", "a.edu", 0, 1, True),
        ("s1", "https://a.edu/x", None, None, None, False),
    ]),
    "dim": (DIM_DDL, [
        ("s1", True, "a.edu", "/", False, None, 3),
        ("s2", False, None, "/cat", True, r"\.pdf$", 0),
    ]),
    "base": ("source_id string, base long", [("s1", 1), ("s2", 2**40), (None, None)]),
    "offsets": ("`source_id` string, _pid int, _offset long", [("s1", 0, 0), ("s1", 3, 17), ("s2", 1, 2**33)]),
    "cc_bigint": ("node bigint, comp bigint", [(1, 1), (7, 1), (2**50, 2**50)]),
    "cc_string": ("node string, comp string", [("b", "a"), ("a", "a")]),
    "sources": (SOURCE_SCHEMA, [
        ("s1", "one", "generic", "https://a.edu/", None, True, 2, 30, 4, None, ["/pdf/"], None),
        ("s2", "two", None, "https://b.edu/", "https://b.edu/s", None, None, None, None, "x", None, 10),
    ]),
}


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", list(CASES))
def test_rows_and_schema_equal_create_dataframe(spark, case, empty):
    schema, rows = CASES[case]
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_plan_is_local_relation(spark):
    for rows in ([("s1", 1)], []):
        df = local_frame(spark, rows, "source_id string, base long")
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"


def test_null_in_non_nullable_field_raises(spark):
    rows = [(None, "https://a.edu/", "a.edu", 0, 1, True)]
    with pytest.raises(ValueError):
        spark.createDataFrame(rows, SEEN_SCHEMA)
    with pytest.raises(ValueError):
        local_frame(spark, rows, SEEN_SCHEMA)


def test_engine_has_no_other_create_dataframe():
    """Every DataFrame the package builds from driver rows goes through
    ``local_frame``: a ``createDataFrame(<list>)`` would start a second
    Python daemon for its pickled RDD."""
    hits = []
    pkg = os.path.join(REPO, "course_scraper_spark")
    for dirpath, _, names in os.walk(pkg):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            allowed = {
                id(n)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
            hits += [
                f"{os.path.relpath(path, REPO)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ]
    assert hits == []


def test_crawl_and_union_find_run_one_python_daemon(tmp_path):
    """A fresh session that crawls (join fetch) and runs the driver-side
    union-find holds one Python worker factory (one daemon)."""
    script = textwrap.dedent(
        """
        from course_scraper_spark.operators.dedup import connected_components
        from course_scraper_spark.operators.frontier import crawl_sources
        from course_scraper_spark.session import get_spark, local_frame
        from course_scraper_spark.synth.spark_world import build_pages_spark
        from course_scraper_spark.synth.world import WorldSpec, build_sources

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        try:
            spec = WorldSpec(n_hosts=2, total_pages=40)
            pages = build_pages_spark(spark, spec, partitions=2).cache()
            res = crawl_sources(spark, build_sources(spec), pages)
            print("seen", res.seen.count())
            pairs = local_frame(spark, [(1, 2), (2, 3), (5, 4)], "doc_a bigint, doc_b bigint")
            cc = connected_components(pairs, method="union_find")
            print("cc", sorted(tuple(r) for r in cc.collect()))
            print("factories", spark._jvm.org.apache.spark.SparkEnv.get().pythonWorkers().size())
        finally:
            spark.stop()
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "cc [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]" in proc.stdout
    assert "factories 1" in proc.stdout, proc.stdout
