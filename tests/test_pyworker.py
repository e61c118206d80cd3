"""The engine's Python worker daemon (``course_scraper_spark.pyworker``):
zip directories are re-read only when the archive changed, local sessions
fork their UDF workers from it, and the Unix-domain socket dir is pinned
so a long ``java.io.tmpdir`` cannot overflow the socket path."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd

from course_scraper_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    try:
        assert importlib.import_module("pyworker_zmod_a").X == 1
        importlib.invalidate_caches()  # first call: this process has no read on record
        n = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == n  # unchanged: not re-read

        _write_zip(archive, {"pyworker_zmod_a": "X = 1\n", "pyworker_zmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1  # rewritten in place: re-read once
        assert importlib.import_module("pyworker_zmod_b").Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
    finally:
        for name in ("pyworker_zmod_a", "pyworker_zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_udf_runs_under_engine_daemon(spark):
    def main_module(batches):
        import sys

        for _ in batches:
            yield pd.DataFrame({"main": [sys.modules["__main__"].__spec__.name]})

    got = spark.range(1, numPartitions=1).mapInPandas(main_module, "main string").collect()
    assert [r.main for r in got] == ["course_scraper_spark.pyworker"]


def test_long_tmpdir_session_runs_udf(tmp_path):
    """Spark puts Unix-domain sockets under ``java.io.tmpdir`` unless the
    dir is pinned; a path over ~108 bytes fails the session at start."""
    long_tmp = tmp_path / ("t" * max(1, 101 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) > 100
    script = textwrap.dedent(
        """
        from course_scraper_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        try:
            df = spark.range(3, numPartitions=1)
            print("rows", df.mapInArrow(lambda it: it, df.schema).count())
        finally:
            spark.stop()
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={long_tmp}",
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 3" in proc.stdout


def test_workers_import_package_from_any_cwd(tmp_path):
    """A driver that puts the repo on its own ``sys.path`` only, started
    from another directory with ``PYTHONPATH`` unset: local sessions give
    the workers the package's parent dir, so the daemon and a UDF that
    imports the package both start."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from course_scraper_spark.session import get_spark

        def udf(it):
            from course_scraper_spark.functions import urls
            for pdf in it:
                yield pdf.assign(mod=urls.__name__)

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        try:
            df = spark.range(2, numPartitions=1)
            print("mods", sorted({{r.mod for r in df.mapInPandas(udf, "id long, mod string").collect()}}))
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "mods ['course_scraper_spark.functions.urls']" in proc.stdout
