"""Round-6 optimization harness (bench.py is FROZEN for measurement —
this file carries the extra instrumentation the optimization guide asks
for: per-query noop-sink isolation, .explain("formatted") capture, and
single-query timing that mirrors bench.py's .count() methodology).

Usage:
  python bench_extra.py plans [out_dir] [name ...]   # dump explain() per query
  python bench_extra.py time  [n_runs] [name ...]    # bench.py-style .count() timing
  python bench_extra.py noop  [n_runs] [name ...]    # noop-sink timing (every column)
  python bench_extra.py large [name ...]             # large_world single ops (bench.py shape)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from course_scraper_spark.session import get_spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"bench-extra-{mode}")
    try:
        run(spark, mode, sf_dir)
    finally:
        spark.stop()


def run(spark, mode: str, sf_dir: str) -> None:
    qs = entrymod.queries()

    if mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        names = sys.argv[3:] or list(qs)
        os.makedirs(out_dir, exist_ok=True)
        suffix = os.environ.get("PLAN_SUFFIX", "before")
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        return

    if mode in ("time", "noop"):
        n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        names = sys.argv[3:] or list(qs)
        out = {}
        for name in names:
            rs = []
            for _ in range(n_runs):
                spark.sparkContext.setJobDescription(f"{mode}:{name}")
                t0 = time.time()
                if mode == "time":
                    qs[name](spark, sf_dir).count()
                else:
                    _noop(qs[name](spark, sf_dir))
                rs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {"runs": rs, "median": sorted(rs)[len(rs) // 2]}
            print(f"{name}: median {out[name]['median']}s runs {rs}", flush=True)
        print(json.dumps({k: v["median"] for k, v in out.items()}))
        entrymod.shingle_cache_clear()
        return

    if mode == "large":
        import bench

        names = set(sys.argv[2:])
        # reuse bench.py's large_world_bench wholesale, optionally filtered
        # by monkey-patching nothing: just run it and print
        res = bench.large_world_bench(spark, sf_dir)
        if names:
            res["timings"] = {k: v for k, v in res["timings"].items() if k in names}
            res["runs"] = {k: v for k, v in res["runs"].items() if k in names}
        print(json.dumps(res))
        return

    raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
