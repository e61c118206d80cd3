"""Benchmark of the course_scraper_spark engine.

    python3 perfbench/run.py --workload recrawl_http --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every input is generated from
``--seed``, on ``local[<usable cores>]``. Workloads (see BENCHMARK.json
for why each exists):

* ``recrawl_http`` — perfbench/recrawl.py
* ``corpus_dedup`` — perfbench/corpus.py

A run times a pure-CPU host control, starts the session, prepares what
only the harness needs (untimed), sets the workload up three times
(``setup_s`` = session start + the median set-up) and builds the
oracle. ``--trace 0`` then runs timed passes until ``--seconds`` have
elapsed (one pass, the JVM's first, at the workloads' sizes: a batch
job starts in a new JVM), checks every pass against the oracles and
reports the median wall time. ``--trace 1`` runs an untraced pass, a
traced pass (a span per layer call, Spark counters per span) and
another untraced pass, then the first pass on one core in a new
process, and reports the per-layer metrics; a layer the workload does
not run reads 0. The last stdout line is the JSON result; a summary
goes to stderr and the full report (every pass, phases, host control;
spans of the traced pass) to ``.bench_out/``. Exits non-zero, printing
no result, when the engine cannot be imported or no pass completes.
"""
from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
OUT_DIR = os.path.join(ROOT, ".bench_out")

WORKLOADS = {
    "recrawl_http": ("perfbench.recrawl", "RecrawlHttp"),
    "corpus_dedup": ("perfbench.corpus", "CorpusDedup"),
}

# set-up runs this often per untraced run; setup_s reports the median
SETUP_REPS = 3


def contract() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric units by name, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@contextlib.contextmanager
def phase(report: dict, name: str):
    """Adds the block's wall time to ``report['phases_s'][name]``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        ph = report.setdefault("phases_s", {})
        ph[name] = ph.get(name, 0.0) + time.perf_counter() - t0


def one_pass(wl, spark, inp, pass_dir, report, fresh=True, **kw):
    """Fresh tables, one timed pass, the oracle check. Returns the pass
    result, or None when the pass raised."""
    if fresh:
        wl.fresh_tables(pass_dir)
    entry = {"dir": os.path.basename(pass_dir)}
    report["passes"].append(entry)
    try:
        res = wl.run_pass(spark, inp, pass_dir, **kw)
        with phase(report, "check"):
            bad = wl.check(spark, res)
    except Exception:
        entry["error"] = traceback.format_exc()
        log(f"pass raised:\n{entry['error']}")
        return None
    entry["wall_s"] = res["wall"]
    entry["mismatches"] = bad
    for b in bad:
        log(f"oracle mismatch: {b}")
    res["ok"] = not bad
    return res


def untraced(wl, spark, inp, args, report):
    """Passes until ``--seconds`` have elapsed, at least one; (walls,
    attempted, failed). The first pass is the session's first: with the
    workloads' sizes it takes longer than ``--seconds`` on its own."""
    start = time.perf_counter()
    walls, attempted, failed = [], 0, 0
    while True:
        res = one_pass(wl, spark, inp, os.path.join(wl.work, f"pass{attempted}"), report)
        attempted += 1
        if res is None or not res["ok"]:
            failed += 1
        if res is not None:
            walls.append(res["wall"])
        if time.perf_counter() - start >= args.seconds:
            return walls, attempted, failed


def single_core(args) -> dict:
    """The single-core baseline: this script in a new process (so a new
    JVM) on one core, with one set-up and one timed pass. Returns its
    JSON result."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--baseline-cores", "1"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"the single-core baseline exited with {out.returncode}")
    return json.loads(lines[-1])


def traced(wl, spark, inp, args, report, cores, per_layer):
    """Untraced pass A, traced pass T and untraced pass B on the session,
    then the single-core baseline; (metrics, attempted, failed).

    A is the JVM's first pass, as the end-to-end runs' timed pass is. The
    baseline's timed pass is the first of a new JVM too, so
    ``scaling.eff_1to4`` compares two passes in the same state.
    ``trace_overhead_s`` is T minus B, the untraced pass after it:
    neither is a JVM's first pass. Stops the session."""
    from perfbench import harness
    from perfbench.trace import Tracer, patched

    with phase(report, "untraced_pass"):
        res_a = one_pass(wl, spark, inp, os.path.join(wl.work, "untraced_a"), report)
    tracer = Tracer(spark, f"{wl.name}-{args.seed}")
    api, patches = wl.traced_api(tracer)
    pass_dir = os.path.join(wl.work, "traced")
    wl.fresh_tables(pass_dir)
    hooks = wl.trace_hooks(spark, tracer, pass_dir)
    with phase(report, "traced_pass"), patched(patches):
        with tracer.span(f"{wl.name}.pass", "pass") as root:
            res_t = one_pass(wl, spark, inp, pass_dir, report, fresh=False,
                             api=api, crawl_kw=hooks.get("crawl_kw"))
    with phase(report, "untraced_pass"):
        res_b = one_pass(wl, spark, inp, os.path.join(wl.work, "untraced_b"), report)
    runs = [res_a, res_t, res_b]
    if any(r is None for r in runs):
        raise RuntimeError("an untraced or the traced pass raised")

    m = {k: 0.0 for k in per_layer}
    with phase(report, "layer_metrics"):
        m.update(wl.layer_metrics(spark, tracer, res_t, hooks, cores, root))
    tracer.release()
    m["trace_overhead_s"] = res_t["wall"] - res_b["wall"]
    m["trace.unattributed_s"] = tracer.self_time(root)
    report["layer_self_s"] = tracer.layer_self_times(root)
    report["walls_s"] = {"untraced_a": res_a["wall"], "traced": res_t["wall"], "untraced_b": res_b["wall"]}
    tracer.dump(
        os.path.join(OUT_DIR, f"trace-{wl.name}-{args.seed}.json"),
        {"workload": wl.name, "seed": args.seed, "metrics": m},
    )

    with phase(report, "one_core"):
        harness.stop_spark(report.pop("spark"))
        base = single_core(args)
    wall_1 = base["metrics"]["wall_s"]["value"]
    report["walls_s"]["one_core"] = wall_1
    m["scaling.eff_1to4"] = wall_1 / (cores * res_a["wall"])
    failed = sum(not r["ok"] for r in runs) + base["failed"]
    return m, len(runs) + base["attempted"], failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the traced run's single-core baseline (see single_core)
    ap.add_argument("--baseline-cores", type=int, default=0, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    try:
        import course_scraper_spark  # noqa: F401
        import pyspark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    from perfbench import harness

    end_to_end, per_layer = contract()
    mod_name, cls_name = WORKLOADS[args.workload]
    cores = args.baseline_cores or harness.cpu_count()
    one_setup = bool(args.trace or args.baseline_cores)
    work = os.path.join(harness.work_root(), f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.rmtree(work)
    harness.prepare_process_env(work)
    wl = getattr(importlib.import_module(mod_name), cls_name)(args.seed, work)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, "passes": []}
    with phase(report, "host_control"):
        report["host_control"] = harness.host_control(cores)
    try:
        with harness.RssSampler() as rss:
            with phase(report, "session"):
                report["spark"] = harness.start_spark(cores, trace=bool(args.trace))
                report["spark"].range(1).count()
            spark = report["spark"]
            with phase(report, "before_setup"):
                wl.before_setup()
            setup_times, inp = [], None
            for _ in range(1 if one_setup else SETUP_REPS):
                if inp is not None:
                    wl.release(inp)
                t = time.perf_counter()
                inp = wl.setup(spark)
                setup_times.append(time.perf_counter() - t)
            report["setup_reps_s"] = setup_times
            with phase(report, "oracle"):
                wl.prepare_check(spark)
            if args.trace:
                metrics, attempted, failed = traced(
                    wl, spark, inp, args, report, cores, per_layer
                )
                metrics["host.control_s"] = report["host_control"]["control_s"]
                metrics["host.control_eff"] = report["host_control"]["control_eff"]
                units = per_layer
            else:
                walls, attempted, failed = untraced(wl, spark, inp, args, report)
                if not walls:
                    log("no pass completed")
                    return 1
                wall = statistics.median(walls)
                metrics = {
                    "wall_s": wall,
                    "items_per_s": wl.items / wall,
                    "setup_s": report["phases_s"]["session"] + statistics.median(setup_times),
                }
                units = end_to_end
    finally:
        with phase(report, "stop"):
            if report.get("spark") is not None:
                harness.stop_spark(report.pop("spark"))
            harness.rmtree(work)
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb

    report["metrics"] = metrics
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-{args.seed}-trace{args.trace}" + ("-baseline" if args.baseline_cores else "")
    with open(os.path.join(OUT_DIR, f"report-{name}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    log(f"{args.workload} seed={args.seed} passes={len(report['passes'])} "
        + " ".join(f"{k}={v:.4g}" for k, v in {**report["phases_s"], **metrics}.items()))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
