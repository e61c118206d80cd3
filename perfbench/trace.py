"""Span tracing from outside the program.

A :class:`Tracer` records one span per call into a layer's public
function (name, layer, start, end, parent, run id). Each span runs under
its own Spark job group, so the jobs, stages, tasks, shuffle bytes and
executor times Spark's application status store keeps per job can be
charged to the innermost span that triggered them. Spans stay in memory
and are written out once, at the end.

:func:`patched` swaps module or class attributes for traced wrappers
for the length of a ``with`` block and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "run_ms", "cpu_ns", "gc_ms")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        rec["group"] = f"{self.run_id}-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, layer: str, after=None):
        """Traced stand-in for ``fn``. ``after(out, rec, args, kwargs)``
        runs inside the span: it materializes what the layer returned (so
        lazy work is charged to the layer that defined it), records
        counts in ``rec['attrs']`` and may return a stand-in for ``out``
        (the materialized DataFrame) that the caller then gets."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    swapped = after(out, rec, args, kwargs)
                    if swapped is not None:
                        out = swapped
                return out

        return traced

    def materialize(self, df):
        """``df`` persisted and counted, so the engine's later actions on
        it read the cache instead of repeating the work; (df, rows).
        :meth:`release` drops these caches."""
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- analysis ------------------------------------------------------------

    def attach_counters(self, spark) -> None:
        """Read per-job-group counters from the status store; each span
        gets its own (``self``) counters and its subtree's (``incl``)."""
        per_group = status_counters(spark)
        for s in self.spans:
            s["self_counters"] = dict(per_group.get(s["group"], {c: 0 for c in COUNTERS}))
        for s in sorted(self.spans, key=lambda s: -s["id"]):
            incl = dict(s["self_counters"])
            for c in self.children(s):
                for k in COUNTERS:
                    incl[k] += c["incl_counters"][k]
            s["incl_counters"] = incl

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_end = 0.0, None
        for c in sorted(self.children(span), key=lambda c: c["start"]):
            start = c["start"] if cur_end is None else max(c["start"], cur_end)
            if c["end"] > start:
                covered += c["end"] - start
            cur_end = c["end"] if cur_end is None else max(cur_end, c["end"])
        return (span["end"] - span["start"]) - covered

    def subtree(self, root: dict) -> list[dict]:
        ids, out = {root["id"]}, [root]
        for s in self.spans:  # parents come before their children
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def layer_self_times(self, root: dict | None = None) -> dict[str, float]:
        """Self time per layer over every span, or over ``root``'s subtree."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans if root is None else self.subtree(root):
            out[s["layer"]] += self.self_time(s)
        return dict(out)

    def layer_counters(self, layer: str) -> dict[str, int]:
        """Self counters summed over every span of ``layer``."""
        tot = {k: 0 for k in COUNTERS}
        for s in self.spans:
            if s["layer"] == layer:
                for k in COUNTERS:
                    tot[k] += s["self_counters"][k]
        return tot

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            r = {k: v for k, v in s.items() if k not in ("start", "end")}
            r["start_s"] = s["start"] - t0
            r["end_s"] = s["end"] - t0
            r["self_s"] = self.self_time(s)
            rows.append(r)
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1, default=str)


def status_counters(spark) -> dict[str, dict[str, int]]:
    """Per job group: jobs, stages, tasks, shuffle write bytes, executor
    run time (ms), executor CPU time (ns) and JVM GC time (ms), read from
    the live application status store (serialized to JSON on the JVM
    side, as Spark's REST API does). A stage counts for the group of the
    first job that lists it."""
    jsc = spark.sparkContext._jsc.sc()
    with contextlib.suppress(Exception):
        jsc.listenerBus().waitUntilEmpty(10_000)
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    store = jsc.statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    quantiles = getattr(store, "stageList$default$4")()
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, quantiles, None))
    )
    out: dict[str, dict[str, int]] = defaultdict(lambda: {k: 0 for k in COUNTERS})
    stage_group: dict[int, str | None] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup")
        out[group]["jobs"] += 1
        for sid in j["stageIds"]:
            stage_group.setdefault(int(sid), group)
    for st in stages:
        c = out[stage_group.get(st["stageId"])]
        c["stages"] += 1
        c["tasks"] += st["numCompleteTasks"]
        c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        c["run_ms"] += st["executorRunTime"]
        c["cpu_ns"] += st["executorCpuTime"]
        c["gc_ms"] += st["jvmGcTime"]
    return dict(out)


@contextlib.contextmanager
def patched(replacements):
    """``replacements``: iterable of (owner, attribute, new value)."""
    saved = []
    try:
        for owner, attr, new in replacements:
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)
