"""Snapshot tables: Iceberg-style semantics over plain parquet.

The sandbox ships no Iceberg runtime jars, so this module implements the
subset of Iceberg behavior the engine's storage design needs — on a real
cluster every call here maps 1:1 onto an Iceberg catalog table
(``MERGE INTO``, snapshot reads, tags) and this file becomes a thin
wrapper; the engine code does not change.

Semantics provided:

* **append / overwrite / merge commits** with an append-only JSON
  snapshot log (atomic tmp+rename), each commit optionally *tagged*
  (``run_{id}_wave_{k}`` checkpoint tags — SURVEY.md §4.5).
* **snapshot / tag reads** (time travel) — the resume path.
* **bucket partitioning**: tables may declare ``bucket_col`` —
  rows carry ``_bucket = pmod(xxhash64(col), n_buckets)`` and a MERGE
  commits ONLY the buckets present in its source (partition-scoped
  rewrite = the Iceberg copy-on-write behavior). This is the explicit
  hash-partition-on-host design the north rule requires: url_seen and
  urls tables bucket by host, so a wave's MERGE rewrites just the hosts
  in that wave.
* **MERGE INTO** (storage.py:227-246 K1, :248-276 K2, merge_courses.py
  K6): match on key columns (null-safe), update named columns on match,
  insert unmatched source rows.

Every write is one pass: one scan of its inputs, one shuffle by
``_bucket`` and one parquet write. The row count, the set of buckets the
new dir holds and, for a MERGE, the insert/update tally are observed
(``DataFrame.observe``) on the frame being written, so no job reads the
output back. Each commit records its dir's schema, so reads skip parquet
schema inference (commits written before schemas were recorded fall
back to it).

A MERGE unions the target (with its stored ``_bucket``) and the source,
each row marked with its side, and repartitions the union by
``_bucket``; one Arrow call per partition then joins the sides on the
keys (null-safe: NULL matches NULL) and emits matched, target-only and
inserted rows with a status marker the tallies are observed from. The
target scan is NOT pruned to the source's buckets — the whole target is
shuffled, and rows of buckets the source does not touch are dropped
inside the Arrow call, so the commit lists only the buckets the output
holds. Values are moved with Arrow ``take``, never through pandas
dtypes, so longs and nullable columns round-trip exactly.

Reads reconstruct the live file set per bucket by replaying the log:
append adds a dir to a bucket's list, overwrite/merge replaces the
affected buckets' lists. A read filters each dir on its live buckets;
files hold whole buckets (every write shuffles by ``_bucket``), so
parquet min/max stats prune the filter.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, StructField, StructType

_LOG = "snapshots.json"
ALL = "__all__"
# MERGE row markers: the side a row came from, and the written row's outcome
_SIDE = "__merge_side"
_STATUS = "__merge_status"
_TARGET_ONLY, _MATCHED, _INSERTED = 0, 1, 2


@dataclass
class Commit:
    id: int
    op: str  # create | append | overwrite | merge
    dir: str | None
    buckets: list[int] | None  # None = all buckets affected
    tag: str | None = None
    meta: dict = field(default_factory=dict)
    schema: dict | None = None  # the dir's schema (StructType JSON); None = infer


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log_path = os.path.join(path, _LOG)
        if os.path.exists(self._log_path):
            with open(self._log_path) as f:
                raw = json.load(f)
            self.props = raw["props"]
            self.commits = [Commit(**c) for c in raw["commits"]]
        else:
            self.props = {}
            self.commits = []

    # -- creation ----------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        bucket_col: str | None = None,
        n_buckets: int = 16,
    ) -> "SnapshotTable":
        os.makedirs(path, exist_ok=True)
        t = cls(spark, path)
        if not t.commits:
            t.props = {"bucket_col": bucket_col, "n_buckets": n_buckets}
            t.commits.append(Commit(id=0, op="create", dir=None, buckets=None))
            t._flush()
        return t

    def _flush(self) -> None:
        tmp = self._log_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {"props": self.props, "commits": [c.__dict__ for c in self.commits]}, f
            )
        os.replace(tmp, self._log_path)

    # -- helpers -----------------------------------------------------------
    def _bucketed(self, df: DataFrame) -> DataFrame:
        bc = self.props.get("bucket_col")
        if bc is None:
            return df.withColumn("_bucket", F.lit(0))
        n = int(self.props["n_buckets"])
        return df.withColumn("_bucket", F.pmod(F.xxhash64(F.col(bc)), F.lit(n)).cast("int"))

    def _write_dir(self, df: DataFrame, **tallies: Column) -> tuple[str, dict, dict]:
        """Writes ``df`` (bucketed, partitioned by ``_bucket``) as a new
        data dir. Returns (dir, schema, observed) where ``observed`` holds
        ``rows``, the sorted ``buckets`` the dir holds and each of
        ``tallies``, all taken from the write itself."""
        obs = Observation()
        written = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set("_bucket").alias("buckets"),
            *[c.alias(name) for name, c in tallies.items()],
        ).drop(_STATUS)
        rel = f"s{len(self.commits)}-{uuid.uuid4().hex[:8]}"
        written.write.mode("overwrite").parquet(os.path.join(self.path, "data", rel))
        got = obs.get
        got["buckets"] = sorted(got["buckets"])
        return rel, written.schema.jsonValue(), got

    def _commit(self, op: str, rel: str | None, buckets, tag, meta=None, schema=None) -> int:
        cid = len(self.commits)
        self.commits.append(
            Commit(id=cid, op=op, dir=rel, buckets=buckets, tag=tag, meta=meta or {}, schema=schema)
        )
        self._flush()
        return cid

    # -- writes ------------------------------------------------------------
    def _put(self, op: str, df: DataFrame, tag: str | None, meta: dict | None) -> int:
        rel, schema, got = self._write_dir(self._bucketed(df).repartition("_bucket"))
        m = dict(meta or {})
        m.setdefault("inserted", got["rows"])
        m.setdefault("updated", 0)
        buckets = got["buckets"] if op == "append" else None
        return self._commit(op, rel, buckets, tag, m, schema)

    def append(self, df: DataFrame, tag: str | None = None, meta: dict | None = None) -> int:
        return self._put("append", df, tag, meta)

    def overwrite(self, df: DataFrame, tag: str | None = None, meta: dict | None = None) -> int:
        return self._put("overwrite", df, tag, meta)

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        update_cols: list[str] | None = None,
        insert: bool = True,
        tag: str | None = None,
    ) -> int:
        """MERGE INTO: null-safe match on ``on``; matched target rows get
        ``update_cols`` overwritten from source; unmatched source rows are
        inserted (when ``insert``). Commits only the buckets the source
        touches; a bucketless table is one bucket. The table's
        ``bucket_col`` must be one of ``on``, so matching rows share a
        bucket."""
        bc = self.props.get("bucket_col")
        if bc is not None and bc not in on:
            raise ValueError(f"merge keys {on} must include the bucket column {bc!r}")
        target = self._scan()
        cols = [c for c in target.columns if c != "_bucket"]
        src = self._bucketed(source.select(*cols)).withColumn(_SIDE, F.lit(1).cast("byte"))
        both = target.withColumn(_SIDE, F.lit(0).cast("byte")).unionByName(src)
        # update_cols: None = update every column on match; [] = update none
        # (insert-only MERGE, K1 semantics, storage.py:227-246)
        upd = set(cols if update_cols is None else update_cols)
        out_schema = StructType(
            [f for f in both.schema.fields if f.name != _SIDE] + [StructField(_STATUS, ByteType())]
        )

        merged = both.repartition("_bucket").mapInArrow(
            partial(_merge_batches, on=on, upd=upd, insert=insert), out_schema
        )
        status = F.col(_STATUS)
        rel, schema, got = self._write_dir(
            merged,
            matched=F.sum((status == _MATCHED).cast("long")),
            inserted=F.sum((status == _INSERTED).cast("long")),
        )
        # matched rows only count as updates when a WHEN MATCHED clause
        # exists (upd non-empty), mirroring MERGE semantics — the Iceberg
        # snapshot summary's twin, surfaced by last_commit_tally
        tally = {
            "inserted": int(got["inserted"] or 0),
            "updated": int(got["matched"] or 0) if upd else 0,
        }
        return self._commit("merge", rel, got["buckets"], tag, tally, schema)

    def last_commit_tally(self) -> tuple[int, int]:
        """(inserted, updated) of the latest data commit — interface
        parity with ``IcebergTable.last_commit_tally``. The emulation's
        counts are EXACT (observed on the rows the MERGE writes); the
        Iceberg backend's updated count is a copy-on-write file-level
        upper bound (see iceberg.py)."""
        for c in reversed(self.commits):
            if c.op in ("append", "overwrite", "merge"):
                return int(c.meta.get("inserted", 0)), int(c.meta.get("updated", 0))
        raise ValueError("no data commits yet")

    # -- reads -------------------------------------------------------------
    def _live_dirs(self, snapshot_id: int | None = None) -> dict[str, tuple[str, set[int]]]:
        """dir -> ('include'|'exclude', bucket set).

        'include' = only those buckets of the dir are live; 'exclude' =
        every bucket EXCEPT those (wildcard dirs from overwrite commits,
        whose bucket list was never recorded, minus buckets later
        rewritten by a scoped merge — without the exclusion, an
        overwrite-then-merge history would read the touched buckets from
        BOTH dirs and duplicate their rows)."""
        upto = snapshot_id if snapshot_id is not None else len(self.commits) - 1

        # replay: per-bucket list of contributing dirs + wildcard dirs
        # with their dead (superseded) buckets
        per_bucket: dict[int, list[str]] = {}
        wildcard: list[tuple[str, set[int]]] = []
        for c in self.commits[: upto + 1]:
            if c.op == "create" or c.dir is None:
                continue
            if c.op == "append":
                for b in c.buckets or []:
                    per_bucket.setdefault(b, []).append(c.dir)
            elif c.op == "overwrite" or (c.op == "merge" and c.buckets is None):
                per_bucket = {}
                wildcard = [(c.dir, set())]
            elif c.op == "merge":
                for b in c.buckets:
                    per_bucket[b] = [c.dir]
                    for _d, dead in wildcard:
                        dead.add(b)

        out: dict[str, tuple[str, set[int]]] = {}
        for d, dead in wildcard:
            out[d] = ("exclude", dead)
        for b, dirs in per_bucket.items():
            for d in dirs:
                mode, buckets = out.setdefault(d, ("include", set()))
                buckets.add(b)
        return out

    def expire_snapshots(self, keep_last: int = 10) -> list[str]:
        """Iceberg-style table maintenance (``expireSnapshots``): only the
        last ``keep_last`` snapshots stay time-travelable; data dirs
        referenced by NO retained snapshot are deleted from disk. Returns
        the deleted dirs. Reads at expired snapshot ids/tags raise — the
        Iceberg contract — while the commit log itself stays (metadata is
        tiny; lineage/tags remain inspectable). A long-running crawl calls
        this periodically so per-wave delta files don't accumulate
        forever once their snapshots are past the resume horizon."""
        import shutil

        cutoff = max(0, len(self.commits) - keep_last)
        live: set[str] = set()
        for c in self.commits[cutoff:]:
            live |= set(self._live_dirs(c.id).keys())
        deleted = []
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                if d not in live:
                    shutil.rmtree(os.path.join(data_root, d))
                    deleted.append(d)
        # Never lower an existing floor: a later call with a larger
        # keep_last must not re-admit snapshot ids whose data dirs were
        # already deleted (reads would then fail with raw missing-file
        # errors instead of the KeyError guard in read()).
        self.props["min_snapshot_id"] = max(
            int(self.props.get("min_snapshot_id", 0)), cutoff
        )
        self._flush()
        return deleted

    def read(self, snapshot_id: int | None = None, tag: str | None = None) -> DataFrame:
        if tag is not None:
            matches = [c.id for c in self.commits if c.tag == tag]
            if not matches:
                raise KeyError(f"no snapshot tagged {tag!r}")
            snapshot_id = matches[-1]
        min_id = int(self.props.get("min_snapshot_id", 0))
        if snapshot_id is not None and snapshot_id < min_id:
            raise KeyError(
                f"snapshot {snapshot_id} expired (oldest retained: {min_id}); "
                f"expire_snapshots removed its data files"
            )
        return self._scan(snapshot_id).drop("_bucket")

    def _scan(self, snapshot_id: int | None = None) -> DataFrame:
        """The live rows at ``snapshot_id`` with their stored ``_bucket``."""
        schemas = {c.dir: c.schema for c in self.commits if c.dir is not None}
        out = None
        for rel, (mode, buckets) in self._live_dirs(snapshot_id).items():
            reader = self.spark.read
            if schemas.get(rel) is not None:
                reader = reader.schema(StructType.fromJson(schemas[rel]))
            df = reader.parquet(os.path.join(self.path, "data", rel))
            if mode == "include":
                df = df.filter(F.col("_bucket").isin(sorted(buckets)))
            elif buckets:  # exclude mode with superseded buckets
                df = df.filter(~F.col("_bucket").isin(sorted(buckets)))
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise ValueError("empty table read requires a schema; append first")
        return out

    def is_empty(self) -> bool:
        return not self._live_dirs()

    def latest_tag(self, prefix: str) -> tuple[str, int] | None:
        for c in reversed(self.commits):
            if c.tag and c.tag.startswith(prefix):
                return c.tag, c.id
        return None

    def snapshot_ids(self) -> list[int]:
        return [c.id for c in self.commits]


def _merge_batches(batches, on: list[str], upd: set[str], insert: bool):
    """One partition of a MERGE: the side-marked union of target and
    source rows in, the partition's committed rows out (with their
    status). Target rows of buckets no source row touches are dropped;
    the rest join the source rows on ``on`` as a null-safe full outer
    join (a left join without ``insert``). Values move by Arrow ``take``
    from the row each output column reads, so types stay exact."""
    import pandas as pd
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return
    tab = pa.Table.from_batches(batches).combine_chunks()
    is_src = tab[_SIDE].to_numpy() == 1
    bucket = tab["_bucket"].to_numpy()
    t_pos = np.flatnonzero(~is_src & np.isin(bucket, np.unique(bucket[is_src])))
    s_pos = np.flatnonzero(is_src)
    codes = _key_codes(tab.select(on).take(np.concatenate([t_pos, s_pos])))
    j = pd.DataFrame({"k": codes[: len(t_pos)], "t": t_pos}).merge(
        pd.DataFrame({"k": codes[len(t_pos):], "s": s_pos}),
        on="k",
        how="outer" if insert else "left",
    )
    ti = j["t"].fillna(-1).to_numpy(np.int64)
    si = j["s"].fillna(-1).to_numpy(np.int64)
    status = np.where(ti < 0, _INSERTED, np.where(si < 0, _TARGET_ONLY, _MATCHED))
    keep = np.where(ti >= 0, ti, si)  # the target's value unless inserted
    take_src = np.where(si >= 0, si, ti)  # the source's value when matched
    names = [n for n in tab.column_names if n != _SIDE]
    out = pa.Table.from_arrays(
        [tab[n].take(take_src if n in upd else keep) for n in names]
        + [pa.array(status.astype(np.int8))],
        names=names + [_STATUS],
    )
    yield from out.to_batches()


def _key_codes(keys) -> np.ndarray:
    """One int64 per row of the Arrow table ``keys``, equal exactly when
    the rows' keys are equal, with NULL equal to NULL."""
    import pyarrow.compute as pc

    codes = np.zeros(keys.num_rows, np.int64)
    for col in keys.columns:
        enc = pc.dictionary_encode(col, null_encoding="encode").combine_chunks()
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        # re-densify so the next column's radix cannot overflow
        codes = np.unique(codes * len(enc.dictionary) + idx, return_inverse=True)[1]
    return codes.astype(np.int64)
