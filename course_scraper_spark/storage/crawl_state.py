"""Resumable crawl state: seen-set deltas + the pending frontier, per round.

The reference resumes by skipping whole stages whose outputs already
exist in the DB (``src/main.py:165-176,189-251``). Our engine is finer:
every crawl round (a BFS wave, or a budgeted politeness round) commits
its pending set and its seen-set delta, tagged ``round_{k}`` and
carrying the per-source sequence counters in the commit metadata — so a
killed crawl resumes from the last completed round with identical final
state (tests/test_resume.py, tests/test_budgeted_crawl.py).

Both tables bucket by host (explicit hash partitioning), the layout the
per-round anti-join and the politeness schedule align with.

Backend note: this store leans on the emulation's per-commit ``meta``
dict (seq counters ride the round commit). Iceberg's equivalent is
the snapshot SUMMARY map, which Spark SQL cannot set — binding this
store to ``storage.iceberg.IcebergTable`` needs either the Iceberg Java
commit API for summary properties or a tiny side table keyed by tag;
the append/overwrite/tag/time-travel calls themselves map 1:1. The
sandbox has no jar to validate either route, so the emulated backend
stays the default here (unlike MetricsStore, whose interface both
backends already satisfy). The A6 insert/update tally is closed since
round 5: both backends expose ``last_commit_tally()`` — exact counts
from the emulation's merge join, Iceberg's from the native snapshot
summary (inserted exact; updated = the copy-on-write file-level bound)
— contract-tested per backend in tests/test_table_backends.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .snaptable import SnapshotTable


class CrawlStateStore:
    """Round-checkpointed crawl state in two tables: ``url_seen``
    (append-only deltas) and ``frontier`` (the pending queue —
    OVERWRITTEN per round, the copy-on-write shape a mutable queue table
    takes in Iceberg)."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.seen = SnapshotTable.create(
            spark, os.path.join(root, "url_seen"), bucket_col="host", n_buckets=n_buckets
        )
        self.frontier = SnapshotTable.create(
            spark, os.path.join(root, "frontier"), bucket_col="host", n_buckets=n_buckets
        )

    def save_round(
        self, rnd: int, seen_delta: DataFrame, pending: DataFrame, seq_base: dict[str, int]
    ) -> None:
        # frontier FIRST, seen second: the seen append is the commit
        # point. A crash between the two leaves an orphaned frontier
        # snapshot (harmless — tags resolve to the latest commit, so the
        # replay's re-overwrite supersedes it) instead of a seen tag whose
        # frontier snapshot doesn't exist, which would break resume.
        self.frontier.overwrite(pending, tag=f"round_{rnd}", meta={"round": rnd})
        self.seen.append(
            seen_delta, tag=f"round_{rnd}", meta={"round": rnd, "seq_base": seq_base}
        )

    def latest_round(self) -> tuple[int, dict[str, int], int] | None:
        """(round, seq_base, seen_snapshot_id) of the last committed round.

        Defensive against half-committed histories (e.g. written by an
        older seen-first ordering): a seen round tag only counts if the
        frontier holds a matching tag; otherwise fall back to the
        previous completed round, which the resume then replays."""
        frontier_tags = {c.tag for c in self.frontier.commits if c.tag}
        for c in reversed(self.seen.commits):
            if c.tag and c.tag.startswith("round_") and c.tag in frontier_tags:
                return int(c.meta["round"]), dict(c.meta["seq_base"]), c.id
        return None

    def read_seen(self, snapshot_id: int | None = None) -> DataFrame:
        return self.seen.read(snapshot_id=snapshot_id)

    def read_pending(self, rnd: int) -> DataFrame:
        return self.frontier.read(tag=f"round_{rnd}")
