"""The URL frontier: one round loop over DataFrame jobs.

Re-creates the reference's single-process BFS (``src/crawler.py:126-272``)
as rounds of Catalyst jobs over ALL sources at once (job count is
O(rounds), not O(sources × rounds)):

    pending  --fetch set-->  fetch (join | http)  --mapInPandas-->  links
      --strip/filter F1-F5-->  candidates  --left_anti seen-->
      --first-occurrence dedup-->  --assign_seq-->  delta  -->  seen ∪=,
      next pending

The entry points differ only in the schedule that picks a round's fetch
set: :func:`crawl_sources` takes the whole pending set (all of it shares
one depth, so a round is a BFS wave); :func:`crawl_sources_budgeted`
takes the per-host politeness slots that fit a round budget.

* the seen anti-join keyed (source_id, url) is exact and the frontier's
  only dedup; per-source FIFO order comes from the two-phase ranking in
  operators/ranking.py, never a global single-partition sort.
* one ``localCheckpoint`` per round truncates the iterative lineage; a
  state store (storage/crawl_state.py) also commits every round, so a
  killed crawl resumes.

Reference-semantics invariants (tests/test_frontier_equality.py):

* generic branch: seen-then-stop at ``depth == max_depth``
  (crawler.py:232-236) — depth-max URLs ARE visited, never expanded.
* Modern-Campus branch: ``depth >= max_depth`` skips before marking seen
  (crawler.py:186-189); ``preview_course_nopop.php`` URLs enter the seen
  set without being visited (crawler.py:211-212); only
  ``tr>td[colspan=2]>a`` hrefs containing ``content.php`` are enqueued
  (crawler.py:214-226).
* candidates are checked against seen at extraction time; in-wave
  duplicates resolve at pop — equivalent to anti-join against
  (seen ∪ current wave) + first-occurrence dedup.
* fetch failures keep the URL in seen but yield no links
  (crawler.py:191-196,238-243).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SourceConfig
from ..functions import urls as U
from ..functions.htmlmini import extract_hrefs, extract_mc_listing_hrefs
from ..session import local_frame
from . import fetch as http_fetch
from . import politeness
from .ranking import assign_seq_lazy

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("visited", T.BooleanType(), False),
    ]
)

_LINKS_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), False),
        T.StructField("page_url", T.StringType(), False),
        T.StructField("parent_seq", T.LongType(), False),
        T.StructField("parent_depth", T.IntegerType(), False),
        T.StructField("link_pos", T.IntegerType(), False),
        T.StructField("stream", T.StringType(), False),
        T.StructField("href", T.StringType(), False),
    ]
)


def _extract_links(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: page HTML -> exploded hrefs with document positions.

    Streams: 'anchor' = every <a href> (crawler.py:200,248);
    'mc_listing' = tr>td[colspan=2]>a (crawler.py:214), emitted only for
    Modern-Campus sources.
    """
    cols = ("source_id", "page_url", "parent_seq", "parent_depth", "link_pos", "stream", "href")
    for pdf in batches:
        out = {k: [] for k in cols}
        for sid, url, seq, dep, html, is_mc in zip(
            pdf["source_id"], pdf["page_url"], pdf["parent_seq"], pdf["depth"], pdf["html"], pdf["is_mc"]
        ):
            for pos, href in enumerate(extract_hrefs(html)):
                out["source_id"].append(sid)
                out["page_url"].append(url)
                out["parent_seq"].append(seq)
                out["parent_depth"].append(dep)
                out["link_pos"].append(pos)
                out["stream"].append("anchor")
                out["href"].append(href)
            if is_mc:
                for pos, href in enumerate(extract_mc_listing_hrefs(html)):
                    out["source_id"].append(sid)
                    out["page_url"].append(url)
                    out["parent_seq"].append(seq)
                    out["parent_depth"].append(dep)
                    out["link_pos"].append(pos)
                    out["stream"].append("mc_listing")
                    out["href"].append(href)
        yield pd.DataFrame(out)


@dataclass
class SourceRuntime:
    """Per-source crawl parameters resolved at start (root fetch)."""

    source: SourceConfig
    is_mc: bool
    scope_domain: str
    root_path: str

    @property
    def excl_regex(self) -> str:
        return "|".join(f"(?:{p})" for p in self.source.effective_exclude_patterns)


@dataclass
class WaveMetrics:
    depth: int
    wave_size: int
    new_urls: int


@dataclass
class CrawlResult:
    seen: DataFrame  # SEEN_SCHEMA; visited=False rows are MC previews
    failed_sources: list[str] = field(default_factory=list)
    metrics: list[WaveMetrics] = field(default_factory=list)

    def seen_urls(self, source_id: str) -> list[str]:
        """Sorted final seen set, as the reference returns it (crawler.py:63)."""
        return [
            r.url
            for r in self.seen.filter(F.col("source_id") == source_id)
            .select("url")
            .orderBy("url")
            .collect()
        ]

    def visit_order(self, source_id: str) -> list[tuple[str, int]]:
        return [
            (r.url, r.depth)
            for r in self.seen.filter((F.col("source_id") == source_id) & F.col("visited"))
            .select("url", "depth", "seq")
            .orderBy("seq")
            .collect()
        ]


def _root_probe(pages: DataFrame, root_urls: list[str]) -> DataFrame:
    """The root-fetch projection: (url, status_code, is_mc) ONLY.

    The Modern-Campus substring check runs executor-side inside the scan
    (``contains``), so the collect ships one boolean per source — never
    the html column. At O(100k sources) x ~100 KB pages, collecting html
    would be ~10 GB on the driver for one bit per row."""
    return pages.filter(F.col("url").isin(root_urls)).select(
        "url",
        "status_code",
        F.col("html").contains("Modern Campus Catalog").alias("is_mc"),
    )


def _build_runtimes(
    sources: list[SourceConfig], by_url: dict
) -> tuple[list[SourceRuntime], list[str]]:
    runtimes, failed = [], []
    for s in sources:
        r = by_url.get(s.root_url)
        if r is None or r.status_code >= 400:
            failed.append(s.source_id)
            continue
        domain, root_path = U.scope_root(s.root_url, s.url_base_exclude)
        runtimes.append(
            SourceRuntime(
                source=s,
                is_mc=bool(r.is_mc),
                scope_domain=domain,
                root_path=root_path,
            )
        )
    return runtimes, failed


def resolve_sources(
    spark: SparkSession, sources: list[SourceConfig], pages: DataFrame
) -> tuple[list[SourceRuntime], list[str]]:
    """Root fetch + Modern-Campus detection (crawler.py:179-184).

    The reference's root fetch has no retry/fallback and aborts the
    source on any HTTP error (``raise_for_status``, crawler.py:180).
    One tiny job: semi-join pages to the root URL list, collecting only
    (url, status_code, is_mc) — see :func:`_root_probe`.
    """
    roots = {s.root_url: s for s in sources}
    by_url = {r.url: r for r in _root_probe(pages, list(roots)).collect()}
    return _build_runtimes(sources, by_url)


def resolve_sources_transport(
    spark: SparkSession, sources: list[SourceConfig], transport_factory
) -> tuple[list[SourceRuntime], list[str]]:
    """Root fetch over a live transport (the ``fetch='http'`` twin of
    :func:`resolve_sources`): distributed single-GET probe, boolean-only
    collect — same crawler.py:179-184 semantics."""
    from .fetch import http_root_probe

    roots = list({s.root_url for s in sources})
    by_url = {r.url: r for r in http_root_probe(spark, roots, transport_factory).collect()}
    return _build_runtimes(sources, by_url)


def _dim_df(spark: SparkSession, runtimes: list[SourceRuntime]) -> DataFrame:
    rows = [
        (
            rt.source.source_id,
            rt.is_mc,
            rt.scope_domain,
            rt.root_path,
            bool(rt.source.include_external),
            rt.excl_regex,
            int(rt.source.crawl_depth),
        )
        for rt in runtimes
    ]
    return local_frame(
        spark,
        rows,
        "source_id string, is_mc boolean, scope_domain string, root_path string, "
        "include_external boolean, excl_regex string, max_depth int",
    )


def fetch_ok_col() -> F.Column:
    """The render_utils.py:43-102 ladder as a Column predicate: static
    success, or retry-then-Playwright fallback for 403/404/429 when the
    page is dynamic-renderable. 5xx and static-only error pages fail."""
    return (F.col("status_code") < 400) | (
        F.col("status_code").isin(403, 404, 429) & (F.col("fetch_mode") == "dynamic")
    )


# Above this many frontier rows the fetch join stops broadcasting the wave
# side: a multi-million-URL wave shipped to every executor OOMs the driver.
# Below it, broadcasting keeps the page-body table from shuffling (html is
# the heavy column). The join only exists in the synthetic harness — a live
# cluster fetches over HTTP inside the UDF — but the budgeted/scale loop
# shares the code path, so the guard is enforced (tests/test_plan_audit.py).
BROADCAST_WAVE_THRESHOLD = 1_000_000

# Frontier-growth estimate that routes a round's seq ranking onto the
# two-phase range path (ranking.assign_seq_lazy) BEFORE the new-URL
# count is known. The ranked set is the new URLs after the anti-join and
# dedup — empirically ≤ ~1.3× the fetch set even in the exponential
# phase (measured 27k→51k→65k→70k on the heavy 200k world), so × 2 is a
# safe bound; the raw links-per-page fan-out (12-16×) measured −11
# s/crawl there by pushing every mid-size wave through the two-phase
# jobs. Mis-routing costs two small jobs, or funnels one source's round
# through one window task until the next round re-routes.
EST_WAVE_BRANCHING = 2


def _fetch_join(wave_slim: DataFrame, pages_slim: DataFrame, wave_rows: int | None,
                broadcast_threshold: int) -> DataFrame:
    left = (
        F.broadcast(wave_slim)
        if wave_rows is not None and wave_rows <= broadcast_threshold
        else wave_slim
    )
    return left.join(pages_slim, wave_slim.url == pages_slim.p_url, "inner")


# a pending row carries its source's is_mc, so the fetch needs no dim join
_FRONTIER_COLS = ("source_id", "url", "host", "depth", "seq", "is_mc")


class _Budget:
    """The schedule of :func:`crawl_sources_budgeted`: each round fetches
    only the URLs whose per-host slot fits the budget; the rest stay
    pending with their seq. Also owns what only a budget needs: the
    cadence carry-over, the robots Disallow gate, the schedule log and
    min-depth re-admission."""

    def __init__(self, robots, budget_s, obey_disallow, schedule_log):
        if not budget_s > 0:
            raise ValueError(f"round_budget_s must be > 0, got {budget_s!r}")
        self.robots = robots
        # static dim: count once, so every schedule/robots join in the
        # loop can gate its broadcast without re-counting
        self.robots_rows = robots.count() if robots is not None else None
        self.budget_s = budget_s
        self.disallow = obey_disallow and robots is not None
        self.log = schedule_log
        # (host, t0) cadence carry-over: a host's last fetch near the
        # round boundary pushes its first slot next round, so per-host
        # spacing stays >= crawl_delay ACROSS rounds (render_utils.py:58)
        self.offsets: DataFrame | None = None
        # depth-improvement overlay for re-admission; in-memory only — a
        # resume may re-trigger one redundant refetch, never a wrong set
        self.improvements: DataFrame | None = None
        self._cached: list[DataFrame] = []

    def allowed(self, df: DataFrame) -> DataFrame:
        """Drop robots-Disallowed URLs: they never fetch, never expand,
        never enter seen. Off by default: the reference reads only
        crawl_delay (crawler.py:144-150)."""
        if not self.disallow:
            return df
        from .robots import filter_disallowed

        if "host" in df.columns:
            return filter_disallowed(df, self.robots, robots_rows=self.robots_rows)
        return filter_disallowed(
            df.withColumn("host", U.host_of(F.col("url"))), self.robots,
            robots_rows=self.robots_rows,
        ).drop("host")

    def take(self, pending: DataFrame, n_pending: int, rnd: int):
        """(fetch set, its size, deferred) for one round. Slot by seq =
        priority; ``n_pending`` picks the slot ranking's strategy, so a
        Zipf host never funnels a mega-frontier through one window task."""
        sched = politeness.with_schedule(
            pending, self.robots, robots_rows=self.robots_rows,
            host_offsets=self.offsets, wave_rows=n_pending,
        )
        now, deferred = politeness.split_by_budget(sched, self.budget_s)
        # one agg job materializes the schedule; the offsets, the log and
        # the fetch read the cache. deferred stays lazy: the next pending
        # set materializes it.
        now = now.persist()
        row = now.agg(F.count(F.lit(1)).alias("n"), F.min("depth").alias("d")).first()
        n_now, self.shallowest = row["n"], row["d"]
        self._cached.append(now)
        if n_now:
            self.offsets = politeness.next_round_offsets(
                now, self.offsets, self.robots, self.budget_s, self.robots_rows
            ).localCheckpoint(eager=True)
            if self.log is not None:
                self.log.extend(
                    (rnd, r.host, r.url, r.sched_time)
                    for r in now.select("host", "url", "sched_time").collect()
                )
        return now.drop("slot", "sched_time"), n_now, deferred

    def wait(self) -> bool:
        """An idle round: every pending host owes more than one whole
        budget (crawl_delay > budget). Offsets decay by one budget, so the
        loop always reaches a fetchable round. False if nothing is owed,
        i.e. nothing can ever fit."""
        if self.offsets is None:
            return False
        self.offsets = (
            self.offsets.select(
                "host",
                F.greatest(F.lit(0.0), F.col("t0") - F.lit(self.budget_s)).alias("t0"),
            )
            .filter(F.col("t0") > 0)
            .localCheckpoint(eager=True)
        )
        return True

    def readmissions(self, queue_cand: DataFrame, seen: DataFrame, deepest: int):
        """(rows, count): seen URLs rediscovered via a SHALLOWER parent
        re-enter the frontier at the improved depth, keeping their seq,
        so their subtree is re-expanded instead of cut at the depth
        horizon. A key's best depth strictly decreases, so re-admissions
        terminate; seen itself is never rewritten.

        ``deepest`` is the greatest depth in seen. Every candidate is
        deeper than the shallowest fetched row, so when that row is not
        shallower than ``deepest`` - 1 no known depth can improve and the
        step is skipped — always so when each round is one BFS depth."""
        if self.shallowest + 1 >= deepest:
            return None, 0
        known = seen.filter(F.col("visited") & F.col("depth").isNotNull()).select(
            "source_id", "url", "depth"
        )
        if self.improvements is not None:
            known = known.unionByName(self.improvements)
        known_min = known.groupBy("source_id", "url").agg(F.min("depth").alias("known_depth"))
        redisc = (
            queue_cand.join(seen.select("source_id", "url"), ["source_id", "url"], "left_semi")
            .groupBy("source_id", "url")
            .agg(F.min(F.struct("depth", "max_depth", "is_mc")).alias("k"))
            .select("source_id", "url", "k.depth", "k.max_depth", "k.is_mc")
        )
        improved = redisc.join(known_min, ["source_id", "url"]).filter(
            F.col("depth") < F.col("known_depth")
        )
        readmit = (
            improved.filter(F.col("depth") < F.col("max_depth"))
            .select("source_id", "url", "depth", "is_mc")
            .join(seen.filter(F.col("visited")).select("source_id", "url", "host", "seq"),
                  ["source_id", "url"])
            .select(*_FRONTIER_COLS)
            .persist()  # one count job materializes the cache
        )
        self._cached.append(readmit)
        n = readmit.count()
        if n:
            imp = improved.select("source_id", "url", "depth").localCheckpoint(eager=True)
            self.improvements = imp if self.improvements is None else self.improvements.unionByName(imp)
        return readmit, n

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []


def crawl_sources(
    spark: SparkSession,
    sources: list[SourceConfig],
    pages: DataFrame,
    make_root_filter: bool = True,
    state_store=None,
    resume: bool = False,
    max_waves: int | None = None,
    metrics_store=None,
    run_id: str = "run",
    salt_hosts_threshold: int | None = None,
    fetch: str = "join",
    transport_factory=None,
    fetch_kwargs: dict | None = None,
) -> CrawlResult:
    """Run the full BFS to fixpoint for every source in one round loop.

    No budget: every round fetches the whole pending set, and all pending
    URLs share one depth, so a round is a BFS wave and the visit order is
    the reference's.

    ``fetch='http'`` swaps the synthetic lookup join for the live HTTP
    ladder (operators/fetch.py) driven by ``transport_factory``; both give
    identical fetched sets for a transport serving the same world
    (tests/test_fetch_http.py). ``fetch_kwargs`` passes through to
    :func:`~course_scraper_spark.operators.fetch.fetch_extract_http`
    (e.g. ``{'sleep_fn': NO_SLEEP}`` for synthetic transports).

    With ``state_store`` (a :class:`~course_scraper_spark.storage.crawl_state
    .CrawlStateStore`) every wave commits its pending set and seen-set
    delta; ``resume=True`` continues from the last committed wave.
    ``max_waves`` stops early after N waves.

    The seen set is the root checkpoint plus each wave's checkpointed
    delta; with a state store, its ``url_seen`` table is the durable copy.

    ``metrics_store`` records per-host fetch counts per wave;
    ``salt_hosts_threshold`` spreads hosts holding more than this many
    frontier rows across salt shards before the fetch (operators/salting.py).
    """
    return _crawl(
        spark, sources, pages, None,
        make_root_filter=make_root_filter, max_rounds=max_waves,
        salt_hosts_threshold=salt_hosts_threshold, state_store=state_store,
        resume=resume, metrics_store=metrics_store, run_id=run_id, fetch=fetch,
        transport_factory=transport_factory, fetch_kwargs=fetch_kwargs,
    )


def crawl_sources_budgeted(
    spark: SparkSession,
    sources: list[SourceConfig],
    pages: DataFrame,
    robots: DataFrame | None = None,
    round_budget_s: float = 60.0,
    make_root_filter: bool = True,
    max_rounds: int | None = None,
    salt_hosts_threshold: int | None = None,
    obey_disallow: bool = False,
    state_store=None,
    resume: bool = False,
    metrics_store=None,
    run_id: str = "run",
    fetch: str = "join",
    transport_factory=None,
    fetch_kwargs: dict | None = None,
    schedule_log: list | None = None,
) -> CrawlResult:
    """Priority-frontier crawl with per-host politeness budgets.

    The round loop of :func:`crawl_sources` under a schedule: each round
    slots pending URLs per host (slot n fires at (n-1)·crawl_delay,
    operators/politeness.py) and fetches only those whose start time fits
    ``round_budget_s``; the rest stay pending with their priority (seq)
    — the parallel form of the reference's serial crawl-delay sleeps
    (crawler.py:150,168, render_utils.py:58). A budget that defers
    nothing reproduces :func:`crawl_sources` row for row; otherwise visit
    ORDER follows the schedule, and the seen SET still equals BFS.

    Min-depth re-admission keeps that set equal when
    ``include_external=True`` meets mixed per-host delays: a URL first
    found via a deeper parent on a fast host is re-admitted when a
    shallower parent rediscovers it (test_budgeted_readmission_multi_host).
    Per-host spacing holds across rounds: ``politeness.next_round_offsets``
    carries each host's cadence remainder over the round boundary.

    ``obey_disallow`` applies robots Disallow prefixes to the frontier
    (operators/robots.py; off by default — the reference reads only
    crawl_delay). ``schedule_log`` (tests/debug) receives
    ``(round, host, url, sched_time)`` per fetched row; it collects the
    schedule every round. The other options are those of
    :func:`crawl_sources`, with rounds in place of waves.
    """
    budget = _Budget(robots, round_budget_s, obey_disallow, schedule_log)
    return _crawl(
        spark, sources, pages, budget,
        make_root_filter=make_root_filter, max_rounds=max_rounds,
        salt_hosts_threshold=salt_hosts_threshold, state_store=state_store,
        resume=resume, metrics_store=metrics_store, run_id=run_id, fetch=fetch,
        transport_factory=transport_factory, fetch_kwargs=fetch_kwargs,
    )


def _crawl(spark: SparkSession, sources: list[SourceConfig], pages: DataFrame,
           budget: _Budget | None, *, make_root_filter, max_rounds, salt_hosts_threshold,
           state_store, resume, metrics_store, run_id, fetch, transport_factory,
           fetch_kwargs) -> CrawlResult:
    """The round loop of both entry points: pending → fetch set (all of
    it, or the budget's share) → fetch → links → scope filter → MC
    previews → depth gate → seen anti-join → first-occurrence dedup →
    seq ranking → ONE delta materialization + totals → next pending."""
    if fetch not in ("join", "http"):
        raise ValueError(f"fetch must be 'join' or 'http', got {fetch!r}")
    if fetch == "http":
        if transport_factory is None:
            raise ValueError("fetch='http' requires a transport_factory")
        runtimes, failed = resolve_sources_transport(spark, sources, transport_factory)
    else:
        runtimes, failed = resolve_sources(spark, sources, pages)
    result = CrawlResult(seen=local_frame(spark, [], SEEN_SCHEMA), failed_sources=failed)
    if not runtimes:
        return result
    dim = F.broadcast(_dim_df(spark, runtimes))
    max_depth = {rt.source.source_id: rt.source.crawl_depth for rt in runtimes}
    parts = spark.sparkContext.defaultParallelism
    pages_slim = pages.select(F.col("url").alias("p_url"), "host", "html", "status_code", "fetch_mode")

    def next_pending(delta: DataFrame) -> DataFrame:
        # the expand gate: a URL AT its source's max depth is seen but
        # never fetched (generic: crawler.py:232-236; MC rows are
        # enqueued only below it, crawler.py:187), so it never enters
        # the frontier and takes no politeness slot
        return (
            delta.filter(F.col("visited"))
            .join(dim, "source_id")
            .filter(F.col("depth") < F.col("max_depth"))
            .select(*_FRONTIER_COLS)
        )

    resumed = state_store.latest_round() if (state_store is not None and resume) else None
    if resumed is not None:
        rounds, seq_base, snap = resumed
        seen = state_store.read_seen(snap)
        pending = state_store.read_pending(rounds)
        n_pending = pending.count()
        deepest = seen.agg(F.max("depth")).first()[0] or 0
    else:
        rounds = 0
        roots = local_frame(
            spark,
            [(rt.source.source_id, rt.source.root_url, rt.scope_domain, 0, 1) for rt in runtimes],
            "source_id string, url string, host string, depth int, seq long",
        ).withColumn("visited", F.lit(True))
        if budget is not None:
            roots = budget.allowed(roots)
        seen = roots.localCheckpoint(eager=True)
        pending = next_pending(seen)
        if budget is not None and budget.disallow:
            n_pending = pending.count()
        else:
            n_pending = sum(1 for d in max_depth.values() if d > 0)
        seq_base = {rt.source.source_id: 1 for rt in runtimes}
        deepest = 0
        if state_store is not None:
            # round 0 = the root set: without it, a resume would replay
            # only the per-round deltas and lose the roots from seen
            state_store.save_round(0, seen, pending, seq_base)

    def unseen(df: DataFrame) -> DataFrame:
        return df.join(seen.select("source_id", "url"), ["source_id", "url"], "left_anti")

    while n_pending and (max_rounds is None or rounds < max_rounds):
        rounds += 1
        if budget is None:
            now, n_now, deferred = pending, n_pending, None
        else:
            now, n_now, deferred = budget.take(pending, n_pending, rounds)
            if not n_now:
                budget.release()
                if not budget.wait():
                    break
                continue

        fetch_set = now.select("source_id", "url", "host", "seq", "depth", "is_mc")
        if salt_hosts_threshold is not None:
            # the fetch runs over the fetch set's own partitioning: spread
            # Zipf mega-hosts before it
            from .salting import salted_repartition

            fetch_set = salted_repartition(
                fetch_set, "host", threshold=salt_hosts_threshold, salt_col="url"
            )
        elif fetch == "http" and n_now > 1000:
            # AQE coalesces a few-MB checkpoint to 1-2 partitions (a 70k-URL
            # fetch ran as TWO tasks on local[8]); a numbered repartition
            # is exempt and moves only slim rows. Size-gated: on a toy
            # round it cost +0.5 s/wave.
            fetch_set = fetch_set.repartition(parts * 2)

        fetched_raw = None
        if fetch == "http":
            # live path: ladder + href parser fused in one UDF (html never
            # crosses Arrow). With metrics it also emits per-host
            # aggregates in-band; persisted so each URL is fetched once.
            if metrics_store is not None:
                fetched_raw = http_fetch.fetch_extract_http(
                    fetch_set, transport_factory, with_stats=True, **(fetch_kwargs or {})
                ).persist()
                links, stats = http_fetch.split_fused_output(fetched_raw)
                metrics_store.record_wave(run_id, rounds, stats)
            else:
                links = http_fetch.fetch_extract_http(
                    fetch_set, transport_factory, **(fetch_kwargs or {})
                )
        else:
            if metrics_store is not None:
                # fetched/failed per host per round, incl. URLs with no page
                from .metrics import fetch_stats_per_host

                joined_m = fetch_set.select("source_id", "url", "host").join(
                    pages_slim.select("p_url", "status_code", "fetch_mode"),
                    F.col("url") == F.col("p_url"),
                    "left",
                )
                metrics_store.record_wave(run_id, rounds, fetch_stats_per_host(joined_m))
            # fetch = lookup into the synthetic web, broadcasting the fetch
            # set so page html never shuffles; a URL without a page row
            # fails fetch_ok and stays in seen (the dead-fetch path)
            links = (
                _fetch_join(fetch_set.drop("host"), pages_slim, n_now, BROADCAST_WAVE_THRESHOLD)
                .filter(fetch_ok_col())
                .select("source_id", F.col("url").alias("page_url"),
                        F.col("seq").alias("parent_seq"), "depth", "html", "is_mc")
                .mapInPandas(_extract_links, _LINKS_SCHEMA)
            )

        href2 = U.strip_fragment(F.col("href"))
        cand = (
            links.join(dim, "source_id")
            .withColumn("href2", href2)
            .filter(U.is_followable(F.col("href2")))
            .withColumn("full_url", U.absolutize(F.col("page_url"), F.col("href2")))
        )
        scope_ok = F.col("include_external") | (
            (U.host_of(F.col("full_url")) == F.col("scope_domain"))
            & (
                U.path_of(F.col("full_url")).startswith(F.col("root_path"))
                if make_root_filter
                else F.lit(True)
            )
        )
        # one round = one pass through fetch+extract: the candidate set
        # feeds previews, the anti-join and re-admission, so pin it
        cand = cand.filter(scope_ok & ~F.rlike(F.col("full_url"), F.col("excl_regex"))).persist()

        # MC side-channel: previews -> seen without visiting
        # (crawler.py:211-212); skipped when no source is Modern-Campus
        if any(rt.is_mc for rt in runtimes):
            previews = (
                cand.filter(
                    F.col("is_mc")
                    & (F.col("stream") == "anchor")
                    & F.col("full_url").contains("preview_course_nopop.php")
                )
                .select("source_id", F.col("full_url").alias("url"))
                .dropDuplicates(["source_id", "url"])
                .transform(unseen)
                .select("source_id", "url", U.host_of(F.col("url")).alias("host"),
                        F.lit(None).cast("int").alias("depth"),
                        F.lit(None).cast("long").alias("seq"), F.lit(False).alias("visited"))
            )
        else:
            previews = local_frame(spark, [], SEEN_SCHEMA)

        # queue candidates: generic = every anchor; MC = listing links to
        # content.php. Row-level depth gate, which differs per branch
        # (crawler.py:187 vs 235); under a budget one round mixes depths.
        child_depth = (F.col("parent_depth") + 1).cast("int")
        queue_cand = cand.filter(
            F.when(
                F.col("is_mc"),
                (F.col("stream") == "mc_listing")
                & F.col("full_url").contains("content.php")
                & (child_depth < F.col("max_depth")),
            ).otherwise((F.col("stream") == "anchor") & (child_depth <= F.col("max_depth")))
        ).select("source_id", F.col("full_url").alias("url"), "parent_seq", "link_pos",
                 child_depth.alias("depth"), "max_depth", "is_mc")
        if budget is not None:
            queue_cand = budget.allowed(queue_cand)

        # candidates are checked against seen at extraction time; in-round
        # duplicates resolve first-occurrence: earliest (parent_seq,
        # link_pos) wins — the queue-insertion order of the reference
        first = (
            unseen(queue_cand)
            .groupBy("source_id", "url")
            .agg(F.min(F.struct("parent_seq", "link_pos", "depth")).alias("k"))
            .select("source_id", "url", "k.parent_seq", "k.link_pos", "k.depth")
        )
        # rank LAZILY; the delta below is checkpointed once and the
        # per-source totals are read back from its blocks
        ranked = assign_seq_lazy(first, "source_id", ["parent_seq", "link_pos"], seq_col="rel_seq",
                                 est_rows=n_now * EST_WAVE_BRANCHING, num_partitions=parts)
        base_df = F.broadcast(
            local_frame(spark, sorted(seq_base.items()), "source_id string, base long")
        )
        # LEFT join + coalesce: a source missing from a resumed seq_base
        # must not silently lose its URLs
        delta = ranked.join(base_df, "source_id", "left").select(
            "source_id", "url", U.host_of(F.col("url")).alias("host"), "depth",
            (F.col("rel_seq") + F.coalesce(F.col("base"), F.lit(0))).alias("seq"),
            F.lit(True).alias("visited"),
        ).unionByName(previews)

        readmit, n_readmit = None, 0
        if budget is not None:
            readmit, n_readmit = budget.readmissions(queue_cand, seen, deepest)

        # the round's single materialization. The checkpoint is lazy, yet
        # under AQE this call runs every shuffle stage above (10-11 jobs,
        # ~0.65 s warm per round on 4 vCPUs); the totals collect below is
        # then a separate 2-job execution over the checkpointed blocks
        delta = delta.localCheckpoint(eager=False)
        seen = seen.unionByName(delta)
        n_new = n_fetchable = 0
        totals = delta.filter(F.col("visited")).groupBy("source_id", "depth").agg(
            F.count(F.lit(1)).alias("n"))
        for r in totals.collect():
            seq_base[r["source_id"]] = seq_base.get(r["source_id"], 0) + r["n"]
            n_new += r["n"]
            if r["depth"] < max_depth[r["source_id"]]:
                n_fetchable += r["n"]
            deepest = max(deepest, r["depth"])

        if budget is None:
            pending, n_pending = next_pending(delta), n_fetchable
        else:
            # truncates the deferred chain; LAZY unless re-admitted rows
            # ride along, which must materialize before release() drops
            # their cache (or the next round would recompute the fetch)
            pending = deferred.unionByName(next_pending(delta))
            if n_readmit:
                pending = pending.unionByName(readmit)
            pending = pending.localCheckpoint(eager=bool(n_readmit))
            n_pending += n_fetchable + n_readmit - n_now
        if state_store is not None:
            state_store.save_round(rounds, delta, pending, seq_base)
        cand.unpersist()
        if fetched_raw is not None:
            fetched_raw.unpersist()
        if budget is not None:
            budget.release()
        result.metrics.append(WaveMetrics(depth=rounds, wave_size=n_now, new_urls=n_new))

    result.seen = seen
    return result
