"""Live HTTP fetch: the reference's retry/backoff/render ladder as a
distributed mapInPandas operator (``fetch='http'`` in the crawl loops).

Reproduces ``/root/reference/src/render_utils.py:43-102`` semantics —
static GET with a UA header, up to 5 retries with an exponential 1→16 s
backoff plus jitter on retryable statuses, then a dynamic-render
(Playwright-style) fallback for 403/404/429 — but as a *per-partition*
ladder over the wave DataFrame instead of an asyncio loop:

* the transport is created ONCE per partition (``transport_factory()``
  inside ``mapInPandas`` before the batch loop) — the distributed twin of
  the reference's shared httpx session;
* retry sleeps go through an injectable ``sleep_fn`` — the DEFAULT is
  real ``time.sleep`` (production ``fetch='http'`` backs off against
  rate-limiting hosts without the caller opting in); tests/bench pass
  the explicit :data:`NO_SLEEP` sentinel since the synthetic
  transports' outcomes are deterministic;
* jitter is derived from ``crc32(url|attempt)`` — deterministic, so the
  schedule (and any test asserting on it) is reproducible, unlike the
  reference's ``random()``;
* hard 404s skip the retry loop and go straight to the render branch
  (retrying a 404 never helps); 403/429 retry first (they are often
  rate-limits); 5xx retry but have no render branch; connection errors
  (status ``None``) retry and THEN take the render branch — a
  documented deviation from the reference, which falls back to
  Playwright immediately on ``httpx.RequestError``
  (render_utils.py:71-74): transient network errors are worth retrying
  before paying for a browser render, and pages recoverable only via
  dynamic render still get their render attempt at the end.

Exactness contract: for a transport serving the synthetic world
(``world_transport_factory``), the ladder's success set, html bytes and
attempt counts are byte-identical to the fetch-join path — ``ok`` here
equals ``frontier.fetch_ok_col()`` over the pages table, and
``n_attempts`` equals :func:`attempts_col` (the Column mirror used for
join-path metrics). Pinned by tests/test_fetch_http.py.
"""

from __future__ import annotations

import time
import zlib
from dataclasses import dataclass
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

MAX_RETRIES = 5          # render_utils.py ladder: 1 try + 5 retries
BASE_BACKOFF_S = 1.0     # 1 -> 2 -> 4 -> 8 -> 16 s doubling
USER_AGENT = "course-scraper-spark/0.3 (+crawl; respectful)"

RETRYABLE = frozenset({403, 429})        # rate-limit-ish: retry, then render
# Statuses with a render branch. None = connection error: the reference
# renders immediately on httpx.RequestError; we retry first, then render
# (see module docstring).
RENDER_FALLBACK = frozenset({403, 404, 429, None})


def NO_SLEEP(_s: float) -> None:
    """Explicit no-backoff sentinel for tests/bench over deterministic
    synthetic transports (retrying later changes nothing there). The
    default ``sleep_fn=REAL_SLEEP`` resolves to real ``time.sleep``."""


class _RealSleep:
    """Default sentinel: real ``time.sleep`` backoff. A distinct object
    (not None) so the pre-round-4 API contract — where ``sleep_fn=None``
    meant NO sleeping — fails loudly instead of silently blocking up to
    ~31 s per failing URL: passing literal None now raises and points at
    :data:`NO_SLEEP`."""

    def __call__(self, s: float) -> None:
        time.sleep(s)


REAL_SLEEP = _RealSleep()


def _resolve_sleep(sleep_fn) -> Callable[[float], None]:
    if sleep_fn is None:
        raise TypeError(
            "sleep_fn=None is ambiguous: it used to mean 'no backoff' and "
            "now defaults to real time.sleep. Pass NO_SLEEP to skip "
            "backoff waits, or omit the argument for real sleeps."
        )
    return sleep_fn


@dataclass
class FetchResponse:
    status: int | None   # None = connection error / unknown host
    html: str | None
    mode: str | None     # 'static' | 'dynamic' | None


class SyntheticTransport:
    """Transport serving the synthetic world from a Spark broadcast dict.

    The test/bench twin of a real HTTP transport: resolves a URL to the
    deterministic ``(status_code, fetch_mode, html)`` the pages table
    holds. ``render`` succeeds only for dynamic-renderable pages — the
    static error pages have no JS payload, exactly the
    ``synth/world.fetch_ok`` model."""

    def __init__(self, bcast):
        self._pages = bcast

    def get(self, url: str, headers: dict | None = None) -> FetchResponse:
        row = self._pages.value.get(url)
        if row is None:
            return FetchResponse(None, None, None)  # connection error
        status, mode, html = row
        return FetchResponse(status, html if status < 400 else None, mode)

    def render(self, url: str) -> FetchResponse:
        row = self._pages.value.get(url)
        if row is None:
            return FetchResponse(None, None, None)
        status, mode, html = row
        if mode == "dynamic":
            return FetchResponse(200, html, "dynamic")
        return FetchResponse(status, None, mode)


class HttpTransport:
    """Real-network transport (httpx session + optional renderer).

    Not exercisable in this sandbox (no network, httpx not installed) —
    the import is deferred so the module stays loadable; inject a
    Playwright-backed ``render_fn`` on a cluster that has one."""

    def __init__(self, timeout_s: float = 30.0, render_fn: Callable | None = None):
        import httpx  # deferred: not present in the sandbox

        self._client = httpx.Client(
            timeout=timeout_s, headers={"User-Agent": USER_AGENT}, follow_redirects=True
        )
        self._render_fn = render_fn

    def get(self, url: str, headers: dict | None = None) -> FetchResponse:
        try:
            r = self._client.get(url, headers=headers or {})
            return FetchResponse(r.status_code, r.text if r.status_code < 400 else None, "static")
        except Exception:
            return FetchResponse(None, None, None)

    def render(self, url: str) -> FetchResponse:
        if self._render_fn is None:
            return FetchResponse(None, None, None)
        try:
            html = self._render_fn(url)
            return FetchResponse(200, html, "dynamic") if html else FetchResponse(None, None, None)
        except Exception:
            return FetchResponse(None, None, None)


def world_transport_factory(pages: DataFrame) -> Callable[[], SyntheticTransport]:
    """Broadcast the synthetic pages once; each partition builds a
    :class:`SyntheticTransport` over the shared broadcast blob."""
    rows = pages.select("url", "status_code", "fetch_mode", "html").collect()
    data = {r.url: (int(r.status_code), r.fetch_mode, r.html) for r in rows}
    bcast = pages.sparkSession.sparkContext.broadcast(data)
    return lambda: SyntheticTransport(bcast)


def _jitter(url: str, attempt: int) -> float:
    """Deterministic stand-in for the reference's random() jitter: [0, 1)s
    from crc32(url|attempt)."""
    return (zlib.crc32(f"{url}|{attempt}".encode()) % 1000) / 1000.0


def run_ladder(
    transport,
    url: str,
    sleep_fn: Callable[[float], None] = REAL_SLEEP,
    max_retries: int = MAX_RETRIES,
    base_backoff_s: float = BASE_BACKOFF_S,
) -> tuple[bool, int | None, str | None, str | None, int]:
    """(ok, status_code, fetch_mode, html, n_attempts) for one URL.

    The render_utils.py ladder, per URL: GET; success below 400; 404 goes
    straight to render; 403/429/5xx/connection errors retry with
    exponential backoff + jitter; after retries, 403/404/429 and
    connection errors try the dynamic-render branch. The default backs
    off with real ``time.sleep`` — pass :data:`NO_SLEEP` for
    deterministic synthetic transports where retrying later changes
    nothing (literal ``None`` raises; it meant no-backoff in the old
    API)."""
    sleep = _resolve_sleep(sleep_fn)
    attempts = 0
    r = FetchResponse(None, None, None)
    for i in range(max_retries + 1):
        attempts += 1
        r = transport.get(url, headers={"User-Agent": USER_AGENT})
        if r.status is not None and r.status < 400:
            return True, r.status, r.mode, r.html, attempts
        if r.status == 404:
            break  # hard 404: no retry, straight to the render branch
        if i < max_retries:
            sleep(base_backoff_s * (2 ** i) + _jitter(url, i))
    if r.status in RENDER_FALLBACK:
        attempts += 1
        rr = transport.render(url)
        if rr.status is not None and rr.status < 400 and rr.html is not None:
            return True, rr.status, "dynamic", rr.html, attempts
    return False, r.status, r.mode, None, attempts


_FETCH_FIELDS = [
    T.StructField("status_code", T.IntegerType(), True),
    T.StructField("fetch_mode", T.StringType(), True),
    T.StructField("html", T.StringType(), True),
    T.StructField("ok", T.BooleanType(), False),
    T.StructField("n_attempts", T.IntegerType(), False),
]


def fetch_http(
    wave: DataFrame,
    transport_factory: Callable[[], object],
    url_col: str = "url",
    sleep_fn: Callable[[float], None] = REAL_SLEEP,
    max_retries: int = MAX_RETRIES,
    base_backoff_s: float = BASE_BACKOFF_S,
) -> DataFrame:
    """Fetch every wave row over HTTP; appends (status_code, fetch_mode,
    html, ok, n_attempts) to the wave's columns.

    Partitioning IS the fetch parallelism: the wave arrives pre-spread
    (salted_repartition upstream for Zipf mega-hosts), each task opens
    one transport (session reuse) and runs the ladder row by row. Failed
    rows come back with ``ok=false`` and null html — the caller keeps
    them in seen (dead-fetch path) exactly like the join path."""
    out_schema = T.StructType(list(wave.schema.fields) + _FETCH_FIELDS)
    in_cols = list(wave.columns)
    sleep = _resolve_sleep(sleep_fn)  # driver-side: bad None fails fast

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()  # once per partition: session reuse
        for pdf in batches:
            res = [
                run_ladder(transport, u, sleep, max_retries, base_backoff_s)
                for u in pdf[url_col]
            ]
            out = pdf[in_cols].copy()
            out["status_code"] = pd.array([s for _, s, _, _, _ in res], dtype="Int32")
            out["fetch_mode"] = [m for _, _, m, _, _ in res]
            out["html"] = [h for _, _, _, h, _ in res]
            out["ok"] = [o for o, _, _, _, _ in res]
            out["n_attempts"] = pd.array([a for _, _, _, _, a in res], dtype="Int32")
            yield out

    return wave.mapInPandas(run, out_schema)


# Marker stream for the in-band per-host fetch aggregates the fused
# operator emits when with_stats=True. In-band beats a Spark accumulator:
# accumulator updates from transformations can double-count on task
# retries, while rows are exactly-once with the rest of the result.
FETCH_STATS_STREAM = "__fetch_stats__"


def fetch_extract_http(
    wave: DataFrame,
    transport_factory: Callable[[], object],
    url_col: str = "url",
    sleep_fn: Callable[[float], None] = REAL_SLEEP,
    max_retries: int = MAX_RETRIES,
    base_backoff_s: float = BASE_BACKOFF_S,
    with_stats: bool = False,
) -> DataFrame:
    """FUSED fetch + link extraction: the ladder and the href parser run
    in the same Python worker, so page HTML never crosses the Arrow
    boundary at all.

    Measured (tools/scaling_bench.py, 460k heavy pages): the two-step
    fetch_http → mapInPandas(extract) chain moves every page body
    Python→JVM→Python — at ~15 KB/page that is GC/serialization-bound,
    not CPU-bound, and its N→4N efficiency collapsed to ~0.32 while the
    fused form stays CPU-shaped. At 100 TB this is the difference
    between shipping the corpus through Arrow twice per wave and never
    shipping it. Failed fetches yield no link rows — identical to
    ``fetch_http(...).filter(ok)`` + extract (equality-tested).

    Input columns: (source_id, url, seq, depth, is_mc, ...); output is
    the crawl loop's links schema.

    ``with_stats=True`` (requires a ``host`` input column) additionally
    emits ONE aggregate row per (source_id, host) per Arrow batch with
    ``stream=FETCH_STATS_STREAM``, packing the per-host fetch counters
    into the existing columns (page_url=host, parent_seq=n_urls,
    parent_depth=n_fetch_ok, link_pos=n_failed, href=str(n_attempts)) —
    so the production fused path feeds ``partition_metrics`` without
    un-fusing into fetch_http + extract (HTML still never crosses
    Arrow). Callers split them back out with :func:`split_fused_output`;
    per-host totals equal the two-step path's exactly
    (tests/test_fetch_http.py). Use the two-step form only when per-URL
    rows (status/mode/html per URL) must be recorded."""
    from ..functions.htmlmini import extract_hrefs, extract_mc_listing_hrefs

    cols = ("source_id", "page_url", "parent_seq", "parent_depth", "link_pos", "stream", "href")
    schema = (
        "source_id string, page_url string, parent_seq long, parent_depth int, "
        "link_pos int, stream string, href string"
    )
    if with_stats and "host" not in wave.columns:
        raise ValueError("with_stats=True requires a 'host' column on the wave")
    sleep = _resolve_sleep(sleep_fn)  # driver-side: bad None fails fast

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()  # once per partition: session reuse
        for pdf in batches:
            out = {k: [] for k in cols}
            stats: dict = {}
            hosts = pdf["host"] if with_stats else pdf[url_col]  # placeholder iter
            for sid, url, seq, dep, is_mc, host in zip(
                pdf["source_id"], pdf[url_col], pdf["seq"], pdf["depth"], pdf["is_mc"], hosts
            ):
                ok, _status, _mode, html, attempts = run_ladder(
                    transport, url, sleep, max_retries, base_backoff_s
                )
                if with_stats:
                    s = stats.setdefault((sid, host), [0, 0, 0])
                    s[0] += 1
                    s[1] += int(ok)
                    s[2] += attempts
                if not ok:
                    continue  # dead fetch: stays in seen, yields no links
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
            if with_stats:
                for (sid, host), (n_urls, n_ok, n_att) in sorted(stats.items()):
                    out["source_id"].append(sid)
                    out["page_url"].append(host)
                    out["parent_seq"].append(n_urls)
                    out["parent_depth"].append(n_ok)
                    out["link_pos"].append(n_urls - n_ok)
                    out["stream"].append(FETCH_STATS_STREAM)
                    out["href"].append(str(n_att))
            yield pd.DataFrame(out)

    return wave.mapInPandas(run, schema)


def split_fused_output(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``fetch_extract_http(..., with_stats=True)`` result into
    (link rows, per-host fetch stats). The stats side unpacks the
    column-reuse encoding and sums the per-batch aggregates into the
    ``fetch_stats_per_host`` shape — (source_id, host, n_urls,
    n_fetch_ok, n_failed, n_attempts) — ready for
    ``MetricsStore.record_wave``. PERSIST the fused DataFrame before
    splitting: both halves are consumed, and without a persist the
    ladder would fetch every URL twice."""
    links = fused.filter(F.col("stream") != FETCH_STATS_STREAM)
    stats = (
        fused.filter(F.col("stream") == FETCH_STATS_STREAM)
        .groupBy("source_id", F.col("page_url").alias("host"))
        .agg(
            F.sum("parent_seq").alias("n_urls"),
            F.sum("parent_depth").cast("long").alias("n_fetch_ok"),
            F.sum("link_pos").cast("long").alias("n_failed"),
            F.sum(F.col("href").cast("long")).alias("n_attempts"),
        )
    )
    return links, stats


def http_root_probe(spark, root_urls: list[str], transport_factory) -> DataFrame:
    """Distributed root fetch for ``fetch='http'`` mode: one single GET
    per root (the reference's root fetch has NO retry/fallback ladder and
    aborts the source on any HTTP error — crawler.py:180), collecting
    only (url, status_code, is_mc) booleans, mirroring
    ``frontier._root_probe``'s projection discipline. Connection errors
    surface as status 599 (≥400 ⇒ failed source)."""
    df = local_frame(spark, [(u,) for u in root_urls], "url string")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        for pdf in batches:
            out = {"url": [], "status_code": [], "is_mc": []}
            for u in pdf["url"]:
                r = transport.get(u, headers={"User-Agent": USER_AGENT})
                out["url"].append(u)
                out["status_code"].append(599 if r.status is None else int(r.status))
                out["is_mc"].append(bool(r.html and "Modern Campus Catalog" in r.html))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, "url string, status_code int, is_mc boolean")


def attempts_col(max_retries: int = MAX_RETRIES) -> F.Column:
    """Column mirror of :func:`run_ladder`'s attempt count, computable
    from (status_code, fetch_mode) — used by the join-path metrics so
    both fetch modes report identical per-host attempt totals.

    200s: 1. 404: 2 (GET + render). 403/429: retries exhausted + render =
    max_retries+2. Connection error (null status): retries exhausted +
    render = max_retries+2. 5xx: max_retries+1, no render branch."""
    s = F.col("status_code")
    return (
        F.when(s.isNull(), F.lit(max_retries + 2))
        .when(s < 400, F.lit(1))
        .when(s == 404, F.lit(2))
        .when(s.isin(403, 429), F.lit(max_retries + 2))
        .otherwise(F.lit(max_retries + 1))
        .cast("int")
    )
