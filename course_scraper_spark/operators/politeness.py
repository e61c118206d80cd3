"""Per-host politeness scheduling.

The reference serializes fetches per source (semaphore ``max_concurrency=1``)
and sleeps ``crawl_delay + random()`` after every fetch
(``src/crawler.py:150,168``, ``src/render_utils.py:58``) — an implicit
~1 URL/s/host ceiling. In a parallel engine that becomes an explicit
*schedule*: within a wave, every URL gets a per-host slot
(``row_number() over (partition by host order by seq)``) and a start time
``(slot-1) * crawl_delay``; URLs whose start time exceeds the wave's time
budget are **deferred** — they stay in the frontier with their original
sequence (priority carried over), exactly like the reference's queue
backlog behind a slow host.

Scheduling never changes WHAT gets crawled, only WHEN — the equality
invariants (seen set, visit order) are unaffected because deferral
preserves seq order per host and the anti-join happens before
scheduling. Used by the budgeted crawl (operators/frontier.py) and
exported as the ``q_politeness_schedule`` oracle-checked query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranking import assign_seq_lazy

DEFAULT_CRAWL_DELAY = 1.0  # crawler.py:150: rp.crawl_delay("*") or 1.0


def with_schedule(
    wave: DataFrame,
    robots: DataFrame | None = None,
    robots_rows: int | None = None,
    host_offsets: DataFrame | None = None,
    wave_rows: int | None = None,
) -> DataFrame:
    """Add ``slot`` (1-based per-host fetch ordinal) and ``sched_time``
    (seconds after wave start). ``robots``: (host, crawl_delay) — a
    per-host dim, broadcast only below ROBOTS_BROADCAST_THRESHOLD rows
    (pass ``robots_rows`` from the loop to skip the count job).

    ``host_offsets``: (host, t0) cadence carry-over from the previous
    round (:func:`next_round_offsets`) — the host's first slot this
    round fires at ``t0`` instead of 0, so per-host fetch spacing stays
    ≥ crawl_delay ACROSS round boundaries, not just within one round
    (the reference sleeps crawl_delay after *every* fetch,
    render_utils.py:58 — the serial cadence doesn't reset because a
    wave ended).

    The slot rank routes through the LAZY adaptive ranking
    (``ranking.assign_seq_lazy`` — round 6: the eager ``assign_seq``
    collected per-host totals up front, a driver job that re-executed
    the whole upstream pipeline once per ``with_schedule`` call and was
    measured as most of q_politeness_carryover's cost). ``wave_rows``
    is the row-count ESTIMATE that picks the strategy: small (or
    ``None``) → one per-host window, zero extra jobs; above the
    threshold → two-phase range ranking so a Zipf mega-host never
    funnels its frontier share through one window task. Loop callers
    that can see Zipf hosts pass their tracked frontier estimate
    (overestimates are safe). (source_id, url) tiebreakers keep the
    slot deterministic when two sources sharing a host collide on
    seq."""
    if robots is not None:
        from .robots import robots_dim_side

        wave = wave.join(
            robots_dim_side(robots.select("host", "crawl_delay"), robots_rows), "host", "left"
        )
    else:
        wave = wave.withColumn("crawl_delay", F.lit(None).cast("double"))
    if host_offsets is not None:
        wave = wave.join(host_offsets.select("host", "t0"), "host", "left")
        offset = F.coalesce(F.col("t0"), F.lit(0.0))
    else:
        offset = F.lit(0.0)
    delay = F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
    tiebreak = [c for c in ("source_id", "url") if c in wave.columns]
    ranked = assign_seq_lazy(
        wave, "host", ["seq", *tiebreak], seq_col="slot", est_rows=wave_rows
    )
    return (
        ranked.withColumn("slot", F.col("slot").cast("int"))
        .withColumn("sched_time", offset + (F.col("slot") - 1) * delay)
        .drop("crawl_delay", "t0")
    )


def split_by_budget(
    scheduled: DataFrame, budget_s: float
) -> tuple[DataFrame, DataFrame]:
    """(fetch_now, deferred): rows whose sched_time fits the wave budget
    vs the carry-over that stays in the frontier."""
    now = scheduled.filter(F.col("sched_time") < F.lit(budget_s))
    deferred = scheduled.filter(F.col("sched_time") >= F.lit(budget_s)).drop(
        "slot", "sched_time"
    )
    return now, deferred


def next_round_offsets(
    scheduled_now: DataFrame,
    prev_offsets: DataFrame | None,
    robots: DataFrame | None,
    budget_s: float,
    robots_rows: int | None = None,
) -> DataFrame:
    """(host, t0) cadence carry-over for the NEXT round.

    A host whose last fetch this round fired at ``last_t`` owes the next
    round an initial wait of ``max(0, last_t + crawl_delay - budget)``
    — the next round starts ``budget`` seconds after this one, so only
    the remainder of the delay crosses the boundary. A host that
    fetched NOTHING this round (its pending offset exceeded the whole
    budget — crawl_delay > budget regimes) decays its previous offset
    by the budget instead. Hosts that owe nothing (t0=0) are dropped —
    the offsets dim stays proportional to the hosts actually behind on
    cadence, not the whole host universe."""
    if robots is not None:
        from .robots import robots_dim_side

        delay_dim = robots_dim_side(robots.select("host", "crawl_delay"), robots_rows)
    else:
        delay_dim = None
    last = scheduled_now.groupBy("host").agg(F.max("sched_time").alias("last_t"))
    if delay_dim is not None:
        last = last.join(delay_dim, "host", "left")
    else:
        last = last.withColumn("crawl_delay", F.lit(None).cast("double"))
    delay = F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
    fresh = last.select(
        "host",
        F.greatest(F.lit(0.0), F.col("last_t") + delay - F.lit(budget_s)).alias("t0"),
    )
    if prev_offsets is not None:
        decayed = (
            prev_offsets.join(fresh.select("host"), "host", "left_anti")
            .select("host", F.greatest(F.lit(0.0), F.col("t0") - F.lit(budget_s)).alias("t0"))
        )
        fresh = fresh.unionByName(decayed)
    return fresh.filter(F.col("t0") > 0)


def host_budget(robots: DataFrame | None, wave_seconds: float) -> DataFrame | None:
    """URLs/wave ceiling per host = floor(wave_seconds / crawl_delay)."""
    if robots is None:
        return None
    delay = F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
    return robots.select(
        "host", F.floor(F.lit(wave_seconds) / delay).cast("int").alias("max_urls_per_wave")
    )
