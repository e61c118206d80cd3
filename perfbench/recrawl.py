"""``recrawl_http``: the production polite crawl path into existing tables.

One pass: ``crawl_sources_budgeted`` with the HTTP fetch ladder over a
spec transport (no page table in the fetch), robots crawl delays and
politeness rounds, then ``scrape_targets`` over the seen set and the
storage write path — ``save_urls`` (MERGE insert), a docs append,
``merge_courses`` (MERGE update + insert) and ``update_url_targets``
(MERGE update) — into ``urls``/``courses`` tables that set-up filled,
through the same write path, with the oracle's scrape of the
neighbouring-seed world. Every pass starts from a fresh copy of those
tables.

The oracle gate compares the pass's seen set with ``oracle_crawl`` (the
set only: budgets reorder visits), the docs table's span sequences with
``oracle_scrape``, and the final ``urls`` and ``courses`` tables with
the MERGE semantics replayed in Python over the oracle's records.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from course_scraper_spark import pipeline
from course_scraper_spark.oracle.crawl import PageStore, oracle_crawl
from course_scraper_spark.oracle.parse import oracle_scrape
from course_scraper_spark.operators import fetch, politeness
from course_scraper_spark.operators.fetch import NO_SLEEP, fetch_extract_http
from course_scraper_spark.operators.frontier import crawl_sources_budgeted
from course_scraper_spark.operators.merge import TABLE_COLS, create_courses_table, with_merge_keys
from course_scraper_spark.operators.metrics import MetricsStore, skew_evidence
from course_scraper_spark.storage.snaptable import SnapshotTable
from course_scraper_spark.synth.transport import spec_transport_factory
from course_scraper_spark.synth.world import (
    WorldSpec,
    build_pages,
    build_robots,
    build_schemas,
    build_sources,
)

from . import harness

# heavy pages: many links and ~15 KB of html each
N_HOSTS = 6
N_PAGES = 960
HEAVY = dict(branching=12, extra_links=4, filler_paras=40, max_courses=15)
# two politeness rounds over wide link levels: a pass is mostly fixed
# per-round and per-job cost, and a third round made a pass ~40% longer
# for little more fetch and parse work
CRAWL_DEPTH = 2
ROUND_BUDGET_S = 120.0
NEIGHBOUR_OFFSET = 1
TABLES = ("urls", "courses", "docs")


def _spans_key(spans) -> list:
    return [[s[0], s[1], s[2], s[3]] for s in spans]


class RecrawlHttp:
    name = "recrawl_http"

    def __init__(self, seed: int, work: str):
        self.spec = WorldSpec(n_hosts=N_HOSTS, total_pages=N_PAGES, seed=seed, **HEAVY)
        self.nb_spec = dataclasses.replace(self.spec, seed=seed + NEIGHBOUR_OFFSET)
        self.sources = [
            dataclasses.replace(s, crawl_depth=CRAWL_DEPTH) for s in build_sources(self.spec)
        ]
        self.mc_ids = [s.source_id for s in self.sources if "mc-catalog" in s.root_url]
        self.work = work
        self.base_dir = os.path.join(work, "base")
        self.nb_rows = None
        self.pages = None

    # -- oracle (pure Python, independent of Spark) ---------------------------

    def build_oracle(self) -> None:
        store = PageStore(self.pages)
        schemas = _schemas(self.spec)
        seen, good, docs, records = set(), set(), [], []
        attempted = pages_parsed = 0
        for src in self.sources:
            oc = oracle_crawl(src, store)
            sid = src.source_id
            seen |= {(sid, u) for u in oc.seen_sorted}
            attempted += len(oc.fetched) + len(oc.failed)
            pages_parsed += sum(
                1 for u in oc.seen_sorted if "archive" not in u and store.fetch(u) is not None
            )
            sc = oracle_scrape(oc.seen_sorted, schemas[sid], store)
            good |= {(sid, u) for u in sc.good_urls}
            docs += [
                (d["doc_id"], [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in d["spans"]])
                for d in sc.docs
            ]
            records += [(sid, r, pos) for r, pos in _with_pos(sc.records)]
        self.seen, self.good, self.records = seen, good, records
        self.docs_digest = harness.digest(docs)
        self.n_docs = len(docs)
        self.pages_parsed = pages_parsed
        # the work a user waits for: URLs fetched plus docs parsed
        self.items = attempted + len(docs)

    # -- Spark-side inputs and table population ---------------------------------

    def inputs(self, spark) -> dict:
        pages = (
            spark.createDataFrame(self.pages)
            .repartition(spark.sparkContext.defaultParallelism)
            .cache()
        )
        robots = spark.createDataFrame(build_robots(self.spec)).cache()
        schemas = spark.createDataFrame(build_schemas(self.spec)).cache()
        pages.count(), robots.count(), schemas.count()
        return {"pages": pages, "robots": robots, "schemas": schemas}

    def before_setup(self) -> None:
        """Untimed: the ``urls`` and ``courses`` rows set-up writes, from
        the neighbouring-seed world (same URL shapes, other statuses and
        course blocks) with every page scraped by the oracle. They stand
        in for an earlier crawl, so they are not part of set-up time."""
        pdf = build_pages(self.nb_spec)
        store = PageStore(pdf)
        schemas = _schemas(self.nb_spec)
        host_src = {s.root_url.split("/")[2]: s.source_id for s in self.sources}
        urls, courses = [], []
        for sid in host_src.values():
            page_urls = [u for u, h in zip(pdf["url"], pdf["host"]) if host_src.get(h) == sid]
            sc = oracle_scrape(page_urls, schemas[sid], store)
            urls += [(sid, u, u in sc.good_urls) for u in page_urls]
            courses += [
                (sid, r["_source_url"], pos) + tuple(r.get(c) for c in _RECORD_COLS)
                for r, pos in _with_pos(sc.records)
            ]
        self.nb_rows = (urls, courses)

    def populate(self, spark, base_dir: str) -> None:
        """Fill ``urls``/``courses`` with the neighbouring world's rows
        through the engine's own write path."""
        harness.rmtree(base_dir)
        url_rows, course_rows = self.nb_rows
        urls = SnapshotTable.create(
            spark, os.path.join(base_dir, "urls"), bucket_col="url", n_buckets=16
        )
        urls.append(spark.createDataFrame(url_rows, "source_id string, url string, is_target boolean"))
        courses = create_courses_table(spark, os.path.join(base_dir, "courses"))
        scraped = spark.createDataFrame(
            course_rows,
            "source_id string, _source_url string, record_pos int, "
            + ", ".join(f"{c} string" for c in _RECORD_COLS),
        )
        pipeline.merge_courses(courses, _with_seq(scraped), seq_col="seq")

    def setup(self, spark) -> dict:
        """World generation, the cached inputs and the filled tables."""
        self.pages = build_pages(self.spec)
        inp = self.inputs(spark)
        self.populate(spark, self.base_dir)
        return inp

    def release(self, inp: dict) -> None:
        for df in inp.values():
            df.unpersist()

    def prepare_check(self, spark) -> None:
        self.build_oracle()
        self.expect_tables(spark)

    def expect_tables(self, spark) -> None:
        """Expected final tables: the populated ones with the pass's
        MERGEs replayed in Python over the oracle output."""
        urls = {
            (r.source_id, r.url): r.is_target
            for r in SnapshotTable(spark, os.path.join(self.base_dir, "urls")).read().collect()
        }
        for key in self.seen:
            urls.setdefault(key, True)  # save_urls: insert when not matched
        for key in self.seen:
            urls[key] = key in self.good  # update_url_targets
        self.urls_digest = harness.digest([list(k) + [v] for k, v in urls.items()])

        rows = {
            (r.k_code, r.k_title): r.asDict()
            for r in SnapshotTable(spark, os.path.join(self.base_dir, "courses")).read().collect()
        }
        latest: dict = {}
        for sid, rec, pos in self.records:
            key = (rec.get("course_code") or "", rec.get("course_title") or "")
            seq = f"{rec['_source_url']}#{pos:06d}"
            if key not in latest or seq > latest[key][0]:
                latest[key] = (seq, sid, rec)
        for key, (_seq, sid, rec) in latest.items():
            if key in rows:
                rows[key]["course_description"] = rec.get("course_description")
                rows[key]["course_credits"] = rec.get("course_credits")
            else:
                rows[key] = {
                    "course_code": rec.get("course_code"),
                    "course_title": rec.get("course_title"),
                    "course_description": rec.get("course_description"),
                    "course_credits": rec.get("course_credits"),
                    "course_media": rec.get("course_media"),
                    "_source_url": rec["_source_url"],
                    "source_id": sid,
                    "k_code": key[0],
                    "k_title": key[1],
                }
        self.courses_digest = harness.digest([[r[c] for c in TABLE_COLS] for r in rows.values()])

    # -- one timed pass -----------------------------------------------------------

    def fresh_tables(self, pass_dir: str) -> None:
        harness.rmtree(pass_dir)
        shutil.copytree(self.base_dir, pass_dir)

    def run_pass(self, spark, inp: dict, pass_dir: str, api=None, crawl_kw=None) -> dict:
        """The timed section. ``api`` swaps in traced stand-ins for the
        engine functions; ``crawl_kw`` adds the traced pass's hooks."""
        api = api or {}
        crawl_fn = api.get("crawl_sources_budgeted", crawl_sources_budgeted)
        scrape_fn = api.get("scrape_targets", pipeline.scrape_targets)
        save_urls = api.get("save_urls", pipeline.save_urls)
        merge_courses = api.get("merge_courses", pipeline.merge_courses)
        update_targets = api.get("update_url_targets", pipeline.update_url_targets)

        t0 = time.perf_counter()
        crawl = crawl_fn(
            spark, self.sources, inp["pages"], robots=inp["robots"],
            round_budget_s=ROUND_BUDGET_S, fetch="http",
            transport_factory=spec_transport_factory(self.spec),
            fetch_kwargs={"sleep_fn": NO_SLEEP}, **(crawl_kw or {}),
        )
        seen_urls = crawl.seen.select("source_id", "url")
        urls = SnapshotTable(spark, os.path.join(pass_dir, "urls"))
        courses = create_courses_table(spark, os.path.join(pass_dir, "courses"))
        save_urls(urls, seen_urls)
        scrape = scrape_fn(seen_urls, inp["pages"], inp["schemas"])
        docs = SnapshotTable.create(
            spark, os.path.join(pass_dir, "docs"), bucket_col="doc_id", n_buckets=16
        )
        docs.append(scrape.docs)
        merge_courses(courses, _with_seq(scrape.courses), seq_col="seq")
        update_targets(urls, scrape.url_flags)
        wall = time.perf_counter() - t0
        return {"wall": wall, "crawl": crawl, "dir": pass_dir}

    def check(self, spark, res: dict) -> list[str]:
        """Mismatches between the pass's committed output and the oracle."""
        bad = []
        seen = {(r.source_id, r.url) for r in res["crawl"].seen.select("source_id", "url").collect()}
        if seen != self.seen:
            bad.append(f"seen set: {len(seen)} urls, oracle {len(self.seen)}")
        d = res["dir"]
        urls = SnapshotTable(spark, os.path.join(d, "urls")).read().collect()
        if harness.digest([[r.source_id, r.url, r.is_target] for r in urls]) != self.urls_digest:
            bad.append("urls table differs from the replayed MERGEs")
        docs = SnapshotTable(spark, os.path.join(d, "docs")).read().collect()
        if harness.digest([(r.doc_id, _spans_key(r.spans)) for r in docs]) != self.docs_digest:
            bad.append(f"docs span sequences: {len(docs)} docs, oracle {self.n_docs}")
        courses = SnapshotTable(spark, os.path.join(d, "courses")).read().collect()
        if harness.digest([[r[c] for c in TABLE_COLS] for r in courses]) != self.courses_digest:
            bad.append("courses table differs from the replayed MERGE")
        return bad

    # -- traced-pass hooks and per-layer metrics -----------------------------------

    def traced_api(self, tracer) -> tuple[dict, list]:
        """Traced stand-ins: the layer calls the pass makes itself, plus
        (owner, attribute, stand-in) patches for calls made inside the
        engine."""

        def seen_after(out, rec, args, kwargs):
            rec["attrs"]["urls_seen"] = out.seen.count()
            rec["attrs"]["rounds"] = len(out.metrics)

        def scrape_after(out, rec, args, kwargs):
            row = out.docs.agg(
                F.count(F.lit(1)).alias("docs"), F.sum(F.size("spans")).alias("spans")
            ).first()
            rec["attrs"].update(
                docs=row["docs"], spans=int(row["spans"] or 0),
                courses=out.courses.count(), url_flags=out.url_flags.count(),
            )

        def materialize(out, rec, args, kwargs):
            out, rec["attrs"]["rows"] = tracer.materialize(out)
            return out

        def table_after(out, rec, args, kwargs):
            table = args[0]
            if os.sep + "metrics" + os.sep in table.path + os.sep:
                # the traced pass's own MetricsStore; the fetch span
                # already materialized the round's stats it writes
                rec["layer"] = "trace"
            elif rec["name"].endswith(".merge"):
                rec["attrs"]["inserted"], rec["attrs"]["updated"] = table.last_commit_tally()

        api = {
            "crawl_sources_budgeted": tracer.wrap(
                crawl_sources_budgeted, "frontier.crawl_sources_budgeted", "frontier", seen_after
            ),
            "scrape_targets": tracer.wrap(
                pipeline.scrape_targets, "spans.scrape_targets", "spans", scrape_after
            ),
            "save_urls": tracer.wrap(pipeline.save_urls, "storage.save_urls", "storage"),
            "merge_courses": tracer.wrap(pipeline.merge_courses, "storage.merge_courses", "storage"),
            "update_url_targets": tracer.wrap(
                pipeline.update_url_targets, "storage.update_url_targets", "storage"
            ),
        }
        # both are imported inside the crawl loop, so patching the module
        # attribute reaches them
        patches = [
            (politeness, "with_schedule", tracer.wrap(
                politeness.with_schedule, "politeness.with_schedule", "politeness", materialize
            )),
            (fetch, "fetch_extract_http", tracer.wrap(
                fetch.fetch_extract_http, "fetch.crawl_fetch_extract_http", "fetch", materialize
            )),
        ] + [
            (SnapshotTable, op, tracer.wrap(
                getattr(SnapshotTable, op), f"storage.SnapshotTable.{op}", "storage", table_after
            ))
            for op in ("append", "overwrite", "merge")
        ]
        return api, patches

    def fetch_probe(self, spark, tracer, crawl, cores: int) -> dict:
        """Standalone fused fetch+extract over the pass's visited URLs."""
        wave = (
            crawl.seen.filter(F.col("visited"))
            .select(
                "source_id", "url", "host", "seq", "depth",
                F.col("source_id").isin(self.mc_ids).alias("is_mc"),
            )
            .repartition(cores * 2)
            .cache()
        )
        n = wave.count()
        with tracer.span("fetch.probe", "fetch") as rec:
            fetch_extract_http(
                wave, spec_transport_factory(self.spec), sleep_fn=NO_SLEEP
            ).count()
        wave.unpersist()
        wall = rec["end"] - rec["start"]
        return {"fetch.wall_s": wall, "fetch.urls_per_s": n / wall}

    def trace_hooks(self, spark, tracer, pass_dir: str) -> dict:
        """The engine's own counters for the traced pass: a MetricsStore
        (per-host fetch counts per round) and the politeness schedule log."""
        ms = MetricsStore(spark, os.path.join(pass_dir, "metrics"))
        schedule_log: list = []
        return {
            "ms": ms,
            "schedule_log": schedule_log,
            "before": table_state(pass_dir, spark),
            "crawl_kw": {"metrics_store": ms, "schedule_log": schedule_log, "run_id": tracer.run_id},
        }

    def layer_metrics(self, spark, tracer, res: dict, hooks: dict, cores: int, root: dict) -> dict:
        m = self.fetch_probe(spark, tracer, res["crawl"], cores)
        tracer.attach_counters(spark)
        self_t = tracer.layer_self_times(root)
        crawl_span = tracer.named("frontier.crawl_sources_budgeted")[0]
        fr = tracer.layer_counters("frontier")
        waves = crawl_span["attrs"]["rounds"]
        m["frontier.wall_s"] = self_t.get("frontier", 0.0)
        m["frontier.waves"] = waves
        m["frontier.per_wave_s"] = m["frontier.wall_s"] / max(waves, 1)
        m["frontier.urls_seen"] = crawl_span["attrs"]["urls_seen"]
        m["frontier.jobs"] = fr["jobs"]
        m["frontier.tasks"] = fr["tasks"]
        m["frontier.shuffle_write_mb"] = fr["shuffle_write_bytes"] / 1e6
        m["frontier.cpu_s"] = fr["cpu_ns"] / 1e9
        m["frontier.core_busy_ratio"] = (fr["run_ms"] / 1e3) / max(m["frontier.wall_s"] * cores, 1e-9)

        per_round: dict[int, int] = {}
        for rnd, _host, _url, _t in hooks["schedule_log"]:
            per_round[rnd] = per_round.get(rnd, 0) + 1
        m["politeness.rounds"] = len(per_round)
        m["politeness.urls_per_round_max"] = max(per_round.values(), default=0)
        pm = hooks["ms"].partition_metrics.read()
        skew = skew_evidence(pm).collect()
        m["politeness.host_skew"] = max(
            (r.max_host_urls / r.median_host_urls for r in skew if r.median_host_urls), default=0.0
        )
        m["politeness.wall_s"] = self_t.get("politeness", 0.0)

        tot = pm.agg(*[F.sum(c).alias(c) for c in ("n_urls", "n_fetch_ok", "n_failed", "n_attempts")]).first()
        n_urls = int(tot["n_urls"] or 0)
        m["fetch.urls"] = n_urls
        m["fetch.ok_ratio"] = int(tot["n_fetch_ok"] or 0) / max(n_urls, 1)
        m["fetch.retry_ratio"] = (int(tot["n_attempts"] or 0) - n_urls) / max(n_urls, 1)
        m["fetch.failed"] = int(tot["n_failed"] or 0)

        sc = tracer.named("spans.scrape_targets")[0]
        spc = tracer.layer_counters("spans")
        m["spans.wall_s"] = self_t.get("spans", 0.0)
        m["spans.pages_parsed"] = self.pages_parsed
        m["spans.docs"] = sc["attrs"]["docs"]
        m["spans.spans"] = sc["attrs"]["spans"]
        m["spans.courses"] = sc["attrs"]["courses"]
        m["spans.yield_ratio"] = sc["attrs"]["docs"] / max(self.pages_parsed, 1)
        m["spans.pages_per_s"] = self.pages_parsed / max(m["spans.wall_s"], 1e-9)
        m["spans.tasks"] = spc["tasks"]
        m["spans.cpu_s"] = spc["cpu_ns"] / 1e9

        m.update(storage_metrics(spark, tracer, res["dir"], hooks["before"], self_t))
        return m


def storage_metrics(spark, tracer, pass_dir: str, before_files: dict, self_t: dict) -> dict:
    m: dict[str, float] = {}
    m["storage.wall_s"] = self_t.get("storage", 0.0)
    commits = written = live = 0
    files = 0
    for t in TABLES:
        path = os.path.join(pass_dir, t)
        table = SnapshotTable(spark, path)
        commits += _data_commits(table) - before_files.get(("commits", t), 0)
        for f, size in list_files(path).items():
            if f not in before_files.get(("files", t), {}):
                files += 1
                written += size
        live += sum(os.path.getsize(p.replace("file:", "", 1)) for p in table.read().inputFiles())
    merges = [s for s in tracer.spans if s["name"] == "storage.SnapshotTable.merge"]
    m["storage.commits"] = commits
    m["storage.files_written"] = files
    m["storage.bytes_written_mb"] = written / 1e6
    m["storage.write_amp"] = written / max(live, 1)
    m["storage.merge_s"] = sum(s["end"] - s["start"] for s in merges)
    m["storage.merge_inserted"] = sum(s["attrs"].get("inserted", 0) for s in merges)
    m["storage.merge_updated"] = sum(s["attrs"].get("updated", 0) for s in merges)
    return m


def _data_commits(table: SnapshotTable) -> int:
    return sum(c.op != "create" for c in table.commits)


def list_files(path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def table_state(pass_dir: str, spark) -> dict:
    """Commit counts and data files of the pass's tables before it runs."""
    state = {}
    for t in TABLES:
        path = os.path.join(pass_dir, t)
        state[("commits", t)] = _data_commits(SnapshotTable(spark, path)) if os.path.isdir(path) else 0
        state[("files", t)] = list_files(path)
    return state


_RECORD_COLS = ("course_title", "course_description", "course_code", "course_credits", "course_media")


def _schemas(spec: WorldSpec) -> dict:
    return {sid: json.loads(sj) for sid, sj in build_schemas(spec).itertuples(index=False)}


def _with_pos(records: list[dict]):
    """(record, its position among its page's records), the parser's
    ``record_pos``."""
    pos: dict[str, int] = {}
    for r in records:
        i = pos.get(r["_source_url"], 0)
        pos[r["_source_url"]] = i + 1
        yield r, i


def _with_seq(courses):
    """The pipeline's deterministic last-wins merge key: (page url, pos)."""
    return with_merge_keys(
        courses.withColumn(
            "seq",
            F.concat_ws("#", F.col("_source_url"), F.lpad(F.col("record_pos").cast("string"), 6, "0")),
        )
    )
