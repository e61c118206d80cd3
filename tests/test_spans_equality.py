"""Span-sequence equality (BASELINE.json per-row invariant): the Spark
parse engine's (kind, text, media_ref, offset) sequences, course records
(clean_text byte-equality, code normalization A5, required-field filter
F8) and good/bad URL flags all match the single-process oracle."""

import json

import pytest
from pyspark.sql import functions as F

from course_scraper_spark.operators.spans import scrape_targets
from course_scraper_spark.oracle.crawl import PageStore, oracle_crawl
from course_scraper_spark.oracle.parse import oracle_scrape


@pytest.fixture(scope="module")
def oracle_results(sources, pages_pdf, schemas_pdf):
    store = PageStore(pages_pdf)
    schema_by_sid = {r.source_id: json.loads(r.schema_json) for r in schemas_pdf.itertuples()}
    out = {}
    for s in sources:
        o = oracle_crawl(s, store)
        out[s.source_id] = (o.seen_sorted, oracle_scrape(o.seen_sorted, schema_by_sid[s.source_id], store))
    return out


@pytest.fixture(scope="module")
def scrape_output(spark, pages, schemas_pdf, oracle_results):
    targets_rows = [
        (sid, u) for sid, (seen, _) in oracle_results.items() for u in seen
    ]
    targets = spark.createDataFrame(targets_rows, ["source_id", "url"])
    schemas = spark.createDataFrame(schemas_pdf)
    return scrape_targets(targets, pages, schemas)


def test_span_sequence_equality(scrape_output, oracle_results):
    got = {
        (r.source_id, r.doc_id): [(sp.kind, sp.text, sp.media_ref, sp.offset) for sp in r.spans]
        for r in scrape_output.docs.collect()
    }
    want = {
        (sid, d["doc_id"]): [
            (sp["kind"], sp["text"], sp["media_ref"], sp["offset"]) for sp in d["spans"]
        ]
        for sid, (_, osc) in oracle_results.items()
        for d in osc.docs
    }
    assert got == want


def test_course_records_equality(scrape_output, oracle_results):
    def canon(recs):
        return sorted(json.dumps(r, sort_keys=True) for r in recs)

    got: dict = {}
    for r in scrape_output.courses.collect():
        d = {
            k: v
            for k, v in r.asDict().items()
            if k not in ("source_id", "record_pos") and v is not None
        }
        got.setdefault(r.source_id, []).append(d)
    for sid, (_, osc) in oracle_results.items():
        assert canon(got.get(sid, [])) == canon(osc.records), sid


def test_url_flags_equality(scrape_output, oracle_results):
    flags: dict = {}
    for r in scrape_output.url_flags.collect():
        flags.setdefault(r.source_id, {})[r.url] = r.is_target
    for sid, (_, osc) in oracle_results.items():
        good = {u for u, t in flags.get(sid, {}).items() if t}
        bad = {u for u, t in flags.get(sid, {}).items() if not t}
        assert good == osc.good_urls, sid
        assert bad == osc.bad_urls, sid


def test_archive_urls_never_fetched(scrape_output):
    # F7 (scraper.py:84): archive URLs are skipped pre-fetch, so they can
    # never appear among docs
    assert scrape_output.docs.filter(F.col("doc_id").contains("archive")).count() == 0


def test_docs_from_documents_pandas_equality(spark):
    """Round 6: the Arrow twin of docs_from_documents must emit the
    exact same rows (incl. span structs) as the Column form."""
    from course_scraper_spark.synth.docs import (
        docs_from_documents,
        docs_from_documents_pandas,
    )

    documents = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = docs_from_documents(documents).orderBy("doc_id").collect()
    b = docs_from_documents_pandas(documents).orderBy("doc_id").collect()
    assert a == b


def test_release_keeps_cache_flat(spark, pages, schemas_pdf, oracle_results, tmp_path):
    """scrape -> write -> release, three times: the session's persisted RDD
    count stays flat, and a released output still recomputes."""
    from course_scraper_spark.storage.snaptable import SnapshotTable

    targets = spark.createDataFrame(
        [(sid, u) for sid, (seen, _) in oracle_results.items() for u in seen], ["source_id", "url"]
    )
    schemas = spark.createDataFrame(schemas_pdf)
    pages.count()  # the session-wide page cache counts once it is built
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    for i in range(3):
        out = scrape_targets(targets, pages, schemas)
        docs = SnapshotTable.create(spark, str(tmp_path / f"docs{i}"), bucket_col="doc_id", n_buckets=4)
        docs.append(out.docs)
        SnapshotTable.create(spark, str(tmp_path / f"courses{i}")).append(out.courses)
        SnapshotTable.create(spark, str(tmp_path / f"flags{i}")).append(out.url_flags)
        out.release()
        assert persistent().size() == before, i
    n_docs = docs.read().count()
    assert n_docs > 0
    assert out.docs.count() == n_docs
