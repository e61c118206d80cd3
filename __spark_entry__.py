"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every relational/dataflow operator from SURVEY.md §2
(plus the training-pipeline additions) over the driver's testdata tables;
``oracle_sql()`` gives the DuckDB-equivalent for each. Column names and
types are aligned on both sides (the driver hash-compares values with
columns sorted by name).

Operator ↔ query map (SURVEY.md §2 inventory):
  S3/J2  anti-join scan            q_task_anti_join
  J1     seen-set anti-join        q_set_difference (same primitive)
  A1/SET2 first-occurrence dedup   q_first_occurrence_dedup
  §2.5   politeness window         q_politeness_schedule
  §2.5   cross-round cadence       q_politeness_carryover
  A5/AR3 code normalization        q_code_normalization
  §2.8   clean_text (builtin path) q_clean_text
  F5     exclude-pattern filter    q_exclude_filter
  F1-F4  canonicalize/scope        q_url_canonicalize
  A3/O2  stratified top-k          q_stratified_topk
  O1/O3  sort + limit              q_top_hits
  A2     count metrics             q_count_metrics
  K6/J5  merge upsert              q_merge_upsert
  A6     merge insert/update tally q_merge_tally
  AR4/F11 label explode+validate   q_label_explode_validate
  AR1    JSON payload parse        q_json_extract
  §2.10  windowed rollup           q_windowed_rollup
  AR6    span synthesis/flatten    q_span_flatten
  dedup  exact                     q_exact_dedup
  dedup  n-gram jaccard            q_jaccard_pairs
  dedup  minhash signatures        q_minhash_signatures
  dedup  minhash+LSH (verified)    q_minhash_lsh_dedup
  dedup  simhash                   q_simhash
  dedup  simhash near-pairs        q_simhash_pairs
  dedup  embedding cosine          q_embedding_neardup
  dedup  embedding cosine (LSH)    q_embedding_neardup_lsh
  dedup  embedding keep-list       q_embedding_dup_clusters
  ANN    brute-force top-k         q_ann_topk
  ANN    LSH-bucketed top-k        q_ann_lsh_topk
  ANN    IVF (k-means lists)       q_ivf_topk
  text   token/quality stats       q_token_stats
  text   language id               q_lang_id
  text   fingerprint               q_fingerprint
  dedup  simhash 64-bit            q_simhash64
  dedup  simhash64 near-pairs      q_simhash64_pairs
  dedup  cluster formation (CC)    q_dup_clusters
  dedup  cluster formation (star)  q_dup_clusters_star
  S7/F   robots Disallow filter    q_robots_disallow
(37 queries, every one with a hash-exact DuckDB oracle)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from course_scraper_spark.functions import urls as U
from course_scraper_spark.functions.text import clean_text_builtin
from course_scraper_spark.operators import dedup as D
from course_scraper_spark.operators import similarity as SIM
from course_scraper_spark.operators import textstats as TS
from course_scraper_spark.operators.politeness import split_by_budget, with_schedule
from course_scraper_spark.synth.docs import docs_from_documents_pandas as docs_from_documents

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: docs-shaped span pipeline (BASELINE input shape) —
    synthesize docs, flatten spans, clean text, per-doc stats + lang id,
    join with exact-dedup keep decisions."""
    documents = _t(spark, SF_DEFAULT, "documents")
    docs = docs_from_documents(documents)
    flat = docs.select("doc_id", F.explode("spans").alias("sp"))
    text_spans = flat.filter(F.col("sp.kind") != "media").select(
        "doc_id", clean_text_builtin(F.col("sp.text")).alias("txt")
    )
    per_doc = text_spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_text_spans"),
        F.sum(TS.token_count(F.col("txt")).cast("long")).alias("n_tokens"),
    )
    media = (
        flat.filter(F.col("sp.kind") == "media")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_media"))
    )
    keep = D.exact_dedup(documents, "text", "doc_id").select(
        F.concat(F.lit("doc:"), F.col("keep_id").cast("string")).alias("doc_id"),
        F.lit(True).alias("is_canonical"),
    )
    return (
        per_doc.join(media, "doc_id", "left")
        .join(keep, "doc_id", "left")
        .select(
            "doc_id",
            "n_text_spans",
            "n_tokens",
            F.coalesce("n_media", F.lit(0)).alias("n_media"),
            F.coalesce("is_canonical", F.lit(False)).alias("is_canonical"),
        )
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_task_anti_join(spark, sf):
    # S3 shape: sources with no completed work yet — here: customers with
    # no finalized ('F') order (non-empty at every sf)
    customer, orders = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    done = orders.filter(F.col("o_orderstatus") == "F")
    return customer.join(done, customer.c_custkey == done.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


def q_set_difference(spark, sf):
    # SET1 shape: bad = all - good (scraper.py:36); the 'good' side is the
    # even-keyed customers so the difference is non-empty
    events, customer = _t(spark, sf, "events"), _t(spark, sf, "customer")
    good = customer.filter(F.col("c_custkey") % 2 == 0).select(F.col("c_custkey").alias("uid"))
    return events.select(F.col("user_id").alias("uid")).distinct().join(good, "uid", "left_anti")


def q_first_occurrence_dedup(spark, sf):
    events = _t(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def q_politeness_schedule(spark, sf):
    events = _t(spark, sf, "events")
    wave = events.select(
        F.col("user_id").alias("host"), F.col("event_id").alias("seq")
    )
    sched = with_schedule(wave)  # default crawl_delay 1.0 (crawler.py:150)
    now, _deferred = split_by_budget(sched, budget_s=5.0)
    return now.select(
        F.col("host").alias("user_id"),
        F.col("seq").alias("event_id"),
        F.col("slot").cast("long").alias("slot"),
        F.col("sched_time").cast("double").alias("sched_time"),
    )


def q_politeness_carryover(spark, sf):
    """Two scheduling rounds with cross-round cadence carry-over
    (politeness.next_round_offsets): round 1 schedules the even events
    (delay 2.0, budget 3.0 — the last fetch at t=2 owes the next round
    an offset of 1.0), round 2 schedules the deferral + the odd
    arrivals starting at each host's carried offset. Exercises the
    whole offsets pipeline — with_schedule(host_offsets=...), the
    greatest(0, last+delay-budget) math, the t0>0 dim pruning — against
    a pure window-function SQL mirror."""
    from course_scraper_spark.operators.politeness import next_round_offsets

    events = _t(spark, sf, "events")
    base = events.select(F.col("user_id").alias("host"), F.col("event_id").alias("seq"))
    # round 6: the host dim is read by THREE joins and its row count by
    # the broadcast gates — persist it and count once (the old shape
    # re-ran the events-distinct pipeline per consumer and per
    # robots_dim_side count, and the eager assign_seq totals collect
    # re-executed the whole upstream again per with_schedule call;
    # with_schedule is now lazy, see politeness.py). s1 feeds now1,
    # def1 AND the offsets agg — persist so one window pass serves all.
    robots = base.select("host").distinct().withColumn("crawl_delay", F.lit(2.0)).persist()
    n_hosts = robots.count()
    w1 = base.filter(F.col("seq") % 2 == 0)
    s1 = with_schedule(w1, robots=robots, robots_rows=n_hosts).persist()
    now1, def1 = split_by_budget(s1, budget_s=3.0)
    off = next_round_offsets(now1, None, robots, 3.0, robots_rows=n_hosts)
    p2 = def1.unionByName(base.filter(F.col("seq") % 2 == 1))
    s2 = with_schedule(p2, robots=robots, host_offsets=off, robots_rows=n_hosts)
    now2, _def2 = split_by_budget(s2, budget_s=3.0)

    def sel(df, rnd):
        return df.select(
            F.col("host").alias("user_id"),
            F.col("seq").alias("event_id"),
            F.lit(rnd).cast("long").alias("rnd"),
            F.col("slot").cast("long").alias("slot"),
            F.round(F.col("sched_time"), 6).cast("double").alias("sched_time"),
        )

    return sel(now1, 1).unionByName(sel(now2, 2))


def q_code_normalization(spark, sf):
    part = _t(spark, sf, "part")
    codes = F.split(F.col("p_name"), " ")
    norm = F.array_join(
        F.array_sort(
            F.array_distinct(F.filter(F.transform(codes, lambda c: F.trim(c)), lambda c: c != ""))
        ),
        "_",
    )
    return part.select("p_partkey", norm.alias("norm_code"))


def q_clean_text(spark, sf):
    documents = _t(spark, sf, "documents")
    return documents.select("doc_id", clean_text_builtin(F.col("text")).alias("cleaned"))


def q_exclude_filter(spark, sf):
    documents = _t(spark, sf, "documents")
    patterns = [r"slow", r"dup$", r"window.*window"]
    return documents.filter(~U.excluded(F.col("text"), patterns)).select("doc_id", "source")


def q_url_canonicalize(spark, sf):
    documents = _t(spark, sf, "documents")
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.edu/cat/p"), (F.col("doc_id") % 7).cast("string"), F.lit(".html")
    )
    m = F.col("doc_id") % 5
    href = (
        F.when(m == 0, F.concat(F.lit("/cat/x"), F.col("doc_id").cast("string"), F.lit(".html#frag")))
        .when(m == 1, F.concat(F.lit("rel"), F.col("doc_id").cast("string"), F.lit(".html")))
        .when(m == 2, F.lit("mailto:reg@example.edu"))
        .when(m == 3, F.concat(F.lit("https://ext.org/e"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("//cdn.example.edu/c"), F.col("doc_id").cast("string")))
    )
    df = documents.select("doc_id", page_url.alias("page_url"), href.alias("href"))
    df = df.withColumn("h2", U.strip_fragment(F.col("href"))).filter(U.is_followable(F.col("h2")))
    df = df.withColumn("full_url", U.absolutize(F.col("page_url"), F.col("h2")))
    return df.select(
        "doc_id",
        "full_url",
        U.host_of(F.col("full_url")).alias("host"),
        U.section_key(F.col("full_url")).alias("section_key"),
    )


def q_stratified_topk(spark, sf):
    documents = _t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        documents.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", F.col("rk").cast("long").alias("rk"))
    )


def q_top_hits(spark, sf):
    documents = _t(spark, sf, "documents")
    return documents.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(120).select("doc_id", "n_chars")


def q_count_metrics(spark, sf):
    documents = _t(spark, sf, "documents")
    return documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def q_merge_upsert(spark, sf):
    documents = _t(spark, sf, "documents")
    existing = documents.filter(F.col("source").isin("src0", "src1", "src2", "src3", "src4")).select(
        "doc_id", "text", "lang"
    )
    scraped = documents.filter(F.col("source").isin("src3", "src4", "src5", "src6")).select(
        "doc_id", F.upper(F.col("text")).alias("text"), F.lit("xx").alias("lang")
    )
    t, s = existing.alias("t"), scraped.alias("s")
    j = t.join(s, F.col("t.doc_id") == F.col("s.doc_id"), "full_outer")
    matched = F.col("t.doc_id").isNotNull() & F.col("s.doc_id").isNotNull()
    return j.select(
        F.coalesce(F.col("t.doc_id"), F.col("s.doc_id")).alias("doc_id"),
        F.when(matched | F.col("t.doc_id").isNull(), F.col("s.text")).otherwise(F.col("t.text")).alias("text"),
        F.when(matched | F.col("t.doc_id").isNull(), F.col("s.lang")).otherwise(F.col("t.lang")).alias("lang"),
        matched.alias("was_updated"),
    )


def q_merge_tally(spark, sf):
    """A6 insert/update tally (merge_courses.py:26-56: merge returns
    (merged, num_inserted, num_updated)) as pure Column algebra over the
    same existing/scraped split as q_merge_upsert — per-source outcome
    counts of the K6 upsert, the DataFrame twin of the backends'
    ``last_commit_tally()`` (storage/snaptable.py observes the same
    counts on the rows its MERGE writes; storage/iceberg.py reads them
    from the snapshot summary)."""
    documents = _t(spark, sf, "documents")
    existing = documents.filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    ).select("doc_id")
    scraped = documents.filter(
        F.col("source").isin("src3", "src4", "src5", "src6")
    ).select("doc_id", "source")
    j = scraped.join(existing.withColumn("_m", F.lit(1)), "doc_id", "left")
    return (
        j.select(
            "source",
            F.when(F.col("_m").isNotNull(), F.lit("updated"))
            .otherwise(F.lit("inserted"))
            .alias("outcome"),
        )
        .groupBy("source", "outcome")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_label_explode_validate(spark, sf):
    part = _t(spark, sf, "part")
    labels = part.select(
        F.col("p_partkey").alias("course_id"), F.explode(F.split(F.col("p_name"), " ")).alias("taxonomy_id")
    )
    valid = labels.groupBy("taxonomy_id").count().filter(F.col("count") >= 100).select("taxonomy_id")
    return labels.join(valid, "taxonomy_id", "left_semi").select("course_id", "taxonomy_id")


def q_json_extract(spark, sf):
    # AR1 (scraper.py:109-114): raw JSON payload -> typed rows via
    # from_json, then a relational agg over the extracted field
    events = _t(spark, sf, "events")
    k = F.from_json(F.col("props"), "k int").getField("k")
    return events.select(k.alias("k_val")).groupBy("k_val").agg(F.count(F.lit(1)).alias("n"))


def q_windowed_rollup(spark, sf):
    events = _t(spark, sf, "events")
    hour = F.floor(F.unix_timestamp(F.col("ts")) / 3600).alias("epoch_hour")
    return events.groupBy(hour, "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


def q_span_flatten(spark, sf):
    documents = _t(spark, sf, "documents")
    docs = docs_from_documents(documents)
    return (
        docs.select("doc_id", F.explode("spans").alias("sp"))
        .groupBy("doc_id", F.col("sp.kind").alias("kind"))
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


def q_exact_dedup(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"))


# one cached shingle explode shared by the whole dedup query family
# (jaccard / minhash / LSH) — the explode is their dominant cost.
# Keyed on applicationId (NOT id(spark): a stopped session's id can be
# reused by a new one, handing out DataFrames bound to a dead session);
# entries from older applications are unpersisted and evicted.
_SHINGLE_CACHE: dict = {}


def _shingles_shared(spark, sf):
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf)
    for stale in [k for k in _SHINGLE_CACHE if k[0] != app_id]:
        try:
            _SHINGLE_CACHE.pop(stale).unpersist()
        except Exception:
            pass  # dead session: nothing to unpersist
    if key not in _SHINGLE_CACHE:
        # pandas explode: ~4x the Column-algebra build (interpreted HOF
        # n-gram construction); equality pinned in tests/test_dedup_ops.py
        _SHINGLE_CACHE[key] = D.shingles_pandas(_t(spark, sf, "documents"), n=3).cache()
    return _SHINGLE_CACHE[key]


def shingle_cache_clear():
    """Unpersist + drop every cached shingle table (bench teardown hook)."""
    for key in list(_SHINGLE_CACHE):
        try:
            _SHINGLE_CACHE.pop(key).unpersist()
        except Exception:
            pass


def q_jaccard_pairs(spark, sf):
    # max_shingle_df caps ubiquitous shingles before the self-join — the
    # hot-key guard that keeps the pair space from going quadratic
    return D.jaccard_pairs(
        _t(spark, sf, "documents"), n=3, threshold=0.8, max_shingle_df=50,
        shingle_df=_shingles_shared(spark, sf),
    ).select("doc_a", "doc_b")


def q_minhash_signatures(spark, sf):
    # single-pass pandas variant (no explode/shuffle): 3.3s vs 12.4s for
    # the Column-algebra agg at sf0.1; bit-identical (tests + oracle)
    return D.minhash_signatures_pandas(_t(spark, sf, "documents"), n=3, k=8)


def q_minhash_lsh_dedup(spark, sf):
    return D.minhash_lsh_dedup(
        _t(spark, sf, "documents"), n=3, k=16, bands=4, threshold=0.8,
        shingle_df=_shingles_shared(spark, sf),
    ).select("doc_a", "doc_b")


def q_simhash(spark, sf):
    # single-pass pandas variant (no token explode / 32-column agg);
    # bit-identical to the Column form (tests + oracle)
    return D.simhash_pandas(_t(spark, sf, "documents"), bits=32)


def q_simhash_pairs(spark, sf):
    sigs = D.simhash_pandas(_t(spark, sf, "documents"), bits=32)
    return D.simhash_near_pairs(sigs, max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_dup_clusters(spark, sf):
    # the dedup KEEP-LIST: near-dup pairs -> transitive closure ->
    # (doc_id, cluster_id, is_canonical); pairs = 32-bit simhash d<=3
    docs = _t(spark, sf, "documents")
    sigs = D.simhash_pandas(docs, bits=32)
    pairs = D.simhash_near_pairs(sigs, max_hamming=3)
    return D.dup_clusters(docs, pairs).select("doc_id", "cluster_id", "is_canonical")


def q_dup_clusters_star(spark, sf):
    # same keep-list as q_dup_clusters, transitive closure FORCED through
    # the distributed star-contraction branch (Kiveris et al.) — the
    # O(log n)-round large-graph path is hash-checked against the same
    # recursive-CTE oracle as the union-find path
    docs = _t(spark, sf, "documents")
    sigs = D.simhash_pandas(docs, bits=32)
    pairs = D.simhash_near_pairs(sigs, max_hamming=3)
    return D.dup_clusters(docs, pairs, cc_method="star").select(
        "doc_id", "cluster_id", "is_canonical"
    )


def q_simhash64(spark, sf):
    # the SCALE configuration (Manku et al.): 64-bit signatures — two's-
    # complement longs on both engines; banding gets 16-bit blocks
    return D.simhash_pandas(_t(spark, sf, "documents"), bits=64)


def q_simhash64_pairs(spark, sf):
    # 4 x 16-bit blocks: 65,536 buckets/band (vs 256 at 32-bit) — the
    # banding stays pigeonhole-exact at d<=3, so the oracle brute-forces
    sigs = D.simhash_pandas(_t(spark, sf, "documents"), bits=64)
    return D.simhash_near_pairs(sigs, max_hamming=3, n_blocks=4, bits=64).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_embedding_neardup(spark, sf):
    return D.embedding_near_dup(
        _t(spark, sf, "embeddings").withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ),
        threshold=0.35,
    ).select("id_a", "id_b")


def q_embedding_neardup_lsh(spark, sf):
    # the scale path: LSH-bucketed pair generation (2 hyperplane tables),
    # exact-cosine verify — vs the label-blocked brute force above
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return SIM.lsh_near_dup_pairs(emb, dim=64, n_planes=4, n_tables=2, threshold=0.35).select(
        "id_a", "id_b"
    )


def q_embedding_dup_clusters(spark, sf):
    """Embedding-modality keep-list: LSH-blocked cosine near-dup pairs →
    transitive closure → (vec_id, cluster_id, is_canonical). The same
    cluster-formation machinery as the text path (q_dup_clusters), over
    the vector pairs — a multimodal dedup decision, not just pairs."""
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    pairs = SIM.lsh_near_dup_pairs(emb, dim=64, n_planes=4, n_tables=2, threshold=0.35)
    return D.dup_clusters(
        emb, pairs, id_col="vec_id", a_col="id_a", b_col="id_b"
    ).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "is_canonical"
    )


_QUERY_VEC_ID = 0


def _query_vec(spark, sf):
    row = (
        _t(spark, sf, "embeddings").filter(F.col("vec_id") == _QUERY_VEC_ID).select("embedding").first()
    )
    return [float(x) for x in row[0]]


def q_ann_topk(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return SIM.brute_force_topk(emb, _query_vec(spark, sf), k=10).select("vec_id")


def q_ann_lsh_topk(spark, sf):
    # hash-exact oracle: deterministic md5-derived planes are mirrored as
    # float literals in the DuckDB SQL, so both engines prune identically
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return SIM.lsh_topk(emb, _query_vec(spark, sf), k=10, n_planes=4).select("vec_id")


_ROBOTS_RULES = [
    ("src0.example.edu", ["/cat/p1", "/cat/p3"]),
    ("src1.example.edu", ["/cat/"]),
    ("src2.example.edu", []),
    ("src3.example.edu", None),
]


def q_robots_disallow(spark, sf):
    # S7/robots Disallow as an oracle-checked query: literal per-host
    # prefix rules over synthesized catalog URLs; hosts without rules (or
    # with empty/null lists) pass through (urllib.robotparser default)
    from course_scraper_spark.operators.robots import filter_disallowed

    documents = _t(spark, sf, "documents")
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.edu/cat/p"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".html"),
    )
    frontier = documents.select(
        "doc_id", page_url.alias("url"),
        F.concat(F.col("source"), F.lit(".example.edu")).alias("host"),
    )
    robots = spark.createDataFrame(
        [(h, 1.0, d) for h, d in _ROBOTS_RULES],
        "host string, crawl_delay double, disallow array<string>",
    )
    return filter_disallowed(frontier, robots, robots_rows=len(_ROBOTS_RULES)).select(
        "doc_id", "url", "host"
    )


_IVF_N_LISTS = 8


def _ivf_centroids(dim: int = 64):
    # deterministic md5-derived centroids (offset past the ANN planes) —
    # data-independent, so the SQL oracle embeds the same literals; the
    # kmeans_centroids path stays the quality default (pytest-covered)
    return [(i, SIM.hyperplane(100 + i, dim)) for i in range(_IVF_N_LISTS)]


def q_ivf_topk(spark, sf):
    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return SIM.ivf_topk(
        emb, _query_vec(spark, sf), k=10, n_lists=_IVF_N_LISTS, nprobe=3,
        centroids=_ivf_centroids(),
    ).select("vec_id")


def q_token_stats(spark, sf):
    documents = _t(spark, sf, "documents")
    t = F.col("text")
    return documents.select(
        "doc_id",
        TS.token_count(t).cast("long").alias("n_tokens"),
        TS.subword_estimate(t).cast("long").alias("n_subwords"),
        F.round(TS.stopword_ratio(t), 6).alias("stop_ratio"),
        F.round(TS.punct_ratio(t), 6).alias("punct_ratio"),
    )


def q_lang_id(spark, sf):
    documents = _t(spark, sf, "documents")
    return documents.select("doc_id", TS.lang_id(F.col("text")).alias("lang_pred"))


def q_fingerprint(spark, sf):
    documents = _t(spark, sf, "documents")
    return documents.select("doc_id", TS.fingerprint(F.col("text")).alias("fp"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_task_anti_join": q_task_anti_join,
        "q_set_difference": q_set_difference,
        "q_first_occurrence_dedup": q_first_occurrence_dedup,
        "q_politeness_schedule": q_politeness_schedule,
        "q_politeness_carryover": q_politeness_carryover,
        "q_code_normalization": q_code_normalization,
        "q_clean_text": q_clean_text,
        "q_exclude_filter": q_exclude_filter,
        "q_url_canonicalize": q_url_canonicalize,
        "q_stratified_topk": q_stratified_topk,
        "q_top_hits": q_top_hits,
        "q_count_metrics": q_count_metrics,
        "q_merge_upsert": q_merge_upsert,
        "q_merge_tally": q_merge_tally,
        "q_label_explode_validate": q_label_explode_validate,
        "q_json_extract": q_json_extract,
        "q_windowed_rollup": q_windowed_rollup,
        "q_span_flatten": q_span_flatten,
        "q_exact_dedup": q_exact_dedup,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_minhash_signatures": q_minhash_signatures,
        "q_minhash_lsh_dedup": q_minhash_lsh_dedup,
        "q_simhash": q_simhash,
        "q_simhash_pairs": q_simhash_pairs,
        "q_simhash64": q_simhash64,
        "q_simhash64_pairs": q_simhash64_pairs,
        "q_dup_clusters": q_dup_clusters,
        "q_dup_clusters_star": q_dup_clusters_star,
        "q_embedding_neardup": q_embedding_neardup,
        "q_embedding_neardup_lsh": q_embedding_neardup_lsh,
        "q_embedding_dup_clusters": q_embedding_dup_clusters,
        "q_ann_topk": q_ann_topk,
        "q_ann_lsh_topk": q_ann_lsh_topk,
        "q_ivf_topk": q_ivf_topk,
        "q_robots_disallow": q_robots_disallow,
        "q_token_stats": q_token_stats,
        "q_lang_id": q_lang_id,
        "q_fingerprint": q_fingerprint,
    }


# --------------------------------------------------------------------------
# oracles (ANSI SQL for DuckDB over the same parquet views)
# --------------------------------------------------------------------------

_TOKS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(t) >= 3
           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
           ELSE [array_to_string(t, ' ')] END) AS s
    FROM toks)
  WHERE s != '')
"""


def _hex2int_sql(expr: str, n_chars: int = 8, hugeint: bool = False) -> str:
    """Portable hex→int for an ``n_chars``-hex-char expression (matches
    Spark's conv(x,16,10)). ``hugeint`` lifts the arithmetic to HUGEINT —
    needed at 16 chars, where values reach 2^64-1 past BIGINT."""
    cast = "::HUGEINT" if hugeint else ""
    terms = []
    for i in range(n_chars):
        terms.append(
            f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1){cast}"
            f" * {16 ** (n_chars - 1 - i)}"
        )
    return "(" + " + ".join(terms) + ")"


def _simhash_sql(bits: int = 32) -> str:
    if bits == 32:
        h = _hex2int_sql("md5(tok)")
        bit = lambda i: f"(h >> {i}) & 1 = 1"
        weight = lambda i: f"{2 ** i}::BIGINT"
    else:
        # 64-bit: token hash as HUGEINT (unsigned view); bit test via
        # div/mod (portable — no HUGEINT shift dependency); signature
        # assembled as a signed BIGINT, top bit contributing -2^63 —
        # exactly Spark's two's-complement long
        h = _hex2int_sql("md5(tok)", n_chars=16, hugeint=True)
        bit = lambda i: f"(h // {2 ** i}::HUGEINT) % 2 = 1"
        weight = lambda i: "(-9223372036854775807 - 1)" if i == 63 else f"{2 ** i}::BIGINT"
    votes = ",\n    ".join(
        f"sum(CASE WHEN {bit(i)} THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{i} > 0 THEN {weight(i)} ELSE 0 END)" for i in range(bits))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
hashed AS (SELECT doc_id, {h} AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, ({sig}) AS simhash FROM votes
"""


_MARKERS = {
    "en": "['the','and','of','to','in']",
    "es": "['el','la','de','que','y']",
    "fr": "['le','la','et','les','des']",
    "de": "['der','die','und','das','nicht']",
}


def _lang_id_sql() -> str:
    scores = ",\n  ".join(
        f"len(list_filter(t, x -> list_contains({m}, x))) AS s_{l}" for l, m in _MARKERS.items()
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sc AS (SELECT doc_id, {scores} FROM toks)
SELECT doc_id,
  CASE WHEN s_de >= greatest(s_en, s_es, s_fr) AND s_de >= 1 THEN 'de'
       WHEN s_en >= greatest(s_es, s_fr) AND s_en >= 1 THEN 'en'
       WHEN s_es >= s_fr AND s_es >= 1 THEN 'es'
       WHEN s_fr >= 1 THEN 'fr'
       ELSE 'und' END AS lang_pred
FROM sc
"""


_STOPWORDS_SQL = "['the','a','of','to','and','in','is','for','on','with']"


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}

    out["q_task_anti_join"] = """
SELECT c_custkey, c_name, c_nationkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""

    out["q_set_difference"] = """
SELECT DISTINCT user_id AS uid FROM events
WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
"""

    out["q_first_occurrence_dedup"] = """
SELECT user_id, event_type, event_id AS first_event_id FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
"""

    # two rounds with cadence carry-over: delay 2, budget 3 — round 1
    # fetches slots at t=0,2; the t=2 fetch carries t0 = 2+2-3 = 1 into
    # round 2, whose first slot then fires at 1 and whose second (t=3)
    # defers. Mirrors politeness.next_round_offsets exactly.
    out["q_politeness_carryover"] = """
WITH r1 AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS slot
  FROM events WHERE event_id % 2 = 0),
s1 AS (SELECT user_id, event_id, slot, (slot - 1) * 2.0 AS sched FROM r1),
now1 AS (SELECT * FROM s1 WHERE sched < 3.0),
def1 AS (SELECT user_id, event_id FROM s1 WHERE sched >= 3.0),
off AS (
  SELECT user_id, max(sched) + 2.0 - 3.0 AS t0 FROM now1
  GROUP BY user_id HAVING max(sched) + 2.0 - 3.0 > 0),
p2 AS (
  SELECT user_id, event_id FROM def1
  UNION ALL
  SELECT user_id, event_id FROM events WHERE event_id % 2 = 1),
r2 AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS slot
  FROM p2),
s2 AS (
  SELECT r2.user_id, r2.event_id, r2.slot,
         coalesce(o.t0, 0) + (r2.slot - 1) * 2.0 AS sched
  FROM r2 LEFT JOIN off o ON o.user_id = r2.user_id),
now2 AS (SELECT * FROM s2 WHERE sched < 3.0)
SELECT user_id, event_id, 1::BIGINT AS rnd, slot::BIGINT AS slot,
       round(sched, 6)::DOUBLE AS sched_time FROM now1
UNION ALL
SELECT user_id, event_id, 2::BIGINT, slot::BIGINT,
       round(sched, 6)::DOUBLE FROM now2
"""

    out["q_politeness_schedule"] = """
SELECT user_id, event_id, slot, (slot - 1) * 1.0 AS sched_time FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS slot
  FROM events)
WHERE (slot - 1) * 1.0 < 5.0
"""

    out["q_code_normalization"] = """
SELECT p_partkey,
  array_to_string(list_sort(list_distinct(
    list_filter(list_transform(string_split(p_name, ' '), c -> trim(c)), c -> c != ''))), '_') AS norm_code
FROM part
"""

    out["q_clean_text"] = r"""
SELECT doc_id,
  trim(regexp_replace(regexp_replace(
    replace(replace(text, chr(160), ' '), chr(8226), ' '),
    '\n', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
FROM documents
"""

    out["q_exclude_filter"] = r"""
SELECT doc_id, source FROM documents
WHERE NOT (regexp_matches(text, 'slow') OR regexp_matches(text, 'dup$')
           OR regexp_matches(text, 'window.*window'))
"""

    out["q_url_canonicalize"] = """
WITH base AS (
  SELECT doc_id,
    'https://' || source || '.example.edu/cat/p' || (doc_id % 7) || '.html' AS page_url,
    CASE doc_id % 5
      WHEN 0 THEN '/cat/x' || doc_id || '.html#frag'
      WHEN 1 THEN 'rel' || doc_id || '.html'
      WHEN 2 THEN 'mailto:reg@example.edu'
      WHEN 3 THEN 'https://ext.org/e' || doc_id
      ELSE '//cdn.example.edu/c' || doc_id END AS href
  FROM documents),
stripped AS (
  SELECT doc_id, page_url,
    CASE WHEN contains(href, '#') THEN split_part(href, '#', 1) ELSE href END AS h2
  FROM base),
kept AS (
  SELECT * FROM stripped
  WHERE h2 != '' AND NOT starts_with(h2, 'mailto:') AND NOT starts_with(h2, 'tel:')),
abs AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(h2, '^[a-zA-Z][a-zA-Z0-9+.\\-]*:') THEN h2
         WHEN starts_with(h2, '//') THEN 'https:' || h2
         WHEN starts_with(h2, '/') THEN regexp_extract(page_url, '^(https://[^/]+)', 1) || h2
         ELSE regexp_extract(page_url, '^(https://[^/]+)', 1) || '/' || h2 END AS full_url
  FROM kept)
SELECT doc_id, full_url,
  regexp_extract(full_url, '^[a-z]+://([^/]+)', 1) AS host,
  CASE WHEN contains(rtrim(regexp_extract(full_url, '^[a-z]+://[^/]+(/[^?#]*)?', 1), '/'), '/')
       THEN regexp_replace(rtrim(regexp_extract(full_url, '^[a-z]+://[^/]+(/[^?#]*)?', 1), '/'), '/[^/]*$', '')
       ELSE rtrim(regexp_extract(full_url, '^[a-z]+://[^/]+(/[^?#]*)?', 1), '/') END AS section_key
FROM abs
"""

    out["q_stratified_topk"] = """
SELECT source, doc_id, rk FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents) WHERE rk <= 5
"""

    out["q_top_hits"] = """
SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 120
"""

    out["q_count_metrics"] = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY source
"""

    out["q_merge_upsert"] = """
WITH existing AS (
  SELECT doc_id, text, lang FROM documents WHERE source IN ('src0','src1','src2','src3','src4')),
scraped AS (
  SELECT doc_id, upper(text) AS text, 'xx' AS lang FROM documents
  WHERE source IN ('src3','src4','src5','src6'))
SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
  CASE WHEN s.doc_id IS NOT NULL THEN s.text ELSE t.text END AS text,
  CASE WHEN s.doc_id IS NOT NULL THEN s.lang ELSE t.lang END AS lang,
  (t.doc_id IS NOT NULL AND s.doc_id IS NOT NULL) AS was_updated
FROM existing t FULL OUTER JOIN scraped s ON t.doc_id = s.doc_id
"""

    out["q_merge_tally"] = """
WITH existing AS (
  SELECT doc_id FROM documents WHERE source IN ('src0','src1','src2','src3','src4')),
scraped AS (
  SELECT doc_id, source FROM documents WHERE source IN ('src3','src4','src5','src6'))
SELECT s.source,
  CASE WHEN e.doc_id IS NOT NULL THEN 'updated' ELSE 'inserted' END AS outcome,
  count(*) AS n
FROM scraped s LEFT JOIN existing e ON s.doc_id = e.doc_id
GROUP BY 1, 2
"""

    out["q_label_explode_validate"] = """
WITH labels AS (
  SELECT p_partkey AS course_id, unnest(string_split(p_name, ' ')) AS taxonomy_id FROM part),
valid AS (SELECT taxonomy_id FROM labels GROUP BY 1 HAVING count(*) >= 100)
SELECT course_id, taxonomy_id FROM labels WHERE taxonomy_id IN (SELECT taxonomy_id FROM valid)
"""

    out["q_json_extract"] = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val, count(*) AS n
FROM events GROUP BY 1
"""

    out["q_windowed_rollup"] = """
SELECT floor(epoch(ts) / 3600)::BIGINT AS epoch_hour, event_type,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""

    out["q_span_flatten"] = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
chunks AS (
  SELECT doc_id, source, unnest(range(0, greatest(ceil(len(t) / 8.0)::INT, 1))) AS c
  FROM toks)
SELECT 'doc:' || doc_id AS doc_id,
  CASE WHEN c % 5 = 4 THEN 'media'
       WHEN c % 5 = 0 THEN 'course_title'
       ELSE 'course_description' END AS kind,
  count(*) AS n_spans
FROM chunks GROUP BY 1, 2
"""

    out["q_exact_dedup"] = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""

    out["q_jaccard_pairs"] = f"""
WITH {_SHINGLES_CTE},
capped AS (
  SELECT doc_id, s FROM sh
  WHERE s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50)),
sz AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b FROM common
JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.8
"""

    _h32 = _hex2int_sql("md5(s)")
    mh_cols = ",\n  ".join(
        f"min(({2 * i + 3} * h + {7 * i + 1}) % 2147483647) AS mh{i}" for i in range(8)
    )
    out["q_minhash_signatures"] = f"""
WITH {_SHINGLES_CTE},
hashed AS (SELECT doc_id, {_h32} AS h FROM sh)
SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id
"""

    out["q_simhash"] = _simhash_sql()

    # simhash near-pairs: the Spark side bands for candidate generation,
    # but banding is pigeonhole-EXACT for d<=3, so the oracle can use the
    # semantically-equal brute-force pair join
    sig_body = _simhash_sql().strip()
    out["q_simhash_pairs"] = f"""
WITH sigs AS ({sig_body})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    # dup clusters: transitive closure of the simhash-pair graph via a
    # recursive CTE (symmetric edges -> reach covers the component; min
    # reachable id = cluster id), singletons cluster with themselves
    out["q_dup_clusters"] = f"""
WITH RECURSIVE
sigs AS ({sig_body}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst),
comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.comp, d.doc_id) AS cluster_id,
       (d.doc_id = coalesce(c.comp, d.doc_id)) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""

    # star-contraction variant: same pairs, same transitive closure —
    # the oracle is identical; only the Spark-side CC algorithm differs
    out["q_dup_clusters_star"] = out["q_dup_clusters"]

    out["q_simhash64"] = _simhash_sql(bits=64)
    sig64_body = _simhash_sql(bits=64).strip()
    out["q_simhash64_pairs"] = f"""
WITH sigs AS ({sig64_body})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    # minhash + LSH dedup: same banding (md5 over '|'-joined signature
    # slices, 4 bands x 4 rows, k=16) then true-Jaccard verification at 0.8
    mh16 = ",\n  ".join(
        f"min(({2 * i + 3} * h + {7 * i + 1}) % 2147483647) AS mh{i}" for i in range(16)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sigs".format(
            b=b,
            cat=" || '|' || ".join(f"mh{b * 4 + j}::VARCHAR" for j in range(4)),
        )
        for b in range(4)
    )
    out["q_minhash_lsh_dedup"] = f"""
WITH {_SHINGLES_CTE},
hashed AS (SELECT doc_id, {_h32} AS h FROM sh),
sigs AS (SELECT doc_id, {mh16} FROM hashed GROUP BY doc_id),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS cnt
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY 1, 2)
SELECT doc_a, doc_b FROM common
JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE round(cnt * 1.0 / (x.n + y.n - cnt), 6) >= 0.8
"""

    out["q_embedding_neardup"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
"""

    out["q_ann_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
SELECT vec_id FROM embeddings, q
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id LIMIT 10
"""

    # embedding near-dup, LSH path: per hyperplane TABLE t, bucket = sign
    # bits of planes t*4..t*4+3; candidates share a bucket in any table
    # (UNION dedups), verified by exact cosine — mirrors
    # similarity.lsh_near_dup_pairs
    def _bucket_sql(vexpr: str, table: int) -> str:
        terms = []
        for b in range(4):
            plane = SIM.hyperplane(table * 4 + b, 64)
            lit = "[" + ", ".join(repr(v) for v in plane) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product({vexpr}, {lit}) >= 0 THEN {2 ** b} ELSE 0 END)"
            )
        return " + ".join(terms)

    table_joins = "\nUNION\n".join(
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM bkt{t} a "
        f"JOIN bkt{t} b ON a.bkt = b.bkt AND a.vec_id < b.vec_id"
        for t in range(2)
    )
    bkt_ctes = ",\n".join(
        f"bkt{t} AS (SELECT vec_id, ({_bucket_sql('embedding::DOUBLE[]', t)}) AS bkt FROM embeddings)"
        for t in range(2)
    )
    out["q_embedding_neardup_lsh"] = f"""
WITH {bkt_ctes},
cand AS ({table_joins})
SELECT id_a, id_b
FROM cand
JOIN embeddings x ON x.vec_id = id_a
JOIN embeddings y ON y.vec_id = id_b
WHERE round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) >= 0.35
"""

    # embedding keep-list: the LSH pair SQL above + the same recursive
    # transitive-closure CTE as q_dup_clusters, over vec ids
    out["q_embedding_dup_clusters"] = f"""
WITH RECURSIVE
{bkt_ctes},
cand AS ({table_joins}),
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN embeddings x ON x.vec_id = id_a
  JOIN embeddings y ON y.vec_id = id_b
  WHERE round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) >= 0.35),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst),
comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
SELECT d.vec_id,
       coalesce(c.comp, d.vec_id) AS cluster_id,
       (d.vec_id = coalesce(c.comp, d.vec_id)) AS is_canonical
FROM embeddings d LEFT JOIN comp c ON c.node = d.vec_id
"""

    # ANN LSH top-k: identical deterministic hyperplanes (md5-derived, dim
    # 64 — the testdata embedding width at every SF), bucket bit b = sign
    # of <v, plane_b>, multiprobe ring of Hamming radius 1 around the
    # query's bucket, then exact cosine on the survivors
    planes = [SIM.hyperplane(b, 64) for b in range(4)]
    plane_lits = ["[" + ", ".join(repr(v) for v in p) + "]" for p in planes]
    bucket_of = lambda vexpr: " + ".join(
        f"(CASE WHEN list_inner_product({vexpr}, {plane_lits[b]}) >= 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(4)
    )
    out["q_ann_lsh_topk"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
qb AS (SELECT qv, ({bucket_of('qv')}) AS qbits FROM q),
bucketed AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket_of('embedding::DOUBLE[]')}) AS bucket
  FROM embeddings)
SELECT vec_id FROM bucketed, qb
WHERE bit_count(xor(bucket::BIGINT, qbits::BIGINT)) <= 1
ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id LIMIT 10
"""

    # robots Disallow: literal rules mirrored as a VALUES dim; the Spark
    # side is the exists()-over-prefix-array Column algebra
    def _rule_sql(h, d):
        if d is None:
            lit = "NULL"
        elif not d:
            lit = "[]::VARCHAR[]"
        else:
            lit = "[" + ", ".join(f"'{p}'" for p in d) + "]"
        return f"('{h}', {lit})"

    rules_values = ",\n  ".join(_rule_sql(h, d) for h, d in _ROBOTS_RULES)
    out["q_robots_disallow"] = f"""
WITH rules(host, disallow) AS (VALUES
  {rules_values}),
f AS (SELECT doc_id,
  'https://' || source || '.example.edu/cat/p' || (doc_id % 7) || '.html' AS url,
  source || '.example.edu' AS host,
  '/cat/p' || (doc_id % 7) || '.html' AS path
  FROM documents),
j AS (SELECT f.doc_id, f.url, f.host, f.path, r.disallow
      FROM f LEFT JOIN rules r ON f.host = r.host)
SELECT doc_id, url, host FROM j
WHERE NOT coalesce(len(list_filter(disallow, p -> starts_with(path, p))) > 0, false)
"""

    # IVF top-k: deterministic centroid literals on both engines; assign
    # by round-6 argmax (ties -> lowest list id), probe the nprobe=3
    # nearest lists to the query, exact cosine on the survivors
    cents_vals = ",\n  ".join(
        f"({i}, [" + ", ".join(repr(v) for v in c) + "])" for i, c in _ivf_centroids()
    )
    out["q_ivf_topk"] = f"""
WITH cents(i, c) AS (VALUES
  {cents_vals}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.i,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.c), 6) AS cos
  FROM embeddings e CROSS JOIN cents c),
assigned AS (
  SELECT vec_id, v, i FROM (
    SELECT vec_id, v, i,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, i) AS rn
    FROM scored) WHERE rn = 1),
qscore AS (
  SELECT c.i, round(list_cosine_similarity(q.qv, c.c), 6) AS cos FROM cents c, q),
probe AS (
  SELECT i FROM (
    SELECT i, row_number() OVER (ORDER BY cos DESC, i) AS rn FROM qscore) WHERE rn <= 3)
SELECT vec_id FROM assigned JOIN probe USING (i), q
ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id LIMIT 10
"""

    out["q_token_stats"] = f"""
WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
SELECT doc_id,
  len(t)::BIGINT AS n_tokens,
  list_aggregate(list_transform(t, w -> CASE WHEN length(w) <= 4 THEN 1
                                             ELSE ceil(length(w) / 4.0)::INT END), 'sum')::BIGINT AS n_subwords,
  round(CASE WHEN len(t) > 0
             THEN len(list_filter(t, x -> list_contains({_STOPWORDS_SQL}, x))) * 1.0 / len(t)
             ELSE 0.0 END, 6) AS stop_ratio,
  round(CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
             ELSE 0.0 END, 6) AS punct_ratio
FROM toks
"""

    out["q_lang_id"] = _lang_id_sql()

    out["q_fingerprint"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
SELECT doc_id,
  CASE WHEN len(t) >= 3
       THEN list_min([md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) for i in range(1, len(t)-1)])
       ELSE md5(array_to_string(t, ' ')) END AS fp
FROM toks
"""

    return out
