"""``corpus_dedup``: the dedup and text-statistics suite over a replicated
corpus.

Set-up draws a documents and an embeddings table from the seed, with
the column types and the measured distributions of the sf0.1 test data
the repository's tests read (see ``N_DOCS``), blows both up with
``synth.docs.replicate_documents`` / ``replicate_embeddings`` and
writes them as parquet. One pass runs ``exact_dedup``,
``minhash_lsh_dedup``, ``simhash_near_pairs`` (64-bit),
``simhash_dup_clusters``, ``lsh_near_dup_pairs`` and the
``token_stats``/``lang_id`` columns, each collected to pandas.

The oracle gate runs the matching ``__spark_entry__.oracle_sql()``
queries in DuckDB over the same parquet files. The 64-bit signatures
come from ``q_simhash64`` run once per distinct token (``simhash64``),
the near pairs of ``q_simhash64_pairs`` from an exact pair join in
pandas (``near_pairs``; the SQL pair join is quadratic in DuckDB), and
the cluster keep-list is their transitive closure.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from course_scraper_spark.operators import dedup as D
from course_scraper_spark.operators import similarity as SIM
from course_scraper_spark.operators import textstats as TS
from course_scraper_spark.synth.docs import replicate_documents, replicate_embeddings

from . import harness

# The generator reproduces the measured shape of the sf0.1 test data
# (5,000 documents, 2,000 embeddings): texts of 10-99 tokens drawn
# uniformly from a 30-word vocabulary; 5% of documents are a copy of
# another document with " dup" appended (so a few copies of copies, and
# a few exact duplicates where two copies share a source); language and
# source labels independent of the text; embeddings are unit-norm
# Gaussian vectors with a uniform label in 0..9 and no cluster or
# near-copy structure.
N_DOCS = 5000
N_VECS = 2000
DIM = 64
FACTOR = 2
MIN_TOKENS, MAX_TOKENS = 10, 99
DUP_SHARE = 0.05
N_SOURCES = 20
N_LABELS = 10
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def make_documents(seed: int, n: int = N_DOCS) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(len(words), size=k)]) for k in lengths]
    for i in rng.choice(n, size=int(n * DUP_SHARE), replace=False):
        j = int(rng.integers(n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_embeddings(seed: int, n: int = N_VECS, dim: int = DIM) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 1)
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
            "label": rng.integers(0, N_LABELS, size=n).astype(np.int32),
        }
    )


# (metric name, oracle query, Spark call) — calls mirror the entry
# queries the oracles were written for
OPS = (
    ("dedup.exact_s", "q_exact_dedup", lambda d, e: D.exact_dedup(d)),
    ("dedup.minhash_lsh_s", "q_minhash_lsh_dedup", lambda d, e: D.minhash_lsh_dedup(
        d, n=3, k=16, bands=4, threshold=0.8).select("doc_a", "doc_b")),
    ("dedup.simhash64_pairs_s", "q_simhash64_pairs", lambda d, e: D.simhash_near_pairs(
        D.simhash_pandas(d, bits=64), max_hamming=3, n_blocks=4, bits=64).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))),
    ("dedup.simhash64_clusters_s", None, lambda d, e: D.simhash_dup_clusters(d).select(
        "doc_id", "cluster_id", "is_canonical")),
    ("similarity.lsh_neardup_s", "q_embedding_neardup_lsh", lambda d, e: SIM.lsh_near_dup_pairs(
        e, dim=DIM, n_planes=4, n_tables=2, threshold=0.35).select("id_a", "id_b")),
    ("textstats.token_stats_s", "q_token_stats", lambda d, e: d.select(
        "doc_id",
        TS.token_count(F.col("text")).cast("long").alias("n_tokens"),
        TS.subword_estimate(F.col("text")).cast("long").alias("n_subwords"),
        F.round(TS.stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
        F.round(TS.punct_ratio(F.col("text")), 6).alias("punct_ratio"))),
    ("textstats.lang_id_s", "q_lang_id", lambda d, e: d.select(
        "doc_id", TS.lang_id(F.col("text")).alias("lang_pred"))),
)


def canon_rows(df: pd.DataFrame) -> list:
    """Rows with columns in name order and values in a type-neutral form."""
    cols = sorted(df.columns)
    out = []
    for rec in df[cols].itertuples(index=False):
        row = []
        for v in rec:
            if isinstance(v, (bool, np.bool_)):
                row.append(str(bool(v)))
            elif isinstance(v, (float, np.floating)):
                row.append(round(float(v), 9))
            elif isinstance(v, (int, np.integer)):
                row.append(int(v))
            else:
                row.append(str(v))
        out.append(row)
    return out


def closure_keep_list(doc_ids, pairs: pd.DataFrame) -> pd.DataFrame:
    """Transitive closure of the pair graph: each doc's cluster id is the
    smallest id in its component; singletons cluster with themselves."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = [int(i) for i in doc_ids]
    cl = [find(i) for i in ids]
    return pd.DataFrame({"doc_id": ids, "cluster_id": cl, "is_canonical": [i == c for i, c in zip(ids, cl)]})


def simhash64(con, q_simhash64: str, docs: pd.DataFrame) -> pd.DataFrame:
    """``q_simhash64`` of ``docs`` (doc_id, text), computed once per
    distinct token. A one-token document's signature is its token's
    64-bit hash, so the oracle query run over the distinct tokens gives
    every token hash; each document's signature then follows from the
    query's own vote rule (bit b set iff more of its tokens have bit b
    set than not) in NumPy. The query over the whole corpus spends ~7 ms
    per document (16 md5 calls and 64 HUGEINT divisions per token)."""
    toks = [str(t).strip().lower().split() for t in docs["text"]]
    keep = np.array([bool(ts) for ts in toks])  # the query drops token-less docs
    docs, toks = docs[keep], [ts for ts in toks if ts]
    vocab = sorted({t for ts in toks for t in ts})
    index = {t: i for i, t in enumerate(vocab)}
    con.register("_vocab", pd.DataFrame({"doc_id": np.arange(len(vocab), dtype=np.int64), "text": vocab}))
    try:
        tok_sigs = con.execute(q_simhash64.replace("FROM documents", "FROM _vocab")).df()
    finally:
        con.unregister("_vocab")
    h = np.zeros(len(vocab), dtype=np.uint64)
    h[tok_sigs["doc_id"].to_numpy()] = tok_sigs["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    counts = np.zeros((len(toks), len(vocab)), dtype=np.int64)
    for row, ts in enumerate(toks):
        np.add.at(counts[row], [index[t] for t in ts], 1)
    votes = counts @ (2 * bits - 1)
    sig = ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    return pd.DataFrame({"doc_id": docs["doc_id"].to_numpy(dtype=np.int64), "simhash": sig.view(np.int64)})


def near_pairs(sigs: pd.DataFrame, max_hamming: int = 3) -> pd.DataFrame:
    """Every doc pair whose 64-bit signatures differ in at most
    ``max_hamming`` bits: the pair join of the ``q_simhash64_pairs``
    oracle over the oracle's own signatures. Exact by pigeonhole: split
    into ``max_hamming + 1`` bit blocks, such a pair agrees on a whole
    block, so the pairs agreeing on some block are the only candidates;
    every candidate's distance is then counted bit by bit."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    ids = sigs["doc_id"].to_numpy(dtype=np.int64)
    h = sigs["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
    cand = []
    for b in range(n_blocks):
        hi = 64 if b == n_blocks - 1 else (b + 1) * width
        key = (h >> np.uint64(b * width)) & np.uint64((1 << (hi - b * width)) - 1)
        df = pd.DataFrame({"key": key, "i": np.arange(len(h))})
        m = df.merge(df, on="key")
        cand.append(m.loc[m["i_x"] < m["i_y"], ["i_x", "i_y"]].to_numpy())
    ij = np.unique(np.concatenate(cand), axis=0) if cand else np.zeros((0, 2), dtype=np.int64)
    x = h[ij[:, 0]] ^ h[ij[:, 1]]
    dist = ((x[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(axis=1).astype(np.int64)
    keep = dist <= max_hamming
    a, b = ids[ij[keep, 0]], ids[ij[keep, 1]]
    return pd.DataFrame(
        {"doc_a": np.minimum(a, b), "doc_b": np.maximum(a, b), "hamming": dist[keep]}
    )


def _collected(fn):
    return lambda docs, emb: fn(docs, emb).toPandas()


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.docs_dir = os.path.join(work, "corpus", "documents")
        self.emb_dir = os.path.join(work, "corpus", "embeddings")

    def setup(self, spark) -> dict:
        docs = replicate_documents(spark.createDataFrame(make_documents(self.seed)), FACTOR)
        emb = replicate_embeddings(spark.createDataFrame(make_embeddings(self.seed)), FACTOR, DIM)
        docs.write.mode("overwrite").parquet(self.docs_dir)
        emb.write.mode("overwrite").parquet(self.emb_dir)
        return self.inputs(spark)

    def inputs(self, spark) -> dict:
        """The written corpus, read back and cached."""
        d = spark.read.parquet(self.docs_dir).cache()
        e = spark.read.parquet(self.emb_dir).withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).cache()
        d.count(), e.count()
        return {"docs": d, "emb": e}

    def before_setup(self) -> None:
        """Nothing to prepare outside set-up."""

    def fresh_tables(self, pass_dir: str) -> None:
        """The suite writes no tables."""

    def release(self, inp: dict) -> None:
        for df in inp.values():
            df.unpersist()

    def build_oracle(self) -> None:
        """DuckDB results of ``oracle_sql()`` over the written corpus."""
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{os.path.join(self.work, 'tmp')}'")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_dir}/*.parquet'")
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{self.emb_dir}/*.parquet'")
            self.expected = {}
            for metric, q, _fn in OPS:
                if q not in (None, "q_simhash64_pairs"):
                    self.expected[metric] = con.execute(sql[q]).df()
            docs = con.execute("SELECT doc_id, text FROM documents").df()
            sigs = simhash64(con, sql["q_simhash64"], docs)
        finally:
            con.close()
        self.expected["dedup.simhash64_pairs_s"] = near_pairs(sigs)
        ids = sigs["doc_id"]
        self.expected["dedup.simhash64_clusters_s"] = closure_keep_list(
            ids, self.expected["dedup.simhash64_pairs_s"]
        )
        self.digests = {k: harness.digest(canon_rows(v)) for k, v in self.expected.items()}
        self.items = len(ids)

    def prepare_check(self, spark) -> None:
        self.build_oracle()

    def run_pass(self, spark, inp: dict, pass_dir: str, api=None, crawl_kw=None) -> dict:
        """The timed section: every op, each result collected."""
        api = api or {}
        out = {}
        t0 = time.perf_counter()
        for metric, _q, fn in OPS:
            out[metric] = api.get(metric, _collected(fn))(inp["docs"], inp["emb"])
        return {"wall": time.perf_counter() - t0, "results": out}

    def check(self, spark, res: dict) -> list[str]:
        bad = []
        for metric, got in res["results"].items():
            if harness.digest(canon_rows(got)) != self.digests[metric]:
                bad.append(f"{metric}: {len(got)} rows, oracle {len(self.expected[metric])}")
        return bad

    # -- traced-pass hooks and per-layer metrics -----------------------------------

    def traced_api(self, tracer) -> tuple[dict, list]:
        def candidates_after(out, rec, args, kwargs):
            rec["attrs"]["candidates"] = out.count()

        api = {metric: tracer.wrap(_collected(fn), metric, "dedup") for metric, _q, fn in OPS}
        patches = [
            (D, "lsh_candidate_pairs", tracer.wrap(
                D.lsh_candidate_pairs, "dedup.lsh_candidate_pairs", "dedup", candidates_after
            )),
        ]
        return api, patches

    def trace_hooks(self, spark, tracer, pass_dir: str) -> dict:
        return {}

    def layer_metrics(self, spark, tracer, res: dict, hooks: dict, cores: int, root: dict) -> dict:
        tracer.attach_counters(spark)
        m = {}
        for metric, _q, _fn in OPS:
            s = tracer.named(metric)[0]
            m[metric] = s["end"] - s["start"]
        cand = sum(s["attrs"]["candidates"] for s in tracer.named("dedup.lsh_candidate_pairs"))
        kept = len(res["results"]["dedup.minhash_lsh_s"])
        m["dedup.lsh_candidate_pairs"] = cand
        m["dedup.pair_precision"] = kept / max(cand, 1)
        m["dedup.shuffle_write_mb"] = tracer.layer_counters("dedup")["shuffle_write_bytes"] / 1e6
        return m
