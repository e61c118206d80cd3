"""Deduplication family for training-data pipelines (beyond-reference).

Every operator is expressed portably — hashes via md5, which exists in
both Spark and DuckDB — so each has an exact ANSI-SQL oracle in
``__spark_entry__.py``:

* exact dedup: group by content hash, keep the smallest doc_id
* n-gram Jaccard near-dup: shingle -> inverted-index self-join ->
  |A∩B| / |A∪B| ≥ τ pairs
* MinHash + LSH: per-seed signature ``min(md5(seed || shingle))``,
  banded into buckets; candidate pairs share ≥1 band bucket and are
  verified with true Jaccard (standard banding scheme; Broder '97 /
  MMDS ch.3)
* SimHash: 32-bit majority-vote signature over token hashes; near-dups
  = signatures within Hamming distance d
* embedding cosine near-dup: blocked brute force (block key keeps the
  pair space bounded; at scale swap the block key for an LSH bucket from
  operators/similarity.py)

Scale shape: everything is shuffle-on-key (shingle, band bucket, block
key); the LSH path turns the O(n²) pair space into O(candidates).
Skewed shingles (ultra-common n-grams) are dropped by a document
frequency cap before the self-join — the classic hot-key guard.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _tokens(col):
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != "")


def shingle_array(text_col, n: int = 3):
    """Distinct word n-gram shingles of one text value, as an array Column
    (no explode — per-row algebra for the shuffle-free consumers)."""
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0)))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.filter(F.array_distinct(grams), lambda s: s != "")


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (exploded form — the
    inverted-index / verify consumers)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_array(F.col(text_col), n)).alias("shingle"),
    )


def _py_shingles(text: str, n: int) -> set[str]:
    """Python twin of :func:`shingle_array` — tokenization matches Spark's
    ``split(lower(trim(text)), '\\s+')`` EXACTLY: ASCII-only ``\\s`` (Java
    regex default — U+00A0 must NOT split), no unicode strip (boundary
    empties fall to the same != '' filter)."""
    import re

    toks = [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]
    if len(toks) >= n:
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    else:
        sh = {" ".join(toks)}
    sh.discard("")
    return sh


def shingles_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded shingles via mapInPandas — same rows as :func:`shingles`.

    Measured at sf0.1 (5000 docs, local[32]): the Column-algebra shingle
    build runs ~4x slower than this, because the n-gram construction
    (transform + element_at + concat_ws per position) executes in
    Catalyst's INTERPRETED higher-order-function path, while here it is
    one C-speed Python loop per Arrow batch. Equality pinned by
    tests/test_dedup_ops.py, including U+00A0/ASCII-whitespace edges."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids, shs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                for s in _py_shingles(text, n):
                    ids.append(did)
                    shs.append(s)
            yield pd.DataFrame({"doc_id": ids, "shingle": shs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(gen, f"doc_id {id_type}, shingle string")


def doc_shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sh_set array<string> sorted ascending, n_sh) — one row
    per doc with a non-empty shingle set (docs whose text yields no
    shingle are absent, matching the exploded form's semantics).

    Two sources, same rows: from ``shingle_df`` (a pre-built — ideally
    cached — exploded shingle table) via one grouped collect; or, when
    no exploded table exists, straight from the text in one mapInPandas
    pass (no explode, no shuffle). The verify stage of
    :func:`minhash_lsh_dedup` consumes this instead of self-joining the
    exploded table (round 6 — see that docstring)."""
    if shingle_df is not None:
        return shingle_df.groupBy("doc_id").agg(
            F.array_sort(F.collect_list("shingle")).alias("sh_set"),
            F.count(F.lit(1)).alias("n_sh"),
        )
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids, sets, ns = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _py_shingles(text, n)
                if not sh:
                    continue
                ids.append(did)
                sets.append(sorted(sh))
                ns.append(len(sh))
            yield pd.DataFrame({"doc_id": ids, "sh_set": sets, "n_sh": ns})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        gen, f"doc_id {id_type}, sh_set array<string>, n_sh long"
    )


def set_intersection_size_udf():
    """pandas_udf: |A ∩ B| for two array<string> columns whose arrays
    are DISTINCT-element sets (sorted or not) — integer-exact, so the
    Jaccard that divides it is bit-identical to the count the exploded
    self-join produced."""

    @F.pandas_udf("long")
    def inter(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for xa, xb in zip(a, b):
            sa, sb = set(xa), set(xb)
            if len(sb) < len(sa):
                sa, sb = sb, sa
            out.append(sum(1 for s in sa if s in sb))
        return pd.Series(out, dtype="int64")

    return inter


def minhash_sigs_and_sets_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, k: int = 16
) -> DataFrame:
    """One mapInPandas pass emitting BOTH the k minhash signatures
    (identical to :func:`minhash_signatures_pandas`) and the sorted
    per-doc shingle set (identical to :func:`doc_shingle_sets`) — the
    two passes share the tokenize+shingle work, which dominates either
    one (round 6, equality pinned in tests/test_dedup_ops.py)."""
    import hashlib

    import numpy as np

    a = np.array([2 * i + 3 for i in range(k)], dtype=np.int64)
    b = np.array([7 * i + 1 for i in range(k)], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            out = {"doc_id": [], **{f"mh{i}": [] for i in range(k)}, "sh_set": [], "n_sh": []}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _py_shingles(text, n)
                if not sh:
                    continue
                h = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                mins = ((a[:, None] * h[None, :] + b[:, None]) % MINHASH_P).min(axis=1)
                out["doc_id"].append(did)
                for i in range(k):
                    out[f"mh{i}"].append(mins[i])
                out["sh_set"].append(sorted(sh))
                out["n_sh"].append(len(sh))
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"doc_id {id_type}, "
        + ", ".join(f"mh{i} long" for i in range(k))
        + ", sh_set array<string>, n_sh long"
    )
    return df.select(id_col, text_col).mapInPandas(gen, schema)


def minhash_signatures_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, k: int = 16
) -> DataFrame:
    """Signatures identical to :func:`minhash_signatures`, computed
    entirely inside one mapInPandas pass: per-doc shingle set → hashlib
    md5 → k linear-map mins in numpy. No explode, no shuffle, no
    interpreted HOFs — measured 3.3s vs 12.4s for the Column-algebra agg
    at sf0.1. The exploded :func:`shingles` table remains the right input
    when it is shared with a Jaccard verify."""
    import hashlib

    import numpy as np
    import pandas as pd

    a = np.array([2 * i + 3 for i in range(k)], dtype=np.int64)
    b = np.array([7 * i + 1 for i in range(k)], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            out = {"doc_id": [], **{f"mh{i}": [] for i in range(k)}}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _py_shingles(text, n)
                if not sh:
                    continue
                h = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                mins = ((a[:, None] * h[None, :] + b[:, None]) % MINHASH_P).min(axis=1)
                out["doc_id"].append(did)
                for i in range(k):
                    out[f"mh{i}"].append(mins[i])
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    schema = f"doc_id {id_type}, " + ", ".join(f"mh{i} long" for i in range(k))
    return df.select(id_col, text_col).mapInPandas(gen, schema)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical row per distinct content hash (keep min id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard ≥ threshold.

    ``shingle_df``: pre-built (ideally cached) shingles — share one
    explode across the dedup query family instead of rebuilding per op."""
    # the shingle set feeds the df-cap scan, the size agg AND both sides
    # of the self-join — cache it or the n-gram expression runs 4x
    sh = shingle_df if shingle_df is not None else shingles(df, text_col, id_col, n).cache()
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti").cache()
    # persist: the per-doc size agg feeds BOTH the doc_a and doc_b join
    # sides, whose renames defeat exchange reuse — without the cache the
    # aggregation runs twice per action (round 6)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


MINHASH_P = 2147483647  # 2^31 - 1


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """k minhashes per doc. One md5 per shingle (not k): the shingle is
    hashed once to a uniform 32-bit int, then the k permutations are the
    classic linear maps ``(a_i*h + b_i) mod p`` (Broder's scheme) — cheap
    integer mins instead of k string digests, identical formula in the
    SQL oracle."""
    sh = shingle_df if shingle_df is not None else shingles(df, text_col, id_col, n)
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    sh = sh.withColumn("h", h)
    aggs = [
        F.min((F.lit(2 * i + 3) * F.col("h") + F.lit(7 * i + 1)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_rowwise(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, k: int = 16
) -> DataFrame:
    """Same signatures as :func:`minhash_signatures`, computed per ROW over
    the shingle array — no explode, no shuffle, pure Column algebra.

    Trade-off (measured at sf0.1, local[8]): the grouped form wins on one
    node (15.2s vs 21.0s — explode+agg is whole-stage-codegen'd, while
    higher-order transform/array_min run interpreted per element), but
    this form moves ZERO bytes through the exchange, so it wins when the
    cluster's shuffle fabric — not CPU — is the constraint, and when the
    shingle table isn't shared with a Jaccard verify. Docs with no
    shingles are dropped, matching the grouped form."""
    arr = shingle_array(F.col(text_col), n)
    hs = F.transform(
        arr, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    # materialize the hash array in its own projection: k consumers, and
    # CollapseProject keeps multi-referenced non-cheap expressions shared
    # instead of inlining the md5 transform k times
    hashed = df.select(F.col(id_col).alias("doc_id"), hs.alias("_hs"))
    cols = [
        F.array_min(
            F.transform(
                F.col("_hs"), lambda h: (F.lit(2 * i + 3) * h + F.lit(7 * i + 1)) % F.lit(MINHASH_P)
            )
        ).alias(f"mh{i}")
        for i in range(k)
    ]
    return hashed.filter(F.size(F.col("_hs")) > 0).select("doc_id", *cols)


def lsh_candidate_pairs(
    signatures: DataFrame, k: int = 16, bands: int = 4,
    max_bucket_rows: int | str | None = "auto",
) -> DataFrame:
    """Band the signature into ``bands`` groups of k/bands rows; docs
    sharing any band bucket become candidate pairs (doc_a < doc_b).

    ``max_bucket_rows`` is the loud saturation guard
    (``similarity.check_bucket_load``): per-bucket pair space is rows²,
    so a silently-hot band bucket (near-constant signatures — e.g. a
    corpus of templated boilerplate) is the quadratic failure mode of
    every banding join. One cheap count-agg over the bucket keys. The
    default ``'auto'`` derives the threshold from the corpus size
    (``similarity.bucket_rows_for_corpus``; md5 band buckets are
    full-width hashes, so expected occupancy ≈ 1 and the floor
    governs); None disables — explicit opt-out, not the default."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + j}").cast("string") for j in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket"))
        )
    buckets = signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    if max_bucket_rows is not None:
        # persist: the guard's eager agg and the self-join's two sides
        # otherwise re-run the whole signature pipeline (measured ~2x
        # the query at sf0.1); the banding projection is three scalars
        # per (doc, band)
        buckets = buckets.persist()
        from .similarity import check_bucket_load

        check_bucket_load(
            buckets.select(F.concat_ws(":", "band", "bucket").alias("_bucket")),
            "_bucket",
            max_bucket_rows,
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    shingle_df: DataFrame | None = None,
    max_bucket_rows: int | str | None = "auto",
) -> DataFrame:
    """LSH candidates verified by true Jaccard ≥ threshold. The banding
    saturation guard defaults ON (``max_bucket_rows='auto'``, see
    :func:`lsh_candidate_pairs`).

    Round 6 — verify-stage split by input shape. WITHOUT a pre-built
    ``shingle_df``, the old verify forced a full explode of the corpus
    plus an exploded self-join (one shuffled row per shared shingle per
    candidate pair) — the dominant cost at the 10x bench world, ~110 s
    cold. That path now collects each doc's DISTINCT shingle set ONCE,
    straight from the text (:func:`doc_shingle_sets` — no explode, no
    shuffle), joins candidates to the two per-doc arrays and computes
    |A∩B| per pair in an Arrow batch (:func:`set_intersection_size_udf`);
    signatures come from the single-pass pandas implementation. Counts
    are integers and the Jaccard formula is unchanged Column algebra, so
    results are bit-identical (oracle-pinned, equality test). WITH a
    shared (cached) ``shingle_df``, the exploded-table verify stays: the
    cache is already materialized and the grouped collect_list set build
    measured SLOWER than the warm exploded joins at sf0.1."""
    sh = shingle_df
    if sh is None:
        # ONE text pass computes signatures AND shingle sets (they share
        # the tokenize+shingle work, which dominates the pass); persist —
        # the banding, the guard agg and both verify sides all read it
        combo = minhash_sigs_and_sets_pandas(df, text_col, id_col, n, k).persist()
        sigs = combo.select("doc_id", *[f"mh{i}" for i in range(k)])
        cand = lsh_candidate_pairs(sigs, k, bands, max_bucket_rows=max_bucket_rows)
        sets = combo.select("doc_id", "sh_set", "n_sh")
        sa = sets.select(
            F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"),
            F.col("n_sh").alias("n_a"),
        )
        sb = sets.select(
            F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"),
            F.col("n_sh").alias("n_b"),
        )
        inter = set_intersection_size_udf()
        return (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("n_common", inter(F.col("sh_a"), F.col("sh_b")))
            .withColumn(
                "jaccard",
                F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    sigs = minhash_signatures(df, text_col, id_col, n, k, shingle_df=sh)
    cand = lsh_candidate_pairs(sigs, k, bands, max_bucket_rows=max_bucket_rows)
    # persist: feeds both rename sides of the verify (see jaccard_pairs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).persist()
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    n_common = (
        cand.join(sh_a, "doc_a").join(sh_b, ["doc_b", "shingle"]).groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        n_common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _md5_bits_col(col, bits: int):
    """First ``bits`` of md5 as a (signed) long Column. The 64-bit form
    assembles two 32-bit halves with shiftleft|OR — bitwise, so the value
    2^63..2^64-1 range lands in the negative longs without ANSI overflow
    (conv(16 hex)::long would error there)."""
    if bits == 32:
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    if bits == 64:
        hi = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)
    raise ValueError(f"bits must be 32 or 64, got {bits}")


def _sig_weight(i: int, bits: int) -> int:
    """Weight of signature bit i in the signed long: 2^i, except the top
    bit of a 64-bit signature which is -2^63 (two's complement)."""
    return -(2 ** 63) if (bits == 64 and i == 63) else 2 ** i


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash: per-token md5-derived hash; signature bit i set iff the
    majority of tokens have bit i set (Charikar '02). ``bits``: 32 (the
    toy/oracle size) or 64 — the scale size (Manku et al. WWW'07 use
    64-bit signatures with 16-bit blocks; 32-bit banding saturates at 256
    buckets/band, see :func:`simhash_near_pairs`)."""
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    tok = tok.withColumn("h", _md5_bits_col(F.col("tok"), bits))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"v{i}") > 0, F.lit(_sig_weight(i, bits)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Signatures identical to :func:`simhash`, one mapInPandas pass:
    per-doc token hashes → ±1 bit votes in numpy → signature. No explode,
    no 32/64-column shuffle agg; same tokenizer contract as
    :func:`_py_shingles` (ASCII ``\\s+``). Equality pinned in tests.
    64-bit signatures land in the signed-long range via two's-complement
    wrap, matching the Column form's shiftleft|OR assembly."""
    import hashlib

    import numpy as np
    import pandas as pd
    import re

    hex_chars = bits // 4
    shifts = None

    def gen(batches):
        nonlocal shifts
        if shifts is None:
            shifts = np.arange(bits, dtype=np.uint64)
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]
                if not toks:
                    continue
                h = np.fromiter(
                    (int(hashlib.md5(t.encode()).hexdigest()[:hex_chars], 16) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                bvals = (h[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = (2 * bvals.astype(np.int64) - 1).sum(axis=0)
                sig = int(((votes > 0).astype(np.uint64) << shifts).sum())
                if sig >= 1 << 63:  # two's-complement wrap into signed long
                    sig -= 1 << 64
                ids.append(did)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(gen, f"doc_id {id_type}, simhash long")


def simhash_near_pairs(
    sig_df: DataFrame, max_hamming: int = 3, n_blocks: int = 4, bits: int = 32,
    max_bucket_rows: int | str | None = "auto",
) -> DataFrame:
    """Near-dup pairs by Hamming distance over the ``bits``-bit signature.

    Banded candidate generation (the standard multi-index / pigeonhole
    scheme, e.g. Manku et al. WWW'07): split the signature into
    ``n_blocks`` equal bit blocks; a pair within Hamming distance d must
    agree EXACTLY on at least one block whenever d < n_blocks (d
    differing bits can dirty at most d blocks). With the defaults —
    4 blocks of 8 bits, max_hamming=3 — recall is therefore exact; raise
    ``n_blocks`` if you raise ``max_hamming``. Candidates sharing a block
    are verified with the true bit_count distance.

    SCALE: use ``bits=64`` signatures (Manku et al.'s configuration —
    4 x 16-bit blocks). 32-bit signatures cap each band at 2^8=256
    distinct buckets, so at ≥10^8 docs every bucket holds ≥400k rows and
    the per-bucket self-join goes quadratic; 16-bit blocks give 65,536
    buckets/band and bucket cardinality keeps growing with the corpus
    (tests/test_dedup_ops.py pins this). Arithmetic shiftright's sign
    extension on negative 64-bit signatures is removed by the block
    mask. ``max_bucket_rows`` is the loud saturation guard
    (``similarity.check_bucket_load``) over the (band, block) bucket
    keys — a saturated 32-bit banding raises instead of silently going
    quadratic. The default ``'auto'`` derives the threshold from the
    corpus and the ``n_blocks × 2^block_bits`` bucket space (the
    ceiling clamp is what catches uniform 32-bit saturation at ≥10⁸
    docs); None disables — explicit opt-out, not the default."""
    if max_hamming >= n_blocks:
        raise ValueError(
            f"banding needs n_blocks > max_hamming for exact recall "
            f"(got n_blocks={n_blocks}, max_hamming={max_hamming})"
        )
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    # one pass, explode — NOT a union of n_blocks projections of sig_df:
    # the union duplicates the upstream signature subtree n_blocks times
    # in the plan, so materializing it (the guard persist below) ran the
    # signature pipeline — a mapInPandas over the whole corpus — once
    # per block (round 6: measured as the entire cold-run gap on
    # q_simhash_pairs, 2.98 s cold vs 0.65 s warm). Same rows, one
    # signature computation.
    band_structs = F.array(
        *[
            F.struct(
                F.shiftright(F.col("simhash"), i * block_bits)
                .bitwiseAND(F.lit(mask))
                .alias("blk"),
                F.lit(i).alias("band"),
            )
            for i in range(n_blocks)
        ]
    )
    blocks = sig_df.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bb")
    ).select("doc_id", "simhash", "bb.blk", "bb.band")
    if max_bucket_rows is not None:
        # persist: guard agg + both join sides read one computation of
        # the signature pipeline (measured ~2x the query without it)
        blocks = blocks.persist()
        from .similarity import check_bucket_load

        check_bucket_load(
            blocks.select(F.concat_ws(":", "band", "blk").alias("_bucket")),
            "_bucket",
            max_bucket_rows,
            n_bucket_space=n_blocks * (1 << min(block_bits, 40)),
        )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.blk") == F.col("b.blk")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )


# 'auto' connected-components branch point, MEASURED on this box
# (round 6, tools-free repro in OPTIMIZATION_r06.md): collecting 2.0M
# edges + path-compressed union-find + shipping the 1.8M-node labeling
# back = 13.5 s wall and +0.97 GB driver RSS — comfortably inside the
# 8 GB driver but clearly the ceiling's right order of magnitude (10M
# edges would be ~5 GB). Above the threshold the loop-free
# star-contraction branch (connected_components_star) takes over.
# Override per deployment via SPARK_GRAFT_CC_DRIVER_EDGES.
CC_DRIVER_EDGE_THRESHOLD = int(
    __import__("os").environ.get("SPARK_GRAFT_CC_DRIVER_EDGES", "2000000")
)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
    driver_edge_threshold: int | None = None,
    method: str = "auto",
) -> DataFrame:
    """(node, comp) — comp = the smallest node id reachable from node.

    ``method='auto'`` is adaptive, like the two-phase ranking: below
    ``driver_edge_threshold`` edges the graph collects to the driver and
    a path-compressed union-find answers in one pass (2M edges ≈ ~32 MB
    — an iterative Spark loop on a graph that small is pure per-round
    job overhead, measured 6.8 s for 83k edges vs <1 s union-find).
    Above the threshold: alternating star-contraction
    (:func:`connected_components_star`, Kiveris et al.) — O(log n)
    rounds regardless of graph diameter. ``method`` pins a specific
    branch: ``'union_find'`` or ``'star'``; any other value raises
    ``ValueError``. Every branch raises rather than return a
    partially-converged labeling."""
    # materialize the pair pipeline ONCE: the branch decision (count),
    # the union-find collect and the edge build all read these rows —
    # without the checkpoint the upstream candidate/verify pipeline
    # would re-run per consumer (measured 2x the whole query cost).
    # LAZY (round 6): the count / first consumer right below is the
    # materializing action, so checkpoint + branch decision is one job
    # instead of two.
    pairs = pairs.localCheckpoint(eager=False)
    if driver_edge_threshold is None:
        driver_edge_threshold = CC_DRIVER_EDGE_THRESHOLD
    if method == "auto":
        method = (
            "union_find" if pairs.count() <= driver_edge_threshold else "star"
        )
    if method == "union_find":
        return _cc_union_find(pairs, a_col, b_col)
    if method == "star":
        return connected_components_star(pairs, a_col, b_col, max_iter)
    raise ValueError(f"unknown connected-components method: {method!r}")


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating star-contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", alternating large-star /
    small-star): converges in O(log n) ROUNDS independent of graph
    diameter — the large-graph branch of :func:`connected_components`,
    where min-label propagation's O(diameter) rounds would grind on an
    adversarial long-chain component at 10^10 docs.

    Each round is two grouped min-aggregations + joins, all
    shuffle-on-node-id; the edge set is localCheckpointed per round so
    the iterative plan stays flat. Edges are kept in strictly-decreasing
    (src > dst) canonical form:

    * large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
      v > u — hooks every larger neighbor to the neighborhood minimum.
    * small-star(u): over the decreasing edges into u, m = min(Γ⁻(u));
      emit (u, m) and (v, m) for v ∈ Γ⁻(u) \\ {m}.

    At the fixpoint (edge set unchanged) the edges form stars whose
    center is the component minimum: labels are exactly the edges plus
    (root, root) rows. Raises if ``max_iter`` rounds don't converge."""
    node_type = pairs.schema[a_col].dataType.simpleString()
    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("src"),
            F.least(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = pairs.sparkSession
    if not edges.head(1):
        return local_frame(spark, [], f"node {node_type}, comp {node_type}")
    for _ in range(max_iter):
        # -- large-star over symmetric neighborhoods
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbr_min = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("mn")
        )
        large = (
            sym.join(nbr_min, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # -- small-star over the decreasing edges
        mn2 = large.groupBy("src").agg(F.min("dst").alias("mn"))
        small = (
            large.join(mn2, "src")
            .where(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .unionByName(mn2.select(F.col("src"), F.col("mn").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = small.count() == edges.count() and small.exceptAll(edges).isEmpty()
        edges = small
        if converged:
            labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("comp"))
            roots = (
                edges.select(F.col("dst").alias("node"))
                .distinct()
                .withColumn("comp", F.col("node"))
            )
            return labels.unionByName(roots).distinct()
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def _cc_union_find(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Driver-side union-find (path compression + union by min) for the
    small-graph branch of :func:`connected_components`."""
    node_type = pairs.schema[a_col].dataType.simpleString()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    edges = pairs.select(a_col, b_col).collect()
    nodes = set()
    for r in edges:
        a, b = r[0], r[1]
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root: the component label IS the min node id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in sorted(nodes)]
    return local_frame(pairs.sparkSession, rows, f"node {node_type}, comp {node_type}")


def dup_clusters(
    all_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    cc_method: str = "auto",
) -> DataFrame:
    """The dedup KEEP-LIST: (doc_id, cluster_id, is_canonical).

    Near-dup PAIRS are not a dedup decision — transitive closure is
    (a~b, b~c ⇒ {a,b,c} is one cluster even if a~c was never a candidate
    pair). cluster_id = min doc id in the component; the canonical doc
    (the one a training pipeline keeps) is the cluster minimum; docs in
    no pair are their own singleton cluster.

    This is the GENERIC closure stage — it accepts any pair source. For
    text cluster formation at scale use :func:`simhash_dup_clusters`
    (the production entry: 64-bit signatures + guarded banding); feeding
    this function 32-bit simhash pairs at ≥10⁸ docs saturates the
    banding — the pair generators' default ``max_bucket_rows='auto'``
    guard raises on exactly that."""
    comp = connected_components(pairs, a_col, b_col, method=cc_method)
    ids = all_ids.select(F.col(id_col).alias("doc_id")).distinct()
    out = ids.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id")
    )
    return out.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


def simhash_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    n_blocks: int = 4,
    max_hamming: int = 3,
    max_bucket_rows: int | str | None = "auto",
    cc_method: str = "auto",
) -> DataFrame:
    """SCALE-DEFAULT cluster formation: simhash near-pairs → transitive
    closure → keep-list, in one call.

    Defaults are the 100 TB configuration — 64-bit signatures with
    16-bit blocks (Manku et al.; 32-bit banding saturates at 256
    buckets/band, see :func:`simhash_near_pairs`) and the adaptive
    connected-components branch (star-contraction above the driver
    threshold — O(log n) rounds even for adversarial-diameter
    components). The oracle query q_dup_clusters pins the 32-bit
    configuration explicitly for its DuckDB mirror; production cluster
    formation goes through THIS entry point. The banding saturation
    guard defaults ON (``max_bucket_rows='auto'`` — threshold derived
    from the corpus, ``similarity.bucket_rows_for_corpus``); pass None
    only to opt out explicitly."""
    sigs = simhash_pandas(df, text_col, id_col, bits=bits)
    pairs = simhash_near_pairs(
        sigs, max_hamming=max_hamming, n_blocks=n_blocks, bits=bits,
        max_bucket_rows=max_bucket_rows,
    )
    return dup_clusters(df, pairs, id_col=id_col, cc_method=cc_method)


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-dup pairs within blocks (doc_a < doc_b, cos ≥ τ).
    Block key bounds the pair space; swap in an LSH bucket at scale.

    Round 6: the verify is PER-BLOCK (same shape as
    ``similarity.lsh_near_dup_pairs``): each vector moves once to its
    block group and one grouped Arrow kernel emits the block's
    upper-triangle fold-left dots + norms — the old pair join shuffled
    both vectors per candidate pair and fed them through a per-pair
    dot UDF. Cosine assembly (identical division order) and the
    HALF_UP round(6)+threshold stay in Column land; blocks are
    disjoint, so no distinct is needed. Bit-exact per the kernel
    contract in operators/similarity.py."""
    from .similarity import _bucket_pair_cosine_kernel

    bv = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(block_col).alias("blk")
    )
    id_type = dict(emb.dtypes)[id_col]
    raw = bv.groupBy("blk").applyInPandas(
        _bucket_pair_cosine_kernel(),
        f"id_a {id_type}, id_b {id_type}, _dot double, _na double, _nb double",
    )
    return (
        raw.withColumn("cosine", F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
