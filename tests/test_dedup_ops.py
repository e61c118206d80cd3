"""Dedup family: crafted near-dups in, known pairs out."""

import pytest
from pyspark.sql import functions as F

from course_scraper_spark.operators import dedup as D

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different words about spark shuffle partitions and codegen stages"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (5, "another unrelated document discussing bloom filters and politeness budgets"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_dedup(docs):
    out = {r.content_hash: (r.keep_id, r.n_dups) for r in D.exact_dedup(docs).collect()}
    assert len(out) == 4  # 1&4 collapse
    assert (1, 2) in out.values()


def test_jaccard_finds_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b) for r in D.jaccard_pairs(docs, n=3, threshold=0.7).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_lsh_recovers_pairs(docs):
    got = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_dedup(docs, n=3, k=16, bands=8, threshold=0.7).collect()}
    # exact dups always collide in every band; near-dups at j≈0.85 collide
    # with high probability at 8 bands of 2 rows
    assert (1, 4) in got
    assert got <= {(1, 2), (1, 4), (2, 4)}


def test_lsh_candidates_superset_of_verified(docs):
    sigs = D.minhash_signatures(docs, n=3, k=16)
    cand = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(sigs, k=16, bands=8).collect()}
    verified = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_dedup(docs, n=3, k=16, bands=8, threshold=0.7).collect()}
    assert verified <= cand


def test_simhash_properties(docs):
    sigs = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert sigs[1] == sigs[4]  # identical text -> identical signature
    ham_near = bin(sigs[1] ^ sigs[2]).count("1")
    ham_far = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_near < ham_far


def test_simhash_near_pairs(docs):
    sig = D.simhash(docs)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_near_pairs(sig, max_hamming=4, n_blocks=8).collect()}
    assert pairs.get((1, 4)) == 0


def test_simhash_near_pairs_rejects_lossy_banding(docs):
    sig = D.simhash(docs)
    with pytest.raises(ValueError):
        D.simhash_near_pairs(sig, max_hamming=4, n_blocks=4)


def test_simhash_banding_recall_exact_vs_bruteforce(spark):
    """Pigeonhole guarantee: with 4 blocks, NO pair within d<=3 is missed.
    Adversarial signatures place differing bits across distinct blocks —
    the exact case the old 2-half blocking dropped."""
    base = 0b10110010_01001101_11100011_00010110
    sigs = [(0, base)]
    # pairs at d=2 and d=3 with one flipped bit in DIFFERENT blocks
    sigs.append((1, base ^ (1 << 3) ^ (1 << 19)))          # d=2, blocks 0+2
    sigs.append((2, base ^ (1 << 9) ^ (1 << 27)))          # d=2, blocks 1+3
    sigs.append((3, base ^ (1 << 1) ^ (1 << 12) ^ (1 << 30)))  # d=3, blocks 0+1+3
    sigs.append((4, base ^ 0xFFFF))                        # far away
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {(r.doc_a, r.doc_b) for r in D.simhash_near_pairs(df, max_hamming=3).collect()}
    rows = dict(sigs)
    brute = {
        (a, b)
        for a in rows
        for b in rows
        if a < b and bin(rows[a] ^ rows[b]).count("1") <= 3
    }
    assert got == brute
    assert (0, 1) in got and (0, 2) in got and (0, 3) in got


def test_embedding_near_dup(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.04, 0.0], 0),   # near-dup of 1
            (3, [0.0, 1.0, 0.0], 0),
            (4, [1.0, 0.0, 0.0], 1),       # same vector, different block
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = {(r.id_a, r.id_b) for r in D.embedding_near_dup(emb, threshold=0.95).collect()}
    assert pairs == {(1, 2)}  # block key keeps (1,4) apart by design


def test_minhash_rowwise_equals_grouped(docs):
    a = sorted(map(tuple, D.minhash_signatures(docs, n=3, k=8).collect()))
    b = sorted(map(tuple, D.minhash_signatures_rowwise(docs, n=3, k=8).collect()))
    assert a == b


NASTY = [
    (10, "\n\n The Quick\tbrown fox\x0bjumps over the lazy dog \r\n"),
    (11, "nbsp stays one token inside these three words here"),  # U+00A0 must NOT split
    (12, "two tokens"),           # < n path
    (13, "   "),                  # whitespace-only -> no shingles
    (14, "MiXeD CaSe TEXT with REPEATS repeats RePeAtS again again now"),
]


def test_shingles_pandas_equals_column(spark):
    df = spark.createDataFrame(NASTY, ["doc_id", "text"])
    a = sorted(map(tuple, D.shingles(df, n=3).collect()))
    b = sorted(map(tuple, D.shingles_pandas(df, n=3).collect()))
    assert a == b
    assert any("nbsp stays" in s for _, s in a), "nbsp must stay inside a token"


def test_minhash_pandas_equals_grouped(spark, docs):
    df = spark.createDataFrame(NASTY, ["doc_id", "text"])
    for src in (docs, df):
        a = sorted(map(tuple, D.minhash_signatures(src, n=3, k=8).collect()))
        b = sorted(map(tuple, D.minhash_signatures_pandas(src, n=3, k=8).collect()))
        assert a == b


def test_simhash_pandas_equals_column(spark, docs):
    df = spark.createDataFrame(NASTY, ["doc_id", "text"])
    for src in (docs, df):
        a = sorted(map(tuple, D.simhash(src).collect()))
        b = sorted(map(tuple, D.simhash_pandas(src).collect()))
        assert a == b


def test_jaccard_hot_shingle_cap(spark):
    """max_shingle_df drops ubiquitous shingles BEFORE the self-join (the
    hot-key guard): a shingle shared by every doc must not create pairs,
    while genuinely-similar docs still match on their rare shingles."""
    boiler = "all rights reserved by the university catalog office"
    rows = [
        (1, f"unique alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"unique alpha beta gamma delta epsilon zeta {boiler}"),
        (3, f"totally different content words here nothing shared {boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(df, n=3, threshold=0.5, max_shingle_df=2).collect()
    }
    assert (1, 2) in pairs          # rare shingles (df=2) survive the cap
    assert not any(3 in p for p in pairs)  # boilerplate (df=3) capped away


# -- 64-bit simhash (the scale configuration) ---------------------------------


def test_simhash64_pandas_equals_column_form(docs):
    col = {r.doc_id: r.simhash for r in D.simhash(docs, bits=64).collect()}
    pdv = {r.doc_id: r.simhash for r in D.simhash_pandas(docs, bits=64).collect()}
    assert col == pdv
    # signatures live in the signed-long range and use >32 bits
    assert all(-(1 << 63) <= v < (1 << 63) for v in col.values())
    assert any(abs(v) >= (1 << 32) for v in col.values())


def test_simhash64_banding_exact_and_adversarial(spark):
    """Pigeonhole exactness holds at 64 bits / 4x16-bit blocks, including
    signatures whose top bit is set (negative longs)."""
    base = (0b1011 << 60) | 0x123456789ABCDEF  # unsigned workspace
    usigs = [(0, base)]
    usigs.append((1, base ^ (1 << 3) ^ (1 << 40)))               # d=2, blocks 0+2
    usigs.append((2, base ^ (1 << 17) ^ (1 << 63)))              # d=2, blocks 1+3 (sign flip)
    usigs.append((3, base ^ (1 << 1) ^ (1 << 20) ^ (1 << 50)))   # d=3, blocks 0+1+3
    usigs.append((4, base ^ 0xFFFFFF))                           # far away
    sigs = [(i, v - (1 << 64) if v >= (1 << 63) else v) for i, v in usigs]
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_near_pairs(
        df, max_hamming=3, n_blocks=4, bits=64).collect()}
    rows = dict(sigs)
    brute = {
        (a, b): bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1")
        for a in rows for b in rows
        if a < b and bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert got == brute
    assert (0, 2) in got  # the sign-flip pair survives banding


def test_simhash64_bucket_cardinality_not_capped(spark):
    """The reason 64-bit exists: 32-bit banding caps each band at 256
    buckets; 16-bit blocks keep growing with the corpus."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s32 = D.simhash_pandas(docs, bits=32)
    s64 = D.simhash_pandas(docs, bits=64)

    def buckets(sig_df, bits, n_blocks=4):
        bb = bits // n_blocks
        mask = (1 << bb) - 1
        parts = [
            sig_df.select(F.shiftright(F.col("simhash"), i * bb).bitwiseAND(F.lit(mask)).alias("blk"),
                          F.lit(i).alias("band"))
            for i in range(n_blocks)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.groupBy("band").agg(F.countDistinct("blk").alias("n")).collect()

    per_band32 = {r.band: r.n for r in buckets(s32, 32)}
    per_band64 = {r.band: r.n for r in buckets(s64, 64)}
    assert all(n <= 256 for n in per_band32.values())  # the 32-bit ceiling
    assert any(n > 256 for n in per_band64.values())   # lifted at 64-bit
    assert sum(per_band64.values()) > sum(per_band32.values())


# -- cluster formation (pairs -> keep-list) ------------------------------------


def test_connected_components_transitive(spark):
    """a~b, b~c (a~c never a pair) must land in ONE cluster — pairs alone
    are not a dedup decision. The driver union-find branch and the
    distributed star-contraction branch must agree; an unknown method
    raises."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"])
    for method in ("union_find", "star"):
        comp = {
            r.node: r.comp
            for r in D.connected_components(pairs, method=method).collect()
        }
        assert comp[1] == comp[2] == comp[3] == 1, method
        assert comp[7] == comp[9] == 7, method
    with pytest.raises(ValueError):
        D.connected_components(pairs, method="label_prop")


def test_connected_components_long_chain_and_convergence_guard(spark):
    chain = spark.createDataFrame([(i, i + 1) for i in range(10, 20)], ["doc_a", "doc_b"])
    for thresh in (2_000_000, 0):
        comp = {
            r.node: r.comp
            for r in D.connected_components(chain, driver_edge_threshold=thresh).collect()
        }
        assert set(comp.values()) == {10} and len(comp) == 11, thresh
    # the distributed loop must raise rather than return a partial labeling
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(chain, max_iter=1, driver_edge_threshold=0)


def test_star_contraction_beats_diameter(spark):
    """The adversarial case the 100 TB design must survive: a component
    whose diameter (200) far exceeds any reasonable round budget. Star
    contraction closes in O(log n) rounds under a 20-round budget, and
    its labeling equals the union-find ground truth."""
    n = 200
    # interleave a second component + singleton-ish pair to catch
    # cross-component label bleed
    edges = [(i, i + 1) for i in range(n)] + [(1000, 1001), (1001, 1002)]
    chain = spark.createDataFrame(edges, ["doc_a", "doc_b"]).repartition(8)

    star = {
        r.node: r.comp
        for r in D.connected_components(chain, max_iter=20, method="star").collect()
    }
    truth = {
        r.node: r.comp for r in D.connected_components(chain, method="union_find").collect()
    }
    assert star == truth
    assert set(star.values()) == {0, 1000}


def test_star_contraction_equals_union_find_random_graph(spark):
    """Equality on an irregular graph: random-ish edges (deterministic
    hash-derived), many components of mixed shapes."""
    import hashlib

    edges = []
    for i in range(500):
        h = int(hashlib.md5(f"e{i}".encode()).hexdigest()[:8], 16)
        a, b = h % 300, (h // 300) % 300
        if a != b:
            edges.append((a, b))
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    star = {r.node: r.comp for r in D.connected_components(pairs, method="star").collect()}
    truth = {r.node: r.comp for r in D.connected_components(pairs, method="union_find").collect()}
    assert star == truth


def test_dup_clusters_keep_list(spark, docs):
    """End-to-end: exact dups 1&4 cluster together via simhash d<=3;
    unrelated docs stay singleton canonicals."""
    sigs = D.simhash(docs)
    pairs = D.simhash_near_pairs(sigs, max_hamming=3)
    out = {r.doc_id: (r.cluster_id, r.is_canonical) for r in D.dup_clusters(docs, pairs).collect()}
    assert len(out) == 5
    assert out[1] == (1, True) and out[4][0] == 1 and not out[4][1]
    assert out[3] == (3, True) and out[5] == (5, True)
    # exactly one canonical per cluster
    from collections import Counter

    canon_per_cluster = Counter(c for c, canon in out.values() if canon)
    clusters = {c for c, _ in out.values()}
    assert set(canon_per_cluster) == clusters and all(v == 1 for v in canon_per_cluster.values())


def test_banding_saturation_guards(spark, docs):
    """max_bucket_rows raises loudly on a saturated fixture for BOTH
    banding joins (simhash blocks, minhash band buckets) and stays quiet
    at sane loads; the contract queries (no guard arg) are unchanged."""
    # near-identical docs: every signature lands in the same buckets
    rows = [(i, "the same boilerplate text repeated verbatim") for i in range(20)]
    same = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = D.simhash(same)
    with pytest.raises(RuntimeError, match="saturation"):
        D.simhash_near_pairs(sigs, max_bucket_rows=5).collect()
    assert D.simhash_near_pairs(sigs, max_bucket_rows=100).count() > 0

    mh = D.minhash_signatures(same)
    with pytest.raises(RuntimeError, match="saturation"):
        D.lsh_candidate_pairs(mh, max_bucket_rows=5).collect()
    assert D.lsh_candidate_pairs(mh, max_bucket_rows=100).count() > 0


def test_simhash_dup_clusters_scale_default(spark, docs):
    """The scale entry point (64-bit signatures, adaptive CC) must agree
    with the 32-bit oracle pipeline on the toy corpus: same exact-dup
    cluster, same canonicals."""
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in D.simhash_dup_clusters(docs).collect()
    }
    sigs32 = D.simhash(docs)
    pairs32 = D.simhash_near_pairs(sigs32, max_hamming=3)
    want = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in D.dup_clusters(docs, pairs32).collect()
    }
    # exact dups (1 & 4 in the fixture) must cluster identically; 64-bit
    # hamming on near-dups can legitimately differ from 32-bit, so pin
    # the exact-dup behavior plus full key coverage
    assert set(out) == set(want)
    assert out[1] == (1, True) and out[4][0] == 1 and not out[4][1]


def test_saturation_guard_default_auto(spark):
    """Round-5: the guard is ON by default — a saturated corpus (one
    boilerplate family larger than the derived threshold) raises from
    simhash_near_pairs, lsh_candidate_pairs AND the production
    simhash_dup_clusters entry without any opt-in; None is the explicit
    opt-out."""
    n = 4500  # > the 4096-row floor of bucket_rows_for_corpus
    rows = [(i, "the same boilerplate text repeated verbatim") for i in range(n)]
    same = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = D.simhash(same).cache()
    with pytest.raises(RuntimeError, match="saturation"):
        D.simhash_near_pairs(sigs)  # guard fires eagerly at call time
    # explicit opt-out still works
    assert D.simhash_near_pairs(sigs, max_bucket_rows=None).count() > 0

    mh = D.minhash_signatures(same).cache()
    with pytest.raises(RuntimeError, match="saturation"):
        D.lsh_candidate_pairs(mh)
    assert D.lsh_candidate_pairs(mh, max_bucket_rows=None).count() > 0

    with pytest.raises(RuntimeError, match="saturation"):
        D.simhash_dup_clusters(same)


def test_bucket_rows_for_corpus_formula():
    """Threshold derivation: floor for small/hash-bucket corpora,
    skew×mean in the middle, ceiling-clamped where uniform occupancy
    itself is the failure (32-bit simhash at 1e8 docs)."""
    from course_scraper_spark.operators.similarity import bucket_rows_for_corpus

    assert bucket_rows_for_corpus(500, None) == 4096         # floor
    assert bucket_rows_for_corpus(500, 1024) == 4096         # floor
    # mid-scale: 1e8 rows over 4*65536 buckets -> mean ~381 -> 32x mean
    mid = bucket_rows_for_corpus(10**8, 4 * 65536)
    assert 4096 < mid < 65536 and mid == int(32 * (10**8 / (4 * 65536)))
    # 32-bit saturation regime: expected mean 390k/bucket would bless
    # saturation if the threshold scaled with it; the ceiling catches it
    assert bucket_rows_for_corpus(4 * 10**8, 4 * 256) == 65536


def test_minhash_sigs_and_sets_fused_equality(spark):
    """Round 6: the fused one-pass sigs+sets table must equal the two
    single-purpose passes column-for-column."""
    from course_scraper_spark.operators.dedup import (
        doc_shingle_sets,
        minhash_sigs_and_sets_pandas,
        minhash_signatures_pandas,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    combo = minhash_sigs_and_sets_pandas(docs, n=3, k=8)
    sigs = minhash_signatures_pandas(docs, n=3, k=8)
    sets = doc_shingle_sets(docs, n=3)
    mh_cols = ["doc_id"] + [f"mh{i}" for i in range(8)]
    assert (
        combo.select(*mh_cols).orderBy("doc_id").collect()
        == sigs.orderBy("doc_id").collect()
    )
    assert (
        combo.select("doc_id", "sh_set", "n_sh").orderBy("doc_id").collect()
        == sets.orderBy("doc_id").collect()
    )
