"""Dedup family: behavioral tests on constructed near-duplicates."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    far = "completely different words about spark shuffles and parquet files everywhere"
    dup = base
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, dup)], "doc_id long, text string"
    )


def test_ngram_jaccard_finds_near_dups(docs):
    from deepex_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2).collect()}
    assert pairs[(1, 4)] == 1.0           # exact dup
    assert pairs[(1, 2)] > 0.7            # near dup (one word differs)
    assert (1, 3) not in pairs            # unrelated


def test_minhash_estimates_jaccard(docs):
    from deepex_spark.operators.dedup import minhash_dup_pairs, minhash_signatures

    sig = minhash_signatures(docs, "text", "doc_id", n=3, k=16)
    rows = {r["id"]: [r[f"mh{i}"] for i in range(16)] for r in sig.collect()}
    assert rows[1] == rows[4]             # identical docs -> identical sigs
    agree_12 = sum(a == b for a, b in zip(rows[1], rows[2])) / 16
    agree_13 = sum(a == b for a, b in zip(rows[1], rows[3])) / 16
    assert agree_12 > agree_13            # estimate orders like true jaccard

    pairs = {(r["id_a"], r["id_b"]): r["est_sim"] for r in
             minhash_dup_pairs(docs, "text", "doc_id", n=3, k=16, bands=4, min_est_sim=0.4).collect()}
    assert pairs[(1, 4)] == 1.0


def test_simhash_hamming(docs):
    from deepex_spark.operators.dedup import simhash

    sh = {r["id"]: r["simhash"] for r in simhash(docs, "text", "doc_id", bits=32).collect()}
    assert sh[1] == sh[4]
    ham_12 = bin(sh[1] ^ sh[2]).count("1")
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham_12 < ham_13


def test_embedding_lsh_finds_identical(spark):
    from deepex_spark.operators.dedup import embedding_near_dups

    v1 = [1.0, 0.0, 0.5, 0.2] * 16
    v2 = [x * 1.001 for x in v1]          # near-identical direction
    v3 = [(-1.0) ** i * (i % 7) for i in range(64)]
    emb = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)], "vec_id long, embedding array<double>"
    )
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
             embedding_near_dups(emb, threshold=0.9, dim=64).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert (1, 3) not in pairs


def test_ngram_hot_shingle_cutoff(spark):
    """A boilerplate shingle present in 50% of docs must not explode the
    pair join: with the DF cutoff the candidate count stays bounded by the
    genuinely-similar pairs."""
    from deepex_spark.operators.dedup import hot_shingles, ngram_jaccard_pairs

    boiler = "all rights reserved worldwide"  # 4 words -> shares 3-grams
    rows = []
    for i in range(40):
        uniq = f"unique page {i} content token{i} extra{i} words{i} here{i}"
        text = uniq + (" " + boiler if i % 2 == 0 else "")
        rows.append((i, text))
    rows.append((100, rows[0][1]))  # one true duplicate of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.0,
                                 max_doc_freq=5).collect()
    uncapped = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.0,
                                   max_doc_freq=None).collect()
    # without the cap, the 21 boilerplate docs pair all-vs-all (>=210 pairs);
    # with it, only the true duplicate pair survives
    assert len(uncapped) >= 210
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(0, 100)}
    assert [r["jaccard"] for r in capped] == [1.0]

    hot = hot_shingles(docs, "text", "doc_id", n=3, max_doc_freq=5).collect()
    assert {r["shingle"] for r in hot} == {
        "all rights reserved", "rights reserved worldwide"
    }
    assert all(r["doc_freq"] == 21 for r in hot)


def test_embedding_lsh_banding_and_bucket_cap(spark):
    """Multi-table banding recovers pairs a single table misses, and the
    bucket cap drops degenerate cells instead of going quadratic."""
    import math
    import random

    from deepex_spark.operators.dedup import embedding_near_dups, lsh_bucket_sizes

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    rows = [(1, base), (2, near)]
    # 20 identical vectors -> one degenerate cell in every table
    degen = [1.0] * 64
    rows += [(100 + i, degen) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # cap below the degenerate cell size: the 20-vector cell is dropped,
    # the near-dup pair (cell size 2) survives
    pairs = embedding_near_dups(
        emb, threshold=0.9, n_planes=4, n_tables=4, max_bucket=10
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids
    assert not any(a >= 100 and b >= 100 for a, b in ids)

    # no cap: the degenerate cell pairs all-vs-all (190 pairs at cos 1.0)
    uncapped = embedding_near_dups(
        emb, threshold=0.9, n_planes=4, n_tables=4, max_bucket=None
    ).collect()
    assert len(uncapped) >= 190 + 1

    sizes = lsh_bucket_sizes(emb, n_planes=4, n_tables=4).collect()
    assert max(r["c"] for r in sizes) >= 20  # the degenerate cell is visible
    # recall across tables is a union: every pair found by 1 table is found by 4
    one_t = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(
        emb, threshold=0.9, n_planes=4, n_tables=1, max_bucket=None).collect()}
    four_t = {(r["id_a"], r["id_b"]) for r in uncapped}
    assert one_t <= four_t


def test_signatures_partition_invariant(docs):
    from deepex_spark.operators.dedup import minhash_signatures

    one = {tuple(r) for r in minhash_signatures(docs.coalesce(1), "text", "doc_id").collect()}
    four = {tuple(r) for r in minhash_signatures(docs.repartition(4), "text", "doc_id").collect()}
    assert one == four


def test_keep_best_per_cluster(spark):
    """Longest member kept per cluster; length ties fall to smallest id;
    singletons keep themselves; docs absent from the word table count 0."""
    docs = spark.createDataFrame(
        [
            (1, "a b c"),       # cluster 1: 3 words
            (2, "a b c d e"),   # cluster 1: 5 words -> keeper
            (3, "x y"),         # cluster 3 (singleton)
            (4, "p q"),         # cluster 4: ties with 5 on 2 words -> keeper (id)
            (5, "r s"),
            (6, "   "),         # whitespace-only: 0 words, own cluster
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (6, 6)],
        "doc_id long, cluster_id long",
    )
    from deepex_spark.operators.dedup import keep_best_per_cluster

    got = {
        r["doc_id"]: (r["cluster_id"], r["n_words"], r["keep"])
        for r in keep_best_per_cluster(docs, clusters).collect()
    }
    assert got == {
        1: (1, 3, False),
        2: (1, 5, True),
        3: (3, 2, True),
        4: (4, 2, True),
        5: (4, 2, False),
        6: (6, 0, True),
    }
