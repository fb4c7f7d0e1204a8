"""Document deduplication family for training-data pipelines.

All operators here are pure JVM-side column algebra (no Python UDFs): at
100 TB these run inside whole-stage codegen with partial aggregation, and
the only shuffles are the groupBys/joins intrinsic to the algorithm.

* exact dedup          — md5(text) hash-groupBy (see queries.dedup_exact)
* n-gram Jaccard       — word-shingle explode -> inverted-index pair join
                          -> |intersection| / union
* MinHash + LSH        — k permutation-min signatures over shingle codes,
                          banded bucket join for candidate pairs, signature
                          agreement as the similarity estimate
* SimHash              — sign-of-sum over per-token hash bits, one
                          fingerprint per document
* embedding near-dup   — random-hyperplane LSH buckets + in-bucket cosine

Hash arithmetic uses ``((code % P) * a + b) % P`` with P = 2^31 - 1 and
``code`` = first 15 hex digits of md5 — overflow-free in any engine and
bit-identical between Spark and the DuckDB oracles. Constants derive from
a fixed seed, so signatures are stable across runs/partitionings.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRIME = 2_147_483_647  # 2^31 - 1


def hash_params(k: int, seed: int = 1266) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, PRIME), rng.randrange(0, PRIME)) for _ in range(k)]


def code_sql(col_sql: str) -> str:
    """Portable 60-bit integer code of a string (same value in DuckDB)."""
    return f"CAST(conv(substring(md5(CAST({col_sql} AS BINARY)), 1, 15), 16, 10) AS BIGINT)"


def shingle_expr(text_col: str, n: int) -> str:
    """Word n-gram shingles as an array column (JVM-side; docs shorter than
    n words contribute their whole text as one shingle)."""
    toks = f"split({text_col}, ' ')"
    return (
        f"CASE WHEN size({toks}) < {n} THEN array({text_col}) "
        f"ELSE transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))) END"
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """-> (id, shingle) exploded, distinct per doc."""
    return (
        df.select(F.col(id_col).alias("id"), F.expr(shingle_expr(text_col, n)).alias("sh"))
        .select("id", F.explode("sh").alias("shingle"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def hot_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, max_doc_freq: int = 1000
) -> DataFrame:
    """-> (shingle, doc_freq) for shingles ABOVE the document-frequency cap
    — what ``ngram_jaccard_pairs`` drops. Callers log/inspect this (e.g.
    ``hot.count()``) to see how much boilerplate was excluded."""
    return (
        word_shingles(df, text_col, id_col, n)
        .groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") > max_doc_freq)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct word n-gram sets, via inverted-index
    join (only pairs sharing >=1 shingle are scored).

    ``max_doc_freq`` caps a shingle's document frequency BEFORE the pair
    join: a boilerplate n-gram shared by N docs would otherwise create
    O(N^2) join rows — the scale-killer on web text. Shingles above the cap
    are dropped from the shingle sets entirely (both intersection counts
    and set sizes), so the Jaccard is exact over the filtered sets and the
    candidate count per shingle is bounded by max_doc_freq^2. Use
    ``hot_shingles`` with the same cap to log what was dropped; pass
    ``max_doc_freq=None`` for unfiltered exact Jaccard on small corpora.
    """
    sh = word_shingles(df, text_col, id_col, n)
    if max_doc_freq is not None:
        dfreq = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("doc_freq"))
            .filter(F.col("doc_freq") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(dfreq, "shingle")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, k: int = 8, seed: int = 1266
) -> DataFrame:
    """-> (id, mh0..mh{k-1}) — one groupBy, k min-aggregates, all codegen."""
    sh = word_shingles(df, text_col, id_col, n).withColumn(
        "code", F.expr(code_sql("shingle")) % F.lit(PRIME)
    )
    aggs = [
        F.min((F.col("code") * F.lit(a) + F.lit(b)) % F.lit(PRIME)).alias(f"mh{i}")
        for i, (a, b) in enumerate(hash_params(k, seed))
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_bands(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """-> (id, band_id, band_key): band key = the row signature values of
    that band, concatenated. Docs agreeing on any whole band share a
    bucket (standard LSH banding)."""
    cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        cols.append(F.struct(F.lit(b).alias("band_id"), F.concat_ws(":", *parts).alias("band_key")))
    return sig.select("id", F.explode(F.array(*cols)).alias("bk")).select(
        "id", "bk.band_id", "bk.band_key"
    )


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    seed: int = 1266,
    min_est_sim: float = 0.5,
) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard = fraction of agreeing
    signature components."""
    assert k % bands == 0
    rows = k // bands
    sig = minhash_signatures(df, text_col, id_col, n, k, seed)
    bk = minhash_bands(sig, bands, rows)
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col("id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)])
    agree = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_sim", F.round(agree / F.lit(float(k)), 6))
        .filter(F.col("est_sim") >= min_est_sim)
        .select("id_a", "id_b", "est_sim")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """-> (id, simhash BIGINT): sign-of-sum over per-distinct-token code
    bits. One explode + one groupBy with `bits` conditional sums."""
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
        .withColumn("code", F.expr(code_sql("w")))
    )
    sums = [
        F.sum(
            F.when(F.expr(f"(code >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("id").agg(*sums)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = bit if sim is None else (sim + bit)
    return agg.select("id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding near-dup (random hyperplane LSH + in-bucket cosine)
# ---------------------------------------------------------------------------

def hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Seeded Gaussian hyperplanes — deterministic, so the DuckDB oracle can
    inline the exact same literals."""
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _lsh_buckets(e: DataFrame, n_planes: int, dim: int, seed: int, n_tables: int) -> DataFrame:
    """e(id, v) -> (id, table_id, bucket): sign-pattern bucket per table,
    planes seeded ``seed + table_id``. Ids only — vectors don't travel."""
    tables = []
    for t in range(n_tables):
        bucket = None
        for i, p in enumerate(hyperplanes(n_planes, dim, seed + t)):
            lit = "array(" + ",".join(f"{x}D" for x in p) + ")"
            dot = f"aggregate(zip_with(v, {lit}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
            bit = F.when(F.expr(dot) > 0, F.lit(1 << i)).otherwise(F.lit(0))
            bucket = bit if bucket is None else (bucket + bit)
        tables.append(F.struct(F.lit(t).alias("table_id"), bucket.alias("bucket")))
    return e.select("id", F.explode(F.array(*tables)).alias("tb")).select(
        "id", F.col("tb.table_id").alias("table_id"), F.col("tb.bucket").alias("bucket")
    )


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.8,
    seed: int = 1266,
    n_tables: int = 4,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Banded multi-table hyperplane LSH near-dup pairs.

    ``n_tables`` independent hash tables (per-table seeded planes), each
    bucketing by the sign pattern against ``n_planes`` hyperplanes; a pair
    is a candidate if it collides in ANY table (recall grows with tables,
    per-bucket size shrinks with planes — same banding tradeoff as
    ``minhash_bands``). Exact cosine scores the candidates. Single-table
    LSH at corpus scale puts ~1/2^n_planes of all docs in one bucket and
    the in-bucket join goes quadratic; banding keeps buckets tight while
    recovering recall across tables.

    ``max_bucket`` drops (table, bucket) cells larger than the cap — a
    degenerate cell (e.g. all-zero embeddings) otherwise creates
    O(cell^2) pairs. Dropped cells trade recall for a hard bound on join
    fan-out; callers can inspect sizes via the companion
    ``lsh_bucket_sizes``.

    Candidate ids travel WITHOUT their vectors through the bucket join;
    vectors re-attach to the deduplicated pair list only for the final
    cosine — at scale this keeps the wide rows out of the shuffle.
    """
    e = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    bk = _lsh_buckets(e, n_planes, dim, seed, n_tables)
    if max_bucket is not None:
        keep = (
            bk.groupBy("table_id", "bucket")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") <= max_bucket)
            .select("table_id", "bucket")
        )
        bk = bk.join(keep, ["table_id", "bucket"])
    a, b = bk.alias("a"), bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ea = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    eb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot_ab = "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    norm = (
        "sqrt(aggregate(zip_with(va, va, (x, y) -> x * y), 0D, (acc, x) -> acc + x)) * "
        "sqrt(aggregate(zip_with(vb, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x))"
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos_sim", F.round(F.expr(f"{dot_ab} / ({norm})"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def lsh_bucket_sizes(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 1266,
    n_tables: int = 4,
) -> DataFrame:
    """-> (table_id, bucket, c): cell occupancy for capacity planning /
    logging what a ``max_bucket`` cap would drop."""
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    return (
        _lsh_buckets(e, n_planes, dim, seed, n_tables)
        .groupBy("table_id", "bucket")
        .agg(F.count("*").alias("c"))
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware canonical selection within near-dup clusters ->
    ``(doc_id, cluster_id, n_words, keep)``: of each cluster, KEEP the
    member with the most (whitespace-split, non-empty) words, ties to
    the smallest id — the curation policy real training pipelines use
    (retain the longest/most complete near-duplicate), as opposed to
    the id-min canonical ``dedup_clusters`` marks or the crawl-side
    keep-newest. ``clusters`` is any ``(doc_id, cluster_id)``
    assignment (dedup_clusters, exact-hash groups, ER output).

    Determinism: the word count is an exact BIGINT; the per-cluster
    argmax is a row_number over the total (n_words DESC, id ASC) order
    — no floats anywhere.

    Scale: one token-explode aggregate over the corpus (map-side
    combined — reuses nothing heavier than the quality scorers already
    pay), one join onto the cluster assignment, one cluster-key window
    WindowGroupLimit-style (every cluster is small by construction —
    giant clusters mean the dedup upstream already failed). The keep
    flag stays on every row so the caller can audit drops instead of
    silently losing them.
    """
    words = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("w"),
        )
        .where(F.length("w") > 0)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_words"))
    )
    joined = clusters.join(words, id_col, "left").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.coalesce(F.col("n_words"), F.lit(0).cast("long")).alias("n_words"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_words"), F.asc(id_col)
    )
    return joined.withColumn("keep", F.row_number().over(w) == 1)
