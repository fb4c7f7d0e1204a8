"""IVF (inverted-file) approximate nearest neighbour — the scale path for
embedding similarity search.

Brute-force cosine top-k (`queries.ann_cosine_topk`) is exact but reads the
whole corpus per query batch; the banded hyperplane LSH
(`dedup.embedding_near_dups`) targets all-pairs near-dup detection. IVF is
the classic middle ground for query-time ANN at corpus scale:

1. **Coarse quantization** — every corpus vector is assigned to its nearest
   centroid (argmax dot product). This is a NARROW per-row expression chain
   (`greatest` + first-match `when` chain, whole-stage codegen, no Python,
   no shuffle); at 100 TB the assignment is a single map over the corpus
   and the index is written bucketed/partitioned by ``centroid_id`` so each
   query probes only its lists.
2. **Probing** — each query scores the K centroids (a tiny broadcast cross
   join) and keeps the ``nprobe`` closest lists.
3. **Candidate scan** — corpus vectors are joined to the probe set on
   ``centroid_id``; the probe side (|queries| x nprobe rows) is broadcast,
   so the corpus side never shuffles. Exact cosine + per-query top-k window
   finishes the search, touching only ~nprobe/K of the corpus.

Centroids here are deterministic seeded unit vectors so tests and the
DuckDB oracle can inline them as literals; at production scale they would
come from a k-means job over a corpus sample (same dataflow, learned
literals). No reference counterpart (the reference imports faiss but never
uses it, scripts/bert_contrastive.py:8); this operator is part of the
training-data-pipeline extension mandated alongside SURVEY.md §2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ivf_centroids(k: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic unit-norm centroids (same literals on the Spark and
    DuckDB sides)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((k, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in c]


def ivf_assign(emb: DataFrame, centroids: list[list[float]], vec_col: str = "v") -> DataFrame:
    """Append ``centroid_id``: argmax-dot coarse assignment, ties to the
    lowest centroid id (first match, via strict ``>`` in the running max).

    One self-contained expression — ``transform`` computes all K dots in a
    single pass and ``aggregate`` arg-maxes them — so every dot product is
    evaluated exactly ONCE per row. (A ``greatest`` + CASE chain re-derives
    each dot fold per branch after projection collapse: measured ~10x
    slower per row.) Still a pure narrow projection, no exchange."""
    k = len(centroids)
    c_lit = ", ".join(
        "array(" + ", ".join(repr(x) for x in c) + ")" for c in centroids
    )
    expr = f"""
      aggregate(
        zip_with(
          sequence(0, {k - 1}),
          transform(array({c_lit}), c ->
            aggregate(zip_with({vec_col}, c, (x, y) -> x * y), 0D, (acc, v) -> acc + v)),
          (i, d) -> named_struct('i', i, 'd', d)),
        named_struct('i', -1, 'd', cast('-Infinity' as double)),
        (acc, x) -> IF(x.d > acc.d, x, acc)
      ).i
    """
    return emb.withColumn("centroid_id", F.expr(expr))


def _finite_batch(v: pd.Series, site: str) -> np.ndarray:
    """Stack one Arrow batch of embeddings, failing loudly on NaN/inf like
    the length guard: the fold's strict-``>`` running max and numpy's
    argmax/argsort order non-finite dots differently, so they would silently
    change which centroid a vector gets or which lists a query probes."""
    mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
    if not np.isfinite(mat).all():
        raise ValueError(f"{site}: non-finite embedding value (NaN or inf)")
    return mat


def ivf_assign_fold(
    emb: DataFrame, centroids: list[list[float]], vec_col: str = "v"
) -> DataFrame:
    """Vectorized coarse assignment that is BIT-IDENTICAL to ``ivf_assign``
    at any K*dim: the per-centroid dot accumulates over a dim-step
    vectorized loop — the same left-to-right element order as the
    ``aggregate(zip_with(...))`` fold (deliberately NOT one BLAS matmul,
    whose multi-accumulator summation could flip a near-tie) — and ties
    resolve to the lowest centroid id (``np.argmax`` first maximum ==
    the fold's strict-``>`` running max). Plan shape: one ArrowEvalPython
    narrow projection, no literals in the expression tree, no exchange —
    the K*dim-literal Catalyst tree of ``ivf_assign`` was the dominant
    ANALYSIS cost of the whole IVF query (measured ~1.5 s DataFrame build
    at sf0.1) plus a slow interpreted per-row fold at execution, and this
    path removes both without changing a single output bit."""
    from pyspark.sql.functions import pandas_udf

    cm = np.asarray(centroids, dtype=np.float64)
    k, dim = cm.shape

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        mat = _finite_batch(v, "ivf_assign_fold")
        acc = np.zeros((mat.shape[0], k), dtype=np.float64)
        for d in range(dim):  # fold order: ((0 + x0*y0) + x1*y1) + ...
            acc += mat[:, d : d + 1] * cm[None, :, d]
        return pd.Series(np.argmax(acc, axis=1).astype("int32"))

    return emb.withColumn("centroid_id", assign(F.col(vec_col)))


def ivf_search(
    emb: DataFrame,
    query_filter,
    k_centroids: int = 8,
    nprobe: int = 2,
    topk: int = 3,
    seed: int = 733,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k cosine search. ``emb`` has (vec_id, embedding ARRAY);
    ``query_filter`` is a Column predicate selecting the query rows.
    Returns (query_id, neighbor_id, cos_sim_r, rnk) — the same shape as the
    exact ann_cosine_topk baseline so recall is directly comparable.

    ``dim`` is explicit (no inferring via a ``first()`` job at plan time,
    and it must agree with ``ivf_oracle_sql``'s ``dim`` — both default 64);
    a table with different-length embeddings fails LOUDLY at the JVM-side
    ``raise_error`` guard below, before the fold (which would score a
    longer vector on its first ``dim`` entries only)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    e = e.withColumn(
        "v",
        F.when(F.size("v") == dim, F.col("v")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ivf_search: embedding length "),
                    F.size("v").cast("string"),
                    F.lit(f" != dim={dim}"),
                )
            )
        ),
    )
    if centroids is None:
        centroids = ivf_centroids(k_centroids, dim, seed)
    else:
        # trained codebook (kmeans_train) — same length contract
        assert len(centroids) == k_centroids and len(centroids[0]) == dim

    # fold-order vectorized assignment: bit-identical to the K*dim-literal
    # expression at every size, without its analysis/codegen cost
    indexed = ivf_assign_fold(e, centroids)

    # probe: top-nprobe lists per query as ONE narrow vectorized projection
    # + explode — replaces the former [centroid crossJoin -> window
    # (exchange + sort) -> filter] subplan (3 fewer plan nodes, one less
    # exchange and AQE stage on the broadcast side). Selection is
    # bit-identical to that window: dots accumulate in the zip_with-fold's
    # left-to-right order (dim-step loop, not BLAS) and stable argsort of
    # the negated dots == (cdot DESC, centroid_id ASC).
    from pyspark.sql.functions import pandas_udf

    q = e.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cm = np.asarray(centroids, dtype=np.float64)
    k_c, dim_c, np_c = cm.shape[0], cm.shape[1], nprobe

    @pandas_udf("array<int>")
    def probe_ids(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype=object)
        mat = _finite_batch(qv, "ivf_search probe")
        acc = np.zeros((mat.shape[0], k_c), dtype=np.float64)
        for d in range(dim_c):  # fold order, as in ivf_assign_fold
            acc += mat[:, d : d + 1] * cm[None, :, d]
        order = np.argsort(-acc, axis=1, kind="stable")[:, :np_c]
        return pd.Series([row.astype("int32").tolist() for row in order])

    probes = q.select(
        "query_id", "qv", F.explode(probe_ids(F.col("qv"))).alias("centroid_id")
    )

    # candidate scan: corpus joined to the BROADCAST probe set on
    # centroid_id — the big side never shuffles and only the probed
    # ~nprobe/K fraction of lists is scored
    dot = "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    qq = "aggregate(zip_with(qv, qv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    nn = "aggregate(zip_with(nv, nv, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    cand = (
        indexed.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            "centroid_id",
        )
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.expr(f"{dot} / (sqrt({qq}) * sqrt({nn}))"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim_r"), "rnk")
    )


def ivf_oracle_sql(
    k_centroids: int = 8,
    nprobe: int = 2,
    topk: int = 3,
    seed: int = 733,
    dim: int = 64,
    query_pred: str = "vec_id < 5",
) -> str:
    """DuckDB mirror with the same centroid literals, assignment tie rule
    (first match at the max), probe ranking, and top-k ordering."""
    centroids = ivf_centroids(k_centroids, dim, seed)
    lits = [", ".join(repr(x) for x in c) for c in centroids]
    dots = ", ".join(
        f"list_dot_product(v, [{lit}]) AS d{i}" for i, lit in enumerate(lits)
    )
    mx = "GREATEST(" + ", ".join(f"d{i}" for i in range(k_centroids)) + ")"
    case = (
        "CASE "
        + " ".join(f"WHEN d{i} = mx THEN {i}" for i in range(k_centroids))
        + " END"
    )
    centroid_rows = "\n      UNION ALL\n      ".join(
        f"SELECT {i} AS centroid_id, [{lit}]::DOUBLE[] AS cvec"
        for i, lit in enumerate(lits)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, v, {case} AS centroid_id
      FROM (SELECT *, {mx} AS mx FROM (SELECT vec_id, v, {dots} FROM e))
    ),
    cents AS (
      {centroid_rows}
    ),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_dot_product(q.v, c.cvec) DESC,
                                           c.centroid_id ASC) AS prb
        FROM e q CROSS JOIN cents c WHERE q.{query_pred}
      ) WHERE prb <= {nprobe}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_dot_product(p.qv, a.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(a.v, a.v))) AS cos_sim
      FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, round(cos_sim, 4) AS cos_sim_r, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM cand
    ) WHERE rnk <= {topk}
    """


def _dist2_expr(vec_col: str, centroid: list[float]) -> str:
    arr = "array(" + ", ".join(repr(x) for x in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, x) -> acc + x)"
    )


def kmeans_assign(
    emb: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Append ``centroid_id`` (argmin squared euclidean distance, ties to
    the lowest centroid id via strict ``<`` in the running min) and
    ``dist2``. Like :func:`ivf_assign` this is a NARROW per-row
    expression chain — the k distance expressions run inside whole-stage
    codegen; the corpus never shuffles for assignment."""
    d_cols = [
        F.expr(_dist2_expr(vec_col, c)).alias(f"_d{i}")
        for i, c in enumerate(centroids)
    ]
    df = emb.select("*", *d_cols)
    best_id, best_d = F.lit(0), F.col("_d0")
    for i in range(1, len(centroids)):
        closer = F.col(f"_d{i}") < best_d
        best_id = F.when(closer, F.lit(i)).otherwise(best_id)
        best_d = F.when(closer, F.col(f"_d{i}")).otherwise(best_d)
    keep = [c for c in emb.columns]
    return df.select(
        *keep, best_id.alias("centroid_id"), best_d.alias("dist2")
    )


def kmeans_train(
    emb: DataFrame,
    k: int,
    dim: int,
    n_iter: int = 2,
    seed: int = 1337,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd's k-means over an embedding column — the TRAINING
    step an IVF index needs before :func:`ivf_assign` can bucket a corpus
    (reference scope: faiss is imported but unused,
    bert_contrastive.py:8; MLlib is avoided to keep the engine
    DataFrame-pure and the arithmetic oracle-reproducible).

    Determinism: seeded unit-norm init (:func:`ivf_centroids`), argmin
    assignment with lowest-id tie-break, and per-(centroid, dim) means
    ROUNDED to 9 dp each round — the rounding pins the fixpoint so the
    DuckDB oracle (same literals, same unrolled rounds) matches exactly
    despite engine-order float summation.

    Scale shape per round: assignment is row-local codegen (no shuffle);
    the update is ONE posexplode + (centroid, dim) groupBy-avg —
    k x dim rows — collected to the driver (k x dim doubles, the same
    driver traffic MLlib's KMeans accepts; at k=2^16, dim=1024 that is
    512 MB and the update should instead stay a joined table — noted,
    not needed at IVF's k<=4096). Empty clusters keep their previous
    centroid. Returns (assignment df of the FINAL round, final
    centroids)."""
    cents = ivf_centroids(k, dim, seed)
    assigned = kmeans_assign(emb, cents, vec_col)
    for _ in range(n_iter):
        upd = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("val"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in upd:
            new[r["centroid_id"]][r["pos"]] = float(r["val"])
        cents = new
        assigned = kmeans_assign(emb, cents, vec_col)
    return assigned, cents


def pq_train_encode(
    emb: DataFrame,
    m: int,
    k: int,
    dim: int,
    n_iter: int = 1,
    seed: int = 1337,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization — train a k-centroid codebook per contiguous
    ``dim/m`` subspace (:func:`kmeans_train` on the slice) and encode
    every vector as m small integers: the compression layer of IVF-PQ,
    the standard web-scale ANN index (a 1024-dim float corpus becomes m
    bytes/vector + m tiny codebooks).

    Training runs per subspace (k x dim/m driver-side codebook each);
    ENCODING is a single row-local pass — the m argmin chains run over
    ``slice(vec, ...)`` expressions inside whole-stage codegen, so the
    corpus is read once and never shuffled. Deterministic end to end
    (seeded init per subspace, lowest-id ties, 9 dp-rounded means), so
    the DuckDB oracle re-derives codes exactly. Returns (encoded df with
    code{j} / dist{j} columns, codebooks)."""
    sub = dim // m
    assert sub * m == dim, "dim must divide evenly into m subspaces"
    codebooks = []
    for j in range(m):
        sliced = emb.select(
            F.slice(vec_col, j * sub + 1, sub).alias("embedding")
        )
        _, cents = kmeans_train(
            sliced, k=k, dim=sub, n_iter=n_iter, seed=seed + j
        )
        codebooks.append(cents)
    out = emb
    for j in range(m):
        out = (
            kmeans_assign(
                out, codebooks[j], vec_col=f"slice({vec_col}, {j * sub + 1}, {sub})"
            )
            .withColumnRenamed("centroid_id", f"code{j}")
            .withColumnRenamed("dist2", f"dist{j}")
        )
    return out, codebooks


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    topk: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the query path of
    an IVF-PQ index: each query precomputes an m x k distance table
    against the codebooks (tiny, broadcast), and a candidate's distance
    is the SUM of m table lookups on its codes — the corpus side never
    touches raw vectors again.

    Scale shape: the corpus scan reads m small ints per row and joins m
    BROADCAST tables (|queries| x k rows each) on the code columns —
    row-local, zero corpus shuffle; only the per-query top-k window
    moves the candidate rows through one query-keyed exchange (at scale
    the IVF coarse filter prunes candidates to the probed buckets
    first). Distances are rounded to 6 dp BEFORE ranking with an id
    tie-break, so the ranking is engine-exact and the DuckDB oracle
    matches code for code."""
    from functools import reduce
    from operator import add

    m = len(codebooks)
    sub = dim // m
    cur = codes
    for j in range(m):
        k = len(codebooks[j])
        slice_expr = f"slice({vec_col}, {j * sub + 1}, {sub})"
        tab = (
            queries.select(
                F.col(id_col).alias(f"qid{j}"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("cid"),
                                F.expr(
                                    _dist2_expr(slice_expr, codebooks[j][c])
                                ).alias("d"),
                            )
                            for c in range(k)
                        ]
                    )
                ).alias("e"),
            )
            .select(
                f"qid{j}",
                F.col("e.cid").alias(f"c{j}"),
                F.col("e.d").alias(f"d{j}"),
            )
        )
        cond = F.col(f"code{j}") == F.col(f"c{j}")
        if j > 0:
            cond = cond & (F.col(f"qid{j}") == F.col("qid0"))
        cur = cur.join(F.broadcast(tab), cond)
    adc = F.round(reduce(add, [F.col(f"d{j}") for j in range(m)]), 6)
    ranked = cur.select(
        F.col("qid0").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return ranked.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= topk
    )


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    query_col: str = "query_id",
    item_col: str = "doc_id",
    rank_col: str = "rk",
    k_rrf: int = 60,
    top_k: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion of N independent rank lists (Cormack et
    al. 2009) -> ``(query_id, doc_id, r_<name>..., rrf, rk)``: each
    input is a ``(query, item, rank)`` list from one ranker; the fused
    score is ``sum_i 1/(k_rrf + rank_i)`` over the rankers that
    returned the item (absent rankers contribute 0 — RRF over the
    union, the standard hybrid-retrieval combiner for sparse + dense
    arms that don't share a score scale).

    Determinism: input ranks are exact integers (each ranker's own
    contract), the fused score is rational in those integers with the
    coalesce/addition tree fixed left-to-right, rounded once before
    the output rank — an ANSI oracle reproduces it token-for-token.

    Scale: rank lists are top-k-per-query already (tiny relative to
    their corpora); the fusion is an N-way full outer join on the
    (query, item) key followed by one per-query window. At crawl scale
    every input arrives pre-truncated (WindowGroupLimit in the arm
    plans), so the join and window touch O(queries x k x N) rows, never
    a corpus."""
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least two rank lists")
    fused = None
    names = []
    for name, df in rankings:
        names.append(name)
        side = df.select(
            F.col(query_col),
            F.col(item_col),
            F.col(rank_col).alias(f"r_{name}"),
        )
        fused = side if fused is None else fused.join(
            side, [query_col, item_col], "full_outer"
        )
    score = F.lit(0.0)
    for name in names:
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(int(k_rrf)) + F.col(f"r_{name}")), F.lit(0.0)
        )
    fused = fused.withColumn("rrf", F.round(score, 6))
    w = Window.partitionBy(query_col).orderBy(F.desc("rrf"), F.asc(item_col))
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= int(top_k))
        .select(query_col, item_col, *[f"r_{n}" for n in names], "rrf", "rk")
    )
