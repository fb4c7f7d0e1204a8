"""Graph materialization: deduplicated edge/vertex tables with lineage.

The north_rule's final stage: canonicalized triples -> ``vertices``
(one row per canonical entity, stable 64-bit id) and ``edges`` (one row per
(src, dst, predicate), evidence aggregated). Every row carries lineage
columns (run_id, src_partition, n_source_docs) so a partition can be traced
back and recomputed; write-side partitioning is by ``pmod(edge/vertex id,
n_buckets)`` — uniform, stable, and pruning-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL_ID_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _id_cast_type(*dtypes) -> str:
    """Common cast target for graph vertex-id columns: all-integral ids
    widen to ``long``; anything involving strings compares/aggregates as
    ``string`` (min-label propagation only needs a total order, which
    lexicographic string comparison provides). Anything else (binary,
    struct, float keys) raises loudly — a silent ``cast('long')`` turned
    UUID doc_ids into NULLs and produced an EMPTY deduped corpus."""
    if all(isinstance(t, _INTEGRAL_ID_TYPES) for t in dtypes):
        return "long"
    if all(isinstance(t, (T.StringType, *_INTEGRAL_ID_TYPES)) for t in dtypes):
        return "string"
    raise TypeError(f"graph vertex ids must be integral or string, got {dtypes}")


def build_vertices(canon_triples: DataFrame, run_id: str = "run0") -> DataFrame:
    subj = canon_triples.select(
        F.col("subj_id").alias("entity_id"),
        F.col("subj_canon").alias("canonical"),
        F.col("subj").alias("surface"),
        F.col("docid"),
    )
    obj = canon_triples.select(
        F.col("obj_id").alias("entity_id"),
        F.col("obj_canon").alias("canonical"),
        F.col("obj").alias("surface"),
        F.col("docid"),
    )
    return (
        subj.unionByName(obj)
        .groupBy("entity_id", "canonical")
        .agg(
            F.countDistinct("docid").alias("n_docs"),
            F.count("*").alias("n_mentions"),
            F.array_sort(F.collect_set("surface")).alias("surfaces"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("src_partition", F.spark_partition_id())
    )


def build_edges(canon_triples: DataFrame, run_id: str = "run0") -> DataFrame:
    return (
        canon_triples.groupBy("subj_id", "obj_id", "pred_id", "pred_canon")
        .agg(
            F.count("*").alias("n_evidence"),
            F.countDistinct("docid").alias("n_docs"),
            F.round(F.max("score"), 9).alias("max_score"),
            F.round(F.sum("score"), 9).alias("sum_score"),
            F.min("docid").alias("sample_docid"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("src_partition", F.spark_partition_id())
    )


GRAPH_N_BUCKETS = 32


def with_vertex_bucket(df: DataFrame, n_buckets: int = GRAPH_N_BUCKETS) -> DataFrame:
    """The ONE definition of the vertex-table bucket layout: every
    snapshot that incremental maintenance (jobs/maintain_kg.py) or rule
    materialization (jobs/query_kg.py) publishes clusters the same way,
    or bucket-pruned reads silently lose their layout guarantee."""
    return df.withColumn("bucket", F.pmod(F.col("entity_id"), F.lit(n_buckets)).cast("int"))


def with_edge_bucket(df: DataFrame, n_buckets: int = GRAPH_N_BUCKETS) -> DataFrame:
    """The ONE definition of the edge-table bucket layout (see
    with_vertex_bucket)."""
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64("subj_id", "obj_id", "pred_id"), F.lit(n_buckets)).cast("int"),
    )


def write_graph(write, vertices: DataFrame, edges: DataFrame) -> None:
    """Write the vertex and edge tables side by side: ``write(df, table)``
    in one driver thread per table. Each write is a few small stages, and
    one after the other they leave cores idle while the driver plans the
    next. The threads carry the caller's job group, local properties and
    tags; once both writes have ended, the first failure (vertices before
    edges) re-raises."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    target = inheritable_thread_target(vertices.sparkSession)(write)
    with ThreadPoolExecutor(max_workers=2) as pool:
        done = [pool.submit(target, vertices, "vertices"), pool.submit(target, edges, "edges")]
    for f in done:
        f.result()


def merge_vertices(existing: DataFrame, delta: DataFrame, run_id: str = "merge") -> DataFrame:
    """Fold a delta vertex table (``build_vertices`` over a NEW batch of
    docs) into an existing one. All vertex statistics are decomposable
    given the catalog's resume contract — each docid is processed by
    exactly ONE run, so batches are doc-disjoint and per-batch
    ``n_docs``/``n_mentions`` counts add without double counting (the
    associativity ``merge(build(A), build(B)) == build(A ∪ B)`` is pinned
    by tests/test_graph_merge.py). One groupBy on the merge key: the
    union of both sides is partially aggregated, then shuffled once by
    (entity_id, canonical)."""
    both = existing.unionByName(delta)
    return (
        both.groupBy("entity_id", "canonical")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_mentions").alias("n_mentions"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("surfaces")))).alias(
                "surfaces"
            ),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("src_partition", F.spark_partition_id())
    )


def merge_edges(existing: DataFrame, delta: DataFrame, run_id: str = "merge") -> DataFrame:
    """Fold a delta edge table into an existing one (same doc-disjoint
    contract as ``merge_vertices``): counts and score sums add, max/min
    statistics combine, so incremental crawls maintain the KG without
    ever re-reading old batches. Counts, max_score and sample_docid merge
    EXACTLY; ``sum_score`` sums per-batch values that ``build_edges``
    already rounded to 9 dp, so it matches the single-batch build only to
    ~1e-9 per merge (pinned at 6 dp by tests/test_graph_merge.py) — not
    bit-for-bit."""
    both = existing.unionByName(delta)
    return (
        both.groupBy("subj_id", "obj_id", "pred_id", "pred_canon")
        .agg(
            F.sum("n_evidence").alias("n_evidence"),
            F.sum("n_docs").alias("n_docs"),
            F.round(F.max("max_score"), 9).alias("max_score"),
            F.round(F.sum("sum_score"), 9).alias("sum_score"),
            F.min("sample_docid").alias("sample_docid"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("src_partition", F.spark_partition_id())
    )


def fold_snapshot(spark, catalog, table: str, run_id: str, delta, merge=merge_edges) -> int:
    """Fold a delta into ``table`` and publish the result as snapshot run
    ``run_id``, exactly once -> the version that run published. The one
    commit path of the incrementally maintained graph tables:
    ``streaming/kg_stream.fold_batch``, ``jobs/maintain_kg.maintain`` and
    the ``jobs/query_kg`` rule materializers all fold through it.

    A run_id already published returns its version and does no work.
    Otherwise the current table is read (the published snapshot, or the
    plain layout a build wrote), ``delta(existing)`` builds the delta —
    from the same read it is merged into — and ``merge(existing, delta,
    run_id=run_id)`` folds it in, with the lineage columns ``run_id``,
    ``src_partition`` and ``bucket`` dropped from both sides first (the
    merge stamps its own). A table that does not exist yet gets the
    delta alone (``delta(None)``), with lineage. The result is published
    with ``write_snapshot``, partitioned by ``bucket`` when the merged
    frame carries that column; ``write_snapshot`` re-checks the run_id
    inside its publish lock, so a racing retry cannot apply a delta
    twice."""
    already = catalog.version_of_run(table, run_id)
    if already is not None:
        return already
    lineage = ("run_id", "src_partition", "bucket")
    if catalog.exists(table):
        existing = catalog.read(spark, table).drop(*lineage)
        merged = merge(existing, delta(existing).drop(*lineage), run_id=run_id)
    else:
        merged = (
            delta(None)
            .drop(*lineage)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("src_partition", F.spark_partition_id())
        )
    parts = ["bucket"] if "bucket" in merged.columns else None
    return catalog.write_snapshot(merged, table, partition_by=parts, run_id=run_id)


def fixpoint(state: DataFrame, step, probe, max_rounds: int, value=None):
    """Run ``state = step(state)`` until ``probe`` reports convergence or
    ``max_rounds`` rounds have run -> ``(state, converged)``; the loop of
    connected_components, kcore and ``sparql.path_closure``.

    Each round's new state is eagerly ``localCheckpoint``-ed before the
    probe runs, so the plan never grows with the round count and AQE
    plans the next round from the sizes the checkpoint observed.
    ``probe(new, old, value)`` returns ``(value, done)``: ``value`` goes
    to the next round's probe (the argument seeds the first), so a count
    probe never counts a state twice; ``done`` ends the loop."""
    for _ in range(max_rounds):
        new = step(state).localCheckpoint(eager=True)
        value, done = probe(new, state, value)
        state = new
        if done:
            return state, True
    return state, False


def count_probe(new: DataFrame, old: DataFrame, n_old) -> tuple:
    """``fixpoint`` probe for a state that only grows or only shrinks: an
    unchanged row count means an unchanged row set."""
    n_new = new.count()
    return n_new, n_new == n_old


# round cap for connected_components: pointer jumping makes the round
# count O(log diameter), so the loop reaches its fixpoint long before
# this. The cap only stops a runaway, and raises rather than returning
# labels that have not converged.
CC_MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components over an undirected edge list -> (v, comp) with
    ``comp`` = the smallest vertex id in v's component (a deterministic,
    partition-invariant fixpoint).

    Algorithm: min-label propagation fused with pointer jumping — each
    round every vertex takes the min label over {self} ∪ neighbors, then
    shortcuts through its label's label (``comp <- comp(comp)``). The
    jumping step collapses already-discovered chains geometrically, so
    rounds are O(log diameter) rather than O(diameter); each round is two
    key-partitioned shuffles (a neighbor groupBy-min and a label
    self-join), the iterative pattern pre-GraphFrames Spark deployments
    use for web-graph CC.

    100 TB notes: state is one (v, comp, moved) row per vertex and
    messages are one row per edge — nothing is ever collected to the
    driver (the convergence probe is a ``limit(1).count()`` over the rows
    the step flagged ``moved``, an early-exit scan of the checkpointed
    state). A mega-component's hub key skews the groupBy; AQE's skew
    handling splits it. ``localCheckpoint`` truncates each round's
    lineage — without it the unioned plan doubles per iteration and the
    optimizer, not the data, becomes the bottleneck. Labels still
    changing after ``CC_MAX_ROUNDS`` rounds raise ``RuntimeError``.
    """
    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    sym = edges.select(
        F.col(src).cast(idt).alias("u"), F.col(dst).cast(idt).alias("v")
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    # materialize the static edge set once: every round runs TWO actions
    # (the eager checkpoint + the convergence probe) and each would
    # otherwise re-derive sym's upstream — e.g. the MinHash-LSH banding
    # self-join — from scratch, ~2x per round
    sym = (
        sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select("u").distinct().withColumn("comp", F.col("u"))

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            sym.join(labels, on="u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = labels.join(nbr, on="u", how="left").select(
            "u",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
            F.col("comp").alias("old"),
        )
        hop = prop.select(F.col("u").alias("c_u"), F.col("comp").alias("c_comp"))
        comp = F.least(F.col("comp"), F.coalesce("c_comp", F.col("comp")))
        # each vertex still holds its old label here, so the step flags
        # the moved ones itself and the probe needs no join against the
        # old state
        return prop.join(hop, prop["comp"] == hop["c_u"], "left").select(
            "u", comp.alias("comp"), (comp != F.col("old")).alias("moved")
        )

    def settled(new: DataFrame, old: DataFrame, _) -> tuple:
        return None, new.where("moved").limit(1).count() == 0

    labels, converged = fixpoint(labels, step, settled, CC_MAX_ROUNDS)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {CC_MAX_ROUNDS} rounds"
        )
    return labels.select(F.col("u").alias("v"), "comp")


def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
) -> DataFrame:
    """Fixed-k BFS from a seed vertex set -> ``(v, hops)`` with ``hops`` =
    the minimum hop count (0 for seeds, up to ``k``); vertices further
    than ``k`` hops are absent. The standard KG neighborhood query
    ("everything within k hops of these entities") for subgraph export,
    blast-radius analysis, and negative-sampling horizons.

    Each round is ONE key-partitioned join (frontier -> out-neighbors) +
    distinct + an anti-join against the visited set — the frontier only
    ever carries NEW vertices, so a vertex is expanded exactly once no
    matter how many paths reach it (the property that keeps BFS linear in
    edges, not paths). State is one row per reached vertex; nothing is
    collected to the driver. ``localCheckpoint`` truncates each round's
    lineage; fixed ``k`` keeps the result a deterministic function of the
    graph and SQL-reproducible by unrolling (like ``pagerank``/``kcore``).
    Hub vertices skew the expansion join's key distribution — AQE's skew
    split handles them, and the per-round ``distinct`` collapses the
    fan-in before it crosses the next shuffle.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    seed_col = seeds.columns[0]
    idt = _id_cast_type(
        edges.schema[src].dataType, edges.schema[dst].dataType, seeds.schema[seed_col].dataType
    )
    e = (
        edges.select(F.col(src).cast(idt).alias("s"), F.col(dst).cast(idt).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(seed_col).cast(idt).alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("v")
    for i in range(1, k + 1):
        nxt = (
            e.join(frontier, e["s"] == frontier["v"])
            .select(F.col("d").alias("v"))
            .distinct()
            .join(dist.select("v"), "v", "left_anti")
            .withColumn("hops", F.lit(i))
            .localCheckpoint(eager=True)
        )
        dist = dist.unionByName(nxt)
        frontier = nxt.select("v")
    return dist


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Near-duplicate cluster assignment: connected components over a
    dup-pair graph (e.g. MinHash-LSH pairs), then every document joins its
    cluster — ``cluster_id`` = smallest doc id in the cluster, docs with
    no duplicate are their own cluster, ``is_canonical`` marks the one
    row per cluster a keep-one-per-cluster dedup retains. The standard
    training-data pipeline shape: transitive near-dups (A~B, B~C) land in
    ONE cluster even when A and C never pair directly."""
    idt = _id_cast_type(
        docs.schema[id_col].dataType,
        pairs.schema[pair_a].dataType,
        pairs.schema[pair_b].dataType,
    )
    cc = connected_components(
        pairs.select(F.col(pair_a).cast(idt).alias(pair_a), F.col(pair_b).cast(idt).alias(pair_b)),
        src=pair_a,
        dst=pair_b,
    )
    ids = docs.select(F.col(id_col).cast(idt).alias(id_col))
    out = ids.join(cc, ids[id_col] == cc["v"], "left").select(
        id_col,
        F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
    )
    return out.withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set: NULL endpoints and self-loops
    dropped, each edge once as (a, b) with a < b."""
    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    e = edges.select(F.col(src).cast(idt).alias("u"), F.col(dst).cast(idt).alias("v"))
    return (
        e.where(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact global triangle count over an undirected graph -> one row
    ``(n_vertices, n_edges, n_triangles)``.

    Degree orientation (the standard distributed "compact-forward"
    scheme): every undirected edge {u, v} is directed from its lower
    (degree, id) endpoint to the higher one, so each triangle contributes
    exactly one wedge at its minimum-(degree, id) vertex, closed by
    exactly one oriented edge — no double counting and no per-triangle
    dedup pass.

    100 TB notes: orientation is the whole point at crawl scale — after
    it, every vertex's OUT-degree is O(sqrt(m)) regardless of hub degree,
    so the wedge self-join's per-key fan-out is bounded and a power-law
    hub with 10^7 neighbours cannot emit 10^14 wedge candidates (the
    failure mode of naive wedge enumeration). All three steps are
    key-partitioned joins + aggregations (no windows, no collect); the
    wedge join and the closing join share the ``lo``/``(lo, hi)`` key
    space so AQE coalesces/splits them by observed sizes.
    """
    # the canonical edge set feeds FIVE consumers (degree counting twice,
    # the orientation join, both scalar counts) and the oriented table
    # feeds three self-join legs — materialize each once instead of
    # letting Spark re-derive the upstream self-join per consumer
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = _degrees(und)
    oriented = _oriented(und, deg).localCheckpoint(eager=True)
    tri = _triangles(oriented).agg(F.count("*").alias("n_triangles"))
    nv = deg.agg(F.count("*").alias("n_vertices"))
    ne = und.agg(F.count("*").alias("n_edges"))
    return nv.crossJoin(ne).crossJoin(tri)


def _degrees(und: DataFrame) -> DataFrame:
    """``(x, deg)``: every vertex of the canonical edge set ``und``
    ``(a, b)`` with its degree."""
    return (
        und.select(F.col("a").alias("x"))
        .union(und.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )


def _oriented(und: DataFrame, deg: DataFrame) -> DataFrame:
    """``(lo, hi, dhi)``: each edge of ``und`` directed from its lower
    (degree, id) endpoint ``lo`` to the higher one ``hi``, whose degree is
    ``dhi``. ``deg`` is a ``_degrees`` table covering both endpoints."""
    da, db = deg.alias("da"), deg.alias("db")
    a_first = (F.col("da.deg") < F.col("db.deg")) | (
        (F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))
    )
    return (
        und.join(da, und["a"] == F.col("da.x"))
        .join(db, und["b"] == F.col("db.x"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_first, F.col("db.deg")).otherwise(F.col("da.deg")).alias("dhi"),
        )
    )


def _triangles(oriented: DataFrame) -> DataFrame:
    """``(v1, v2, v3)``: every triangle of an ``_oriented`` edge table
    exactly once, as the wedge ``v1 -> v2, v1 -> v3`` at its minimum-
    (degree, id) vertex ``v1`` (ordered ``v2`` before ``v3`` by (degree,
    id)) closed by the oriented edge ``v2 -> v3``."""
    # shuffle_hash on the closing join's edge-table side: the wedge stream
    # is huge (sum-of-C(outdeg,2) rows) but the build side is just the
    # oriented edge table, so hashing it beats sorting the wedge stream —
    # measured 1.6-2.8x on the sf0.1 co-occurrence graph. Orientation
    # bounds per-key build size, so the hash side stays partition-safe at
    # scale (and AQE may still re-pick on observed sizes). The wedge join's
    # legs are both the edge table; hashing o1 there measured slower at
    # sf0.1 on 4 cores (triangle enumeration 8.2 -> 9.5 s, the k-truss
    # support pass 11.2 -> 13.2 s, medians of 8 alternating runs).
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    o3 = oriented.hint("shuffle_hash").alias("o3")
    hi_lt = (F.col("o1.dhi") < F.col("o2.dhi")) | (
        (F.col("o1.dhi") == F.col("o2.dhi")) & (F.col("o1.hi") < F.col("o2.hi"))
    )
    return (
        o1.join(o2, (F.col("o1.lo") == F.col("o2.lo")) & hi_lt)
        .join(o3, (F.col("o3.lo") == F.col("o1.hi")) & (F.col("o3.hi") == F.col("o2.hi")))
        .select(F.col("o1.lo").alias("v1"), F.col("o1.hi").alias("v2"), F.col("o2.hi").alias("v3"))
    )


def link_pred_heuristics(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_cn: int = 2,
    max_mid_deg: int | None = None,
) -> DataFrame:
    """Topology-only link prediction (Liben-Nowell & Kleinberg 2003) over
    an undirected graph: for every NON-adjacent pair {a, b} sharing at
    least ``min_cn`` common neighbours, emit ``(a, b, cn, aa, jaccard)``
    — common-neighbour count, Adamic-Adar ``sum(1 / ln(deg(z)))`` over
    the shared neighbours z, and Jaccard ``cn / (deg(a) + deg(b) - cn)``.
    The classic structure-only KB-completion baseline complementing the
    embedding-based ``operators/kgq.py::link_prediction_eval`` (no
    training, no vocabulary, pure graph shape).

    ``max_mid_deg`` is the disclosed hub cutoff (same role as rule
    mining's ``max_mid_fanout`` and the n-gram dedup hot-shingle bound):
    a vertex with degree > D never serves as the wedge MID, so the pair
    join emits at most C(D, 2) rows per mid and a power-law hub cannot
    blow the wedge stream up quadratically. Degrees themselves (the AA
    weight and the Jaccard denominator) are always FULL-graph degrees;
    with the cutoff active, cn/aa undercount hub-mediated common
    neighbours, so the reported jaccard is a lower bound of the true
    value — the oracle SQL encodes the identical cutoff, making the
    bound verified semantics, not a hidden sample. A wedge mid always
    has deg >= 2, so ``ln(deg)`` never hits ln(1) = 0.

    Scale shape: one degree aggregation, one wedge self-join keyed on
    the MID vertex (per-key fan-out cutoff-bounded), one
    map-side-combinable pair aggregation with the ``min_cn`` HAVING
    applied before anything downstream, one left-anti join against the
    edge set (drop already-adjacent pairs) and two endpoint-keyed joins
    against the |V|-row degree table (AQE broadcasts it when it fits).
    No windows, no collect, no cartesian node.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    nbr = und.select(F.col("a").alias("z"), F.col("b").alias("x")).union(
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = nbr.groupBy("z").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    mid = nbr.join(deg, "z")
    if max_mid_deg is not None:
        mid = mid.where(F.col("deg") <= int(max_mid_deg))
    n1, n2 = mid.alias("n1"), mid.alias("n2")
    pairs = (
        n1.join(n2, (F.col("n1.z") == F.col("n2.z")) & (F.col("n1.x") < F.col("n2.x")))
        .select(
            F.col("n1.x").alias("a"),
            F.col("n2.x").alias("b"),
            F.col("n1.deg").alias("dz"),
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.lit(1.0) / F.log(F.col("dz").cast("double"))).alias("aa_raw"),
        )
        .where(F.col("cn") >= int(min_cn))
    )
    non_adj = pairs.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("z").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("z").alias("b"), F.col("deg").alias("deg_b"))
    return (
        non_adj.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            F.round("aa_raw", 6).alias("aa"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    n_rounds: int = 8,
) -> DataFrame:
    """Fixed-iteration k-core peel over an undirected graph ->
    ``(entity_id, core_deg)`` for every vertex surviving ``n_rounds`` of
    "drop vertices with degree < k, recompute degrees" — the standard
    dense-subgraph / spam-farm filter. Fixed rounds (not
    run-to-convergence) keep the result a deterministic function of the
    graph and SQL-reproducible by unrolling, exactly like ``pagerank``;
    pick ``n_rounds`` past the measured convergence horizon for the
    target K (the queries.py registration converges in 5 rounds at its K
    and runs 8).

    Scale: each round is one degree groupBy plus two semi-join-shaped
    equi-joins on the endpoint keys — all key-partitioned, nothing
    driver-side; ``localCheckpoint`` truncates the per-round lineage so
    the optimizer doesn't choke on an 8-deep join tree. Peeling only
    shrinks the edge set, so later rounds get cheaper, and AQE re-plans
    each round on the observed (smaller) sizes.
    """
    # materialize the initial edge set: round 1 otherwise re-derives the
    # upstream (e.g. a co-occurrence self-join) for each of its three
    # consumers (both degree scans + the filter join)
    live = _undirected(edges, src, dst).localCheckpoint(eager=True)

    def peel(live: DataFrame) -> DataFrame:
        keep = _degrees(live).where(F.col("deg") >= k).select("x")
        ka, kb = keep.alias("ka"), keep.alias("kb")
        return (
            live.join(ka, live["a"] == F.col("ka.x"))
            .join(kb, live["b"] == F.col("kb.x"))
            .select("a", "b")
        )

    # peeling is removal-only, so an unchanged edge COUNT means an
    # unchanged edge SET: every remaining fixed round is a no-op and the
    # early exit returns exactly what all n_rounds would
    live, _ = fixpoint(live, peel, count_probe, n_rounds, live.count())
    return _degrees(live).select(
        F.col("x").alias("entity_id"), F.col("deg").alias("core_deg")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list -> (v, r).

    Power iteration in its standard distributed shape: each round joins
    ranks to edges on the source key, splits rank over out-degree,
    groupBy-sums contributions on the destination key, and redistributes
    dangling mass uniformly — two key-partitioned shuffles per round, the
    same join/agg pattern every Spark PageRank since the original RDD
    example uses, expressed on DataFrames so AQE handles hub skew.

    Driver traffic is the one-time vertex count ONLY: the dangling-mass
    sum stays executor-side as a broadcast 1-row aggregate cross-joined
    into the rank rebuild, so each round is ONE Spark job (the eager
    lineage-truncating checkpoint) instead of a collect + a checkpoint.
    Local wall time is unchanged (measured 11–17 s either way for 10
    rounds on the sf0.1 KG — the anti-join subtree costs the same
    wherever it runs); what this buys is structural: no per-round driver
    synchronization barrier, which on a busy 1000-executor cluster
    removes 10 scheduler round-trips from the critical path. The
    arithmetic is unchanged (same IEEE double expression tree,
    dangling/n now a JVM division instead of a Python one), so the
    unrolled-SQL oracles still match. Fixed ``n_iter`` keeps the result
    a deterministic function of the graph (and SQL-reproducible by
    unrolling), which a convergence-threshold variant would not be.
    """
    _, e, verts = _directed_edges(edges, src, dst)
    verts = verts.localCheckpoint(eager=True)
    n = verts.count()
    rebuild = F.lit((1.0 - damping) / n) + F.lit(damping) * (
        F.coalesce("csum", F.lit(0.0)) + F.col("dang") / F.lit(float(n))
    )
    return _power_iteration(e, verts, verts.withColumn("r", F.lit(1.0 / n)), rebuild, n_iter)


def _directed_edges(edges: DataFrame, src: str, dst: str) -> tuple:
    """The PageRank prelude -> ``(idt, e, verts)``: the id cast type, the
    distinct (s, d) edge set (checkpointed) and its vertex set (v)."""
    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    e = (
        edges.select(F.col(src).cast(idt).alias("s"), F.col(dst).cast(idt).alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = e.select(F.col("s").alias("v")).union(e.select(F.col("d").alias("v"))).distinct()
    return idt, e, verts


def _power_iteration(e: DataFrame, verts: DataFrame, ranks: DataFrame, rebuild, n_iter: int):
    """``n_iter`` PageRank rounds from ``ranks`` (v, r) -> (v, r). Each
    round's new rank is the ``rebuild`` Column over ``verts``' columns,
    ``csum`` (the summed in-contributions) and ``dang`` (the dangling
    mass); the caller's expression is used unchanged, so each variant
    keeps the IEEE expression tree its unrolled-SQL oracle pins."""
    # out_deg / links are static across rounds but feed THREE actions per
    # round (dangling probe, contrib join, rank rebuild) — materialize each
    # once instead of re-deriving the upstream edge build (e.g.
    # o21_reverse_union's join tree) 30x over 10 rounds
    out_deg = e.groupBy("s").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    links = e.join(out_deg, "s").localCheckpoint(eager=True)
    for _ in range(n_iter):
        dang = (
            ranks.join(out_deg, ranks["v"] == out_deg["s"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
        )
        contrib = links.join(ranks, links["s"] == ranks["v"]).select(
            F.col("d").alias("v"), (F.col("r") / F.col("deg")).alias("c")
        )
        summed = contrib.groupBy("v").agg(F.sum("c").alias("csum"))
        ranks = (
            verts.join(summed, "v", "left")
            .crossJoin(F.broadcast(dang))
            .select("v", rebuild.alias("r"))
            .localCheckpoint(eager=True)
        )
    return ranks


def directed_overlap_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    mode: str = "coupling",
    min_shared: int = 1,
    max_key_fanout: int | None = None,
) -> DataFrame:
    """Directed neighbourhood-overlap similarity -> ``(a, b, n_shared,
    jaccard)`` per unordered vertex pair:

    * ``mode="coupling"`` — bibliographic coupling (Kessler 1963): pairs
      of SOURCE vertices sharing an out-neighbour, ``n_shared`` = size of
      the out-neighbourhood intersection. "Pages that cite the same
      things are alike."
    * ``mode="cocitation"`` — co-citation (Small 1973): pairs of TARGET
      vertices cited by the same source, intersection of
      in-neighbourhoods. "Pages cited together are alike."

    The directed complement of the undirected ``link_pred_heuristics``:
    same wedge-join machinery, but the wedge key is the shared
    neighbour on ONE side of the edge direction, and adjacency between
    a and b is irrelevant (similarity, not link prediction).
    ``jaccard`` divides exact BIGINTs (intersection over union of the
    relevant neighbourhoods), rounded once.

    ``max_key_fanout`` caps the wedge key's fan-out (in-degree for
    coupling, out-degree for co-citation) — the same disclosed hub
    cutoff as ``link_pred_heuristics``: a page cited by everyone (or a
    hub citing everything) otherwise emits C(fanout, 2) wedge rows.
    Degrees in the Jaccard denominator stay FULL-graph, so the score is
    a lower bound under the cutoff. Shape: one distinct edge pass, one
    degree aggregation, one wedge self-join keyed on the shared vertex,
    one map-side-combinable pair aggregation, two degree joins
    (AQE-broadcast-sized |V| rows).
    """
    if mode not in ("coupling", "cocitation"):
        raise ValueError("mode must be 'coupling' or 'cocitation'")
    key, item = ("d", "s") if mode == "coupling" else ("s", "d")
    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    e = (
        edges.select(F.col(src).cast(idt).alias("s"), F.col(dst).cast(idt).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    # deg(item) = |neighbourhood being intersected|; fan(key) = wedge fan-out
    item_deg = e.groupBy(F.col(item).alias("x")).agg(F.count("*").alias("deg"))
    wedge = e.select(F.col(key).alias("z"), F.col(item).alias("x"))
    if max_key_fanout is not None:
        fan = (
            wedge.groupBy("z")
            .agg(F.count("*").alias("f"))
            .where(F.col("f") <= int(max_key_fanout))
            .select("z")
        )
        wedge = wedge.join(fan, "z", "left_semi")
    w1, w2 = wedge.alias("w1"), wedge.alias("w2")
    pairs = (
        w1.join(w2, (F.col("w1.z") == F.col("w2.z")) & (F.col("w1.x") < F.col("w2.x")))
        .select(F.col("w1.x").alias("a"), F.col("w2.x").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )
    da = item_deg.select(F.col("x").alias("a"), F.col("deg").alias("deg_a"))
    db = item_deg.select(F.col("x").alias("b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman (2002) degree-assortativity coefficient of an undirected
    graph -> one row ``(n_endpoints, assortativity)``: the Pearson
    correlation of the degrees at either end of an edge, computed over
    the symmetrized endpoint list (each undirected edge contributes both
    orientations, so the x and y marginals coincide). r > 0 = hubs link
    to hubs (social-network-like), r < 0 = hubs link to leaves (the
    typical web/crawl signature) — the one-scalar structural audit that
    tells you whether hub-cutoff knobs (wedge joins, rule mining) will
    bite.

    Determinism: the four moments (n, Σx, Σx², Σxy) are exact BIGINT
    aggregates — no float summation order anywhere — and the single
    float expression over them is the same IEEE tree in Spark and the
    oracle, rounded once. BIGINT moments hold to ~10^18: at 10^12 edges
    with 10^6-degree hubs Σxy overflows and the sums need decimal(38,0)
    — a one-line cast, noted rather than paid here. Shape: one degree
    aggregation plus two endpoint-keyed joins and a global 1-row
    aggregate (partial-combined, no shuffle of anything but the moment
    quadruple)."""
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("x")).agg(F.count("*").alias("deg"))
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dy"))
    m = (
        sym.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count("*").alias("n"),
            F.sum("dx").alias("s1"),
            F.sum(F.col("dx") * F.col("dx")).alias("s2"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        )
    )
    nd, s1d = F.col("n").cast("double"), F.col("s1").cast("double")
    return m.select(
        F.col("n").alias("n_endpoints"),
        F.round(
            (nd * F.col("sxy") - s1d * F.col("s1"))
            / (nd * F.col("s2") - s1d * F.col("s1")),
            6,
        ).alias("assortativity"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank -> (v, r): teleport and
    dangling mass go to the SEED set (uniformly over seeds) instead of
    uniformly over all vertices — the standard seed-relative relatedness
    score (Jeh & Widom 2003's personalization vector), the "entities
    most related to THIS set" query a global PageRank cannot express.
    ``seeds`` is a one-column DataFrame of vertex ids; seeds absent from
    the graph are ignored (they could never receive or emit mass).

    Deliberately a SEPARATE function from ``pagerank`` rather than a
    parameter: the uniform variant's rank rebuild uses the
    driver-precomputed constant ``(1-d)/n``, and rewriting it as
    ``(1-d)*e`` with ``e = 1/n`` changes the IEEE rounding sequence —
    the unrolled-SQL oracles pin the existing expression tree
    bit-for-bit, so the generalization must not touch it.

    The same loop as ``pagerank`` (``_power_iteration``: two
    key-partitioned shuffles per round, broadcast 1-row dangling
    aggregate, per-round lineage truncation), each passing its own rank
    rebuild; the only new piece is the per-vertex teleport column
    ``e`` (1/|S| on seeds, 0 elsewhere), joined once and carried through
    the rebuild. Mass is conserved: (1-d)*sum(e) + d*(contrib + dang) = 1.
    """
    idt, e, verts = _directed_edges(edges, src, dst)
    seed_ids = seeds.select(F.col(seeds.columns[0]).cast(idt).alias("v")).distinct()
    in_graph = verts.join(seed_ids, "v", "left_semi")
    ns = in_graph.count()
    if ns == 0:
        raise ValueError("personalized_pagerank: no seed is present in the graph")
    # teleport column e rides on the vertex table for the whole loop
    verts = (
        verts.join(in_graph.withColumn("_is_seed", F.lit(True)), "v", "left")
        .select(
            "v",
            F.when(F.col("_is_seed"), F.lit(1.0 / ns)).otherwise(F.lit(0.0)).alias("e"),
        )
        .localCheckpoint(eager=True)
    )
    rebuild = F.lit(1.0 - damping) * F.col("e") + F.lit(damping) * (
        F.coalesce("csum", F.lit(0.0)) + F.col("dang") * F.col("e")
    )
    return _power_iteration(e, verts, verts.select("v", F.col("e").alias("r")), rebuild, n_iter)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    directed edge list -> ``(v, h, a)``, L1-normalized after each
    half-step (sum of each score vector = 1).

    Same distributed shape as :func:`pagerank`: per half-step one
    key-partitioned join of scores to edges + one groupBy-sum on the
    other endpoint; the L1 normalizer is a broadcast 1-row aggregate
    cross-joined into the rebuild (executor-side — no per-half-step
    driver synchronization, same restructure as pagerank's dangling
    mass); ``localCheckpoint`` truncates per-round lineage. Fixed ``n_iter``
    keeps the result a deterministic function of the graph and
    SQL-reproducible by unrolling. L1 (not the textbook L2) so the
    oracle needs no sqrt — the fixed point's RANKING is identical, only
    the scale differs, and the N-scaled report normalizes scale anyway."""
    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    e = (
        edges.select(F.col(src).cast(idt).alias("s"), F.col(dst).cast(idt).alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("s").alias("v"))
        .union(e.select(F.col("d").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    hub = verts.withColumn("h", F.lit(1.0 / n))
    auth = verts.withColumn("a", F.lit(1.0 / n))
    for _ in range(n_iter):
        a_raw = (
            e.join(hub.withColumnRenamed("v", "s"), "s")
            .groupBy("d")
            .agg(F.sum("h").alias("raw"))
        )
        auth = (
            verts.join(a_raw.withColumnRenamed("d", "v"), "v", "left")
            .crossJoin(F.broadcast(_l1_total(a_raw)))
            .select(
                "v", (F.coalesce("raw", F.lit(0.0)) / F.col("tot")).alias("a")
            )
            .localCheckpoint(eager=True)
        )
        h_raw = (
            e.join(auth.withColumnRenamed("v", "d"), "d")
            .groupBy("s")
            .agg(F.sum("a").alias("raw"))
        )
        hub = (
            verts.join(h_raw.withColumnRenamed("s", "v"), "v", "left")
            .crossJoin(F.broadcast(_l1_total(h_raw)))
            .select(
                "v", (F.coalesce("raw", F.lit(0.0)) / F.col("tot")).alias("h")
            )
            .localCheckpoint(eager=True)
        )
    return hub.join(auth, "v").select("v", "h", "a")


def _l1_total(raw: DataFrame) -> DataFrame:
    """Broadcast 1-row L1 normalizer for :func:`hits` — the half-step
    total stays executor-side (cross-joined into the rebuild) instead of
    a per-half-step driver collect, same restructure as
    :func:`pagerank`'s dangling mass; ``0/NULL -> 1.0`` preserves the
    old ``or 1.0`` empty-graph guard exactly."""
    return raw.agg(F.sum("raw").alias("tot")).select(
        F.when(F.col("tot").isNull() | (F.col("tot") == 0.0), F.lit(1.0))
        .otherwise(F.col("tot"))
        .alias("tot")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over an undirected edge list -> ``(v, community)``.

    Determinism (the whole point of this variant): updates are
    SYNCHRONOUS (every vertex reads the step-t labels) and the update is
    a total-order argmax — take the neighbor label with the highest
    multiplicity, ties broken by MIN label — so the result after a FIXED
    ``n_iter`` is a pure function of the edge set, independent of
    partitioning and scheduling, and an SQL oracle can reproduce it by
    unrolling the iterations. (Classic async LPA is run-order dependent —
    useless under a correctness gate.) Self-loops are dropped: a vertex
    votes for its own label only through step-t neighbors.

    Scale shape: per iteration ONE key-partitioned join (labels onto the
    symmetrized edge list), one (v, lab) groupBy with map-side partial
    counts, and one per-vertex WindowGroupLimit argmax (top-1 below the
    exchange). State is one (v, lab) row per vertex; messages are one row
    per directed edge — nothing collects to the driver.
    ``localCheckpoint`` truncates per-round lineage exactly like
    :func:`pagerank` / :func:`hits`.
    """
    from pyspark.sql import Window

    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    e = edges.select(
        F.col(src).cast(idt).alias("u"), F.col(dst).cast(idt).alias("w")
    ).where(F.col("u") != F.col("w"))
    sym = (
        e.union(e.select(F.col("w").alias("u"), F.col("u").alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("u").alias("v")).distinct().withColumn(
        "lab", F.col("v")
    )
    argmax = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lab"))
    for _ in range(n_iter):
        msgs = sym.join(labels.withColumnRenamed("v", "u"), "u").select(
            F.col("w").alias("v"), "lab"
        )
        counts = msgs.groupBy("v", "lab").agg(F.count("*").alias("cnt"))
        labels = (
            counts.withColumn("rn", F.row_number().over(argmax))
            .where(F.col("rn") == 1)
            .select("v", "lab")
            .localCheckpoint(eager=True)
        )
    return labels.select("v", F.col("lab").alias("community"))


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_len: int = 4,
    n_walks: int = 1,
) -> DataFrame:
    """DeepWalk-style walk corpus for graph-embedding training ->
    ``(start, step, v)`` rows: one walk of ``walk_len`` steps from EVERY
    vertex of the symmetrized graph (step 0 = the start itself).

    The neighbor choice is pseudo-random but a PURE FUNCTION of
    (start, step, current): pick index ``H(md5(start|step|cur)) %
    degree`` into the canonically ranked adjacency list, with ``H`` a
    3-char ascii polynomial over the hex digest. Engine- and
    partitioning-independent — the walk corpus is reproducible across
    reruns/resumes and SQL-oracle-checkable, unlike rand()-seeded walks
    whose draw order depends on task scheduling.

    Scale shape: per step TWO vertex-keyed equi-joins (degree lookup,
    then the (vertex, rank) adjacency probe) — frontier size stays ONE
    row per walker, never walker x degree; a hub's adjacency rank is
    computed once in the ranked-adjacency window. ``localCheckpoint``
    truncates per-step lineage so step t's plan does not replay steps
    1..t-1.

    ``n_walks > 1`` starts that many walks per vertex and adds a ``wk``
    column; walk 0 keeps the legacy hash key ``start|t|v`` (so existing
    single-walk corpora and their oracles are byte-stable) and walk
    k > 0 salts it to ``start#k|t|v``. Multi-walk coverage is the knob
    the link-prediction audit (EXPLAIN.md §14) identifies: one walk per
    vertex leaves most of a hub's edges without positive pairs."""
    from pyspark.sql import Window

    idt = _id_cast_type(edges.schema[src].dataType, edges.schema[dst].dataType)
    e = edges.select(
        F.col(src).cast(idt).alias("u"), F.col(dst).cast(idt).alias("w")
    ).where(F.col("u") != F.col("w"))
    sym = (
        e.union(e.select(F.col("w").alias("u"), F.col("u").alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # adj/deg are probed by EVERY step's joins — materialize once, or the
    # ranked-adjacency window re-derives per step and per downstream
    # consumer (kg_walk_pairs re-deriving the corpus measured 10.9 s →
    # 8.0 s at sf0.1 from this checkpoint alone)
    adj = sym.withColumn(
        "rn", F.row_number().over(Window.partitionBy("u").orderBy("w"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count("*").alias("degree")).localCheckpoint(
        eager=True
    )

    multi = n_walks > 1
    keep = ["start", "wk"] if multi else ["start"]
    if multi:
        cur = deg.select(
            F.col("u").alias("start"),
            F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("wk"),
            F.col("u").alias("v"),
        )
    else:
        cur = deg.select(F.col("u").alias("start"), F.col("u").alias("v"))
    out = cur.select(*keep, F.lit(0).alias("step"), "v")
    walk_key = (
        F.when(F.col("wk") == 0, F.col("start").cast("string")).otherwise(
            F.concat_ws("#", F.col("start").cast("string"), F.col("wk"))
        )
        if multi
        else F.col("start").cast("string")
    )
    for t in range(1, walk_len + 1):
        m = F.md5(
            F.concat_ws(
                "|",
                walk_key,
                F.lit(str(t)),
                F.col("v").cast("string"),
            )
        )
        h = (
            F.ascii(F.substring(m, 1, 1)) * 16384
            + F.ascii(F.substring(m, 2, 1)) * 128
            + F.ascii(F.substring(m, 3, 1))
        )
        picked = (
            cur.join(deg, cur["v"] == deg["u"])
            .select(*keep, "v", ((h % F.col("degree")) + 1).alias("pick"))
        )
        stepped = (
            picked.join(
                adj,
                (adj["u"] == picked["v"]) & (adj["rn"] == picked["pick"]),
            )
            .select(*keep, F.col("w").alias("v"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            stepped.select(*keep, F.lit(t).alias("step"), "v")
        )
        cur = stepped
    return out


def adjacency_export(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rel: str = "rel",
    k: int = 8,
) -> DataFrame:
    """Serving-layer adjacency export -> ``(src, degree, adj_head)``:
    per source vertex, the total distinct-edge out-degree and the first
    ``k`` ``rel->dst`` neighbor strings in canonical (lexicographic
    packed) order, joined with ``|``.

    Hub safety: the neighbor collect is a null-skipping CONDITIONAL
    collect_list (rn <= k), bounding the aggregation buffer at ``k``
    elements regardless of degree — a hub costs its in-task window sort
    (CPU, spillable), never memory. ONE exchange total: the explicit src
    repartition satisfies the (src, dst, rel) distinct, the row_number
    window and the final groupBy (subset rule; pinned by
    tests/test_plan_shape.py via the kg_adjacency query)."""
    from pyspark.sql import Window

    e = (
        edges.select(src, dst, rel)
        .repartition(src)
        .distinct()
    )
    packed = e.select(
        src, F.concat_ws("->", rel, F.col(dst).cast("string")).alias("x")
    )
    w = Window.partitionBy(src).orderBy("x")
    ranked = packed.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(src).agg(
        F.count("*").alias("degree"),
        F.array_join(
            F.array_sort(F.collect_list(F.when(F.col("rn") <= k, F.col("x")))),
            "|",
        ).alias("adj_head"),
    )


def retract_docs(
    triples: DataFrame,
    edges: DataFrame,
    deleted_docs: DataFrame,
) -> DataFrame:
    """Right-to-be-forgotten for the KG: remove every contribution of the
    given docids from the aggregated edge table WITHOUT rebuilding it.

    The merge folds (merge_edges) can only ADD — counts and score sums
    are not subtractable (max_score/sample_docid lose information), so
    deletion recomputes exactly the AFFECTED edge keys from the surviving
    triples and stitches them back:

      1. affected = edge keys touched by any deleted docid (semi join of
         triples against the tombstone set — |deleted| keyed, tiny);
      2. recomputed = full aggregate over SURVIVING triples of ONLY those
         keys (semi join + groupBy — proportional to the affected slice,
         not the corpus);
      3. result = (edges anti-join affected) ∪ recomputed — untouched
         keys never re-aggregate, edges whose evidence vanishes entirely
         drop out.

    At 10^12 docs a deletion batch touches a vanishing fraction of edge
    keys, so this costs two key-partitioned joins over the triples slice
    instead of a corpus re-scan; the checkpointed triples table
    (plans/catalog.py) is exactly what makes it possible. Returns the
    post-retraction edge table (same schema as the batch build:
    subj_id, obj_id, pred_canon, n_evidence, n_docs, max_score,
    sum_score, sample_docid)."""
    key = ["subj_id", "obj_id", "pred_canon"]
    tomb = deleted_docs.select(F.col(deleted_docs.columns[0]).alias("docid"))
    affected = (
        triples.join(tomb, "docid", "left_semi").select(*key).distinct()
    )
    surviving = triples.join(tomb, "docid", "left_anti")
    recomputed = (
        surviving.join(affected, key, "left_semi")
        .groupBy(*key)
        .agg(
            F.count("*").alias("n_evidence"),
            F.countDistinct("docid").alias("n_docs"),
            F.round(F.max("score"), 9).alias("max_score"),
            F.round(F.sum("score"), 9).alias("sum_score"),
            F.min("docid").alias("sample_docid"),
        )
    )
    untouched = edges.join(affected, key, "left_anti")
    return untouched.unionByName(recomputed)


def diff_edge_snapshots(old: DataFrame, new: DataFrame) -> DataFrame:
    """Audit diff between two edge-table snapshots -> one row per edge
    key whose evidence CHANGED: status added / removed / changed with the
    old/new evidence counts (unchanged keys are filtered out — at
    10^12-doc scale the diff is the small set, the unchanged mass never
    leaves the join). One full-outer join on the edge key; both sides
    arrive bucket-partitioned from the snapshot layout, so at scale the
    join is co-partitioned. This is what a consumer runs between
    ``read_snapshot(v)`` and ``read_snapshot(v+1)`` after a maintenance
    fold or a retraction."""
    key = ["subj_id", "obj_id", "pred_canon"]
    o = old.select(*key, F.col("n_evidence").alias("old_n"))
    n = new.select(*key, F.col("n_evidence").alias("new_n"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("old_n").isNull(), F.lit("added"))
        .when(F.col("new_n").isNull(), F.lit("removed"))
        .when(F.col("old_n") != F.col("new_n"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(*key, "status", "old_n", "new_n")
    )


def negative_samples(pos: DataFrame) -> DataFrame:
    """Type-consistent negative sampling for KG-embedding training
    (TransE/DistMult-style corruption) over distinct positives
    ``(subj, rel, obj)``: each positive gets one deterministic negative
    object drawn from the SAME relation's object set — pick rank =
    H(md5(subj|rel|obj)) % n within the relation-local canonical
    ranking, stepping to the next rank (mod n) on collision with the
    true object; single-object relations drop out (no negative
    exists). Everything is keyed on the relation (ranking window, size
    lookup, both rank probes) — no global dictionary, no broadcast of a
    10^9-entity vocabulary, no driver state; the md5/ascii pick is the
    same engine-exact arithmetic as the walk corpus."""
    from pyspark.sql import Window

    objs = pos.select("rel", "obj").distinct()
    ranked = objs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("rel").orderBy("obj"))
    )
    rels = objs.groupBy("rel").agg(F.count("*").alias("n"))
    m = F.md5(
        F.concat_ws(
            "|",
            F.col("subj").cast("string"),
            F.col("rel"),
            F.col("obj").cast("string"),
        )
    )
    h = (
        F.ascii(F.substring(m, 1, 1)) * 16384
        + F.ascii(F.substring(m, 2, 1)) * 128
        + F.ascii(F.substring(m, 3, 1))
    )
    pick = (
        pos.join(rels, "rel")
        .where(F.col("n") > 1)
        .select(
            "subj", "rel", "obj", "n",
            (F.lit(1) + h % F.col("n")).alias("rn0"),
        )
    )
    cand = pick.join(
        ranked.select(
            "rel", F.col("rn").alias("rn0"), F.col("obj").alias("cand_obj")
        ),
        ["rel", "rn0"],
    )
    wrap = cand.join(
        ranked.select(
            F.col("rel").alias("w_rel"),
            F.col("rn").alias("w_rn"),
            F.col("obj").alias("wrap_obj"),
        ),
        (F.col("w_rel") == F.col("rel"))
        & (F.col("w_rn") == F.lit(1) + (F.col("rn0") % F.col("n"))),
    )
    return wrap.select(
        "subj",
        "rel",
        "obj",
        F.when(F.col("cand_obj") != F.col("obj"), F.col("cand_obj"))
        .otherwise(F.col("wrap_obj"))
        .alias("neg_obj"),
    )


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-vertex local clustering coefficient over an undirected graph
    -> ``(vertex, deg, n_tri, lcc)`` with ``lcc = 2*t / (deg*(deg-1))``
    (Watts & Strogatz 1998), 0 for degree<2 vertices — "how clique-like
    is this node's neighbourhood", the standard per-node companion to
    the global triangle count (spam-farm and boilerplate-hub link
    neighbourhoods score near 1, organic pages much lower).

    Same degree-oriented wedge enumeration as ``triangle_count`` (each
    triangle found exactly once at its minimum-(degree, id) apex, so
    hub wedge fan-out stays O(sqrt(m))); the one addition is emitting
    the triangle's THREE corners before the per-vertex count — a 3x
    row multiplier on the (small) triangle set, then one
    map-side-combinable aggregate and a left join back onto the degree
    table (AQE broadcasts the triangle-count side when it fits).
    Determinism: every column is exact integer arithmetic; the lcc is
    one fixed rational expression over (t, deg), rounded once.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = _degrees(und)
    tri = _triangles(_oriented(und, deg).localCheckpoint(eager=True))
    # ONE pass over the triangle stream: a union of three selects re-runs
    # the (expensive) wedge+closing join subtree once per branch — Spark
    # does no CSE across union legs — measured 2.5x the whole enumeration
    # on the sf0.1 co-occurrence graph. explode() emits the three corners
    # from a single execution of the join.
    tc = (
        tri.select(F.explode(F.array("v1", "v2", "v3")).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("n_tri"))
    )
    joined = deg.join(tc, "x", "left").select(
        F.col("x").alias("vertex"),
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
    )
    lcc = F.when(
        F.col("deg") >= 2,
        F.round(
            F.lit(2.0) * F.col("n_tri") / (F.col("deg") * (F.col("deg") - 1)), 6
        ),
    ).otherwise(F.lit(0.0))
    return joined.withColumn("lcc", lcc)


def ktruss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 5,
    n_rounds: int = 3,
) -> DataFrame:
    """Fixed-iteration k-truss peel -> the surviving edge set with its
    final support, ``(a, b, support)``: each round drops edges in fewer
    than ``k-2`` triangles (among surviving edges) and recounts — the
    edge-level sibling of k-core (Cohen 2008), and the stricter
    dense-community core: a k-core hub chain survives on degree alone,
    a k-truss edge must sit in actual triangles. Fixed rounds (not
    run-to-convergence) keep the result SQL-unrollable, the kcore /
    pagerank convention; pick ``n_rounds`` past the measured
    convergence horizon for the target graph.

    Scale: each round re-runs triangle_count's degree-oriented wedge
    enumeration on the SHRINKING edge set (per-key fan-out O(sqrt m),
    hub-safe), emits each triangle's three edges in canonical (a, b)
    form, counts per edge (map-side combined), and semi-joins the
    survivors — all key-partitioned; ``localCheckpoint`` truncates the
    per-round lineage. Peeling only shrinks the graph, so later rounds
    are cheaper and AQE re-plans on observed sizes. Everything is
    exact integer arithmetic.
    """
    # Hybrid delta peeling. Supports are MAINTAINED across rounds by the
    # truss invariant
    #   S_{r+1}(e) = S_r(e) - #{distinct triangles of live_r containing e
    #                           and at least one removed edge}
    # (exact integers, so maintained == recounted), which kills the
    # original's final full recount outright; within a round, when the
    # removed set is small relative to the survivors the decrement is
    # computed by enumerating only the triangles TOUCHING removed edges
    # (``_truss_delta_loss`` — late peel rounds remove a few hundred edges
    # of a million and pay ~nothing), while heavy early rounds recount on
    # the shrunken survivor set (a full delta there would enumerate most
    # triangles AND pay a dedup shuffle on top — measured slower). Output
    # is identical to the recount-per-round implementation (pinned by
    # test_graph_cc and the fully-unrolled DuckDB oracle). The original
    # kept an edge iff it HAD a support row (i.e. sat in >= 1 triangle)
    # AND support >= k-2, hence max(k-2, 1); its final inner join likewise
    # dropped 0-support survivors, hence the closing >= 1 filter.
    thr = max(int(k) - 2, 1)
    # removed/live below this ratio -> delta decrement; above -> recount
    delta_ratio = 0.05
    live = _undirected(edges, src, dst).localCheckpoint(eager=True)

    def _with_support(edge_set: DataFrame) -> DataFrame:
        return (
            edge_set.join(_truss_support(edge_set), ["a", "b"], "left")
            .select(
                "a", "b",
                F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
            )
            .localCheckpoint(eager=True)
        )

    sup = _with_support(live)
    n_live = sup.count()
    for _ in range(int(n_rounds)):
        removed = sup.where(F.col("support") < thr).select("a", "b")
        n_removed = removed.count()
        if n_removed == 0:
            break  # fixpoint — the remaining fixed rounds are no-ops
        keep = sup.where(F.col("support") >= thr)
        n_keep = n_live - n_removed
        if n_keep == 0 or n_removed > delta_ratio * n_live:
            sup = _with_support(
                keep.select("a", "b").localCheckpoint(eager=True)
            )
        else:
            loss = _truss_delta_loss(
                removed.localCheckpoint(eager=True), sup.select("a", "b")
            )
            sup = (
                keep.join(loss, ["a", "b"], "left")
                .select(
                    "a", "b",
                    (
                        F.col("support")
                        - F.coalesce(F.col("loss"), F.lit(0).cast("long"))
                    ).alias("support"),
                )
                .localCheckpoint(eager=True)
            )
        n_live = n_keep
    return sup.where(F.col("support") >= 1).select("a", "b", "support")


def _truss_support(live: DataFrame) -> DataFrame:
    """``(a, b, support)``: per canonical edge of ``live``, the number of
    its triangles (edges in none get no row)."""
    tri = _triangles(_oriented(live, _degrees(live)))
    # single pass over the triangle stream (a 3-branch union would
    # re-run the wedge+closing joins once per branch — no CSE across
    # union legs; measured 2.5x the enumeration cost)
    corners = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("v1").alias("u"), F.col("v2").alias("v")),
                F.struct(F.col("v1").alias("u"), F.col("v3").alias("v")),
                F.struct(F.col("v2").alias("u"), F.col("v3").alias("v")),
            )
        ).alias("e")
    )
    return (
        corners.select(
            F.least("e.u", "e.v").alias("a"), F.greatest("e.u", "e.v").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )


def _truss_delta_loss(removed: DataFrame, graph: DataFrame) -> DataFrame:
    """Per canonical edge, the number of DISTINCT triangles of ``graph``
    that contain at least one ``removed`` edge — the support decrement for
    the next peel round. Wedges fan out from each removed edge's
    lower-degree endpoint (hub-safe, the same degree-orientation idea as
    ``triangle_count``); triangles found via several removed edges are
    deduped by their sorted vertex triple before the per-edge count."""
    r = _oriented(removed, _degrees(graph))
    adj = graph.select(F.col("a").alias("x"), F.col("b").alias("w")).union(
        graph.select(F.col("b").alias("x"), F.col("a").alias("w"))
    )
    wedges = r.join(adj.hint("shuffle_hash"), r["lo"] == adj["x"]).select(
        "lo", "hi", "w"
    )
    closing = wedges.join(
        graph.alias("g2"),
        (F.least(F.col("hi"), F.col("w")) == F.col("g2.a"))
        & (F.greatest(F.col("hi"), F.col("w")) == F.col("g2.b")),
        "left_semi",
    )
    tri = closing.select(
        F.array_sort(F.array("lo", "hi", "w")).alias("t")
    ).distinct()
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("t")[0].alias("a"), F.col("t")[1].alias("b")),
                F.struct(F.col("t")[0].alias("a"), F.col("t")[2].alias("b")),
                F.struct(F.col("t")[1].alias("a"), F.col("t")[2].alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return edges3.groupBy("a", "b").agg(F.count("*").alias("loss"))
