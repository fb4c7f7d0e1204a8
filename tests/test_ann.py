"""IVF ANN tests: assignment totality, probe-subset recall vs the exact
brute-force baseline, and the scale-critical plan shape (corpus side joined
to a BROADCAST probe set — no corpus shuffle)."""

import pytest
from pyspark.sql import functions as F

from deepex_spark.operators.ann import (
    ivf_assign,
    ivf_centroids,
    ivf_search,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_ivf_assign_total_and_deterministic(emb):
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = ivf_centroids(8, 64, 733)
    a1 = ivf_assign(e, cents).select("vec_id", "centroid_id")
    assert a1.filter(F.col("centroid_id").isNull()).count() == 0
    assert a1.count() == e.count()
    ids = {r["centroid_id"] for r in a1.select("centroid_id").distinct().collect()}
    assert ids <= set(range(8))
    a2 = ivf_assign(e.repartition(7), cents).select("vec_id", "centroid_id")
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_ivf_recall_vs_exact(spark, emb):
    """nprobe=3 of 8 lists must still find most true neighbours on the
    clustered synthetic embeddings; nprobe=8 (scan everything) must equal
    the exact baseline exactly."""
    from deepex_spark.queries import ann_cosine_topk

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_cosine_topk(spark, SF).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_search(emb, F.col("vec_id") < 5, 8, 3, 3, 733).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, (recall, exact, approx)

    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_search(emb, F.col("vec_id") < 5, 8, 8, 3, 733).collect()
    }
    assert full == exact


def test_ivf_corpus_side_never_shuffles(emb):
    """The candidate join must broadcast the probe set: the corpus-side
    subtree contains no Exchange (at 100 TB the index is scanned in place,
    partition-pruned by centroid_id)."""
    plan = ivf_search(emb, F.col("vec_id") < 5, 8, 3, 3, 733)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # walk the plan: the join's streamed (corpus) side must be exchange-free
    join_at = plan.find("BroadcastHashJoin")
    # the streamed (corpus) side prints first under the join; the broadcast
    # (probe) subtree starts at BroadcastExchange/BroadcastQueryStage — the
    # probe side is tiny and MAY shuffle (its own row_number window), the
    # corpus side must not
    tail = plan[join_at:]
    bcast_at = tail.find("Broadcast", len("BroadcastHashJoin"))
    streamed = tail[:bcast_at] if bcast_at != -1 else tail
    others = [ln for ln in streamed.splitlines() if "Exchange" in ln]
    assert not others, others


def test_ivf_index_partition_pruning(spark, emb, tmp_path):
    """At corpus scale the IVF index is WRITTEN partitioned by centroid_id;
    probing then prunes unprobed lists at the SCAN (PartitionFilters), not
    with a post-scan filter."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx_path = str(tmp_path / "ivf_index")
    ivf_assign(e, ivf_centroids(8, 64, 733)).write.partitionBy("centroid_id").parquet(idx_path)

    probed = spark.read.parquet(idx_path).filter(F.col("centroid_id").isin(2, 5))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters:")[1].split("]")[0]
    # pruned read returns exactly the two lists
    got = {r["centroid_id"] for r in probed.select("centroid_id").distinct().collect()}
    assert got <= {2, 5}


def test_ivf_assign_matches_numpy_argmax(spark):
    """The single-expression argmax must equal numpy's argmax (which also
    takes the first occurrence on ties), including on constructed ties."""
    import numpy as np

    cents = ivf_centroids(6, 8, 99)
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 8))
    # force exact ties: vector 0 orthogonal to everything -> all dots 0.0
    vecs[0] = 0.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, v array<double>")
    got = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(df, cents).collect()}
    C = np.array(cents)
    for i, v in enumerate(vecs):
        want = int(np.argmax(C @ v))
        assert got[i] == want, (i, got[i], want)
    assert got[0] == 0  # all-ties -> first centroid


class TestKMeans:
    """Lloyd's training (kmeans_train): independent pure-Python reference,
    lowest-id tie-break, empty-cluster retention. The registered
    ann_kmeans query is hash-verified against an unrolled DuckDB oracle
    at (k=4, dim=64, 2 rounds) by the driver."""

    @staticmethod
    def _ref(vecs, cents, n_iter):
        def assign(cs):
            out = []
            for v in vecs:
                ds = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cs]
                best = min(range(len(cs)), key=lambda i: (ds[i], i))
                out.append((best, ds[best]))
            return out

        cs = [list(c) for c in cents]
        asg = assign(cs)
        for _ in range(n_iter):
            for cid in range(len(cs)):
                members = [v for v, (a, _) in zip(vecs, asg) if a == cid]
                if members:
                    cs[cid] = [
                        round(sum(col) / len(members), 9)
                        for col in zip(*members)
                    ]
            asg = assign(cs)
        return asg, cs

    def test_matches_reference_and_keeps_empty_cluster(self, spark):
        from deepex_spark.operators.ann import ivf_centroids, kmeans_train

        # two tight blobs far from origin: with k=3 seeded unit-norm
        # centroids at the origin sphere, at least one cluster usually
        # ends up empty or tiny — exercising the retention branch
        vecs = [
            [10.0 + dx, 10.0 + dy] for dx in (0.0, 0.1, 0.2) for dy in (0.0, 0.1)
        ] + [[-8.0 + dx, -8.0 + dy] for dx in (0.0, 0.3) for dy in (0.0, 0.3)]
        emb = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id int, embedding array<double>",
        )
        assigned, cents = kmeans_train(emb, k=3, dim=2, n_iter=2, seed=7)
        got = {
            r.vec_id: (r.centroid_id, round(r.dist2, 6))
            for r in assigned.collect()
        }
        ref_asg, ref_cents = self._ref(vecs, ivf_centroids(3, 2, 7), 2)
        assert got == {
            i: (a, round(d, 6)) for i, (a, d) in enumerate(ref_asg)
        }
        for c, rc in zip(cents, ref_cents):
            for x, y in zip(c, rc):
                assert abs(x - y) < 1e-9


class TestPQ:
    def test_codes_match_per_slice_kmeans_and_are_partition_invariant(self, spark):
        from deepex_spark.operators.ann import kmeans_train, pq_train_encode

        vecs = [
            [float(i % 5), float((i * 7) % 3), float(i % 2) * 4.0, -float(i % 4)]
            for i in range(24)
        ]
        emb = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id int, embedding array<double>",
        )
        enc, books = pq_train_encode(emb, m=2, k=3, dim=4, n_iter=2, seed=11)
        got = {
            r.vec_id: (r.code0, r.code1, round(r.dist0, 9), round(r.dist1, 9))
            for r in enc.collect()
        }
        # per-slice reference: train k-means on each half independently
        import pyspark.sql.functions as F

        for j, (lo, hi) in enumerate([(0, 2), (2, 4)]):
            half = spark.createDataFrame(
                [(i, v[lo:hi]) for i, v in enumerate(vecs)],
                "vec_id int, embedding array<double>",
            )
            assigned, cents = kmeans_train(half, k=3, dim=2, n_iter=2, seed=11 + j)
            for c, bc in zip(cents, books[j]):
                assert c == bc
            ref = {
                r.vec_id: (r.centroid_id, round(r.dist2, 9))
                for r in assigned.collect()
            }
            for i in got:
                assert (got[i][j], got[i][2 + j]) == ref[i]
        # partition invariance
        enc2, _ = pq_train_encode(emb.repartition(7), m=2, k=3, dim=4, n_iter=2, seed=11)
        got2 = {
            r.vec_id: (r.code0, r.code1, round(r.dist0, 9), round(r.dist1, 9))
            for r in enc2.collect()
        }
        assert got == got2


def test_build_index_job_publishes_queryable_snapshots(spark, tmp_path):
    """jobs/build_index.py end to end on a small corpus: three snapshot
    tables land idempotently, and the published codes + codebooks answer
    an ADC query identically to the in-memory path."""
    from deepex_spark.operators.ann import pq_adc_topk, pq_train_encode
    from deepex_spark.plans.catalog import Catalog
    from jobs.build_index import main

    vecs = [
        (i, [float((i * 3 + d) % 7) for d in range(8)]) for i in range(40)
    ]
    src = tmp_path / "emb"
    spark.createDataFrame(vecs, "vec_id int, embedding array<double>").write.parquet(
        str(src)
    )
    out = tmp_path / "ann"
    args = [
        "--input", str(src), "--output", str(out),
        "--k", "3", "--m", "2", "--dim", "8", "--iters", "1",
        "--run-id", "t1",
    ]
    main(args)
    cat = Catalog(str(out))
    for t in ("ann_centroids", "ann_codebooks", "ann_codes"):
        assert cat.version_of_run(t, f"t1-{t}") is not None
    codes = cat.read_snapshot(spark, "ann_codes")
    assert codes.count() == 40
    assert set(codes.columns) == {"vec_id", "centroid_id", "code0", "code1"}

    # rebuild published codebooks and answer a query through them
    books_rows = cat.read_snapshot(spark, "ann_codebooks").collect()
    books: dict = {}
    for r in books_rows:
        books.setdefault(r.subspace, {}).setdefault(r.cid, {})[r.pos] = r.val
    codebooks = [
        [
            [books[j][c][p] for p in sorted(books[j][c])]
            for c in sorted(books[j])
        ]
        for j in sorted(books)
    ]
    emb = spark.read.parquet(str(src))
    queries = emb.where("vec_id % 20 = 0")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc)
        for r in pq_adc_topk(
            codes.select("vec_id", "code0", "code1"), queries, codebooks, dim=8, topk=3
        ).collect()
    }
    # reference: the in-memory train+encode path with the job's seeds
    enc, books2 = pq_train_encode(emb, m=2, k=3, dim=8, n_iter=1, seed=1338)
    ref = {
        (r.query_id, r.rank): (r.neighbor_id, r.adc)
        for r in pq_adc_topk(
            enc.select("vec_id", "code0", "code1"), queries, books2, dim=8, topk=3
        ).collect()
    }
    assert got == ref

    # idempotent republish: same run_id mints no new version
    v = cat.version_of_run("ann_codes", "t1-ann_codes")
    main(args)
    assert cat.version_of_run("ann_codes", "t1-ann_codes") == v


def test_rrf_fusion_exact(spark, tmp_path):
    """Hand-built 2-D vectors where cosine and L2 disagree: the far
    collinear point wins cosine but loses L2, and the RRF constants
    (k=60) produce the hand-computed scores and final order."""
    from deepex_spark.queries import REGISTRY

    rows = [
        (0, [1.0, 0.0]),      # the query
        (10, [10.0, 0.0]),    # cos rank 1 (collinear), l2 rank 3 (far)
        (11, [0.875, 0.125]), # cos rank 2, l2 rank 1
        (12, [0.5, 0.5]),     # cos rank 3, l2 rank 2
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = REGISTRY["ann_rrf_fusion"].spark_fn(spark, str(tmp_path)).collect()
    got = [
        (r["neighbor_id"], r["r_cos"], r["r_l2"], r["rrf"])
        for r in sorted(out, key=lambda r: -r["rrf"])
        if r["query_id"] == 0
    ]
    rrf = lambda a, b: round(1.0 / (60 + a) + 1.0 / (60 + b), 6)
    assert got == [
        (11, 2, 1, rrf(2, 1)),
        (10, 1, 3, rrf(1, 3)),
        (12, 3, 2, rrf(3, 2)),
    ]


def test_rrf_fuse_union_and_order(spark):
    """RRF over the union of two arms: items missing from one arm get
    that arm's contribution as 0; ties in rrf break by item id; each
    query keeps top_k rows."""
    sparse = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rk int"
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, doc_id long, rk int"
    )
    from deepex_spark.operators.ann import rrf_fuse

    got = [
        (r["doc_id"], r["r_a"], r["r_b"], r["rrf"], r["rk"])
        for r in rrf_fuse([("a", sparse), ("b", dense)], top_k=3)
        .orderBy("rk")
        .collect()
    ]
    r11 = round(1 / 62 + 1 / 61, 6)
    r10 = round(1 / 61, 6)
    r12 = round(1 / 62, 6)
    # doc 11 appears in both arms and wins; 10 beats 12 (rank 1 vs 2)
    assert got == [(11, 2, 1, r11, 1), (10, 1, None, r10, 2), (12, None, 2, r12, 3)]


def test_rrf_fuse_needs_two(spark):
    import pytest as _pytest

    from deepex_spark.operators.ann import rrf_fuse

    with _pytest.raises(ValueError):
        rrf_fuse([("only", spark.range(1))])


def _one_bad_vector(spark, bad):
    rows = [(i, [float(i + d) for d in range(8)]) for i in range(6)]
    rows[0] = (0, [bad] + rows[0][1][1:])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_ivf_assign_fold_rejects_non_finite(spark, bad):
    """Non-finite embeddings fail loudly in the coarse assignment instead of
    silently landing on whichever centroid numpy's argmax picks."""
    from deepex_spark.operators.ann import ivf_assign_fold

    e = _one_bad_vector(spark, bad).select(
        "vec_id", F.col("embedding").alias("v")
    )
    with pytest.raises(Exception, match="ivf_assign_fold: non-finite"):
        ivf_assign_fold(e, ivf_centroids(4, 8, 7)).collect()


def test_ivf_search_probe_rejects_non_finite(spark):
    """A non-finite query vector fails loudly in probe selection (the
    broadcast probe side is built before the corpus side is assigned)."""
    emb = _one_bad_vector(spark, float("nan"))
    out = ivf_search(emb, F.col("vec_id") == 0, k_centroids=4, nprobe=2,
                     topk=2, seed=7, dim=8)
    with pytest.raises(Exception, match="ivf_search probe: non-finite"):
        out.collect()
