"""Incremental KG maintenance (operators/graph.py::merge_vertices /
merge_edges): folding doc-disjoint batches must equal the single-batch
build — the associativity that makes incremental crawls safe."""

import pytest
from pyspark.sql import functions as F

from deepex_spark.config import DeepExConfig
from deepex_spark.operators.canonicalize import canonicalize_triples
from deepex_spark.operators.graph import (
    build_edges,
    build_vertices,
    merge_edges,
    merge_vertices,
)
from deepex_spark.pipeline import extract_triples


@pytest.fixture(scope="module")
def canon_halves(spark):
    from deepex_spark.sources.pages import synth_pages

    cfg = DeepExConfig.small()
    pages = synth_pages(spark, n_docs=24, seed=3).persist()
    half_a = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    half_b = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    out = tuple(
        canonicalize_triples(extract_triples(p, cfg)).persist()
        for p in (pages, half_a, half_b)
    )
    yield out
    pages.unpersist()


def _vrows(df):
    return {
        (r["entity_id"], r["canonical"], r["n_docs"], r["n_mentions"], tuple(r["surfaces"]))
        for r in df.collect()
    }


def _erows(df):
    return {
        (
            r["subj_id"], r["obj_id"], r["pred_id"], r["pred_canon"],
            r["n_evidence"], r["n_docs"],
            round(r["max_score"], 6), round(r["sum_score"], 6),
            r["sample_docid"],
        )
        for r in df.collect()
    }


def test_vertex_merge_equals_single_batch(canon_halves):
    full, a, b = canon_halves
    merged = merge_vertices(build_vertices(a), build_vertices(b))
    assert _vrows(merged) == _vrows(build_vertices(full))


def test_edge_merge_equals_single_batch(canon_halves):
    full, a, b = canon_halves
    merged = merge_edges(build_edges(a), build_edges(b))
    assert _erows(merged) == _erows(build_edges(full))


def test_merge_is_order_insensitive(canon_halves):
    _, a, b = canon_halves
    ab = _erows(merge_edges(build_edges(a), build_edges(b)))
    ba = _erows(merge_edges(build_edges(b), build_edges(a)))
    assert ab == ba


def test_empty_delta_is_identity(spark, canon_halves):
    _, a, _ = canon_halves
    va = build_vertices(a)
    empty = va.limit(0)
    assert _vrows(merge_vertices(va, empty)) == _vrows(va)


def _write_build(catalog, canon, run_id):
    """Write a bucketed vertices/edges build of ``canon`` as plain tables."""
    from deepex_spark.operators.graph import with_edge_bucket, with_vertex_bucket, write_graph

    write_graph(
        lambda df, table: catalog.write(df, table, partition_by=["bucket"]),
        with_vertex_bucket(build_vertices(canon, run_id)),
        with_edge_bucket(build_edges(canon, run_id)),
    )


def test_maintain_job_snapshot_merge(spark, tmp_path, canon_halves):
    """End-to-end incremental maintenance: write batch A as the live KG,
    batch B as a delta catalog, run jobs/maintain_kg.maintain — the
    published snapshot must equal the single-batch build over A ∪ B, and
    the table is now snapshot-versioned (v1)."""
    from deepex_spark.plans.catalog import Catalog
    from jobs.maintain_kg import maintain

    full, a, b = canon_halves
    live = Catalog(str(tmp_path / "live"))
    delta = Catalog(str(tmp_path / "delta"))
    _write_build(live, a, "runA")
    _write_build(delta, b, "runB")

    report = maintain(spark, live, delta, run_id="m1")
    assert report["vertices"][0] == 1 and report["edges"][0] == 1

    merged_v = live.read_snapshot(spark, "vertices")
    assert _vrows(merged_v) == _vrows(build_vertices(full))
    merged_e = live.read_snapshot(spark, "edges")
    assert _erows(merged_e) == _erows(build_edges(full))
    # lineage columns present and bucketed layout preserved
    assert {"run_id", "src_partition", "bucket"} <= set(merged_v.columns)


def test_maintain_job_idempotent_per_run_id(spark, tmp_path, canon_halves):
    """Retrying maintain with the SAME run_id (the partial-failure
    recovery protocol) must NOT re-merge the delta — statistics stay
    identical, no new snapshot version is published."""
    from deepex_spark.plans.catalog import Catalog
    from jobs.maintain_kg import maintain

    _full, a, b = canon_halves
    live = Catalog(str(tmp_path / "live"))
    delta = Catalog(str(tmp_path / "delta"))
    _write_build(live, a, "runA")
    _write_build(delta, b, "runB")

    r1 = maintain(spark, live, delta, run_id="m1")
    r2 = maintain(spark, live, delta, run_id="m1")  # retry
    assert r1 == r2  # same versions, same counts — nothing double-merged
    # only m1's publication exists; the retry did not publish
    man = live._snapshot_manifest("vertices")
    assert [m["run_id"] for m in man["versions"].values()] == ["m1"]
    assert man["current"] == r1["vertices"][0]

    # a LATE retry of m1 after a subsequent merge reports m1's OWN
    # version, not whatever is current (mechanics check: m2 reuses the
    # same delta, which doc-disjointness forbids semantically — here we
    # only care that versions advance and the skip path stays pinned)
    maintain(spark, live, delta, run_id="m2")
    r1_late = maintain(spark, live, delta, run_id="m1")
    assert r1_late["vertices"][0] == r1["vertices"][0]
    assert live._snapshot_manifest("vertices")["current"] > r1["vertices"][0]


def test_maintain_job_refuses_missing_live_table(spark, tmp_path, canon_halves):
    """A live catalog without the table fails loudly instead of
    publishing the delta alone as the KG."""
    from deepex_spark.plans.catalog import Catalog
    from jobs.maintain_kg import maintain

    live = Catalog(str(tmp_path / "live"))
    delta = Catalog(str(tmp_path / "delta"))
    _write_build(delta, canon_halves[2], "runB")
    with pytest.raises(ValueError, match="no 'vertices' table"):
        maintain(spark, live, delta, run_id="m1")
    assert not live.exists("vertices") and not live.exists("edges")


def test_write_graph_raises_after_both_writes_end(spark, tmp_path, canon_halves):
    """A failing table write re-raises out of write_graph, but only once
    the other table's write has ended: the edges land in full."""
    from deepex_spark.plans.catalog import Catalog

    class FailingVertices(Catalog):
        def write(self, df, table, **kw):
            if table == "vertices":
                raise RuntimeError("vertices write failed")
            super().write(df, table, **kw)

    full = canon_halves[0]
    cat = FailingVertices(str(tmp_path / "kg"))
    with pytest.raises(RuntimeError, match="vertices write failed"):
        _write_build(cat, full, "run0")
    assert not cat.exists("vertices")
    assert _erows(cat.read(spark, "edges")) == _erows(build_edges(full))


# --- right-to-be-forgotten + snapshot audit diff -------------------------

_TRIP_COLS = ["subj_id", "obj_id", "pred_canon", "score", "docid"]


@pytest.fixture(scope="module")
def trip_table(spark):
    rows = [
        (1, 2, "rel_a", 1.0, 10),
        (1, 2, "rel_a", 2.0, 11),
        (1, 2, "rel_a", 3.0, 12),
        (3, 4, "rel_b", 5.0, 10),   # only evidence is a deleted doc
        (5, 6, "rel_c", 7.0, 13),   # untouched by any tombstone
        (5, 6, "rel_c", 8.0, 14),
    ]
    df = spark.createDataFrame(rows, _TRIP_COLS).persist()
    yield df
    df.unpersist()


def _edge_build(trips):
    return trips.groupBy("subj_id", "obj_id", "pred_canon").agg(
        F.count("*").alias("n_evidence"),
        F.countDistinct("docid").alias("n_docs"),
        F.round(F.max("score"), 9).alias("max_score"),
        F.round(F.sum("score"), 9).alias("sum_score"),
        F.min("docid").alias("sample_docid"),
    )


def _edge_rows(df):
    return {tuple(r) for r in df.collect()}


def test_retract_equals_rebuild_over_survivors(spark, trip_table):
    """The affected-key recompute + anti-join stitch must equal a full
    rebuild over surviving triples — including dropping edges whose
    entire evidence was deleted (counts are not subtractable, which is
    why retraction cannot be merge algebra)."""
    from deepex_spark.operators.graph import retract_docs

    edges = _edge_build(trip_table)
    deleted = spark.createDataFrame([(10,), (11,)], ["docid"])
    got = retract_docs(trip_table, edges, deleted)
    surviving = trip_table.where(~F.col("docid").isin(10, 11))
    assert _edge_rows(got) == _edge_rows(_edge_build(surviving))
    # rel_b's only evidence was docid 10 -> the edge must vanish
    assert got.where(F.col("pred_canon") == "rel_b").count() == 0
    # rel_a survives with only docid 12's contribution
    rel_a = got.where(F.col("pred_canon") == "rel_a").collect()
    assert len(rel_a) == 1 and rel_a[0]["n_evidence"] == 1
    assert rel_a[0]["max_score"] == 3.0 and rel_a[0]["sample_docid"] == 12


def test_retract_empty_tombstones_is_identity(spark, trip_table):
    from deepex_spark.operators.graph import retract_docs

    edges = _edge_build(trip_table)
    none = spark.createDataFrame([], "docid bigint")
    assert _edge_rows(retract_docs(trip_table, edges, none)) == _edge_rows(edges)


def test_retract_never_touches_unaffected_keys(spark, trip_table):
    """Untouched edge keys must pass through the anti-join verbatim —
    even if the stored edge row disagrees with what a rebuild would say
    (proves the recompute really is scoped to the affected slice)."""
    from deepex_spark.operators.graph import retract_docs

    edges = _edge_build(trip_table)
    # poison the untouched rel_c row: a rebuild would "fix" it, the
    # scoped retraction must NOT
    poisoned = edges.withColumn(
        "n_evidence",
        F.when(F.col("pred_canon") == "rel_c", F.lit(999)).otherwise(
            F.col("n_evidence")
        ),
    )
    deleted = spark.createDataFrame([(10,), (11,)], ["docid"])
    got = retract_docs(trip_table, poisoned, deleted)
    assert (
        got.where(F.col("pred_canon") == "rel_c").collect()[0]["n_evidence"]
        == 999
    )


def test_snapshot_diff_statuses(spark, trip_table):
    from deepex_spark.operators.graph import diff_edge_snapshots

    v1 = _edge_build(trip_table.where(F.col("docid") <= 12))
    v2 = _edge_build(trip_table.where(F.col("docid") >= 11))
    d = {
        (r["subj_id"], r["obj_id"], r["pred_canon"]): (
            r["status"], r["old_n"], r["new_n"]
        )
        for r in diff_edge_snapshots(v1, v2).collect()
    }
    # rel_a: 3 evidence rows in v1 (docids 10-12), 2 in v2 (11-12)
    assert d[(1, 2, "rel_a")] == ("changed", 3, 2)
    # rel_b: only docid 10 -> present in v1 only
    assert d[(3, 4, "rel_b")] == ("removed", 1, None)
    # rel_c: docids 13,14 -> present in v2 only
    assert d[(5, 6, "rel_c")] == ("added", None, 2)


def test_snapshot_diff_filters_unchanged(spark, trip_table):
    from deepex_spark.operators.graph import diff_edge_snapshots

    v = _edge_build(trip_table)
    assert diff_edge_snapshots(v, v).count() == 0
