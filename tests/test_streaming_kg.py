"""Micro-batch KG maintenance (streaming/kg_stream.py): folding
doc-disjoint batches into the snapshot catalog equals the single-shot
batch build, and a replayed batch id is never applied twice (idempotent
run_id publish)."""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TRIPLES_SCHEMA = StructType(
    [
        StructField("docid", LongType()),
        StructField("subj", StringType()),
        StructField("rel", StringType()),
        StructField("obj", StringType()),
        StructField("score", DoubleType()),
    ]
)

BATCH_A = [
    (1, "alan", "born_in", "london", 2.0),
    (1, "alan", "born_in", "london", 1.0),  # same doc, same edge
    (2, "alan", "born_in", "london", 4.0),  # second doc, same edge
    (2, "ada", "wrote", "notes", 3.0),
]
BATCH_B = [
    (3, "alan", "born_in", "london", 8.0),
    (3, "ada", "wrote", "notes", 1.0),
    (4, "grace", "built", "compiler", 5.0),
]


def _edges(spark, catalog, table):
    df = catalog.read_snapshot(spark, table)
    return {
        (r.subj_id, r.obj_id, r.pred_canon): (
            r.n_evidence,
            r.n_docs,
            r.max_score,
            r.sum_score,
            r.sample_docid,
        )
        for r in df.collect()
    }


def _batch_build(spark, rows):
    from deepex_spark.streaming.kg_stream import batch_edges

    df = spark.createDataFrame(rows, TRIPLES_SCHEMA)
    return {
        (r.subj_id, r.obj_id, r.pred_canon): (
            r.n_evidence,
            r.n_docs,
            r.max_score,
            r.sum_score,
            r.sample_docid,
        )
        for r in batch_edges(df).collect()
    }


def test_fold_equals_batch_build(spark, tmp_path):
    """fold(fold(S0, A), B) == build(A ∪ B): batch 0 over an empty
    catalog gives build(A); batch 1 folds B into it."""
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.streaming.kg_stream import fold_batch

    catalog = Catalog(str(tmp_path / "wh"))
    fold = fold_batch(catalog, "edges")

    fold(spark.createDataFrame(BATCH_A, TRIPLES_SCHEMA), 0)
    assert _edges(spark, catalog, "edges") == _batch_build(spark, BATCH_A)

    fold(spark.createDataFrame(BATCH_B, TRIPLES_SCHEMA), 1)
    assert _edges(spark, catalog, "edges") == _batch_build(
        spark, BATCH_A + BATCH_B
    )


def test_fold_into_plain_table_merges(spark, tmp_path):
    """A plain ``edges`` table (a build's layout, not yet versioned) is
    merged into, not replaced: folding A and then B into a plain table
    holding A reads back build(A ∪ B) with lineage."""
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.streaming.kg_stream import batch_edges, fold_batch

    catalog = Catalog(str(tmp_path / "wh"))
    catalog.write(batch_edges(spark.createDataFrame(BATCH_A, TRIPLES_SCHEMA)), "edges")
    fold = fold_batch(catalog, "edges")

    fold(spark.createDataFrame(BATCH_B, TRIPLES_SCHEMA), 0)
    assert catalog.is_versioned("edges")
    assert _edges(spark, catalog, "edges") == _batch_build(spark, BATCH_A + BATCH_B)
    assert {"run_id", "src_partition"} <= set(catalog.read(spark, "edges").columns)


def test_replayed_batch_is_not_double_applied(spark, tmp_path):
    """Simulate the crash window between snapshot publish and offset
    commit: call the foreachBatch fold directly with the SAME batch_id
    twice — the second call must neither re-merge nor publish a new
    version."""
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.streaming.kg_stream import fold_batch

    catalog = Catalog(str(tmp_path / "wh"))
    fold = fold_batch(catalog, "edges", run_prefix="t")
    df = spark.createDataFrame(BATCH_A, TRIPLES_SCHEMA)

    fold(df, 0)
    v_after_first = catalog.version_of_run("edges", "t-0")
    before = _edges(spark, catalog, "edges")
    fold(df, 0)  # replay
    assert catalog.version_of_run("edges", "t-0") == v_after_first
    assert _edges(spark, catalog, "edges") == before

    # a genuinely new batch still folds
    fold(spark.createDataFrame(BATCH_B, TRIPLES_SCHEMA), 1)
    assert _edges(spark, catalog, "edges") == _batch_build(
        spark, BATCH_A + BATCH_B
    )
