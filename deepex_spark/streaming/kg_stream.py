"""Micro-batch KG maintenance: fold a batch of extracted triples into the
snapshot catalog, exactly once per batch id.

``batch_edges`` aggregates one batch of triples into the edge-table
schema; ``fold_batch`` returns a ``fold(batch_df, batch_id)`` function
that merges that delta into the live table and publishes a snapshot
through ``operators/graph.py::fold_snapshot``, the commit path
``jobs/maintain_kg.py`` uses too. Both are batch bodies: the caller
decides when a batch is ready and which id it carries.

Exactly once: the publish is idempotent per ``run_id =
<prefix>-<batch_id>``. Folding the same batch id a second time (a
replay after a crash between the publish and the caller's own
bookkeeping) finds the run_id already published and skips the merge,
so a batch cannot be applied twice; tests/test_streaming_kg.py replays
one to check it.

Correctness contract (same as jobs/maintain_kg.py): batches must be
doc-disjoint, i.e. each docid's triples arrive in exactly one batch.
Under it, fold(fold(S0, A), B) == build(A ∪ B) for every edge statistic,
which the tests assert against a single-shot batch build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_edges(triples: DataFrame) -> DataFrame:
    """Aggregate one micro-batch of (docid, subj, rel, obj, score) rows
    into the merge_edges schema. Scores are rounded to 9 dp exactly as
    ``operators/graph.py::build_edges`` does, so folds and batch
    rebuilds agree to the documented tolerance."""
    return triples.groupBy(
        F.col("subj").alias("subj_id"),
        F.col("obj").alias("obj_id"),
        F.col("rel").alias("pred_id"),
        F.col("rel").alias("pred_canon"),
    ).agg(
        F.count("*").alias("n_evidence"),
        F.countDistinct("docid").alias("n_docs"),
        F.round(F.max("score"), 9).alias("max_score"),
        F.round(F.sum("score"), 9).alias("sum_score"),
        F.min("docid").alias("sample_docid"),
    )


def fold_batch(catalog, table: str, run_prefix: str = "stream"):
    """Return ``fold(batch_df, batch_id)``, closing over the catalog: it
    folds one batch into ``table`` and publishes it as run
    ``<run_prefix>-<batch_id>`` through ``graph.fold_snapshot``, or skips
    a batch id already published."""
    from deepex_spark.operators.graph import fold_snapshot

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_snapshot(batch_df.sparkSession, catalog, table, f"{run_prefix}-{batch_id}",
                      lambda _existing: batch_edges(batch_df))

    return fold
