"""spark-submit entry point: incremental KG maintenance.

Folds a DELTA vertices/edges build (a ``build_kg.py`` run over a NEW,
doc-disjoint crawl batch) into the live KG and publishes the result as a
new catalog SNAPSHOT — the previous graph version stays readable while
(and after) the merge lands (write-audit-publish; see
``plans/catalog.py::write_snapshot``):

    zip -r deepex_spark.zip deepex_spark
    spark-submit --py-files deepex_spark.zip jobs/maintain_kg.py \\
        --catalog /warehouse/kg --delta /warehouse/kg_batch42 \\
        --run-id merge42

Correctness contract: batches must be doc-disjoint (the catalog resume
manifest guarantees each docid is processed by exactly one run), under
which ``merge(build(A), build(B)) == build(A ∪ B)`` for every vertex and
edge statistic (pinned by tests/test_graph_merge.py). The merge itself is
one groupBy per table on the entity/edge key: the union of the live
table and the delta is partially aggregated, then shuffled once, never
rebuilt from old batches' triples.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _sweep_stale_root(catalog, table: str) -> None:
    """After a table is snapshot-versioned, the pre-migration plain
    layout (root parquet files / bucket= dirs) is dead weight: read()
    serves the current _vN and write() refuses plain writes. OPT-IN
    (``--sweep-stale-root``): deleting it mid-flight breaks readers that
    planned against the root layout before the migration — run the sweep
    in a quiet window like any retention job. Best-effort: a failure
    costs storage, never correctness."""
    import shutil

    base = catalog.path(table)
    if not os.path.isdir(base):
        return
    for entry in os.listdir(base):
        if entry.startswith("_v") or entry.startswith("."):
            continue
        p = os.path.join(base, entry)
        try:
            shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)
        except OSError:
            pass


def maintain(spark, catalog, delta_catalog, run_id: str = "merge", sweep_stale: bool = False):
    """Merge delta vertices/edges into the live KG and publish one new
    snapshot per table, both through ``graph.fold_snapshot``. Returns
    {table: (version, row_count)}; a live catalog without either table
    raises ``ValueError``.

    IDEMPOTENT per (table, run_id): ``write_snapshot`` re-checks the
    run_id INSIDE its publish lock (and the manifest retains run_ids
    past snapshot expiry), so a retried job — including the recovery
    retry after a partial failure that published vertices but died
    before edges, and even a retry racing the original — can never
    re-merge the delta and double-count statistics. Recovery protocol:
    re-run with the SAME --run-id until both tables report it. The skip
    path reports the version that run_id actually published, not
    whatever is current."""
    from deepex_spark.operators.graph import (
        fold_snapshot,
        merge_edges,
        merge_vertices,
        with_edge_bucket,
        with_vertex_bucket,
    )

    report = {}
    merges = {
        "vertices": lambda e, d, run_id: with_vertex_bucket(merge_vertices(e, d, run_id=run_id)),
        "edges": lambda e, d, run_id: with_edge_bucket(merge_edges(e, d, run_id=run_id)),
    }
    for table, merge in merges.items():
        if not catalog.exists(table):
            # a missing live table would publish the delta alone as the KG
            raise ValueError(f"live catalog has no {table!r} table to merge into")
        v = fold_snapshot(spark, catalog, table, run_id,
                          lambda _existing: delta_catalog.read(spark, table), merge)
        if sweep_stale:
            _sweep_stale_root(catalog, table)
        report[table] = (v, catalog.read_snapshot(spark, table, version=v).count())
    return report


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--catalog", required=True, help="live KG catalog base dir")
    p.add_argument("--delta", required=True, help="catalog dir of the delta batch build")
    p.add_argument("--output-format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--run-id", default="merge")
    p.add_argument(
        "--sweep-stale-root",
        action="store_true",
        help="delete the pre-migration plain layout after publishing "
        "(storage reclaim; breaks readers still planned against it — run "
        "in a quiet window)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.session import build_session

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session(app_name=f"deepex-kg-maintain-{args.run_id}")
    t0 = time.time()
    report = maintain(
        spark,
        Catalog(args.catalog, fmt=args.output_format),
        Catalog(args.delta, fmt=args.output_format),
        run_id=args.run_id,
        sweep_stale=args.sweep_stale_root,
    )
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "vertices_version": report["vertices"][0],
                "n_vertices": report["vertices"][1],
                "edges_version": report["edges"][0],
                "n_edges": report["edges"][1],
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
