"""Round-6 auxiliary measurements (bench.py is FROZEN for the driver;
everything exploratory lives here).

Modes:
  --ivf      DataFrame-build / plan / execute split for ann_ivf_topk
  --ktruss   per-round peel profile (edge counts + wall) for kg_ktruss's graph
  --local N  single-process kernel wall over N sf0.1 docs (native vs python)

Each mode prints one JSON line. Used for the numbers quoted in
OPTIMIZATION_r06.md; none of this is on the driver's measurement path.
Per-stage timings of the crawl pipeline come from
``python kgbench/run.py --workload crawl_build --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _session():
    from deepex_spark.session import build_session

    spark = build_session(
        app_name="deepex-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def run_ivf() -> dict:
    from pyspark.sql import functions as F

    from deepex_spark.operators.ann import ivf_search

    spark = _session()
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb.count()
    t0 = time.time()
    df = ivf_search(emb, F.col("vec_id") < 5, k_centroids=8, nprobe=3, topk=3, seed=733)
    t1 = time.time()
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    n = df.count()
    t3 = time.time()
    again = ivf_search(emb, F.col("vec_id") < 5, k_centroids=8, nprobe=3, topk=3, seed=733).count()
    t4 = time.time()
    spark.stop()
    return {"metric": "ivf_split_sec", "value": round(t3 - t0, 3), "unit": "sec",
            "queries": {"build": round(t1 - t0, 3), "plan": round(t2 - t1, 3),
                        "execute": round(t3 - t2, 3), "repeat": round(t4 - t3, 3)},
            "rows": n, "rows_repeat": again}


def run_ktruss_profile(k: int = 8, n_rounds: int = 3) -> dict:
    from pyspark.sql import functions as F

    import deepex_spark.operators.graph as G
    import deepex_spark.queries as Q

    spark = _session()
    live = G._undirected(
        Q._part_cooccurrence_edges(spark, SF_DIR), "src", "dst"
    ).localCheckpoint(eager=True)
    thr = max(k - 2, 1)
    rounds = []
    n0 = live.count()
    # replicate the recount-per-round reference shape to expose the
    # removal profile that motivates the hybrid in operators/graph.py
    for r in range(n_rounds):
        t0 = time.time()
        keep = (
            live.join(G._truss_support(live), ["a", "b"], "left")
            .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
            .where(F.col("support") >= thr)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n1 = keep.count()
        rounds.append({"round": r, "live": n0, "kept": n1,
                       "removed": n0 - n1, "sec": round(time.time() - t0, 1)})
        live, n0 = keep, n1
    spark.stop()
    return {"metric": "ktruss_round_profile", "value": rounds[-1]["kept"],
            "unit": "edges", "rounds": rounds}


def run_local(n_docs: int = 300) -> dict:
    import pandas as pd

    from deepex_spark.config import DeepExConfig
    from deepex_spark.local_oracle import local_candidates

    df = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    pages = list(zip(df["doc_id"].astype(str), df["text"]))[:n_docs]
    cfg = DeepExConfig.small()
    t0 = time.time()
    rows = local_candidates(pages, cfg)
    native = round(time.time() - t0, 2)
    return {"metric": "local_kernel_sec", "value": native, "unit": "sec",
            "n_docs": n_docs, "n_candidates": len(rows),
            "native_kernel": True}


if __name__ == "__main__":
    if "--ivf" in sys.argv:
        print(json.dumps(run_ivf()))
    elif "--ktruss" in sys.argv:
        print(json.dumps(run_ktruss_profile()))
    elif "--local" in sys.argv:
        i = sys.argv.index("--local")
        n = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 300
        print(json.dumps(run_local(n)))
    else:
        sys.exit(__doc__)
