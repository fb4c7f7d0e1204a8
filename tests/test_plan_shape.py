"""Plan-shape guards: exchange counts the 100-TB design depends on.

These assert on the OPTIMIZED LOGICAL plan (stable node names, no AQE
rewriting) so the guarantees survive Spark version/AQE churn:
exactly ONE repartition reaches the kernel stage whether the url-hash
exchange is configured or not.
"""

from dataclasses import replace

from deepex_spark.config import DeepExConfig


def _pages(spark, n=6):
    rows = [(f"http://x/{i}", f"Obama lives in Hawaii number {i}.") for i in range(n)]
    return spark.createDataFrame(rows, "url string, text string")


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _count(plan: str, token: str) -> int:
    return plan.count(token)


def test_single_exchange_before_kernel_roundrobin(spark):
    """Default config: the kernel's round-robin repartition is the only
    pre-kernel exchange."""
    from deepex_spark.functions.sentencize import sentencize
    from deepex_spark.operators.extract import extract_candidates
    from deepex_spark.pipeline import normalize_pages

    cfg = DeepExConfig.small()
    assert not cfg.repartition_by_url
    cand = extract_candidates(sentencize(normalize_pages(_pages(spark), cfg)), cfg)
    plan = _logical_plan(cand)
    assert _count(plan, "Repartition") == 1, plan


def test_single_exchange_with_url_hash_partitioning(spark):
    """repartition_by_url set: normalize_pages' url-hash exchange is the
    only one — the kernel stage must NOT add a second round-robin."""
    from deepex_spark.pipeline import extract_triples

    cfg = replace(DeepExConfig.small(), repartition_by_url=8)
    triples = extract_triples(_pages(spark), cfg, rerank=False)
    plan = _logical_plan(triples)
    assert _count(plan, "RepartitionByExpression") == 1, plan
    # and no residual round-robin Repartition on top of it
    assert _count(plan, "Repartition ") == 0, plan

    # output parity: skipping the second exchange must not change results
    cfg_rr = DeepExConfig.small()
    a = {tuple(r) for r in extract_triples(_pages(spark), cfg, rerank=False)
         .select("docid", "subj", "rel", "obj", "score").collect()}
    b = {tuple(r) for r in extract_triples(_pages(spark), cfg_rr, rerank=False)
         .select("docid", "subj", "rel", "obj", "score").collect()}
    assert a == b


def test_pr_curve_window_runs_over_preaggregate(spark, tmp_path):
    """The registered o30_pr_curve must carry the scale-safe shape: the
    global (un-partitioned) cumulative window consumes the DISTINCT-score
    Aggregate, never the raw prediction rows — so the single-reducer input
    is |distinct scores|, bounded regardless of corpus size."""
    import pandas as pd

    from deepex_spark.queries import REGISTRY

    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "user_id": [1, 1, 2, 2],
            "event_type": ["click", "view", "click", "view"],
            "value": [0.9, 0.9, 0.5, 0.1],
        }
    ).to_parquet(sf / "events.parquet", index=False)
    df = REGISTRY["o30_pr_curve"].spark_fn(spark, str(sf))
    plan = _logical_plan(df)
    # Window directly above Aggregate: the Aggregate line must appear, and
    # every Window node must come BEFORE (above) it with no second Window
    # below the Aggregate reading raw rows
    assert "Window" in plan and "Aggregate" in plan, plan
    assert plan.index("Window") < plan.index("Aggregate"), plan
    assert plan.count("Window [") == 1, plan
    # ties are indivisible: one output row per distinct score
    rows = {tuple(r) for r in df.collect()}
    assert rows == {(0.9, 2, 1), (0.5, 3, 2), (0.1, 4, 2)}


def test_kg_adjacency_single_exchange(spark):
    """Serving-layer adjacency export: the explicit src repartition must
    satisfy the triple distinct, the row_number window and the final
    groupBy (subset rule) — exactly ONE hash exchange in the executed
    plan, and the neighbor collect must be the bounded conditional form
    (no unbounded collect below a filter)."""
    from deepex_spark.queries import REGISTRY

    df = REGISTRY["kg_adjacency"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scd2_history_single_exchange(spark):
    """Temporal fold: one entity-key exchange serves the (key, ts) dedup
    aggregate and both windows (see also tests/test_temporal.py)."""
    from deepex_spark.queries import REGISTRY

    df = REGISTRY["kg_edge_history"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_skipgram_epoch_single_aggregate_no_join(spark):
    """Epoch 1 of the embedding trainer must stay join-free (hash-init
    parameters are computed in place) with exactly ONE aggregate — the
    (side, node, j) integer gradient sum. A Join or second Aggregate
    here means the parameter-server read leaked into the hash path."""
    from deepex_spark.operators.kgq import hash_embedding, skipgram_epoch

    pos = spark.createDataFrame(
        [(1, 2, 3)], ["center", "context", "n_pairs"]
    )
    neg = spark.createDataFrame([(2, 3)], ["center", "context"])
    out = skipgram_epoch(
        pos, neg, hash_embedding("e"), hash_embedding("c"), dim=4
    )
    plan = _logical_plan(out)
    assert _count(plan, "Join") == 0, plan
    assert _count(plan, "Aggregate") == 1, plan


def test_html_page_text_no_exchange(spark):
    """HTML→text extraction must be a pure row-local projection — no
    Join, Aggregate, or Repartition may appear; at 100 TB it runs
    entirely inside the scan stage."""
    from deepex_spark.operators.urls import extract_page_text

    pages = spark.createDataFrame(
        [("u1", bytearray(b"<p>x</p>"))], ["url", "html"]
    )
    plan = _logical_plan(extract_page_text(pages))
    for token in ("Join", "Aggregate", "Repartition", "Sort"):
        assert _count(plan, token) == 0, (token, plan)


def test_kernel_stage_sized_from_plan_estimate(spark, tmp_path):
    """The kernel's round-robin partition count comes from the optimizer's
    size estimate: a tiny input gets one task per core, an input of
    unknown size (RDD-backed) the 8-wave ceiling."""
    import re

    from deepex_spark.functions.sentencize import sentencize
    from deepex_spark.operators.extract import extract_candidates
    from deepex_spark.pipeline import normalize_pages

    cfg = DeepExConfig.small()
    dp = spark.sparkContext.defaultParallelism
    _pages(spark).write.parquet(str(tmp_path / "pages"))
    tiny = spark.read.parquet(str(tmp_path / "pages"))
    unknown = spark.sparkContext.parallelize(
        [(f"http://x/{i}", f"Obama lives in Hawaii number {i}.") for i in range(6)]
    ).toDF("url string, text string")
    for pages, want in ((tiny, dp), (unknown, 8 * dp)):
        cand = extract_candidates(sentencize(normalize_pages(pages, cfg)), cfg)
        n_parts = re.search(r"Repartition (\d+), true", _logical_plan(cand)).group(1)
        assert int(n_parts) == want


def test_front_end_is_one_python_node(spark):
    """The html fallback, paren blanking and sentencize's reconstruct arm run
    in ONE ArrowEvalPython node: Spark gives every such node its own Python
    worker per task, so three nodes held three workers per core. The kernel
    stage is the plan's only other Python node."""
    from deepex_spark.pipeline import extract_triples

    rows = [
        (f"http://x/{i}", None if i % 2 else f"Obama (x) lives in Hawaii number {i}.",
         bytearray(b"<p>Paris is in France.</p>"))
        for i in range(6)
    ]
    pages = spark.createDataFrame(rows, "url string, text string, html binary")
    for cfg in (DeepExConfig.small(), replace(DeepExConfig.small(), repartition_by_url=4)):
        plan = extract_triples(pages, cfg)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert plan.count("MapInPandas") == 1, plan


def test_broadcast_link_plans_no_shuffle(spark):
    """link_triples(strategy="broadcast") dedupes alias_entity_table's
    one-partition dimension in the task that builds its broadcast: the plan
    has no shuffle exchange."""
    from deepex_spark.operators.linking import alias_entity_table, link_triples

    tri = spark.createDataFrame(
        [("d1", "Barack Obama", "was born in", "Hawaii", 0.9)],
        "docid string, subj string, rel string, obj string, score double",
    )
    aliases = {f"alias {i}": f"E{i}" for i in range(100)}
    alias = alias_entity_table(spark, aliases)
    plan = link_triples(tri, alias, strategy="broadcast")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 1, plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
    # a dimension spread over partitions (one mined from the crawl) keeps
    # its dedup across all of them, over a hash exchange on the alias
    spread = spark.createDataFrame(list(aliases.items()), "alias string, canonical string")
    assert spread.rdd.getNumPartitions() > 1
    plan = link_triples(tri, spread, strategy="broadcast")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(_alias" in plan, plan


def test_triangle_closing_join_hashes_the_edge_table(spark):
    """_triangles, shared by every triangle consumer, hashes the oriented
    edge table (o3) against the wedge stream in the closing join, and
    leaves the wedge join (o1 with o2, both the edge table) to the
    planner."""
    from deepex_spark.operators.graph import _degrees, _oriented, _triangles

    und = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "a long, b long")
    plan = _logical_plan(_triangles(_oriented(und, _degrees(und))))
    closing, wedge = [ln for ln in plan.splitlines() if "Join Inner" in ln][:2]
    assert "(lo" in closing and "(lo" in wedge, plan
    assert closing.endswith(", rightHint=(strategy=shuffle_hash)"), plan
    assert plan.count("Hint=") == 1, plan  # neither o1 nor o2 is hinted
