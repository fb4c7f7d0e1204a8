"""End-to-end composable pipeline API.

Mirrors the reference's library entry point ``predict_and_save_results``
(``src/deepex/model/kgm.py:535-647``) + the stage chain of
``scripts/manager.py`` as ONE declarative DataFrame program:

    pages -> normalize (O2) -> sentences (O3) -> extract (O5-O19, fused
    Arrow kernel) -> distill (O20-O23) -> rerank (O25) -> top-k (O26)

Each stage returns a DataFrame; ``extract_triples`` is the one-call API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepex_spark.config import DeepExConfig
from deepex_spark.functions.sentencize import explode_sentences, prepare_docs
from deepex_spark.operators.distill import distill_triples
from deepex_spark.operators.extract import extract_candidates
from deepex_spark.operators.rerank import rerank_triples


def _front_end(pages: DataFrame, cfg: DeepExConfig, mode: str) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (docid, text, long_pieces):
    the byte-identical reference normalization chain and the reconstruct
    arm of sentencize ``mode``, in ONE Python node (``prepare_docs``). The
    docid is the url (web path) — callers with numeric ids zero-pad
    upstream."""
    docid = "url" if "url" in pages.columns else "docid"
    html = "html" if "html" in pages.columns else None
    docs = prepare_docs(
        pages, docid, "text", html, normalize=True, mode=mode,
        scan_max_len=cfg.sentencize_scan_max_len,
    )
    # NOTE on input layout (guide §6): the normalize/sentencize front end
    # runs at SCAN parallelism — a corpus delivered as fewer splits than
    # cores (one small parquet file at bench scale) runs it on few cores
    # until the sentence-level rebalance in extract_candidates. That is
    # an input-layout concern, fixed where the guide says to fix it
    # (file sizing / spark.sql.files.{maxPartitionBytes,minPartitionNum}),
    # NOT with an extra exchange here: an unconditional doc-level
    # repartition was measured to cost ~1.5-2 s per sf0.1 run (extra AQE
    # stage + plan-side partition probe) against a front end that is
    # cheap O(bytes) regex work — the expensive O(beam) kernel is already
    # rebalanced at sentence granularity downstream.
    if cfg.repartition_by_url:
        docs = docs.repartition(cfg.repartition_by_url, F.xxhash64("docid"))
    return docs


def normalize_pages(pages: DataFrame, cfg: DeepExConfig) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (docid, text) with the
    byte-identical reference normalization chain applied."""
    return _front_end(pages, cfg, "scan").select("docid", "text")


def extract_triples(pages: DataFrame, cfg: DeepExConfig, rerank: bool | None = None) -> DataFrame:
    """Full pipeline: normalized pages/documents -> ranked triples."""
    from dataclasses import replace as _replace

    from deepex_spark.operators.distill import distill_project, with_doc_rank

    do_rerank = cfg.rerank_sorted if rerank is None else rerank
    cfg = _replace(cfg, rerank_sorted=do_rerank)
    mode = cfg.sentencize_offsets
    sentences = explode_sentences(_front_end(pages, cfg, mode), mode)
    # ONE Python stage: the kernel also computes the contrastive distances
    # (when reranking), so the docid exchange after distill_project is the
    # only shuffle and both window sorts reuse it. When repartition_by_url
    # already exchanged the pages (_front_end), skip the kernel-stage
    # round-robin — one pre-kernel exchange, never two.
    candidates = extract_candidates(
        sentences, cfg, repartition=not cfg.repartition_by_url
    )
    projected = distill_project(candidates, cfg)
    if do_rerank:
        triples = rerank_triples(with_doc_rank(projected), cfg)
    else:
        triples = with_doc_rank(projected).withColumn("rank", F.col("doc_rank"))
    return triples


def build_knowledge_graph(
    pages: DataFrame,
    cfg: DeepExConfig,
    alias_df: DataFrame | None = None,
    catalog=None,
    link_strategy: str = "broadcast",
    resolve: bool = False,
):
    """North-rule end-to-end: pages -> triples -> entity linking ->
    canonicalization [-> fuzzy entity resolution when ``resolve``] ->
    deduplicated edge/vertex tables (checkpointed via the catalog when
    given). Returns (triples, vertices, edges)."""
    import time as _time

    from deepex_spark.operators.canonicalize import canonicalize_triples
    from deepex_spark.operators.graph import build_edges, build_vertices, write_graph
    from deepex_spark.operators.linking import link_triples

    spark = pages.sparkSession
    t0 = _time.time()
    triples = extract_triples(pages, cfg)
    if catalog is not None:
        n = catalog.checkpoint(triples, "triples", bucket_col="docid", run_id=cfg.run_id)
        catalog.log_metric(spark, "triples", n, _time.time() - t0, cfg.run_id)
        triples = catalog.read(spark, "triples")
    if alias_df is not None:
        triples = link_triples(
            triples, alias_df, strategy=link_strategy, salt_buckets=cfg.salt_buckets
        )
    canon = canonicalize_triples(triples)
    if resolve:
        from deepex_spark.operators.canonicalize import resolve_entities

        canon = resolve_entities(canon)
    if catalog is None:
        return triples, build_vertices(canon, cfg.run_id), build_edges(canon, cfg.run_id)
    # both writes read canon: run link and canonicalize once for the two,
    # and drop the cache once both have ended so none outlives the call
    canon = canon.persist()
    try:
        write_graph(catalog.write, build_vertices(canon, cfg.run_id),
                    build_edges(canon, cfg.run_id))
    finally:
        canon.unpersist()
    return triples, catalog.read(spark, "vertices"), catalog.read(spark, "edges")
