"""Distillation stage (O19-O23): candidates -> doc-sorted triples.

Pure DataFrame ops re-expressing reference ``src/deepex/model/distillation.py
deduplicate_for_eval_fast`` (lines 119-196):

* ranking score attach per dedup_ranking_type (``distillation.py:55-78``;
  the task default 'score_len' = cum_score / cum_attended_len);
* split of the '[SEP]'-joined key (already exploded into subj/rel/obj
  columns by the kernel, same strings as ``distillation.py:104-109``);
* relation non-ASCII scrub + drop-if-empty (``distillation.py:100-113``);
* forward AND reversed triple emission — the reverse is a column-swapped
  projection, faithful to ``distillation.py:113-117``;
* '$input_txt:$ ' sentence prefix (``kgm.py:210``);
* per-doc sort by score desc (``distillation.py:188-189``) — the
  reference's Python stable sort tie-order (sentence order, candidate rank,
  forward-before-reverse) is made explicit so results are invariant to
  partitioning;
* the ``existstriplet`` doc-level dedup is DEAD CODE in the reference
  (defined at ``distillation.py:122-136`` but never invoked by the merge
  loop at ``:190-195``) — faithfully NOT applied: all fwd+rev triples
  survive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from deepex_spark.config import DeepExConfig

SENT_PREFIX = "$input_txt:$ "


def rank_score_col(dedup_ranking_type: str) -> Column:
    f, s, a = F.col("freq"), F.col("score"), F.col("attended_len")
    if dedup_ranking_type == "freq":
        return f.cast("double")
    if dedup_ranking_type == "score":
        return s
    if dedup_ranking_type == "score_freq":
        return s / f
    if dedup_ranking_type == "score_freq_len":
        return s / (f * F.size(F.split(F.trim(F.col("triple_key")), " ")))
    if dedup_ranking_type == "score_len":
        return s / a
    raise ValueError("support (freq, score, score_freq, score_freq_len, score_len)")


def distill_project(candidates: DataFrame, cfg: DeepExConfig) -> DataFrame:
    """Narrow part of distillation: rank-score attach, scrub, fwd+rev
    emission — NO window. Kept separate so the rerank UDF can run before
    any exchange (one docid shuffle then serves both window sorts)."""
    if cfg.dedup_ranking_type == "score_freq_len" and "triple_key" not in candidates.columns:
        raise ValueError(
            "dedup_ranking_type='score_freq_len' needs triple_key — set "
            "emit_triple_key=True in DeepExConfig"
        )
    has_text = "sent_text" in candidates.columns  # off when cfg.emit_sent_text=False
    base = (
        candidates.withColumn("rank_score", rank_score_col(cfg.dedup_ranking_type))
        .withColumn("rel_scrub", F.trim(F.regexp_replace("rel", r"[^\x00-\x7F]+", " ")))
        .filter(F.length("rel_scrub") > 0)
    )
    if has_text:
        base = base.withColumn("sentence", F.concat(F.lit(SENT_PREFIX), F.col("sent_text")))
    # Forward + reverse emitted in ONE pass: a union of two projections
    # would duplicate the (expensive) kernel subtree in the physical plan,
    # running extraction twice; explode(array(fwd, rev)) keeps it a single
    # narrow map stage.
    # contrastive distances ride along from the kernel stage when computed
    # there (one fused Python stage; see extract.py CANDIDATE_SCHEMA)
    has_dis = "dis_fwd" in candidates.columns
    dis_fwd = F.col("dis_fwd") if has_dis else F.lit(None).cast("double")
    dis_rev = F.col("dis_rev") if has_dis else F.lit(None).cast("double")
    directions = F.explode(
        F.array(
            F.struct(
                F.col("subj").alias("subj"),
                F.col("subj_s").alias("subj_s"),
                F.col("subj_e").alias("subj_e"),
                F.col("obj").alias("obj"),
                F.col("obj_s").alias("obj_s"),
                F.col("obj_e").alias("obj_e"),
                F.lit(0).alias("is_rev"),
                dis_fwd.alias("contrastive_dis"),
            ),
            F.struct(
                F.col("obj").alias("subj"),
                F.col("obj_s").alias("subj_s"),
                F.col("obj_e").alias("subj_e"),
                F.col("subj").alias("obj"),
                F.col("subj_s").alias("obj_s"),
                F.col("subj_e").alias("obj_e"),
                F.lit(1).alias("is_rev"),
                dis_rev.alias("contrastive_dis"),
            ),
        )
    )
    sent_cols = ["sentence"] if has_text else []
    out = base.select(
        F.col("docid"),
        F.col("rel_scrub").alias("rel"),
        *[F.col(c) for c in sent_cols],
        F.col("rank_score").alias("score"),
        F.col("sent_offset").alias("offset"),
        F.col("sent_pos"),
        F.col("cand_rank"),
        directions.alias("d"),
    ).select("docid", "d.subj", "d.subj_s", "d.subj_e", "rel", "d.obj",
             "d.obj_s", "d.obj_e", *sent_cols, "score", "offset", "sent_pos",
             "cand_rank", "d.is_rev", "d.contrastive_dis")
    return out if has_dis else out.drop("contrastive_dis")


def with_doc_rank(tri: DataFrame) -> DataFrame:
    """Per-doc sort (distillation.py:188-189) with the explicit tie order."""
    w = Window.partitionBy("docid").orderBy(
        F.desc("score"), F.asc("sent_pos"), F.asc("cand_rank"), F.asc("is_rev")
    )
    return tri.withColumn("doc_rank", F.row_number().over(w))


def distill_triples(candidates: DataFrame, cfg: DeepExConfig) -> DataFrame:
    """candidates -> triples with both directions and a per-doc rank."""
    return with_doc_rank(distill_project(candidates, cfg))


def corpus_dedup(candidates: DataFrame, cfg: DeepExConfig, topk_per_sentence: int | None = 100) -> DataFrame:
    """Corpus-level triple aggregation (``Distillation.deduplicate``,
    distillation.py:80-98): per-sentence top-k candidates merged across the
    whole corpus by triple key, accumulating [freq, score], ranked by the
    dedup ranking type. The canonical Spark hash aggregate."""
    if "triple_key" not in candidates.columns:
        raise ValueError(
            "corpus_dedup groups by triple_key — set emit_triple_key=True "
            "in DeepExConfig (it is off in the slimmed bench configs)"
        )
    c = candidates
    if topk_per_sentence is not None:
        w = Window.partitionBy("docid", "sent_offset").orderBy(F.asc("cand_rank"))
        c = c.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= topk_per_sentence
        ).drop("_rn")
    agg = c.groupBy(F.trim(F.col("triple_key")).alias("triple_key")).agg(
        F.sum("freq").alias("freq"),
        F.sum("score").alias("score"),
        F.sum("attended_len").alias("attended_len"),
    )
    return agg.withColumn("rank_score", rank_score_col(cfg.dedup_ranking_type)).orderBy(
        F.desc("rank_score"), F.asc("triple_key")
    )


def threshold_filter(triples: DataFrame, score_thres: float = 0.005, len_thres: int = 2048) -> DataFrame:
    """O24 — ``Thresholding`` (scripts/ranking.py:12-24). NOTE: defined but
    NEVER INVOKED by the reference's ranking main (ranking.py:26-56, dead
    code); provided for API completeness and NOT applied by the pipeline —
    applying it would change the P/R-matched output."""
    return triples.filter(
        (F.col("score") >= score_thres)
        & (F.size(F.split(F.col("rel"), " ")) <= len_thres)
    )
