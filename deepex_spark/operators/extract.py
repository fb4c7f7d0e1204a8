"""Fused extraction stage: sentences -> candidate triples.

One ``mapInPandas`` over the sentences DataFrame runs the whole per-sentence
kernel (tokenize -> mentions -> align -> attention -> beam search -> triple
assembly -> per-sentence dedup; reference stage-0, ``scripts/generator.py`` +
``src/deepex/model/kgm.py``). The stage is embarrassingly parallel — zero
shuffles; the attention matrix never leaves the executor; Arrow batches
replace the reference's 2048-example model batches.

Output ``candidates`` schema mirrors SURVEY.md D9: one row per deduplicated
per-sentence triple with [freq, cum_score, spans, cum_attended_len, offset]
plus ``cand_rank`` (the position the reference's OrderedDict ranking gave
it — needed for faithful tie-breaking downstream).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deepex_spark.config import DeepExConfig

CANDIDATE_SCHEMA = StructType(
    [
        StructField("docid", StringType()),
        StructField("sent_pos", IntegerType()),
        StructField("sent_offset", IntegerType()),
        StructField("sent_text", StringType()),
        StructField("triple_key", StringType()),
        StructField("subj", StringType()),
        StructField("rel", StringType()),
        StructField("obj", StringType()),
        # spans as four plain INTs (not 2-elem arrays): less Arrow object
        # churn per candidate and a narrower shuffle row
        StructField("subj_s", IntegerType()),
        StructField("subj_e", IntegerType()),
        StructField("obj_s", IntegerType()),
        StructField("obj_e", IntegerType()),
        StructField("freq", LongType()),
        StructField("score", DoubleType()),
        StructField("attended_len", LongType()),
        StructField("cand_rank", IntegerType()),
        # contrastive distances for the forward and reversed emission,
        # computed HERE (same Python stage as the kernel) so the pipeline
        # has exactly ONE Python stage — chaining a second mapInPandas
        # doubles the python-worker count per core and thrashes at full
        # saturation. Null when rerank is off.
        StructField("dis_fwd", DoubleType()),
        StructField("dis_rev", DoubleType()),
    ]
)

_COLUMNS = [f.name for f in CANDIDATE_SCHEMA.fields]

# The Python stage returns ONE row per sentence (struct-of-arrays over its
# candidates) and the JVM explodes it: the per-sentence fields — docid and
# the full sentence text, ~60% of the candidate-row bytes — cross the
# python->JVM Arrow boundary once per sentence instead of once per
# candidate (~8x fewer string bytes on webtext; that hop is the
# syscall-bound term at full-core saturation, BENCH/BASELINE.md).
_PER_CAND = [
    "triple_key", "subj", "rel", "obj", "subj_s", "subj_e", "obj_s", "obj_e",
    "freq", "score", "attended_len", "cand_rank", "dis_fwd", "dis_rev",
]

def _schemas(with_sent_text: bool, with_triple_key: bool):
    """(nested schema, per-candidate field list, flat column list) for the
    configured output width. sent_text and triple_key are derivable string
    payload (config.py emit_* knobs) — dropping them shrinks the python->JVM
    Arrow boundary and every downstream shuffle row."""
    per_cand = [c for c in _PER_CAND if with_triple_key or c != "triple_key"]
    per_sent = ["docid", "sent_pos", "sent_offset"] + (
        ["sent_text"] if with_sent_text else []
    )
    by_name = {f.name: f for f in CANDIDATE_SCHEMA.fields}
    nested = StructType(
        [by_name[c] for c in per_sent]
        + [StructField(c, ArrayType(by_name[c].dataType)) for c in per_cand]
    )
    return nested, per_cand, per_sent + per_cand


NESTED_SCHEMA, _, _ = _schemas(True, True)

_NESTED_COLUMNS = [f.name for f in NESTED_SCHEMA.fields]


# Plan-estimated sentence bytes one kernel task carries. Every Python task
# pays a fixed worker set-up whatever its row count: 2-3 ms CPU on a worker
# forked from ``deepex_spark.pyworker`` (local masters), 0.3-0.45 s under
# Spark's own daemon, whose workers keep pyspark.zip, the py4j zip and the
# spark-core jar on their path, so each task's ``importlib.invalidate_caches()``
# re-reads all three archives (CPython 3.11, PySpark 4.1; trivial 16-task
# pandas-UDF jobs, 4-core x86 host). The kernel (DeepExConfig.task(),
# native beam walks, rerank distances) works through ~17 KB/s of the
# optimizer's size estimate per core: 1,769 crawl sentences, estimated at
# 20,628 B, in 1.2 s single-threaded. 64 KiB is ~3.8 s of kernel work per
# task, so even the 0.45 s set-up stays under a tenth of it; it was sized
# before workers started warm.
_KERNEL_BYTES_PER_TASK = 64 << 10


def kernel_partitions(sentences: DataFrame) -> int:
    """Round-robin partition count for the kernel stage, sized from the
    optimizer's estimate for ``sentences`` (no job runs). At least
    defaultParallelism, so every core works; at most 8 task waves, not 2:
    with coarse tasks a single slowed core (steal burst, thermal throttle,
    straggler node) stretches the final wave by a whole task, and finer
    tasks let the scheduler route around it. An unknown size (an RDD-backed
    input is estimated at ``spark.sql.defaultSizeInBytes``) takes the
    ceiling."""
    dp = sentences.sparkSession.sparkContext.defaultParallelism
    size = int(sentences._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return max(dp, min(8 * dp, -(-size // _KERNEL_BYTES_PER_TASK)))


def extract_candidates(
    sentences: DataFrame, cfg: DeepExConfig, repartition: bool = True
) -> DataFrame:
    """sentences(docid, sent_pos, sent_offset, sent_text) -> candidates.

    The input is rebalanced across the cluster before the kernel: a small
    file count (or skewed upstream layout) must not serialize the CPU-bound
    stage. Round-robin repartition also spreads long-document hot spots.

    ``repartition=False`` skips the exchange — pass it when the caller
    already placed one (``normalize_pages`` with ``cfg.repartition_by_url``
    hashes pages by url upstream; a second round-robin here would double
    the exchange count and undo the url colocation).
    """
    from pyspark.sql import functions as F

    if repartition:
        n_parts = cfg.repartition_by_url or kernel_partitions(sentences)
        sentences = sentences.repartition(n_parts)

    compute_dis = cfg.rerank_sorted
    if compute_dis:
        from deepex_spark.operators.rerank import require_symmetric_encoder

        require_symmetric_encoder(cfg)
    with_text = cfg.emit_sent_text
    with_key = cfg.emit_triple_key
    nested_schema, per_cand, flat_cols = _schemas(with_text, with_key)
    nested_cols = [f.name for f in nested_schema.fields]
    # tuple order from process_sentence_tuples: docid, sent_offset,
    # sent_text, then _PER_CAND fields minus the distances; slice off the
    # per-sentence prefix (and triple_key when slimmed)
    cand_lo = 3 if with_key else 4

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imports inside the task so executors resolve them locally
        from deepex_spark.kernel.sentence_kernel import process_sentence_tuples
        from deepex_spark.nlp.attention import get_attention_provider
        from deepex_spark.operators.rerank import candidate_distances

        provider = get_attention_provider(cfg)
        sent_cache: dict = {}
        for pdf in batches:
            rows: list[tuple] = []
            for docid, pos, off, text in zip(
                pdf["docid"], pdf["sent_pos"], pdf["sent_offset"], pdf["sent_text"]
            ):
                ts = process_sentence_tuples(docid, int(off), text, cfg, provider)
                if not ts:
                    continue
                cols = list(zip(*ts))[cand_lo:]
                if compute_dis:
                    dis = [
                        candidate_distances(t[2], t[4], t[5], t[6], cfg.encoder_dim, sent_cache)
                        for t in ts
                    ]
                    dis_fwd = [d[0] for d in dis]
                    dis_rev = [d[1] for d in dis]
                else:
                    dis_fwd = [None] * len(ts)
                    dis_rev = [None] * len(ts)
                rows.append(
                    (docid, int(pos), int(off))
                    + ((text,) if with_text else ())
                    + tuple(list(c) for c in cols)
                    + (dis_fwd, dis_rev)
                )
            yield pd.DataFrame(rows, columns=nested_cols)

    nested = sentences.mapInPandas(run, schema=nested_schema)
    # JVM-side explode back to one row per candidate (codegen'd Generate)
    zipped = F.arrays_zip(*[F.col(c) for c in per_cand])
    per_sent = ["docid", "sent_pos", "sent_offset"] + (["sent_text"] if with_text else [])
    return nested.select(*per_sent, F.inline(zipped)).select(*flat_cols)
