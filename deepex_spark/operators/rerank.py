"""Contrastive re-ranking stage (O25/O26).

Re-expresses reference ``scripts/bert_contrastive.py:101-151``: a
dual-encoder scores each triple by the L2 distance between an embedding of
the sentence (the '$input_txt:$ ' prefix is stripped — the reference slices
``triple['sentence'][13:]`` — and the sentence is truncated to its first
100 words) and an embedding of ``str((subject, relation, object))``; each
doc's triples are then re-sorted by that distance ASCENDING. Run only in
'.sorted' mode; '.unsort' keeps beam scores (``scripts/ranking.py:44-45``).

Providers:
* surrogate (default, deterministic): L2-normalized signed-feature-hash
  bag-of-wordpieces for each side — shape-compatible with the dual-encoder
  pooling (segment-0 sum vs segment-1 sum, both L2-normalized) and fully
  vectorized in numpy over Arrow batches.
* hf: the production dual-encoder path, gated behind import-try.

Known deviation from the reference, by design: ``Reranking`` in the
reference indexes the *unsorted* triples list while batching the
*sentence-sorted* list (``bert_contrastive.py:139,147``), so distances can
be assigned to the wrong triple depending on batch boundaries. That
misalignment is a batch-size artifact, not a definable dataflow semantic;
this engine assigns each triple its own distance.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from deepex_spark.config import DeepExConfig

_PREFIX_LEN = 13  # len('$input_txt:$ ') — reference slices [13:]


import re as _re
from math import sqrt as _sqrt

_TOKEN_RE = _re.compile(r"\w+|[^\w\s]")


_token_hash_caches: dict[int, dict[str, tuple[int, float]]] = {}
# per-worker memory bound: on webtext the token vocabulary is unbounded and
# the executor Python workers are long-lived, so an uncapped memo is a slow
# leak. Entries are pure functions of the token, so a full flush (not LRU —
# no bookkeeping in the hot loop) changes nothing but recompute cost.
_TOKEN_CACHE_MAX = 1 << 18

# native accumulation loop (zlib-compatible crc32 + signed binning in C,
# kernel/_cbeam.c); the norm/divide stays in numpy so the result is
# bit-identical to the Python loop (exact ±1 integer sums are order-free).
try:
    from deepex_spark.kernel._cnative import load_cbeam as _load_cbeam

    _chash = _load_cbeam()
    if _chash is not None and not hasattr(_chash, "hash_embed"):
        _chash = None
except Exception:  # pragma: no cover - build/load failure => Python loop
    _chash = None


def _hash_embed(s: str, dim: int) -> np.ndarray:
    """Signed feature-hash bag of word/punct tokens, L2-normalized — the
    surrogate for the dual-encoder's pooled segment embedding. Tokenization
    here is the fast regex split (not the kernel's wordpiece): the encoder
    is a pluggable provider and this runs on every emitted triple, so it is
    kept deliberately cheap. The ±1 binning runs in C when available
    (identical exact-integer sums); the Python loop below is the fallback
    and the reference semantics — pinned against each other by
    tests/test_rerank_symmetry.py and by the parity goldens."""
    v = np.zeros(dim, dtype=np.float64)
    if _chash is not None:
        # tokenization + binning fused in C; the tokenizer replicates
        # re.findall(r"\w+|[^\w\s]") via CPython's own sre character
        # classes (Py_UNICODE_ISALNUM/ISSPACE) — pinned against the regex
        # in tests/test_rerank_symmetry.py
        _chash.hash_embed(v, s)
        n = _sqrt(v.dot(v))
        return v / n if n > 0 else v
    from zlib import crc32

    cache = _token_hash_caches.get(dim)
    if cache is None:
        cache = _token_hash_caches[dim] = {}
    for t in _TOKEN_RE.findall(s):
        e = cache.get(t)
        if e is None:
            if len(cache) >= _TOKEN_CACHE_MAX:
                cache.clear()
            h = crc32(t.encode("utf-8"))
            e = cache[t] = (h % dim, 1.0 if (h >> 31) & 1 else -1.0)
        v[e[0]] += e[1]
    n = _sqrt(v.dot(v))  # == np.linalg.norm for 1-D float64 (sqrt(dot))
    return v / n if n > 0 else v


def contrastive_distance_py(
    sentence: str, subj: str, rel: str, obj: str, dim: int, _sent_cache: dict | None = None
) -> float:
    if _sent_cache is not None and sentence in _sent_cache:
        text_vec = _sent_cache[sentence]
    else:
        sent = " ".join(sentence[_PREFIX_LEN:].split(" ")[:100])
        text_vec = _hash_embed(sent, dim)
        if _sent_cache is not None:
            _sent_cache[sentence] = text_vec
    trip_vec = _hash_embed(str((subj, rel, obj)), dim)
    d = text_vec - trip_vec
    return _sqrt(d.dot(d))  # == np.linalg.norm (sqrt(dot)) for 1-D float64


_NON_ASCII = _re.compile(r"[^\x00-\x7F]+")


def candidate_distances(
    sent_text: str, subj: str, rel: str, obj: str, dim: int, sent_cache: dict
) -> tuple[float, float]:
    """Distances for the forward and reversed emission of one candidate —
    exactly what the reference's reranker would compute for each of the two
    distilled triples (relation scrubbed first, as distillation emits it,
    distillation.py:100-113; sentence gets the '$input_txt:$ ' prefix).

    The reversed emission's distance is computed from the SAME embedding:
    ``str((obj, rel, subj))`` is a permutation of ``str((subj, rel, obj))``'s
    elements, the regex tokens never span element boundaries (every
    boundary char — quote, comma, space, paren — is punctuation or
    whitespace), so the token MULTISET is identical; ``_hash_embed``
    accumulates exact ±1 integers (order-free float sums) and normalizes by
    an exact integer norm, so the two embeddings — and therefore the two
    distances — are bit-identical. Verified by tests/test_rerank_symmetry
    and (historically) by every golden: dis_fwd == dis_rev on all rows."""
    rel_s = _NON_ASCII.sub(" ", rel).strip()
    sentence = "$input_txt:$ " + sent_text
    d = contrastive_distance_py(sentence, subj, rel_s, obj, dim, sent_cache)
    return (d, d)


def require_symmetric_encoder(cfg: DeepExConfig) -> None:
    """``candidate_distances`` hands the reversed emission the forward
    distance, which holds only for the surrogate hash-embedding encoder.
    Fail before any work for another encoder rather than rerank with a
    wrong distance."""
    if cfg.encoder_provider != "surrogate":
        raise NotImplementedError(
            f"rerank distances for encoder_provider={cfg.encoder_provider!r}: "
            "only the 'surrogate' encoder is symmetric under subj/obj reversal"
        )


def add_contrastive_distance(triples: DataFrame, cfg: DeepExConfig) -> DataFrame:
    dim = cfg.encoder_dim

    schema = StructType(
        triples.schema.fields + [StructField("contrastive_dis", DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}  # sentence -> embedding; many triples share a sentence
        for pdf in batches:
            pdf = pdf.copy()
            pdf["contrastive_dis"] = [
                contrastive_distance_py(s, h, r, t, dim, cache)
                for s, h, r, t in zip(pdf["sentence"], pdf["subj"], pdf["rel"], pdf["obj"])
            ]
            yield pdf

    return triples.mapInPandas(run, schema=schema)


def rerank_triples(triples: DataFrame, cfg: DeepExConfig) -> DataFrame:
    """'.sorted' mode: contrastive distance + per-doc ascending re-sort
    (bert_contrastive.py:151). Deterministic tie-breaks.

    If the distance column is already present (the pipeline computes it in
    the narrow map stage, before any exchange, so one docid shuffle serves
    both the doc_rank and rank window sorts), only the window is applied.
    """
    scored = (
        triples
        if "contrastive_dis" in triples.columns
        else add_contrastive_distance(triples, cfg)
    )
    w = Window.partitionBy("docid").orderBy(
        F.asc("contrastive_dis"),
        F.asc("sent_pos"),
        F.asc("cand_rank"),
        F.asc("is_rev"),
    )
    return scored.withColumn("rank", F.row_number().over(w))


def topk_per_doc(triples: DataFrame, k: int, order_col: str = "rank") -> DataFrame:
    """O26 — top-k per doc (evaluate_oie.py:10-20,70-71)."""
    w = Window.partitionBy("docid").orderBy(F.asc(order_col))
    return triples.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")
