"""Sentence segmentation (O3) — JVM-side for typical pages, linear
per-doc reconstruction for mega-docs.

The reference sentencizes with spaCy's rule sentencizer and records each
sentence's char offset as ``full_text.find(sentence.text)`` — the FIRST
occurrence, so duplicate sentences share the first offset (faithful quirk,
reference ``src/deepex/data/text_handler.py:58-59``).

This engine uses a deterministic regex rule: a sentence boundary is
sentence-final punctuation ``[.!?]`` followed by whitespace. Implemented as
``regexp_replace`` (insert \\x01 marker) + ``split`` + ``posexplode`` —
whole-stage-codegen'd, oracle-checkable in ANSI SQL, and ~100x cheaper than
a Python sentencizer at 100 TB.

Offsets come in three modes (``mode`` param / ``cfg.sentencize_offsets``):

* ``"scan"`` (reference-faithful): ``instr`` — the first occurrence of the
  sentence STRING anywhere in the doc, exactly the reference's
  ``full_text.find``. Cost is O(n_sents x doc_len) PER DOC, serial within
  one task (the stage runs before any exchange): measured 13 s for a
  single 484 KB / 12 k-sentence page (EXPLAIN.md §6). Fine for bounded web
  pages; pathological mega-docs serialize one core.
* ``"reconstruct"``: linear per doc, no scan — a LOOKAHEAD boundary keeps
  the inter-sentence whitespace in the next piece, so each sentence's
  actual aligned offset is the running sum of raw piece lengths plus the
  piece's leading-whitespace width. Computed by a per-DOC pandas UDF (one
  Python pass per document — NOT per sentence; a pure-JVM
  ``aggregate``+``array_append`` fold was tried first and is itself O(n^2)
  in accumulator copies). The sentence TEXT is byte-identical to scan mode
  everywhere: pieces after the first lstrip exactly the ASCII ``\\s+``
  boundary run that scan mode's ``regexp_replace`` consumes, then every
  piece trims ONLY ``' '`` (0x20) on both ends, matching ``F.trim``
  (SPARK-17299: trim strips spaces, not tabs/newlines/controls). Only the
  OFFSET deviates, and only by construction: a duplicate sentence gets its
  own occurrence offset (not the first copy's), and a sentence embedded as
  a substring of earlier text gets its aligned position (not the embedded
  one). Pinned by tests/test_sentencize.py (incl. doc-edge tabs/newlines).
* ``"auto"`` (default, the 100-TB path): per-doc switch in ONE pass over
  the source — docs with ``length(text) <= scan_max_len`` take the
  reference-faithful JVM scan branch; longer docs take the linear
  reconstruct branch. There is no second source scan or duplicated
  upstream exchange as a filter+union plan would cost.

All three modes run one plan (``prepare_docs`` -> ``explode_sentences``):
the mode only sets the length past which the Python node reconstructs a
doc (``_long_threshold``), and the JVM scan covers every doc it did not.
The pipeline runs its text normalization in the same Python node, so the
whole front end costs one Python worker per task.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from deepex_spark.functions.text import normalize_text_py

SENT_BOUNDARY_SRC = r"([.!?])\s+"
SENT_MARKER = "\x01"
# docs longer than this take the linear reconstruct branch in auto mode
DEFAULT_SCAN_MAX_LEN = 64 * 1024

# reconstruct mode: lookahead keeps the boundary whitespace in the next
# piece so raw lengths sum to the original length. \s under re.ASCII ==
# Java regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\r\f\x0b].
_BOUNDARY_KEEP = re.compile(r"([.!?])(?=\s)", re.ASCII)
_ASCII_WS = " \t\n\r\f\x0b"


def _reconstruct_doc(text: str):
    if text is None:
        return None
    out = []
    pos = 0
    first = True
    for piece in _BOUNDARY_KEEP.sub(lambda m: m.group(1) + SENT_MARKER, text).split(
        SENT_MARKER
    ):
        # pieces after the first start with the \s+ run that scan mode's
        # regexp_replace consumed — drop it, then trim ONLY ' ' on both
        # ends to match F.trim exactly (text parity with scan mode)
        body = piece if first else piece.lstrip(_ASCII_WS)
        lt = body.lstrip(" ")
        out.append((lt.rstrip(" "), pos + (len(piece) - len(lt))))
        pos += len(piece)
        first = False
    return out


_PIECES_TYPE = "array<struct<sent:string, off:long>>"
_DOCS_TYPE = f"struct<text:string, long_pieces:{_PIECES_TYPE}>"


def _scan_pieces(text_col: str) -> Column:
    """JVM-side (sent, first-occurrence off) array over the raw split
    pieces — same semantics as the classic scan plan, shaped like the
    Python node's ``long_pieces`` so the two coalesce into one column."""
    marked = F.regexp_replace(F.col(text_col), SENT_BOUNDARY_SRC, "$1" + SENT_MARKER)
    return F.transform(
        F.split(marked, SENT_MARKER),
        lambda s: F.struct(
            F.trim(s).alias("sent"),
            (F.instr(F.col(text_col), F.trim(s)) - F.lit(1)).cast("long").alias("off"),
        ),
    )


def _explode_pieces(df: DataFrame, docid_col: str, pieces: Column) -> DataFrame:
    exploded = df.select(
        F.col(docid_col).alias("docid"),
        F.posexplode(pieces).alias("sent_pos", "_p"),
    )
    return exploded.select(
        "docid",
        "sent_pos",
        F.col("_p.off").cast("int").alias("sent_offset"),
        F.col("_p.sent").alias("sent_text"),
    ).filter(F.length("sent_text") > 0)


def _long_threshold(mode: str, scan_max_len: int) -> float:
    """Docs longer than this take the reconstruct arm: ``auto`` switches at
    ``scan_max_len``, ``scan`` never reconstructs, ``reconstruct`` always."""
    if mode == "auto":
        return scan_max_len
    if mode == "scan":
        return math.inf
    if mode == "reconstruct":
        return -1
    raise ValueError("sentencize mode must be 'scan', 'reconstruct' or 'auto'")


def _docs_udf(normalize: bool, max_len: float):
    def prepare(text: pd.Series, html: pd.Series) -> pd.DataFrame:
        if normalize:
            text = [normalize_text_py(t, h) for t, h in zip(text, html)]
        long_pieces = [
            _reconstruct_doc(t) if t is not None and len(t) > max_len else None
            for t in text
        ]
        return pd.DataFrame({"text": text, "long_pieces": long_pieces})

    # built lazily: pyspark 4 resolves the return type against the active
    # session, which doesn't exist at import time
    return pandas_udf(prepare, _DOCS_TYPE)


def prepare_docs(
    df: DataFrame,
    docid_col: str = "docid",
    text_col: str = "text",
    html_col: str | None = None,
    normalize: bool = False,
    mode: str = "auto",
    scan_max_len: int = DEFAULT_SCAN_MAX_LEN,
) -> DataFrame:
    """-> (docid, text, long_pieces): the front end's one Python node.

    A single pandas UDF over (text, html) runs, per row, the ``normalize``
    chain (html fallback for a null ``text``, paren blanking) and, for docs
    past the mode's length threshold, ``_reconstruct_doc``; ``long_pieces``
    is null for every other doc. Spark gives each ArrowEvalPython node its
    own Python worker per task, so one node is one worker, not one per
    step. When neither step can apply (no normalization, ``scan`` mode) no
    Python node is planned at all.
    """
    max_len = _long_threshold(mode, scan_max_len)
    if html_col is not None and text_col not in df.columns:
        text = F.lit(None).cast("string")
    else:
        text = F.col(text_col)
    if not normalize and max_len == math.inf:
        return df.select(
            F.col(docid_col).alias("docid"),
            text.alias("text"),
            F.lit(None).cast(_PIECES_TYPE).alias("long_pieces"),
        )
    # html crosses into Python only where it is used: rows with null text
    html = F.when(text.isNull(), F.col(html_col)) if html_col else F.lit(None).cast("string")
    docs = df.select(
        F.col(docid_col).alias("docid"),
        _docs_udf(normalize, max_len)(text, html).alias("_d"),
    )
    return docs.select("docid", "_d.text", "_d.long_pieces")


def explode_sentences(docs: DataFrame, mode: str = "auto") -> DataFrame:
    """``prepare_docs`` output -> (docid, sent_pos, sent_offset, sent_text).
    The pieces are ``long_pieces`` where the Python node reconstructed and
    the JVM first-occurrence scan everywhere else; ``reconstruct`` mode has
    no scan arm, so its plan carries no per-sentence doc scan."""
    pieces = F.col("long_pieces")
    if mode != "reconstruct":
        pieces = F.coalesce(pieces, _scan_pieces("text"))
    return _explode_pieces(docs, "docid", pieces)


def sentencize(
    df: DataFrame,
    text_col: str = "text",
    docid_col: str = "docid",
    mode: str = "auto",
    scan_max_len: int = DEFAULT_SCAN_MAX_LEN,
) -> DataFrame:
    """(docid, text, ...) -> (docid, sent_pos, sent_offset, sent_text).

    sent_pos = ordinal of the sentence within the doc (drives faithful
    ordering downstream); sent_offset per ``mode`` (module docstring):
    first-occurrence ``instr`` scan (reference text_handler.py:59
    semantics), linear aligned-offset reconstruction, or the per-doc
    ``auto`` switch at ``scan_max_len`` chars.
    """
    docs = prepare_docs(
        df, docid_col, text_col, mode=mode, scan_max_len=scan_max_len
    )
    return explode_sentences(docs, mode)
