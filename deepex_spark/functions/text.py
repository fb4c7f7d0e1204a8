"""Text normalization & string functions (O2 and friends).

The reference's normalization chain, reproduced byte-identically per url:

1. ingest char swap: ``line.replace('(', ' ').replace(')', ' ')``
   (reference ``scripts/manager.py:26,44``) — pure column expr (JVM-side);
2. length-preserving paren blanking: ``((...))`` then ``(...)`` replaced by
   runs of spaces of identical length so all char offsets stay stable
   (reference ``src/deepex/data/text_handler.py:50-51``). Spark's builtin
   ``regexp_replace`` cannot emit a match-length-dependent replacement, so
   this step is Python: ``normalize_text_py`` (html fallback, then
   blanking) is the row function the pipeline's one front-end pandas UDF
   runs (``functions/sentencize.py::prepare_docs``);
3. docid zero-pad to 40 chars (``text_handler.py:59``) — ``lpad``;
4. non-ASCII scrub for relations (``distillation.py:100-101``) — builtin
   ``regexp_replace`` in ``operators/distill.py::distill_project``.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_DOUBLE_PARENS = re.compile(r"\(\(.*?\)\)")
_PARENS = re.compile(r"\(.*?\)")


def blank_parens_py(text: str) -> str:
    """Reference text_handler.py:50-51, length-preserving."""
    if text is None:
        return None
    text = _DOUBLE_PARENS.sub(lambda m: " " * len(m.group()), text)
    text = _PARENS.sub(lambda m: " " * len(m.group()), text)
    return text


def ingest_charswap(col: Column) -> Column:
    """manager.py:26 — '(' / ')' to spaces; JVM-side translate."""
    return F.translate(col, "()", "  ")


def zero_pad_docid(col: Column) -> Column:
    """text_handler.py:59 — 40-char zero-padded doc id."""
    return F.lpad(col.cast("string"), 40, "0")


def html_to_text_py(html: bytes | str) -> str:
    """Deterministic HTML -> text for the input_hint's ``html BINARY`` column:
    drop script/style blocks, strip tags, decode the few entities the
    synthetic corpus uses, collapse nothing (offsets derive from the *text*
    column downstream; this feeds the text column when it is null)."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    html = re.sub(r"(?is)<(script|style)[^>]*>.*?</\1>", " ", html)
    html = re.sub(r"(?s)<[^>]+>", " ", html)
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")):
        html = html.replace(ent, ch)
    return " ".join(html.split())


def normalize_text_py(text: str | None, html: bytes | str | None = None) -> str | None:
    """One page's text as the pipeline sentencizes it: the html rendering
    when ``text`` is null, then length-preserving paren blanking."""
    return blank_parens_py(text if text is not None else html_to_text_py(html))


def nfc_normalize_py(text: str) -> str:
    """Unicode NFC canonical composition — the crawl-ingest normalization
    that makes byte-level dedup/fingerprints see 'a'+COMBINING ACUTE and
    the precomposed 'á' as the same document. Pure stdlib
    (unicodedata.normalize), no external deps; DuckDB's nfc_normalize is
    the independent oracle (queries.py::text_nfc)."""
    if text is None:
        return None
    return unicodedata.normalize("NFC", text)


def _nfc_series(s: pd.Series) -> pd.Series:
    return s.map(nfc_normalize_py, na_action="ignore")


def nfc_normalize(col: Column) -> Column:
    # Arrow-batched; built lazily: pyspark 4 resolves the return type
    # against the active session, which doesn't exist at import time
    return pandas_udf(_nfc_series, "string")(col)
