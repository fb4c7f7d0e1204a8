"""O2 normalization: byte-identical to the reference chain per url."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from deepex_spark.functions.text import blank_parens_py, html_to_text_py


def reference_blanking(full_text: str) -> str:
    # the reference chain verbatim (text_handler.py:50-51)
    full_text = re.sub(r"\(\(.*?\)\)", lambda m: " " * len(m.group()), full_text)
    full_text = re.sub(r"\(.*?\)", lambda m: " " * len(m.group()), full_text)
    return full_text


def test_blanking_matches_reference_chain():
    cases = [
        "Obama (the president) was born in Hawaii.",
        "Nested ((double parens)) and (single) mix.",
        "Unbalanced ( open and ) close.",
        "No parens at all.",
        "((a))(b)((c)) d (e(f)g)",
        "",
    ]
    for t in cases:
        assert blank_parens_py(t) == reference_blanking(t)


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=300))
@settings(max_examples=200, deadline=None)
def test_blanking_preserves_length(t):
    out = blank_parens_py(t)
    assert len(out) == len(t)
    assert out == reference_blanking(t)


def test_blanking_keeps_offsets_stable():
    t = "Barack Obama (44th) was born in Hawaii."
    out = blank_parens_py(t)
    # every non-blanked char stays at its offset
    assert out.index("was born") == t.index("was born")
    assert out.index("Hawaii") == t.index("Hawaii")


def test_html_to_text():
    html = b"<html><head><style>a{}</style></head><body><p>Hello &amp; bye</p></body></html>"
    assert html_to_text_py(html) == "Hello & bye"


def test_spark_normalize_chain_byte_identical(spark):
    """The pipeline's normalize chain (``prepare_docs``, the front end's one
    Python node) blanks parens byte-identically to the reference."""
    from deepex_spark.functions.sentencize import prepare_docs

    texts = [
        "Obama (the president) was born in Hawaii.",
        "Nested ((double)) and (single).",
        "naïve café ((x)) test.",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "docid int, text string")
    docs = prepare_docs(df, "docid", "text", normalize=True).orderBy("docid")
    got = [r.text for r in docs.collect()]
    assert got == [reference_blanking(t) for t in texts]


def test_nfc_normalize_py_composes_and_preserves():
    from deepex_spark.functions.text import nfc_normalize_py

    decomposed = "a\u0301b"          # a + COMBINING ACUTE
    composed = "\u00e1b"             # precomposed LATIN SMALL A ACUTE
    assert nfc_normalize_py(decomposed) == composed
    assert nfc_normalize_py(composed) == composed      # idempotent
    assert nfc_normalize_py("plain ascii") == "plain ascii"
    assert nfc_normalize_py(None) is None


def test_readability_known_values(spark, tmp_path):
    """Flesch score on hand-counted sentences/words/vowel-groups; empty
    text clamps both denominators to 1 instead of dividing by zero."""
    spark.createDataFrame(
        [(1, "Hello world. It is good!"), (2, "")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from deepex_spark.queries import REGISTRY

    rows = {
        r["doc_id"]: r
        for r in REGISTRY["quality_readability"].spark_fn(spark, str(tmp_path)).collect()
    }
    r1 = rows[1]
    assert (r1["n_sents"], r1["n_words"], r1["n_syll"]) == (2, 5, 6)
    assert r1["flesch"] == round(206.835 - 1.015 * (5 / 2) - 84.6 * (6 / 5), 4)
    r2 = rows[2]
    assert (r2["n_sents"], r2["n_words"], r2["n_syll"]) == (1, 1, 0)
    assert r2["flesch"] == round(206.835 - 1.015, 4)
