"""HTML -> plain-text extraction (operators/urls.py::html_to_text):
three-way spec equivalence — Spark regexp_replace chain, pure-Python
`re` mirror of the same HTML_TEXT_STEPS, and the genuinely independent
DOM-based html.parser renderer that produced the fixture's ground-truth
text column (tools/make_html_fixture.py::dom_render)."""

import re

import pandas as pd
from pyspark.sql import functions as F

from deepex_spark.operators.urls import (
    HTML_TEXT_STEPS,
    extract_page_text,
    html_to_text,
)
from deepex_spark.queries import _fixture


def _py_render(html: str) -> str:
    t = html
    for pat, rep in HTML_TEXT_STEPS:
        t = re.sub(pat, rep.replace("\\", "\\\\"), t)
    return t


def test_spark_matches_dom_ground_truth(spark):
    """Per-url BYTE identity of the engine's rendering vs the fixture's
    DOM-rendered text column — the north-star ingest invariant."""
    fixture = _fixture("pages_html.parquet")
    got = {
        r["url"]: r["page_text"]
        for r in extract_page_text(spark.read.parquet(fixture)).collect()
    }
    want = pd.read_parquet(fixture)
    assert len(got) == len(want) > 0
    for _, row in want.iterrows():
        assert got[row["url"]] == row["text"], row["url"]


def test_python_mirror_matches_dom_ground_truth():
    """The third engine: Python `re` over the same step list must also
    reproduce the DOM rendering byte-for-byte."""
    want = pd.read_parquet(_fixture("pages_html.parquet"))
    for _, row in want.iterrows():
        assert _py_render(row["html"].decode("utf-8")) == row["text"]


def test_spec_cases(spark):
    """Targeted behaviors of the chain, asserted on literal html."""
    cases = {
        # script/style/comment subtrees vanish, incl. attrs + case
        "<p>a</p><SCRIPT x='1'>var y = 2;</SCRIPT><p>b</p>": "a\n\nb",
        "<style>p > a { c }</style><p>x</p>": "x",
        "<p>a<!-- <p>gone</p>\nstill gone -->b</p>": "ab",
        # block/inline/br/table handling
        "<div>a</div><div>b</div>": "a\n\nb",
        "x<br>y<br/>z<BR />w": "x\ny\nz\nw",
        "<tr><td>a</td><td>b</td></tr>": "a b",
        "<b>a</b><i>b</i>": "ab",
        # entities: one level only, &amp; last
        "&amp;lt;x&amp;gt;": "&lt;x&gt;",
        "it&#39;s &quot;q&quot; &lt;tag&gt; A&nbsp;B": "it's \"q\" <tag> A B",
        # whitespace normalization + trim
        "  <p>a   b\t c</p>\n\n\n<p>d</p>  ": "a b c\n\nd",
    }
    df = spark.createDataFrame(
        [(h,) for h in cases], ["h"]
    ).select(html_to_text(F.col("h").cast("binary")).alias("t"))
    got = [r["t"] for r in df.collect()]
    for (html, want), g in zip(cases.items(), got):
        assert g == want, (html, g, want)


def test_build_kg_derive_text_end_to_end(spark, tmp_path):
    """--derive-text makes the spark-submit job render text from raw
    html at ingest; over the fixture (whose stored text IS the DOM
    ground truth) the derived column must round-trip identically and
    the job must still mint triples from it."""
    from deepex_spark.plans.catalog import Catalog
    from jobs.build_kg import main

    out = tmp_path / "kg"
    main(
        [
            "--input", _fixture("pages_html.parquet"),
            "--output", str(out),
            "--run-id", "dt1",
            "--derive-text",
            "--dist-const", "2",
            "--beam-size", "2",
        ]
    )
    cat = Catalog(str(out))
    assert cat.exists("triples") and cat.exists("edges")
    assert cat.read(spark, "triples").count() > 0


# --------------------------------------------------------- property test

def test_random_html_regex_equals_dom():
    """Property: over randomly generated well-formed HTML within the
    spec bounds (quoted attrs, no bare '<' in text, closed
    script/style, the seven spec entities), the pure-Python mirror of
    HTML_TEXT_STEPS and the DOM event renderer agree byte-for-byte.
    Pure-Python (no Spark) — the Spark chain is pinned equal to the
    mirror by the fixture tests above."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import sys
    sys.path.insert(0, "tools")
    from make_html_fixture import dom_render

    words = st.lists(
        st.sampled_from(
            ["alpha", "béta", "x1", "&amp;", "&lt;", "&gt;", "&quot;",
             "&#39;", "&nbsp;", "über", "—", "a&amp;lt;b"]
        ),
        min_size=1, max_size=6,
    ).map(" ".join)

    inline = st.deferred(
        lambda: st.one_of(
            words,
            st.tuples(st.sampled_from(["b", "i", "em", "span", "a"]), inline)
            .map(lambda t: f"<{t[0]}>{t[1]}</{t[0]}>"),
        )
    )

    block = st.one_of(
        st.tuples(st.sampled_from(["p", "div", "h1", "li", "blockquote"]),
                  inline).map(lambda t: f"<{t[0]}>{t[1]}</{t[0]}>"),
        inline.map(lambda s: s + "<br>"),
        st.tuples(inline, inline).map(
            lambda t: f"<table><tr><td>{t[0]}</td><td>{t[1]}</td></tr></table>"
        ),
        words.map(lambda w: f"<script>var x = '{w}';</script>"),
        words.map(lambda w: f"<style>p {{ /* {w} */ }}</style>"),
        words.map(lambda w: f"<!-- {w} -->"),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(block, min_size=1, max_size=8))
    def run(blocks):
        html = "<html><body>" + "".join(blocks) + "</body></html>"
        assert _py_render(html) == dom_render(html)

    run()
