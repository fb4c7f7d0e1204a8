import pytest

from deepex_spark.local_oracle import local_sentencize


def test_split_and_offsets():
    t = "First sentence. Second one! Third?  Fourth"
    sents = local_sentencize(t)
    assert [s[2] for s in sents] == ["First sentence.", "Second one!", "Third?", "Fourth"]
    for _, off, s in sents:
        assert t[off : off + len(s)] == s


def test_duplicate_sentence_first_occurrence_offset():
    # faithful quirk: str.find returns the first occurrence
    t = "It rained. It rained. Sun came out."
    sents = local_sentencize(t)
    assert sents[0][1] == 0 and sents[1][1] == 0  # both point at the first
    assert sents[2][2] == "Sun came out."


def test_spark_matches_local(spark):
    from deepex_spark.functions.sentencize import sentencize

    texts = [
        "First sentence. Second one! Third?  Fourth",
        "It rained. It rained. Sun came out.",
        "No terminal punctuation here",
        "Gap  after (blank)   run. Next.",
    ]
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)], "docid string, text string")
    got = {
        (r["docid"], r["sent_pos"], r["sent_offset"], r["sent_text"])
        for r in sentencize(df).collect()
    }
    want = set()
    for i, t in enumerate(texts):
        for pos, off, s in local_sentencize(t):
            want.add((str(i), pos, off, s))
    assert got == want


def test_reconstruct_mode_matches_scan_without_duplicates(spark):
    """The linear reconstruct mode must agree with the faithful instr scan
    everywhere except the documented duplicate/embedded cases — INCLUDING
    doc-edge non-space whitespace (F.trim strips only ' ', SPARK-17299;
    reconstruct must not strip tabs/newlines/controls either) and
    tab/newline/mixed boundary runs."""
    from deepex_spark.functions.sentencize import sentencize

    texts = [
        "First sentence. Second one! Third?  Fourth",
        "No terminal punctuation here",
        "Gap  after (blank)   run. Next.",
        "Tabs\tinside. And newlines\nhere. End.",
        "\tLeading tab. Trailing newline\n",      # doc-edge non-space ws
        "A.\tTab boundary. B.\n\n C.\r\n D.",     # \s+ runs beyond ' '
        "A. \x00control kept. B\x07.",            # controls are NOT \s
        "Unicode\xa0space. Next\xa0one. End.",    # \xa0 is not Java \s
    ]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "docid string, text string"
    )
    scan = {tuple(r) for r in sentencize(df, mode="scan").collect()}
    recon = {tuple(r) for r in sentencize(df, mode="reconstruct").collect()}
    assert scan == recon


def test_reconstruct_text_parity_even_with_duplicates(spark):
    """Sentence TEXT (docid, sent_pos, sent_text) is byte-identical between
    modes on EVERY doc — only offsets may deviate, and only on
    duplicate/embedded sentences."""
    from deepex_spark.functions.sentencize import sentencize

    texts = [
        "It rained. It rained. Sun came out.",
        "\tIt rained.\tIt rained.\nSun came out.\n",
        "abc. xyz abc. tail.",
    ]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "docid string, text string"
    )
    cols = ("docid", "sent_pos", "sent_text")
    scan = {tuple(r) for r in sentencize(df, mode="scan").select(*cols).collect()}
    recon = {
        tuple(r) for r in sentencize(df, mode="reconstruct").select(*cols).collect()
    }
    assert scan == recon


def test_auto_mode_routes_per_doc(spark):
    """auto == scan below the threshold; above it, == reconstruct — checked
    on a mixed frame in one pass."""
    from deepex_spark.functions.sentencize import sentencize

    short = "It rained. It rained. Sun came out."
    long = ("The cat sat here. " * 40).rstrip()  # 719 chars > threshold 64
    df = spark.createDataFrame(
        [("s", short), ("l", long)], "docid string, text string"
    )
    got = {tuple(r) for r in sentencize(df, mode="auto", scan_max_len=64).collect()}
    want_short = {
        tuple(r) for r in sentencize(
            df.filter("docid = 's'"), mode="scan").collect()
    }
    want_long = {
        tuple(r) for r in sentencize(
            df.filter("docid = 'l'"), mode="reconstruct").collect()
    }
    assert got == want_short | want_long
    # the long doc's duplicate sentences carry aligned (distinct) offsets —
    # proof the reconstruct branch actually ran
    long_offs = sorted(off for d, _, off, _ in got if d == "l")
    assert len(set(long_offs)) == len(long_offs)


def test_auto_mode_default_matches_scan_on_small_docs(spark):
    """Default threshold (64 KiB) leaves every normal page on the faithful
    scan branch — byte-identical output, duplicate quirk included."""
    from deepex_spark.functions.sentencize import sentencize

    texts = [
        "First sentence. Second one! Third?  Fourth",
        "It rained. It rained. Sun came out.",
        "\tLeading tab. Trailing newline\n",
    ]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "docid string, text string"
    )
    scan = {tuple(r) for r in sentencize(df, mode="scan").collect()}
    auto = {tuple(r) for r in sentencize(df).collect()}  # default mode=auto
    assert scan == auto


def test_reconstruct_mode_duplicate_offsets_are_aligned(spark):
    """Documented deviation: duplicates get their ACTUAL aligned offset
    (the scan mode gives every copy the first occurrence's offset); every
    reconstructed offset indexes its own sentence in the doc."""
    from deepex_spark.functions.sentencize import sentencize

    t = "It rained. It rained. Sun came out."
    df = spark.createDataFrame([("d", t)], "docid string, text string")
    scan = sorted(tuple(r) for r in sentencize(df).collect())
    recon = sorted(tuple(r) for r in sentencize(df, mode="reconstruct").collect())
    assert [r[2] for r in scan] == [0, 0, 22]
    assert [r[2] for r in recon] == [0, 11, 22]
    for _, _, off, s in recon:
        assert t[off : off + len(s)] == s


def test_reconstruct_mode_no_instr_in_plan(spark):
    """The scale mode must not carry the per-sentence doc scan: no instr
    and no _doc_text column survive analysis."""
    from deepex_spark.functions.sentencize import sentencize

    df = spark.createDataFrame([("d", "A. B.")], "docid string, text string")
    plan = sentencize(df, mode="reconstruct")._jdf.queryExecution().analyzed().toString()
    assert "instr" not in plan


# -- the pipeline front end: html fallback, paren blanking and the reconstruct
# arm in one Python node (pipeline._front_end + explode_sentences) -----------

_MAX = 64  # small threshold so both arms run on small docs


def _sized(n: int, lead: str = "") -> str:
    """Exactly n code points with duplicate sentences, so the scan (first
    occurrence) and reconstruct (aligned) offsets differ."""
    return (lead + "It rained. " * (n // 8 + 2))[:n]


def _reference(text, html, mode):
    from deepex_spark.functions.sentencize import _reconstruct_doc
    from deepex_spark.functions.text import blank_parens_py, html_to_text_py

    norm = blank_parens_py(text if text is not None else html_to_text_py(html))
    if norm is None:
        return []
    if mode == "reconstruct" or (mode == "auto" and len(norm) > _MAX):
        pieces = enumerate(_reconstruct_doc(norm))
        return [(pos, off, s) for pos, (s, off) in pieces if s]
    return local_sentencize(norm)


def _front_end_sentences(pages, mode):
    from dataclasses import replace

    from deepex_spark.config import DeepExConfig
    from deepex_spark.functions.sentencize import explode_sentences
    from deepex_spark.pipeline import _front_end

    cfg = replace(DeepExConfig.small(), sentencize_scan_max_len=_MAX)
    return {tuple(r) for r in explode_sentences(_front_end(pages, cfg, mode), mode).collect()}


_FRONT_ROWS = [
    ("parens", "Obama (the president) lives in Hawaii. He likes ((it)) a lot.", None),
    ("text-wins", "It rained. It rained.", b"<p>ignored. ignored.</p>"),
    ("null-text", None, b"<p>Paris (France) is big.</p><script>x. y.</script> Paris is big."),
    ("null-both", None, None),
    ("html-long", None, ("<p>" + _sized(_MAX + 20) + "</p>").encode()),
    ("at-max", _sized(_MAX), None),
    ("over-max", _sized(_MAX + 1), None),
    # one non-BMP code point: Python len and Spark length() both count 1
    ("astral-at-max", _sized(_MAX, "\U0001F600 "), None),
    ("astral-over-max", _sized(_MAX + 1, "\U0001F600 "), None),
]


@pytest.mark.parametrize("mode", ["auto", "scan", "reconstruct"])
def test_front_end_matches_python_reference(spark, mode):
    pages = spark.createDataFrame(
        [(u, t, bytearray(h) if h is not None else None) for u, t, h in _FRONT_ROWS],
        "url string, text string, html binary",
    )
    want = {
        (u, *s) for u, t, h in _FRONT_ROWS for s in _reference(t, h, mode)
    }
    assert _front_end_sentences(pages, mode) == want
    if mode == "auto":
        # both arms ran: duplicates share the first offset at the threshold
        # and carry their own aligned offset one code point past it
        for doc in ("at-max", "astral-at-max"):
            offs = [o for u, _, o, _ in want if u == doc]
            assert len(set(offs)) < len(offs), doc
        for doc in ("over-max", "astral-over-max"):
            offs = [o for u, _, o, _ in want if u == doc]
            assert len(set(offs)) == len(offs), doc


@pytest.mark.parametrize("mode", ["auto", "reconstruct"])
def test_front_end_text_only_and_html_only_frames(spark, mode):
    text_only = [(u, t) for u, t, _ in _FRONT_ROWS]
    html_only = [(u, h) for u, _, h in _FRONT_ROWS]
    got_t = _front_end_sentences(
        spark.createDataFrame(text_only, "url string, text string"), mode
    )
    got_h = _front_end_sentences(
        spark.createDataFrame(
            [(u, bytearray(h) if h is not None else None) for u, h in html_only],
            "url string, html binary",
        ),
        mode,
    )
    assert got_t == {(u, *s) for u, t in text_only for s in _reference(t, None, mode)}
    assert got_h == {(u, *s) for u, h in html_only for s in _reference(None, h, mode)}
