"""The reversed-emission contrastive distance equals the forward one
bit-for-bit: ``str((obj, rel, subj))`` is an element permutation of
``str((subj, rel, obj))``, regex tokens never cross element boundaries, and
``_hash_embed`` accumulates exact ±1 integers (order-free float sums) —
so ``candidate_distances`` computes the embedding once. This test pins the
symmetry argument against the direct two-sided computation, including
adversarial strings (quotes, non-ASCII, repeated tokens, empties)."""

import pytest

from deepex_spark.operators.rerank import (
    _NON_ASCII,
    candidate_distances,
    contrastive_distance_py,
)

CASES = [
    ("The Cat Sat", "sat on", "The Mat"),
    ("It'S A Quote", "holds", 'Double "Q" Here'),
    ("Café Del Mar", "plays ♪ tunes", "Ibiza"),
    ("A A A", "a a", "A A A"),
    ("", "rel only", ""),
    ("X", "", "Y"),
    ("Comma, Inc.", "acquired (fully)", "Paren) Corp"),
]


def test_native_hash_embed_matches_regex_path():
    """The C tokenizer (Py_UNICODE_ISALNUM/ISSPACE — sre's own \\w / \\s
    classes) + crc32 binning must reproduce the regex-findall Python loop
    bit-for-bit, including non-ASCII words, odd numerics and punctuation."""
    import random

    import numpy as np

    from deepex_spark.operators import rerank as rr

    if rr._chash is None:
        import pytest

        pytest.skip("native kernel unavailable")
    from zlib import crc32

    def ref(s, dim=64):
        v = np.zeros(dim)
        for t in rr._TOKEN_RE.findall(s):
            h = crc32(t.encode("utf-8"))
            v[h % dim] += 1.0 if (h >> 31) & 1 else -1.0
        return v

    cases = [
        "Hello, world! It's 2024.",
        "café ♪ naïve — em—dash …ellipsis",
        "under_score mixed_123 АБВГ кирилица 日本語です。",
        "a b c\t\nd",
        "ℕ𝔽𝟘𝟙 ² ½ Ⅻ",
        "",
        " ",
        "_",
        "('Subj', 'rel ♦ txt', 'Obj')",
    ]
    rng = random.Random(42)
    for _ in range(500):
        cases.append(
            "".join(
                chr(rng.choice([rng.randint(32, 126), rng.randint(0xA0, 0xD7FF)]))
                for _ in range(rng.randint(0, 60))
            )
        )
    for s in cases:
        v1 = np.zeros(64)
        rr._chash.hash_embed(v1, s)
        assert np.array_equal(v1, ref(s)), repr(s)


def test_reversed_distance_bit_identical():
    for subj, rel, obj in CASES:
        sent = f"{subj} {rel} {obj} and some trailing sentence text."
        cache: dict = {}
        d_fwd, d_rev = candidate_distances(sent, subj, rel, obj, 64, cache)
        # recompute the reversed side the long way
        rel_s = _NON_ASCII.sub(" ", rel).strip()
        sentence = "$input_txt:$ " + sent
        d_rev_direct = contrastive_distance_py(sentence, obj, rel_s, subj, 64, cache)
        assert d_fwd == d_rev == d_rev_direct, (subj, rel, obj)


def test_rerank_shortcut_refuses_asymmetric_encoder(spark):
    """The (d, d) shortcut holds only for the surrogate encoder: both
    distance call sites refuse any other encoder up front instead of
    handing the reversed emission the forward distance."""
    from dataclasses import replace

    from deepex_spark.config import DeepExConfig
    from deepex_spark.local_oracle import local_candidates
    from deepex_spark.operators.extract import extract_candidates

    cfg = replace(DeepExConfig.small(), encoder_provider="hf", rerank_sorted=True)
    sents = spark.createDataFrame(
        [("d1", 0, 0, "Obama lives in Hawaii.")],
        "docid string, sent_pos int, sent_offset int, sent_text string",
    )
    with pytest.raises(NotImplementedError, match="surrogate"):
        extract_candidates(sents, cfg)
    with pytest.raises(NotImplementedError, match="surrogate"):
        local_candidates([("d1", "Obama lives in Hawaii.")], cfg)
    # without rerank no distance is computed, so any encoder is fine
    local_candidates([("d1", "Obama lives in Hawaii.")], replace(cfg, rerank_sorted=False))
