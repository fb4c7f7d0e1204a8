"""Curation / graph-analytics operators: sessionize, stratified sampling,
n-gram heavy hitters (operators/curate.py) and triangle counting
(operators/graph.py). The sf-level oracle equivalence is covered by
queries.py (events_sessionize / sample_stratified / ngram_topk /
kg_triangle_count); these tests pin the semantic edge cases the oracles
can't isolate."""

from collections import Counter
from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from deepex_spark.operators.curate import (
    _rate_to_hex4,
    contamination_flags,
    funnel,
    mix_rates,
    ngram_counts,
    redact,
    repetition_stats,
    sessionize,
    stratified_sample,
    tfidf_terms,
)
from deepex_spark.operators.graph import (
    clustering_coefficients,
    kcore,
    ktruss,
    triangle_count,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, float(v)) for i, (ts, uid, v) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id long, value double",
    )


class TestSessionize:
    def test_gap_boundary_inclusive(self, spark):
        # gaps: exactly 60s (same session), 61s (new session)
        ev = _events(
            spark,
            [
                (T0, 1, 1.0),
                (T0 + timedelta(seconds=60), 1, 2.0),
                (T0 + timedelta(seconds=121), 1, 4.0),
            ],
        )
        out = {
            r["session_id"]: (r["n_events"], r["total_value"])
            for r in sessionize(ev, gap_seconds=60).collect()
        }
        assert out == {1: (2, 3.0), 2: (1, 4.0)}

    def test_sessions_per_user_independent(self, spark):
        ev = _events(
            spark,
            [
                (T0, 1, 1.0),
                (T0 + timedelta(hours=2), 1, 1.0),
                (T0 + timedelta(minutes=5), 2, 1.0),
                (T0 + timedelta(minutes=10), 2, 1.0),
            ],
        )
        out = sessionize(ev, gap_seconds=1800).collect()
        per_user = {}
        for r in out:
            per_user.setdefault(r["user_id"], []).append(r["session_id"])
        assert sorted(per_user[1]) == [1, 2]
        assert sorted(per_user[2]) == [1]

    def test_tie_on_ts_breaks_by_event_id(self, spark):
        # two events at the identical timestamp: one session, start == end
        ev = _events(spark, [(T0, 1, 1.0), (T0, 1, 2.0)])
        [r] = sessionize(ev, gap_seconds=1).collect()
        assert r["n_events"] == 2 and r["sess_start"] == r["sess_end"] == T0

    def test_micro_exact_gap(self, spark):
        # 1s + 1us exceeds a 1s gap — the comparison must not truncate to s
        ev = _events(spark, [(T0, 1, 1.0), (T0 + timedelta(seconds=1, microseconds=1), 1, 1.0)])
        assert sessionize(ev, gap_seconds=1).count() == 2


class TestStratifiedSample:
    def test_rate_bounds(self, spark):
        df = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 2 == 0).cast("string").alias("s")
        )
        assert stratified_sample(df, "k", "s", {}, default_rate=1.0).count() == 200
        assert stratified_sample(df, "k", "s", {}, default_rate=0.0).count() == 0

    def test_partitioning_invariant_and_stratum_scoped(self, spark):
        df = spark.range(500).select(
            F.col("id").alias("k"), F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("s")
        )
        kept1 = {
            (r["k"], r["s"])
            for r in stratified_sample(df, "k", "s", {"a": 0.3}, 0.9).collect()
        }
        kept2 = {
            (r["k"], r["s"])
            for r in stratified_sample(df.repartition(7), "k", "s", {"a": 0.3}, 0.9).collect()
        }
        assert kept1 == kept2
        n_a = sum(1 for _, s in kept1 if s == "a")
        n_b = sum(1 for _, s in kept1 if s == "b")
        assert 0.15 * 167 < n_a < 0.45 * 167      # ~0.3 of the 167 'a' rows
        assert 0.8 * 333 < n_b <= 333             # ~0.9 of the 333 'b' rows

    def test_null_keys_kept_not_silently_dropped(self, spark):
        # md5(NULL) is NULL — without the coalesce a NULL h < thr predicate
        # would drop NULL-key rows even at keep-rate 1.0
        df = spark.createDataFrame([(None, "a"), (7, "a")], "k long, s string")
        kept = stratified_sample(df, "k", "s", {}, default_rate=1.0).collect()
        assert len(kept) == 2

    def test_rate_to_hex4(self):
        assert _rate_to_hex4(0.0) == "0000"
        assert _rate_to_hex4(0.25) == "4000"
        assert _rate_to_hex4(0.5) == "8000"
        assert _rate_to_hex4(1.0) > "ffff"
        # rates that ROUND to 65536 must map to keep-everything, not the
        # 5-char '10000' (which string-compares below most 4-char prefixes
        # and silently kept ~6 % of the stratum)
        assert _rate_to_hex4(0.999996) > "ffff"
        assert _rate_to_hex4(65535.6 / 65536) > "ffff"
        assert _rate_to_hex4(65534.9 / 65536) == "ffff"  # still representable

    def test_near_one_rate_keeps_nearly_everything(self, spark):
        df = spark.range(400).select(
            F.col("id").alias("k"), F.lit("en").alias("s")
        )
        kept = stratified_sample(df, "k", "s", {"en": 0.999996}, 1.0).count()
        assert kept == 400

    def test_preexisting_hash_column_raises(self, spark):
        import pytest

        df = spark.range(4).select(F.col("id").alias("k"), F.lit("x").alias("s"),
                                   F.lit("keep-me").alias("h"))
        with pytest.raises(ValueError, match="'h'"):
            stratified_sample(df, "k", "s", {}, 0.5)


class TestNgramCounts:
    def test_bigrams(self, spark):
        docs = spark.createDataFrame(
            [("a b c a b",), ("A  b",)], "text string"
        )
        got = {(r["ngram"], r["n"]) for r in ngram_counts(docs, n=2, top_k=10).collect()}
        assert got == {("a b", 3), ("b c", 1), ("c a", 1)}

    def test_unigrams_and_trigrams(self, spark):
        docs = spark.createDataFrame([("x y z",)], "text string")
        uni = {(r["ngram"], r["n"]) for r in ngram_counts(docs, n=1, top_k=10).collect()}
        assert uni == {("x", 1), ("y", 1), ("z", 1)}
        tri = {(r["ngram"], r["n"]) for r in ngram_counts(docs, n=3, top_k=10).collect()}
        assert tri == {("x y z", 1)}

    def test_short_doc_and_edge_whitespace(self, spark):
        # one-token docs emit no bigrams; doc-edge whitespace no phantom tokens
        docs = spark.createDataFrame([("solo",), ("  lead trail  ",)], "text string")
        got = {(r["ngram"], r["n"]) for r in ngram_counts(docs, n=2, top_k=10).collect()}
        assert got == {("lead trail", 1)}

    def test_topk_tiebreak(self, spark):
        docs = spark.createDataFrame([("b a b a c a",)], "text string")
        rows = ngram_counts(docs, n=1, top_k=2).collect()
        assert [(r["ngram"], r["n"]) for r in rows] == [("a", 3), ("b", 2)]


def _typed_events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, et) for i, (ts, uid, et) in enumerate(rows)],
        "event_id long, ts timestamp_ntz, user_id long, event_type string",
    )


class TestSessionizeProperty:
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500_000_000),  # us offset
                st.integers(min_value=1, max_value=3),            # user
                st.integers(min_value=0, max_value=9),            # value
            ),
            min_size=1,
            max_size=25,
        ),
        st.integers(min_value=1, max_value=120),
    )
    @settings(max_examples=12, deadline=None)
    def test_matches_python_reference(self, spark, raw, gap_s):
        ev = _events(
            spark,
            [(T0 + timedelta(microseconds=us), uid, float(v)) for us, uid, v in raw],
        )
        got = {
            (r["user_id"], r["session_id"], r["n_events"], r["total_value"])
            for r in sessionize(ev, gap_seconds=gap_s).collect()
        }
        # pure-python reference: sort per user by (ts, event_id), split on
        # micro-exact gap > gap_s, aggregate
        per_user = {}
        for eid, (us, uid, v) in enumerate(raw):
            per_user.setdefault(uid, []).append((us, eid, v))
        expect = set()
        for uid, evs in per_user.items():
            evs.sort()
            sid, n, tot, prev = 0, 0, 0.0, None
            out = []
            for us, _, v in evs:
                if prev is None or us - prev > gap_s * 1_000_000:
                    if n:
                        out.append((uid, sid, n, round(tot, 4)))
                    sid, n, tot = sid + 1, 0, 0.0
                n, tot, prev = n + 1, tot + v, us
            out.append((uid, sid, n, round(tot, 4)))
            expect.update(out)
        assert got == expect


class TestTriangleProperty:
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=0,
            max_size=30,
        )
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_naive(self, spark, pairs):
        # every consumer of the shared triangle enumerator against the
        # naive triangle set of the same graph
        edges = spark.createDataFrame(
            [(int(u), int(v)) for u, v in pairs] or [(0, 0)], "src long, dst long"
        )
        [row] = triangle_count(edges).collect()
        und = {frozenset((u, v)) for u, v in pairs if u != v}
        naive = [
            (x, y, z)
            for x in range(10)
            for y in range(x + 1, 10)
            for z in range(y + 1, 10)
            if {frozenset((x, y)), frozenset((y, z)), frozenset((x, z))} <= und
        ]
        assert row["n_triangles"] == len(naive)
        assert row["n_edges"] == len(und)

        deg = Counter(v for e in und for v in e)
        n_tri = Counter(v for t in naive for v in t)
        lcc = {
            r["vertex"]: (r["deg"], r["n_tri"])
            for r in clustering_coefficients(edges).collect()
        }
        assert lcc == {v: (d, n_tri[v]) for v, d in deg.items()}

        support = Counter(
            e for x, y, z in naive for e in ((x, y), (x, z), (y, z))
        )
        truss = {
            (r["a"], r["b"]): r["support"]
            for r in ktruss(edges, k=3, n_rounds=0).collect()
        }
        assert truss == dict(support)


class TestFunnel:
    def test_order_matters(self, spark):
        sec = lambda s: T0 + timedelta(seconds=s)
        ev = _typed_events(
            spark,
            [
                # u1: full ordered funnel
                (sec(0), 1, "a"), (sec(1), 1, "b"), (sec(2), 1, "c"),
                # u2: b BEFORE a — reaches stage 1 only
                (sec(1), 2, "b"), (sec(2), 2, "a"),
                # u3: never does a — reaches nothing
                (sec(0), 3, "b"), (sec(1), 3, "c"),
                # u4: a and b at the SAME ts (>= admits), no c
                (sec(5), 4, "a"), (sec(5), 4, "b"),
            ],
        )
        [r] = funnel(ev, ["a", "b", "c"]).collect()
        assert (r["n_users"], r["n_stage1"], r["n_stage1_2"], r["n_stage1_3"]) == (
            4, 3, 2, 1,
        )

    def test_first_occurrence_semantics(self, spark):
        # u1's first b precedes its first a; a later b does NOT rescue it
        sec = lambda s: T0 + timedelta(seconds=s)
        ev = _typed_events(
            spark, [(sec(0), 1, "b"), (sec(1), 1, "a"), (sec(2), 1, "b")]
        )
        [r] = funnel(ev, ["a", "b"]).collect()
        assert (r["n_stage1"], r["n_stage1_2"]) == (1, 0)


class TestTfidf:
    def test_idf_zero_for_ubiquitous_term(self, spark):
        docs = spark.createDataFrame(
            [(1, "common alpha"), (2, "common beta")], "doc_id long, text string"
        )
        rows = {
            (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"], r["rk"])
            for r in tfidf_terms(docs, top_k=5).collect()
        }
        # 'common' appears in every doc -> idf = ln(1) = 0, ranked last
        assert rows[(1, "common")][2] == 0.0 and rows[(1, "common")][3] == 2
        # unique terms score ln(2) and rank first
        assert rows[(1, "alpha")][2] == pytest.approx(0.693147, abs=1e-6)
        assert rows[(1, "alpha")][3] == 1 and rows[(1, "alpha")][2] > 0

    def test_topk_cut_and_tf_weighting(self, spark):
        docs = spark.createDataFrame(
            [(1, "x x x y z"), (2, "w")], "doc_id long, text string"
        )
        got = tfidf_terms(docs, top_k=2).where(F.col("doc_id") == 1).collect()
        assert [r["term"] for r in sorted(got, key=lambda r: r["rk"])] == ["x", "y"]
        assert all(r["rk"] <= 2 for r in got)


class TestRedact:
    def test_all_patterns_and_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, "mail a@b.io and b@c.org, site https://x.y/z?a=1, ip 10.0.0.1 done")],
            "doc_id long, text string",
        )
        [r] = redact(docs).collect()
        assert (r["n_email"], r["n_url"], r["n_ipv4"]) == (2, 1, 1)
        # the greedy url pattern [^\s]+ swallows the comma after the URL
        assert r["scrubbed"] == (
            "mail [REDACTED] and [REDACTED], site [REDACTED] ip [REDACTED] done"
        )

    def test_counts_on_original_not_chained(self, spark):
        # the URL contains an @-pattern; email count must still see it even
        # though the email pass (sorted first) rewrites the text first
        docs = spark.createDataFrame(
            [(1, "see http://u@host.com/x")], "doc_id long, text string"
        )
        [r] = redact(docs).collect()
        assert r["n_email"] == 1 and r["n_url"] == 1

    def test_no_match_passthrough(self, spark):
        docs = spark.createDataFrame([(1, "plain words only")], "doc_id long, text string")
        [r] = redact(docs).collect()
        assert r["scrubbed"] == "plain words only"
        assert r["n_email"] == r["n_url"] == r["n_ipv4"] == 0

    def test_custom_patterns_and_token(self, spark):
        docs = spark.createDataFrame([(1, "id=1234 ok")], "doc_id long, text string")
        [r] = redact(docs, patterns={"num": r"\d+"}, token="#").collect()
        assert r["scrubbed"] == "id=# ok" and r["n_num"] == 1

    def test_token_with_regex_replacement_specials(self, spark):
        # '$1' / backslashes in the token must be literal, not group refs
        docs = spark.createDataFrame([(1, "id=42 ok")], "doc_id long, text string")
        [r] = redact(docs, patterns={"num": r"(\d+)"}, token="<$1\\x>").collect()
        assert r["scrubbed"] == "id=<$1\\x> ok"


class TestKCore:
    def _core(self, spark, edge_list, k, n_rounds=8):
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        return {
            r["entity_id"]: r["core_deg"]
            for r in kcore(edges, k=k, n_rounds=n_rounds).collect()
        }

    def test_pendant_chain_cascade(self, spark):
        # K4 (nodes 0-3) with a chain 3-10-11-12: every chain node has
        # deg >= 1 initially but the 2-core must peel the WHOLE chain via
        # the cascade (12 falls, then 11, then 10), needing 3 rounds
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        chain = [(3, 10), (10, 11), (11, 12)]
        got = self._core(spark, k4 + chain, k=2)
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_insufficient_rounds_leave_chain(self, spark):
        # with only 1 round the cascade hasn't reached node 10 yet
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        chain = [(3, 10), (10, 11), (11, 12)]
        got = self._core(spark, k4 + chain, k=2, n_rounds=1)
        assert 10 in got and 12 not in got

    def test_cycle_survives_tree_dies(self, spark):
        cycle = [(0, 1), (1, 2), (2, 0)]
        tree = [(5, 6), (5, 7), (6, 8), (6, 9)]
        got = self._core(spark, cycle + tree, k=2)
        assert got == {0: 2, 1: 2, 2: 2}


class TestTriangleCount:
    def _count(self, spark, edge_list):
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        [row] = triangle_count(edges).collect()
        return row

    def test_k4_plus_pendant(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        row = self._count(spark, k4 + [(3, 9)])
        assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)

    def test_dupes_self_loops_direction_ignored(self, spark):
        row = self._count(
            spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (1, 2)]
        )
        assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (3, 3, 1)

    def test_triangle_free(self, spark):
        # star graph: many wedges, zero triangles
        row = self._count(spark, [(0, i) for i in range(1, 6)])
        assert row["n_triangles"] == 0

    def test_matches_naive_on_random_graph(self, spark):
        # seeded random graph vs the naive ordered-ids triple enumeration
        import random

        rng = random.Random(1266)
        n = 20
        edge_list = sorted(
            {
                (min(u, v), max(u, v))
                for u, v in ((rng.randrange(n), rng.randrange(n)) for _ in range(90))
                if u != v
            }
        )
        row = self._count(spark, edge_list)
        und = {frozenset(e) for e in edge_list}
        naive = sum(
            1
            for x in range(n)
            for y in range(x + 1, n)
            for z in range(y + 1, n)
            if {frozenset((x, y)), frozenset((y, z)), frozenset((x, z))} <= und
        )
        assert row["n_triangles"] == naive > 0


def _docs(spark, rows):
    """rows: list of (doc_id, text, lang, source)."""
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


class TestContaminationFlags:
    def test_overlap_flagged_with_distinct_count(self, spark):
        # doc 0 is benchmark (0 % 97 == 0); doc 1 repeats a bench 2-gram
        # twice (counted once: distinct), doc 2 has no overlap
        docs = _docs(
            spark,
            [
                (0, "a b c d", "en", "s"),
                (1, "a b x a b y", "en", "s"),
                (2, "p q r s", "en", "s"),
            ],
        )
        out = {
            r["doc_id"]: r["n_hits"]
            for r in contamination_flags(docs, n=2, bench_mod=97).collect()
        }
        assert out == {1: 1}

    def test_bench_docs_never_emitted(self, spark):
        # both docs are benchmark members (0 and 97): identical text, but
        # bench-vs-bench overlap must not emit rows
        docs = _docs(spark, [(0, "a b c", "en", "s"), (97, "a b c", "en", "s")])
        assert contamination_flags(docs, n=2, bench_mod=97).count() == 0

    def test_short_docs_have_no_grams(self, spark):
        docs = _docs(spark, [(0, "a b c", "en", "s"), (1, "b", "en", "s")])
        assert contamination_flags(docs, n=2, bench_mod=97).count() == 0

    def test_multiple_distinct_hits(self, spark):
        docs = _docs(
            spark,
            [(0, "a b c d", "en", "s"), (1, "a b c z c d", "en", "s")],
        )
        # doc 1 shares 'a b', 'b c', 'c d' -> 3 distinct contaminated grams
        out = contamination_flags(docs, n=2, bench_mod=97).collect()
        assert [(r["doc_id"], r["n_hits"]) for r in out] == [(1, 3)]


class TestRepetitionStats:
    def test_known_fractions(self, spark):
        # 'a b a b a' -> bigrams: ab, ba, ab, ba -> 4 total, 2 distinct
        docs = _docs(spark, [(1, "a b a b a", "en", "s")])
        r = repetition_stats(docs, n=2).collect()[0]
        assert (r["n_grams"], r["n_distinct"]) == (4, 2)
        assert r["dup_frac"] == 0.5
        assert r["top_share"] == 0.5

    def test_all_unique_zero_dup(self, spark):
        docs = _docs(spark, [(1, "a b c d", "en", "s")])
        r = repetition_stats(docs, n=2).collect()[0]
        assert (r["n_grams"], r["n_distinct"]) == (3, 3)
        assert r["dup_frac"] == 0.0
        assert round(r["top_share"], 4) == round(1 / 3, 4)

    def test_single_token_doc_not_emitted(self, spark):
        docs = _docs(spark, [(1, "a", "en", "s"), (2, "a b", "en", "s")])
        out = repetition_stats(docs, n=2).collect()
        assert [r["doc_id"] for r in out] == [2]

    def test_degenerate_repetition_caught(self, spark):
        # pure loop spam: 'x y' * 6 -> dup_frac near 1, top_share > 0.5
        docs = _docs(spark, [(1, " ".join(["x", "y"] * 6), "en", "s")])
        r = repetition_stats(docs, n=2).collect()[0]
        assert r["dup_frac"] > 0.8
        assert r["top_share"] >= 0.5


class TestMixRates:
    def test_cap_applied_to_dominant_stratum(self, spark):
        rows = [(i, "t", "en", "web") for i in range(8)] + [
            (100 + i, "t", "fr", "web") for i in range(2)
        ]
        docs = _docs(spark, rows)
        out = {
            (r["lang"], r["source"]): r
            for r in mix_rates(docs, ("lang", "source"), cap=0.25).collect()
        }
        en = out[("en", "web")]
        fr = out[("fr", "web")]
        assert en["n_docs"] == 8 and fr["n_docs"] == 2
        assert en["share"] == 0.8 and fr["share"] == 0.2
        # en capped at 0.25/0.8; fr under the cap passes whole
        assert en["keep_rate"] == 0.3125
        assert fr["keep_rate"] == 1.0

    def test_rates_feed_stratified_sample(self, spark):
        # the budget table is directly consumable by stratified_sample
        rows = [(i, "t", "en", "web") for i in range(400)] + [
            (1000 + i, "t", "fr", "web") for i in range(100)
        ]
        docs = _docs(spark, rows)
        rates = {
            r["lang"]: r["keep_rate"]
            for r in mix_rates(docs, ("lang", "source"), cap=0.25).collect()
        }
        kept = stratified_sample(docs, "doc_id", "lang", rates)
        by_lang = {
            r["lang"]: r["n"]
            for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        # en downsampled toward 25% of the corpus (hash granularity is
        # 1/65536 so the realized rate is approximate), fr kept whole
        assert by_lang["fr"] == 100
        assert 0.18 * 500 <= by_lang["en"] <= 0.32 * 500


class TestRepetitionSignals:
    def test_matches_grouped_stats_on_random_docs(self, spark):
        import random

        rng = random.Random(1266)
        rows = []
        for i in range(60):
            vocab = [f"w{k}" for k in range(rng.randint(1, 8))]
            n = rng.randint(0, 40)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(n)), "en", "s"))
        docs = _docs(spark, rows)
        from deepex_spark.operators.curate import repetition_signals

        dup, top = repetition_signals()
        local = {
            r["doc_id"]: (r["dup_frac"], r["top_share"])
            for r in docs.select("doc_id", dup.alias("dup_frac"), top.alias("top_share"))
            .where(F.col("dup_frac").isNotNull())
            .collect()
        }
        grouped = {
            r["doc_id"]: (r["dup_frac"], r["top_share"])
            for r in repetition_stats(docs).select(
                "doc_id", "dup_frac", "top_share"
            ).collect()
        }
        assert local == grouped

    def test_no_grams_is_null_signal(self, spark):
        from deepex_spark.operators.curate import repetition_signals

        docs = _docs(spark, [(1, "solo", "en", "s")])
        dup, top = repetition_signals()
        r = docs.select(dup.alias("d"), top.alias("t")).collect()[0]
        assert r["d"] is None and r["t"] is None


class TestChunkDocuments:
    def _chunks(self, spark, text, k, o):
        from deepex_spark.operators.curate import chunk_documents

        docs = _docs(spark, [(1, text, "en", "s")])
        return [
            (r["chunk_id"], r["chunk_text"], r["n_tokens"])
            for r in chunk_documents(docs, chunk_tokens=k, overlap=o)
            .orderBy("chunk_id")
            .collect()
        ]

    def test_overlap_and_tail(self, spark):
        # 7 tokens, k=4, o=2 -> stride 2 -> starts 0,2,4,6
        out = self._chunks(spark, "a b c d e f g", 4, 2)
        assert out == [
            (0, "a b c d", 4),
            (1, "c d e f", 4),
            (2, "e f g", 3),
            (3, "g", 1),
        ]

    def test_short_doc_single_chunk(self, spark):
        assert self._chunks(spark, "x y", 8, 2) == [(0, "x y", 2)]

    def test_exact_multiple_no_phantom_tail(self, spark):
        # 4 tokens, k=2, o=0 -> exactly 2 chunks, no empty third
        assert self._chunks(spark, "a b c d", 2, 0) == [
            (0, "a b", 2),
            (1, "c d", 2),
        ]

    def test_empty_doc_emits_nothing(self, spark):
        assert self._chunks(spark, "", 4, 1) == []

    def test_bad_params_raise(self, spark):
        import pytest

        from deepex_spark.operators.curate import chunk_documents

        docs = _docs(spark, [(1, "a b", "en", "s")])
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=4, overlap=4)
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=0, overlap=0)

    def test_coverage_reconstructs_doc(self, spark):
        # consecutive chunks with overlap o: stripping the first o tokens
        # of every chunk after the first re-concatenates to the doc
        text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
        out = self._chunks(spark, text, 5, 2)
        rebuilt = out[0][1].split(" ")
        for _, chunk, _ in out[1:]:
            rebuilt += chunk.split(" ")[2:]
        assert " ".join(rebuilt) == text


class TestCohortRetention:
    def test_cohorts_and_ages(self, spark):
        from deepex_spark.operators.curate import cohort_retention

        # Mon 2024-01-01 anchors week 0; 2024-01-08 is the next ISO week
        ev = _events(
            spark,
            [
                (datetime(2024, 1, 2), 1, 1.0),   # u1 cohort wk0
                (datetime(2024, 1, 9), 1, 1.0),   # u1 active wk1
                (datetime(2024, 1, 10), 1, 1.0),  # same week: still 1 distinct
                (datetime(2024, 1, 3), 2, 1.0),   # u2 cohort wk0, never returns
                (datetime(2024, 1, 9), 3, 1.0),   # u3 cohort wk1
            ],
        )
        out = {
            (r["cohort_week"].date().isoformat(), r["age_weeks"]): r["n_active"]
            for r in cohort_retention(ev).collect()
        }
        assert out == {
            ("2024-01-01", 0): 2,  # u1, u2 active in their own cohort week
            ("2024-01-01", 1): 1,  # only u1 returns
            ("2024-01-08", 0): 1,  # u3's cohort
        }


class TestRareBigramStats:
    def test_counts_and_fraction(self, spark):
        from deepex_spark.operators.curate import rare_bigram_stats

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "x y")],
            "doc_id long, text string",
        )
        # corpus bigram counts: "a b"=3 (common), "b a"/"b c"/"x y"=1 (rare)
        out = {
            r["doc_id"]: (r["n_bigrams"], r["n_rare"], r["rare_frac"])
            for r in rare_bigram_stats(
                docs, rare_max_count=2, token_split=" ", lowercase=False
            ).collect()
        }
        assert out[1] == (3, 1, round(1 / 3, 6))
        assert out[2] == (2, 1, 0.5)
        assert out[3] == (1, 1, 1.0)

    def test_short_docs_not_emitted_and_threshold_respected(self, spark):
        from deepex_spark.operators.curate import rare_bigram_stats

        docs = spark.createDataFrame(
            [(1, "solo"), (2, ""), (3, "p q"), (4, "p q"), (5, "p q")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_rare"], r["rare_frac"])
            for r in rare_bigram_stats(
                docs, rare_max_count=2, token_split=" ", lowercase=False
            ).collect()
        }
        # docs 1-2 have no bigrams; "p q" occurs 3 times > rare_max_count
        assert set(out) == {3, 4, 5}
        assert all(v == (0, 0.0) for v in out.values())


class TestBoilerplate:
    def _pages(self, spark):
        import datetime as dt

        rows = []
        for i in range(4):
            text = "\n".join(
                [
                    "  Nav | Home  ",          # all 4 pages -> boilerplate
                    f"Unique content {i}.",    # unique -> content
                    *(["Mid banner"] if i < 2 else []),  # 2/4 = 0.5 -> boilerplate (at threshold)
                    *(["Rare promo"] if i == 0 else []),  # 1/4 -> content
                    "© example. All rights reserved.",
                ]
            )
            rows.append((f"https://h.example.org/p{i}", dt.datetime(2024, 1, 1), b"", text, "en"))
        # a re-fetch of p0 under a tracking-param variant: must NOT raise
        # any line's distinct-page count
        rows.append(
            ("https://h.example.org/p0?utm_source=x", dt.datetime(2024, 1, 2), b"", rows[0][3], "en")
        )
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )

    def test_detection_thresholds_and_refetch_immunity(self, spark):
        from deepex_spark.operators.curate import boilerplate_lines

        got = {
            r["line"]: (r["n_pages"], r["frac"])
            for r in boilerplate_lines(self._pages(spark)).collect()
        }
        assert got == {
            "Nav | Home": (4, 1.0),
            "Mid banner": (2, 0.5),
            "© example. All rights reserved.": (4, 1.0),
        }

    def test_strip_keeps_order_rows_and_content(self, spark):
        from deepex_spark.operators.curate import strip_boilerplate

        got = {r["url"]: r["clean_text"] for r in strip_boilerplate(self._pages(spark)).collect()}
        assert len(got) == 5  # every input row survives, incl. the re-fetch
        assert got["https://h.example.org/p0"] == "Unique content 0.\nRare promo"
        assert got["https://h.example.org/p3"] == "Unique content 3."

    def test_all_boilerplate_page_yields_empty_not_missing(self, spark):
        import datetime as dt

        from deepex_spark.operators.curate import strip_boilerplate

        rows = [
            (f"https://h.example.org/p{i}", dt.datetime(2024, 1, 1), b"",
             "Same everywhere", "en")
            for i in range(3)
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        got = strip_boilerplate(pages).collect()
        assert len(got) == 3 and all(r["clean_text"] == "" for r in got)


class TestDedupParagraphs:
    def _docs(self, spark):
        rows = [
            # a: first occurrence of P1, P2; intra-doc repeat of P1
            ("a", "P1\nP2\nP1"),
            # b: P2 duplicated cross-doc, P3 fresh; empty line ignored
            ("b", "P2\n\nP3"),
            # c: everything seen before -> fully deduped
            ("c", "P1\nP3"),
            # d: whitespace-only text -> zero paragraphs
            ("d", "   \n  "),
        ]
        return spark.createDataFrame(rows, "url string, text string")

    def test_first_occurrence_wins_globally_and_within_doc(self, spark):
        from deepex_spark.operators.curate import dedup_paragraphs

        got = {
            r["url"]: (r["clean_text"], r["total_paras"], r["kept_paras"])
            for r in dedup_paragraphs(self._docs(spark)).collect()
        }
        assert got == {
            "a": ("P1\nP2", 3, 2),  # intra-doc repeat of P1 dropped
            "b": ("P3", 2, 1),      # P2 lost to a; empty line not a para
            "c": ("", 2, 0),        # fully deduped but row KEPT
            "d": ("", 0, 0),        # no paragraphs at all
        }

    def test_order_preserved_and_trim(self, spark):
        from deepex_spark.operators.curate import dedup_paragraphs

        docs = spark.createDataFrame(
            [("x", "  z9  \na1\n z9 ")], "url string, text string"
        )
        r = dedup_paragraphs(docs).collect()[0]
        # document order (z9 before a1), trimmed pieces, repeat dropped
        assert r["clean_text"] == "z9\na1"
        assert (r["total_paras"], r["kept_paras"]) == (3, 2)

    def test_partition_count_invariant(self, spark):
        from deepex_spark.operators.curate import dedup_paragraphs

        docs = self._docs(spark)
        one = sorted(map(tuple, dedup_paragraphs(docs.coalesce(1)).collect()))
        many = sorted(map(tuple, dedup_paragraphs(docs.repartition(7)).collect()))
        assert one == many


def test_dup_spans_merge_semantics(spark):
    """Substring-dedup span detection pins: same-doc repeats count
    toward the occurrence threshold, overlapping flagged windows merge,
    windows exactly `window` apart merge (intervals touch), anything
    further starts a new span, and dup-free docs emit nothing."""
    from deepex_spark.operators.curate import dup_spans

    docs = spark.createDataFrame(
        [
            # 'a b c d e' repeated with a gap -> two spans of 5 tokens
            (1, "a b c d e X Y Z a b c d e"),
            # all-unique tokens -> no row
            (2, "p q r s t u v w"),
            # shares d1's 'a b c d' window once -> one 4-token span
            (3, "a b c d q1 q2 q3 q4 q5"),
            # SAME-doc repeat 5 apart (> window) -> two spans
            (4, "m n o p Z m n o p"),
            # doc == its own first half: flagged 0..4 and 8..12, and
            # 8 - 4 == window merges them -> ONE whole-doc span
            (5, "e f g h i j k l e f g h i j k l"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in dup_spans(docs, window=4).collect()
    }
    assert set(rows) == {1, 3, 4, 5}
    assert (rows[1]["n_dup_spans"], rows[1]["n_dup_tokens"],
            rows[1]["n_tokens"]) == (2, 10, 13)
    assert (rows[3]["n_dup_spans"], rows[3]["n_dup_tokens"]) == (1, 4)
    assert (rows[4]["n_dup_spans"], rows[4]["n_dup_tokens"]) == (2, 8)
    assert (rows[5]["n_dup_spans"], rows[5]["n_dup_tokens"],
            rows[5]["dup_ratio"]) == (1, 16, 1.0)


def test_merge_span_stats_matches_interval_union(spark):
    """Seeded randomized check: the row-local span-merge fold equals a
    brute-force Python interval union for 300 random sorted position
    sets across window sizes 1/2/4/8 (plus the empty set), evaluated in
    ONE Spark job per window."""
    import random

    from pyspark.sql import functions as F

    from deepex_spark.operators.curate import merge_span_stats

    rng = random.Random(1266)

    def py_union(ps, w):
        covered = set()
        for p in ps:
            covered.update(range(p, p + w))
        if not covered:
            return (0, 0)
        xs = sorted(covered)
        spans = 1
        for a, b in zip(xs, xs[1:]):
            if b > a + 1:
                spans += 1
        return (spans, len(xs))

    for w in (1, 2, 4, 8):
        cases = [[]] + [
            sorted(rng.sample(range(0, 60), rng.randint(1, 20)))
            for _ in range(75)
        ]
        df = spark.createDataFrame(
            [(i, ps) for i, ps in enumerate(cases)], "i long, ps array<long>"
        )
        got = {
            r["i"]: (r["s"]["n_spans"], r["s"]["toks"])
            for r in df.select(
                "i", merge_span_stats(F.col("ps"), w).alias("s")
            ).collect()
        }
        for i, ps in enumerate(cases):
            assert got[i] == py_union(ps, w), (w, ps)


def test_event_transitions_exact(spark):
    """Hand-built two-user stream: transition counts and row-normalized
    probabilities match exactly; a same-timestamp tie orders by the
    unique event_id; the last event of each user emits no pair."""
    from deepex_spark.operators.curate import event_transitions

    t0 = datetime(2026, 1, 1)
    rows = [
        # user 1: A -> B -> B -> C
        (1, t0, 1, "A"),
        (2, t0 + timedelta(minutes=1), 1, "B"),
        (3, t0 + timedelta(minutes=2), 1, "B"),
        (4, t0 + timedelta(minutes=3), 1, "C"),
        # user 2: tie at t0 resolved by event_id: A (id 5) then C (id 6)
        (5, t0, 2, "A"),
        (6, t0, 2, "C"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["src_type"], r["dst_type"]): (r["n"], r["p"])
        for r in event_transitions(df).collect()
    }
    assert got == {
        ("A", "B"): (1, 0.5),
        ("A", "C"): (1, 0.5),
        ("B", "B"): (1, 0.5),
        ("B", "C"): (1, 0.5),
    }


def test_pmi_collocations_exact(spark):
    """Hand-computed PMI on a 2-doc corpus: counts, the shared float
    expression, min_count filtering and the (pmi, w1, w2) order."""
    import math

    from deepex_spark.operators.curate import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    # unigrams: a=3 b=3 c=1, N1=7; bigrams: (a,b)x3 (b,a) (b,c), N2=5
    def pmi(nxy, nx, ny):
        return round(math.log((nxy / 5) / ((nx / 7) * (ny / 7))), 6)

    got = [
        (r["w1"], r["w2"], r["n_xy"], r["pmi"])
        for r in pmi_collocations(docs, min_count=1, top_k=10).collect()
    ]
    expect = sorted(
        [
            ("a", "b", 3, pmi(3, 3, 3)),
            ("b", "a", 1, pmi(1, 3, 3)),
            ("b", "c", 1, pmi(1, 3, 1)),
        ],
        key=lambda t: (-t[3], t[0], t[1]),
    )
    assert got == expect
    only = pmi_collocations(docs, min_count=2, top_k=10).collect()
    assert [(r["w1"], r["w2"]) for r in only] == [("a", "b")]


def test_ewma_smooth_exact(spark):
    """Hand-computed fixed-horizon EWMA: warm-up normalization over the
    present prefix, the (1-alpha)^k weight ladder, per-user isolation."""
    rows = [
        (0, 1, "2024-01-01T00:00:00", 10.0),
        (1, 1, "2024-01-01T00:01:00", 20.0),
        (2, 1, "2024-01-01T00:02:00", 30.0),
        (3, 2, "2024-01-01T00:00:30", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    from deepex_spark.operators.curate import ewma_smooth

    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_smooth(df, horizon=8, alpha=0.3).collect()
    }
    # user 1: t0 = 10; t1 = (20 + 0.7*10)/1.7; t2 = (30 + 0.7*20 + 0.49*10)/2.19
    assert got[0] == 10.0
    assert got[1] == round((20 + 0.7 * 10) / 1.7, 6)
    assert got[2] == round((30 + 0.7 * 20 + 0.49 * 10) / 2.19, 6)
    # user 2 is untouched by user 1's history
    assert got[3] == 5.0


def test_ewma_smooth_horizon_truncates(spark):
    """Observations older than the horizon drop out entirely: with
    horizon=2 the smoothed value depends on the last two rows only."""
    rows = [(i, 1, f"2024-01-01T00:0{i}:00", float(v)) for i, v in enumerate([100, 0, 0])]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    from deepex_spark.operators.curate import ewma_smooth

    got = {r["event_id"]: r["ewma"] for r in ewma_smooth(df, horizon=2, alpha=0.3).collect()}
    # row 2: window = rows 1..2 (values 0, 0) — the 100 at t0 is gone
    assert got[2] == 0.0
    assert got[1] == round((0 + 0.7 * 100) / 1.7, 6)


def test_bm25_topk_exact(spark):
    """Hand-computed BM25 on a 2-doc corpus: Lucene-shaped idf, length
    normalization, micro-unit integer summation, per-query rank."""
    import math

    from deepex_spark.operators.curate import bm25_topk

    docs = spark.createDataFrame([(1, "a b a"), (2, "b c")], "doc_id long, text string")
    qs = spark.createDataFrame([(1, "a"), (1, "b")], "query_id long, term string")

    def micro(tf, df, dl, n=2, avgdl=2.5, k1=1.2, b=0.75):
        idf = math.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
        part = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        return round(idf * part * 1000000.0)

    d1 = round((micro(2, 1, 3) + micro(1, 2, 3)) / 1000000.0, 6)
    d2 = round(micro(1, 2, 2) / 1000000.0, 6)
    got = [
        (r["query_id"], r["doc_id"], r["n_terms"], r["bm25"], r["rk"])
        for r in bm25_topk(docs, qs).orderBy("rk").collect()
    ]
    assert got == [(1, 1, 2, d1, 1), (1, 2, 1, d2, 2)]
    assert d1 > d2  # the doc matching both terms outranks the single-match doc


def test_frequent_sequences_exact(spark):
    """Hand-computed trigram mining: contiguity within a user, cross-user
    isolation, count ranking with lexicographic tie-break."""
    rows = [
        # user 1: A B C A B C  -> trigrams ABC, BCA, CAB, ABC
        *[(i, 1, f"2024-01-01T00:0{i}:00", t) for i, t in enumerate("ABCABC")],
        # user 2: B C A        -> BCA
        *[(10 + i, 2, f"2024-01-01T00:0{i}:00", t) for i, t in enumerate("BCA")],
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))

    from deepex_spark.operators.curate import frequent_sequences

    got = [
        (r["s1"], r["s2"], r["s3"], r["n"], r["rk"])
        for r in frequent_sequences(df).orderBy("rk").collect()
    ]
    assert got == [
        ("A", "B", "C", 2, 1),
        ("B", "C", "A", 2, 2),   # ties with ABC on n=2, loses lexicographically
        ("C", "A", "B", 1, 3),
    ]


def test_frequent_sequences_length_guard(spark):
    import pytest as _pytest

    from deepex_spark.operators.curate import frequent_sequences

    with _pytest.raises(ValueError):
        frequent_sequences(spark.range(1), length=1)


def test_robust_zscores_exact(spark):
    """Hand-computed median/MAD: lower-median element pick, spike
    immunity, MAD=0 -> NULL z."""
    rows = [
        (0, "a", 1.0), (1, "a", 2.0), (2, "a", 3.0), (3, "a", 4.0), (4, "a", 1000.0),
        (5, "b", 7.0), (6, "b", 7.0), (7, "b", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

    from deepex_spark.operators.curate import robust_zscores

    got = {r["event_id"]: (r["med"], r["mad"], r["z"]) for r in robust_zscores(df).collect()}
    # group a: n=5, lower median = 3.0; devs = [2,1,0,1,997] -> median dev = 1.0
    assert got[0] == (3.0, 1.0, round((1.0 - 3.0) / (1.4826 * 1.0), 6))
    assert got[4] == (3.0, 1.0, round(997.0 / 1.4826, 6))  # spike scored, not absorbed
    # group b: constant -> MAD 0 -> z NULL
    assert got[5] == (7.0, 0.0, None)


def test_robust_zscores_even_group_lower_median(spark):
    """Even-sized group picks the LOWER median element, not an
    interpolated midpoint."""
    rows = [(0, "a", 1.0), (1, "a", 2.0), (2, "a", 3.0), (3, "a", 4.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

    from deepex_spark.operators.curate import robust_zscores

    meds = {r["event_id"]: r["med"] for r in robust_zscores(df).collect()}
    assert meds[0] == 2.0  # (4+1) div 2 = rank 2 -> value 2.0


def test_cusum_shifts_exact(spark):
    """Hand-computed CUSUM on a step series: flat days accumulate
    nothing, a sustained step crosses the threshold where a single
    spike would not persist."""
    # type a: 10 events/day for 4 days, then 30/day for 3 days
    rows = []
    eid = 0
    for day, n in enumerate([10, 10, 10, 10, 30, 30, 30]):
        for k in range(n):
            rows.append((eid, f"2024-01-0{day + 1}T0{k % 10}:00:00", "a"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))

    from deepex_spark.operators.curate import cusum_shifts

    out = {
        r["d"].day: (r["n"], r["cusum"], r["is_shift"])
        for r in cusum_shifts(df, slack=0.5, threshold=0.3).collect()
    }
    # mu = 130/7; micro-unit rounding is HALF-UP on both engines (Spark
    # F.round / DuckDB round away-from-zero) — python's round() is
    # banker's and would differ at the exact .5 the slack term hits
    import math

    hround = lambda v: int(math.floor(v + 0.5))  # noqa: E731
    mu_m = hround(130 * 1000000.0 / 7)
    sl = hround(0.5 * mu_m)
    rs, mn, exp = 0, 0, {}
    for day, n in enumerate([10, 10, 10, 10, 30, 30, 30]):
        rs += n * 1000000 - mu_m - sl
        mn = min(mn, rs)
        exp[day + 1] = round((rs - mn) / 1000000.0, 6)
    for day in range(1, 8):
        assert out[day][1] == exp[day], day
    # flat prefix never flags; the sustained step accumulates past the
    # 0.3*mu threshold by day 7 (2.14/day against a 5.57 bar)
    assert not out[1][2] and not out[5][2]
    assert out[7][2]


def test_volume_trends_exact(spark):
    """A perfectly linear daily series recovers its slope with r2=1;
    a single-day group yields NULLs."""
    rows = []
    eid = 0
    for day, n in enumerate([5, 10, 15, 20]):   # slope 5/day
        for k in range(n):
            rows.append((eid, f"2024-02-0{day + 1}T00:0{k % 6}:00", "up"))
            eid += 1
    rows.append((eid, "2024-02-01T00:00:00", "single"))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))

    from deepex_spark.operators.curate import volume_trends

    got = {r["event_type"]: r for r in volume_trends(df).collect()}
    assert got["up"]["n_days"] == 4
    assert got["up"]["slope"] == 5.0
    assert got["up"]["r2"] == 1.0
    assert got["single"]["slope"] is None and got["single"]["r2"] is None


def test_bot_flags_exact(spark):
    """Metronomic user flags, bursty user doesn't, below-min-gaps user
    doesn't regardless of regularity; sub-second jitter truncates to
    whole seconds before the moments."""
    rows = []
    eid = 0
    # bot: exactly 60s apart, 6 gaps
    for k in range(7):
        rows.append((eid, 1, f"2024-01-01T00:{k:02d}:00", )); eid += 1
    # human: wildly varying gaps (6 gaps)
    for off in [0, 10, 11, 500, 510, 3000, 3010]:
        rows.append((eid, 2, f"2024-01-01T{off // 3600:02d}:{(off % 3600) // 60:02d}:{off % 60:02d}")); eid += 1
    # regular but only 2 gaps -> under min_gaps
    for k in range(3):
        rows.append((eid, 3, f"2024-01-01T00:{k:02d}:00")); eid += 1
    df = spark.createDataFrame(
        [(i, u, t) for (i, u, t) in rows], "event_id long, user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))

    from deepex_spark.operators.curate import bot_flags

    got = {r["user_id"]: (r["n_gaps"], r["cv2"], r["is_bot"]) for r in bot_flags(df).collect()}
    assert got[1] == (6, 0.0, True)          # constant gaps: cv2 exactly 0
    assert got[2][0] == 6 and got[2][2] is False and got[2][1] > 0.1
    assert got[3] == (2, 0.0, False)         # regular but too few gaps


def test_bot_flags_same_second_user(spark):
    """All events within one second: every gap truncates to 0, sg=0 ->
    cv2 defined as 0, flagged when n_gaps suffices."""
    rows = [(i, 1, f"2024-01-01T00:00:00.{i}00000") for i in range(7)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    from deepex_spark.operators.curate import bot_flags

    [r] = bot_flags(df).collect()
    assert (r["n_gaps"], r["mean_gap_s"], r["cv2"], r["is_bot"]) == (6, 0.0, 0.0, True)


def test_distribution_drift_identical_populations(spark):
    """Identical populations: every smoothed p equals q, PSI exactly 0."""
    docs = spark.createDataFrame(
        [(i, "w " * (10 + i)) for i in range(6)], "doc_id long, text string"
    )
    from deepex_spark.operators.curate import distribution_drift

    rows = distribution_drift(docs, docs).collect()
    assert len(rows) == 10
    assert all(r["psi_term"] == 0.0 and r["psi"] == 0.0 for r in rows)


def test_distribution_drift_detects_shift(spark):
    """Short-doc vs long-doc populations: mass sits in different buckets
    and PSI is large; empty-in-both buckets contribute ~0."""
    short = spark.createDataFrame([(i, "w " * 10) for i in range(20)], "doc_id long, text string")
    long_ = spark.createDataFrame([(i, "w " * 120) for i in range(20)], "doc_id long, text string")
    from deepex_spark.operators.curate import distribution_drift

    rows = {r["bucket"]: r for r in distribution_drift(short, long_).collect()}
    assert rows[0]["n_a"] == 20 and rows[0]["n_b"] == 0
    assert rows[2]["n_b"] == 20 and rows[2]["n_a"] == 0
    assert rows[0]["psi"] > 0.25          # drifted by the standard read
    assert abs(rows[5]["psi_term"]) < 1e-6  # empty-in-both ~0 via shared smoothing
