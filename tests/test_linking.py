"""Entity linking / alias matching / canonicalization / graph tests."""

import pytest

from deepex_spark.nlp.keywords import KeywordTrie, lemma, lemmatize_with_spans


def test_trie_longest_nonoverlapping():
    trie = KeywordTrie(["new york", "new york city", "york"])
    got = KeywordTrie.extract(trie, "I love New York City and york")
    assert got[0][0] == "new york city"
    s, e = got[0][1], got[0][2]
    assert "I love New York City and york"[s:e] == "New York City"
    # scan resumes after the match; trailing standalone 'york' still found
    assert got[1][0] == "york"


def test_lemma_rules():
    assert lemma("was") == "be"
    assert lemma("cities") == "city"
    assert lemma("running") == "run"
    assert lemma("stopped") == "stop"
    assert lemma("founded") == "found"
    assert lemma("works") == "work"


# every character Python's str.split() splits on: ASCII \s, the \x1c-\x1f
# separators and the Unicode spaces
_PY_SPACES = "".join(c for c in map(chr, range(0x3001)) if c.isspace())
# words around each suffix rule's length guard, doubled stems included
_GUARD_WORDS = [
    "ies", "ties", "aies", "cities", "ches", "aches", "shes", "xes", "axes", "sses",
    "zes", "ss", "us", "is", "as", "bus", "kiss", "this", "cats", "ing", "sing",
    "bring", "going", "runing", "running", "ed", "bed", "feed", "stopped", "added",
    "lled", "eed", "seeing", "aaing", "aaed", "doing", "s", "S", "WAS", "Cities",
]


def _lemmatize_spark(spark, texts):
    from pyspark.sql import functions as F

    from deepex_spark.operators.canonicalize import lemmatize_sql

    df = spark.createDataFrame(list(enumerate(texts)), "i int, s string")
    out = df.select("i", F.expr(lemmatize_sql("s")).alias("l")).collect()
    return [r.l for r in sorted(out)]


def _lemmatize_py(text):
    return None if text is None else " ".join(lemma(w) for w in text.split())


def test_lemmatize_col_matches_lemma_on_edge_cases(spark):
    from deepex_spark.nlp.keywords import _LEMMA_EXCEPTIONS

    words = [*_LEMMA_EXCEPTIONS, *(w.upper() for w in _LEMMA_EXCEPTIONS), *_GUARD_WORDS]
    texts = [None, "", " ", "\x1c\x1d", _PY_SPACES, "was\x1fborn\u3000in\xa0", *words,
             " ".join(words), _PY_SPACES.join(words)]
    assert _lemmatize_spark(spark, texts) == [_lemmatize_py(t) for t in texts]


def test_lemmatize_col_matches_lemma_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deepex_spark.nlp.keywords import _LEMMA_EXCEPTIONS

    word = st.one_of(
        st.sampled_from(sorted(_LEMMA_EXCEPTIONS)),
        st.sampled_from(_GUARD_WORDS),
        st.builds(
            lambda stem, suffix: stem + suffix,
            st.text("abdegilnorstuyzBEGSÉé", max_size=5),
            st.sampled_from(["", "s", "ss", "us", "is", "ies", "ches", "shes", "xes",
                             "sses", "zes", "ing", "ed", "tting", "lled"]),
        ),
    )
    text = st.lists(st.one_of(word, st.text(_PY_SPACES, min_size=1, max_size=2)),
                    max_size=6).map("".join)

    @settings(max_examples=20, deadline=None)
    @given(st.lists(st.one_of(st.none(), text), min_size=1, max_size=60))
    def run(texts):
        assert _lemmatize_spark(spark, texts) == [_lemmatize_py(t) for t in texts]

    run()


def test_lemmatize_span_backmap():
    text = "Obama was running"
    lem_text, ns2os = lemmatize_with_spans(text)
    assert lem_text == "obama be run"
    # each new span maps back to the original word's char span
    for (ns, os_) in ns2os:
        assert lem_text[ns[0]:ns[1]] == lem_text[ns[0]:ns[1]]
        assert text[os_[0]:os_[1]] in text


def test_match_aliases_merge(spark):
    from deepex_spark.operators.linking import match_aliases

    lem = {"be bear in": ["P19"], "work at": ["P108"]}
    unlem = {"was born in": ["P19_raw"], "lives": ["P551"]}
    df = spark.createDataFrame(
        [("d1", "Obama was born in Hawaii"), ("d2", "She works at the lab")],
        "docid string, text string",
    )
    rows = {r["docid"]: r["rel_candidates"] for r in match_aliases(df, "text", lem, unlem).collect()}
    d1 = rows["d1"]
    # lemmatized 'be bear in' matches 'was born in' span; unlemmatized
    # matches the same raw span -> merged relation set-union
    spans = {tuple(c["char_span"]): sorted(c["relation"]) for c in d1}
    assert (6, 17) in spans
    assert spans[(6, 17)] == ["P19", "P19_raw"]
    d2 = rows["d2"]
    assert any(c["aliase"] == "work at" for c in d2)


def test_link_triples_broadcast_and_salted(spark):
    from deepex_spark.operators.linking import alias_entity_table, link_triples

    tri = spark.createDataFrame(
        [
            ("d1", "Barack Obama", "was born in", "Hawaii", 0.9),
            ("d1", "The President", "lives in", "Washington", 0.8),
        ],
        "docid string, subj string, rel string, obj string, score double",
    )
    alias = alias_entity_table(
        spark, {"barack obama": "Barack Obama", "the president": "Barack Obama"}
    )
    for strategy in ("broadcast", "salted"):
        out = {r["subj"]: r for r in link_triples(tri, alias, strategy=strategy).collect()}
        assert out["Barack Obama"]["subj_entity"] == "Barack Obama"
        assert out["The President"]["subj_entity"] == "Barack Obama"
        assert out["The President"]["subj_linked"] is True
        assert out["Barack Obama"]["obj_entity"] == "hawaii"  # NIL fallback
        assert out["Barack Obama"]["obj_linked"] is False


def test_link_triples_colliding_aliases_resolve_to_the_first(spark):
    """Aliases equal after lower(trim()) resolve to the first one in the
    alias table's order, with either strategy: in alias_entity_table's one
    partition, and across the partitions of a table spread over several
    (deduped over a shuffle)."""
    import pyarrow as pa

    from deepex_spark.operators.linking import alias_entity_table, link_triples

    aliases = {"POTUS": "first"}
    aliases.update({f"filler {i}": f"F{i}" for i in range(200)})
    aliases[" potus"] = "second"
    aliases.update({f"more {i}": f"M{i}" for i in range(200)})
    aliases["Potus\t"] = "third"
    local = alias_entity_table(spark, aliases)
    assert local.rdd.getNumPartitions() == 1
    spread = spark.createDataFrame(pa.table(
        [[k.lower() for k in aliases], list(aliases.values())], names=["alias", "canonical"]))
    assert spread.rdd.getNumPartitions() > 1
    tri = spark.createDataFrame(
        [("d1", " POTUS", "r", "potus ", 0.9), ("d2", "Potus", "r", "nobody", 0.1)],
        "docid string, subj string, rel string, obj string, score double",
    )
    for alias in (local, spread):
        for strategy in ("broadcast", "salted"):
            rows = link_triples(tri, alias, strategy=strategy).collect()
            assert {r["subj_entity"] for r in rows} == {"first"}
            assert sorted((r["obj_entity"], r["obj_linked"]) for r in rows) == [
                ("first", True), ("nobody", False)
            ]


def test_alias_entity_table_schema_and_empty(spark):
    from deepex_spark.operators.linking import alias_entity_table

    df = alias_entity_table(spark, {"Barack Obama": "Barack Obama", "POTUS": "Barack Obama"})
    assert df.schema.simpleString() == "struct<alias:string,canonical:string>"
    assert sorted(map(tuple, df.collect())) == [
        ("barack obama", "Barack Obama"), ("potus", "Barack Obama")
    ]
    empty = alias_entity_table(spark, {})
    assert empty.schema.simpleString() == "struct<alias:string,canonical:string>"
    assert empty.count() == 0


def test_salted_join_matches_plain(spark):
    from deepex_spark.operators.joins import salted_equi_join

    big = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(100)], "k int, v string"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b")], "k int, name string")
    plain = {(r["k"], r["v"], r["name"]) for r in big.join(small, "k").collect()}
    salted = {(r["k"], r["v"], r["name"]) for r in salted_equi_join(big, small, "k", 4).collect()}
    assert plain == salted


def test_canonicalize_and_graph(spark):
    from deepex_spark.operators.canonicalize import canonicalize_triples
    from deepex_spark.operators.graph import build_edges, build_vertices

    tri = spark.createDataFrame(
        [
            ("d1", "The President", "Was Elected In", "The Country", 0.5),
            ("d2", "president", "was elected in", "Country", 0.7),
        ],
        "docid string, subj string, rel string, obj string, score double",
    )
    canon = canonicalize_triples(tri)
    rows = canon.collect()
    # determiner-stripped lowercase canonical forms collapse the two docs
    assert {r["subj_canon"] for r in rows} == {"president"}
    assert {r["pred_canon"] for r in rows} == {"be elect in"}
    v = build_vertices(canon).collect()
    by_canon = {r["canonical"]: r for r in v}
    assert by_canon["president"]["n_docs"] == 2
    e = build_edges(canon).collect()
    assert len(e) == 1 and e[0]["n_evidence"] == 2
    assert e[0]["max_score"] == pytest.approx(0.7)


def test_catalog_checkpoint_resume(spark, tmp_path):
    from deepex_spark.plans.catalog import Catalog

    cat = Catalog(str(tmp_path))
    df1 = spark.createDataFrame([(f"doc{i}", i) for i in range(50)], "docid string, x int")
    cat.checkpoint(df1, "stage1", n_buckets=8, run_id="r1")
    assert len(cat.completed_buckets("stage1")) == 8
    # resume: everything completed -> pending is empty
    assert cat.pending(df1, "stage1", n_buckets=8).count() == 0
    # second checkpoint call writes nothing new (all buckets done)
    before = cat.read(spark, "stage1").count()
    cat.checkpoint(df1, "stage1", n_buckets=8, run_id="r2")
    assert cat.read(spark, "stage1").count() == before
    # metrics table appends, one row per call
    cat.log_metric(spark, "stage1", before, 1.23, "r1")
    assert cat.read(spark, "metrics").count() == 1
    cat.log_metric(spark, "stage2", 7, 0.5, "r1")
    m = cat.read(spark, "metrics")
    assert m.schema.simpleString() == (
        "struct<run_id:string,stage:string,rows:bigint,wall_s:double,ts:double>"
    )
    got = sorted((r["stage"], r["rows"], r["wall_s"], r["run_id"]) for r in m.collect())
    assert got == [("stage1", before, 1.23, "r1"), ("stage2", 7, 0.5, "r1")]


class TestEntityMatchPairs:
    def _pairs(self, spark, names, **kw):
        from deepex_spark.operators.linking import entity_match_pairs

        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(names)], "ent_id long, name string"
        )
        return {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in entity_match_pairs(df, **kw).collect()
        }

    def test_first_token_typo_recovered_by_last_token_pass(self, spark):
        # "Alln Turing" shares no first token with "Alan Turing" — the
        # last-token blocking pass must still produce the pair
        got = self._pairs(spark, ["Alan Turing", "Alln Turing"])
        assert got == {(0, 1): 1}

    def test_last_token_typo_recovered_by_first_token_pass(self, spark):
        got = self._pairs(spark, ["Alan Turing", "Alan Turnig"])
        assert got == {(0, 1): 2}

    def test_same_block_but_too_distant_not_matched(self, spark):
        got = self._pairs(spark, ["Alan Turing", "Director Turing"])
        assert got == {}

    def test_case_insensitive_distance_zero(self, spark):
        got = self._pairs(spark, ["Grace Hopper", "GRACE HOPPER"])
        assert got == {(0, 1): 0}

    def test_pair_found_via_both_passes_emitted_once(self, spark):
        # identical names match in BOTH blocking passes; candidate
        # distinct collapses them to one row
        got = self._pairs(spark, ["Warsaw", "Warsaw"])
        assert got == {(0, 1): 0}

    def test_max_block_cutoff_drops_hot_key(self, spark):
        # four names share first token "the"; with max_block=3 the hot
        # F:the key is dropped and the distinct last tokens never block
        names = ["the alpha", "the altha", "the gamma", "the delta"]
        assert self._pairs(spark, names, max_block=3) == {}
        # raising the cutoff restores the in-block match
        assert self._pairs(spark, names, max_block=10) == {(0, 1): 1}

    def test_typo_in_both_blocking_keys_is_documented_recall_bound(self, spark):
        # edits in BOTH tokens: true distance 2 but no shared block key —
        # not matched (the documented blocking recall bound, not a bug)
        got = self._pairs(spark, ["Alan Turing", "Aln Turingg"])
        assert got == {}

    def test_transitive_chain_lands_in_one_cluster(self, spark):
        from deepex_spark.operators.graph import dedup_clusters
        from deepex_spark.operators.linking import entity_match_pairs

        names = ["Alan Turing", "Alann Turing", "Alannn Turing", "Warsaw"]
        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(names)], "ent_id long, name string"
        )
        pairs = entity_match_pairs(df)
        # 0~1 (1), 1~2 (1), 0~2 (2) all within max_dist here; the cluster
        # test still needs transitivity for the (0,2) membership via CC
        out = {
            r["ent_id"]: (r["cluster_id"], r["is_canonical"])
            for r in dedup_clusters(df, pairs, id_col="ent_id").collect()
        }
        assert out[0] == (0, True)
        assert out[1] == (0, False)
        assert out[2] == (0, False)
        assert out[3] == (3, True)

    def test_fixture_decoys_stay_singletons(self, spark):
        from deepex_spark.queries import REGISTRY

        rows = REGISTRY["entity_resolution_clusters"].spark_fn(spark, "unused")
        ents = spark.read.parquet("fixtures/entities.parquet")
        decoys = {
            r["ent_id"] for r in ents.where(
                ents.name.startswith("Director ")).collect()
        }
        assert decoys
        for r in rows.collect():
            if r["ent_id"] in decoys:
                assert r["cluster_id"] == r["ent_id"] and r["is_canonical"]
