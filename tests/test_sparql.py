"""SPARQL-lite BGP matcher (operators/sparql.py) vs an independent
pure-Python enumerator, plus parser edge cases and the scale guards."""

from __future__ import annotations

import itertools
import re

import pytest

from deepex_spark.operators.sparql import bgp, parse_bgp

# designed KG: people / cities / countries with known match sets
EDGES = [
    ("alice", "born_in", "paris"),
    ("bob", "born_in", "paris"),
    ("carol", "born_in", "lyon"),
    ("dave", "born_in", "berlin"),
    ("paris", "in_country", "france"),
    ("lyon", "in_country", "france"),
    ("berlin", "in_country", "germany"),
    ("alice", "knows", "bob"),
    ("bob", "knows", "carol"),
    ("carol", "knows", "alice"),
    ("eve", "knows", "eve"),  # self-loop
    ("alice", "age", 30),
    ("bob", "age", 41),
    ("carol", "age", 30),
]


def _edges_df(spark):
    rows = [(s, p, str(o)) for s, p, o in EDGES]
    return spark.createDataFrame(rows, "src string, rel string, dst string")


def _closure_candidates(edges, pat):
    """Candidate (s, p, o) triples for one pattern: the raw edge list for
    a plain pattern; for a path-modified one, the pure-Python closure
    pair set (BFS — an algorithm independent of the engine's path
    doubling) as pseudo-triples with the consumed predicate set to None
    so the generic binding loop skips that position."""
    if pat.pred_mod is None:
        return edges
    if pat.pred_seq is not None:
        # sequence group: compose the substeps' (oriented, possibly
        # negated) pair sets by nested-loop join — independent of the
        # engine's DataFrame composition
        base = None
        for inv, neg, iri in pat.pred_seq:
            members = iri if isinstance(iri, tuple) else (iri,)
            step = {
                ((o, s) if inv else (s, o))
                for s, p, o in edges
                if (p in members) != neg
            }
            if base is None:
                base = step
            else:
                base = {
                    (s, o2) for s, m in base for m2, o2 in step if m2 == m
                }
    else:
        members = pat.pred if isinstance(pat.pred, tuple) else (pat.pred,)
        # a negated set's base edge set is the complement membership
        base = {(s, o) for s, p, o in edges if (p in members) != pat.pred_neg}
    pairs = set()
    if pat.pred_mod in ("+", "*"):
        adj = {}
        for s, o in base:
            adj.setdefault(s, set()).add(o)
        for start in adj:
            seen, stack = set(), [start]
            while stack:
                for o in adj.get(stack.pop(), ()):
                    if o not in seen:
                        seen.add(o)
                        stack.append(o)
            pairs |= {(start, t) for t in seen}
    if pat.pred_mod == "?":
        pairs |= base
    if pat.pred_mod in ("*", "?"):
        nodes = {s for s, _, _ in edges} | {o for _, _, o in edges}
        pairs |= {(n, n) for n in nodes}
    return sorted(((s, None, o) for s, o in pairs), key=lambda t: (str(t[0]), str(t[2])))


def naive_bgp(edges, query):
    """Independent evaluator: enumerate every assignment of edges to
    patterns, keep consistent bindings, apply filters, project. The
    binding/consistency loop is _naive_match's (one copy — a pattern
    feature added there covers both reference evaluators)."""
    q = parse_bgp(query)
    results = [
        tuple(b[v] for v in q.select)
        for b in _naive_match(edges, q.patterns, q.filters)
    ]
    return set(results) if q.distinct else sorted(results)


QUERIES = [
    # 2-hop join with a constant object
    "SELECT ?p ?city WHERE { ?p <born_in> ?city . ?city <in_country> <france> . }",
    # variable predicate
    "SELECT ?p ?r WHERE { ?p ?r <paris> . }",
    # filter on var != var across patterns
    "SELECT ?a ?b WHERE { ?a <knows> ?b . FILTER(?a != ?b) }",
    # repeated variable inside ONE pattern (self-loop)
    "SELECT ?x WHERE { ?x <knows> ?x . }",
    # triangle (3 joined patterns)
    "SELECT ?a ?b ?c WHERE { ?a <knows> ?b . ?b <knows> ?c . ?c <knows> ?a . }",
    # DISTINCT collapse
    "SELECT DISTINCT ?city WHERE { ?p <born_in> ?city . }",
    # literal comparison filter (string compare on the stringly df)
    'SELECT ?p WHERE { ?p <age> ?a . FILTER(?a >= "41") }',
    # SELECT *
    "SELECT * WHERE { ?p <born_in> ?c . ?c <in_country> <germany> . }",
    # predicate alternation (single pattern, enumerator sees the tuple)
    "SELECT ?a ?b WHERE { ?a (<knows>|<born_in>) ?b . }",
    # alternation joined with a plain pattern
    "SELECT ?a ?c WHERE { ?a (<born_in>|<knows>) ?x . ?x <in_country> ?c . }",
    # string-function filters (JVM startswith/endswith/contains/rlike)
    'SELECT ?p ?c WHERE { ?p <born_in> ?c . FILTER(CONTAINS(?c, "ar")) }',
    'SELECT ?p ?r ?x WHERE { ?p ?r ?x . FILTER(STRSTARTS(?r, "born")) }',
    'SELECT ?p WHERE { ?p <born_in> ?c . FILTER(STRENDS(?c, "is")) }',
    'SELECT ?a ?b WHERE { ?a <knows> ?b . FILTER(REGEX(?b, "^(a|e)")) }',
    # path modifiers (engine: doubling fixpoint; enumerator: BFS)
    "SELECT ?x ?y WHERE { ?x <knows>+ ?y . }",
    "SELECT ?x WHERE { ?x <knows>+ ?x . }",
    'SELECT ?x ?y WHERE { ?x <born_in>? ?y . FILTER(STRSTARTS(?x, "al")) }',
    "SELECT ?a ?c WHERE { ?a <knows>*/<born_in> ?c . }",
    "SELECT ?x WHERE { <alice> ^<knows>+ ?x . }",
    "SELECT DISTINCT ?x ?y WHERE { ?x (<knows>|<born_in>)+ ?y . }",
    # sequence-GROUP modifiers (engine: composed pair set + doubling;
    # enumerator: nested-loop composition + BFS)
    "SELECT ?x ?y WHERE { ?x (<knows>/<knows>)+ ?y . }",
    "SELECT DISTINCT ?x ?y WHERE { ?x (<knows>/<born_in>)+ ?y . }",
    'SELECT ?x ?y WHERE { ?x (<knows>/<knows>)* ?y . FILTER(STRSTARTS(?x, "e")) }',
    "SELECT ?x ?y WHERE { ?x ^(<knows>/<knows>)+ ?y . }",
    "SELECT DISTINCT ?x ?y WHERE { ?x (<knows>/!<in_country>)+ ?y . }",
    "SELECT ?x ?y WHERE { ?x (^<born_in>/<born_in>)? ?y . "
    'FILTER(STRSTARTS(?y, "al")) }',
    # a modifier-less group is plain sequence sugar
    "SELECT ?a ?c WHERE { ?a (<knows>/<born_in>) ?c . }",
    # seq-group closure joined with a plain pattern
    "SELECT ?x ?c WHERE { ?x (<knows>/<knows>)+ ?b . ?b <born_in> ?c . }",
    # closure joined with a plain pattern through a shared variable
    "SELECT ?x ?c WHERE { ?x <knows>+ ?b . ?b <born_in> ?c . }",
]


@pytest.mark.parametrize("query", QUERIES)
def test_matches_naive_enumerator(spark, query):
    got = [tuple(r) for r in bgp(_edges_df(spark), query).collect()]
    q = parse_bgp(query)
    # compare against the enumerator over the SAME stringly edges
    str_edges = [(s, p, str(o)) for s, p, o in EDGES]
    exp = naive_bgp(str_edges, query)
    if q.distinct:
        assert set(got) == exp and len(got) == len(set(got))
    else:
        assert sorted(got) == exp


def test_join_order_invariance(spark):
    """The most-constant-first heuristic reorders patterns; results must
    not depend on author order."""
    df = _edges_df(spark)
    a = "SELECT ?p ?city WHERE { ?p <born_in> ?city . ?city <in_country> <france> . }"
    b = "SELECT ?p ?city WHERE { ?city <in_country> <france> . ?p <born_in> ?city . }"
    assert sorted(map(tuple, bgp(df, a).collect())) == sorted(
        map(tuple, bgp(df, b).collect())
    )


def test_cross_product_refused_and_opt_in(spark):
    df = _edges_df(spark)
    q = "SELECT ?a ?b WHERE { ?a <in_country> <france> . ?b <in_country> <germany> . }"
    with pytest.raises(ValueError, match="cross product"):
        bgp(df, q)
    rows = bgp(df, q, allow_product=True).collect()
    assert sorted(map(tuple, rows)) == [("lyon", "berlin"), ("paris", "berlin")]


def test_parser_rejections():
    with pytest.raises(ValueError, match="never bound"):
        parse_bgp("SELECT ?z WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="unbound variable"):
        parse_bgp("SELECT ?a WHERE { ?a <knows> ?b . FILTER(?x != ?a) }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        parse_bgp("SELECT ?a WHERE { ?a <knows> . }")
    with pytest.raises(ValueError, match="not a SELECT"):
        parse_bgp("ASK { ?a <knows> ?b }")
    with pytest.raises(ValueError, match="empty graph pattern"):
        parse_bgp("SELECT ?a WHERE {   }")


def test_constants_push_to_scan(spark, tmp_path):
    """Pattern constants must reach the parquet scan as PushedFilters —
    the property that makes a constant-anchored BGP cheap at 100 TB."""
    p = str(tmp_path / "edges")
    _edges_df(spark).write.parquet(p)
    edges = spark.read.parquet(p)
    out = bgp(edges, "SELECT ?p WHERE { ?p <born_in> <paris> . }")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "born_in" in plan and "paris" in plan
    assert sorted(r["p"] for r in out.collect()) == ["alice", "bob"]


def test_filter_applied_before_final_join(spark):
    """A filter whose variables are bound by the FIRST pattern must land
    below the join (pushdown into the tree), visible as a Filter under
    the join in the optimized plan string."""
    df = _edges_df(spark)
    out = bgp(
        df,
        'SELECT ?p ?c WHERE { ?p <born_in> ?c . ?c <in_country> <france> . '
        'FILTER(?p != "bob") }',
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [("alice", "paris"), ("carol", "lyon")]
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    join_pos = optimized.find("Join")
    assert "bob" in optimized[join_pos:], "filter should sit below/inside the join subtree"


def test_optional_left_join_semantics(spark):
    """OPTIONAL keeps unmatched required rows with NULLs; a FILTER inside
    the group pre-filters the optional side (NULL instead of row drop)."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?city ?country WHERE {
          ?p <born_in> ?city .
          OPTIONAL { ?city <in_country> ?country . FILTER(?country != <germany>) }
        }
        """,
    )
    rows = {(r["p"], r["city"]): r["country"] for r in out.collect()}
    assert rows[("alice", "paris")] == "france"
    assert rows[("carol", "lyon")] == "france"
    # berlin's only country is filtered inside the group -> NULL, row kept
    assert rows[("dave", "berlin")] is None
    assert len(rows) == 4


def test_optional_var_in_select_and_distinct(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT DISTINCT ?city ?country WHERE {
          ?p <born_in> ?city .
          OPTIONAL { ?city <in_country> ?country . }
        }
        """,
    )
    got = {tuple(r) for r in out.collect()}
    assert got == {("paris", "france"), ("lyon", "france"), ("berlin", "germany")}


def test_optional_rejections():
    # group filter referencing an outside variable
    with pytest.raises(ValueError, match="outside its group"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b . "
            "OPTIONAL { ?b <knows> ?c . FILTER(?a != ?c) } }"
        )
    # disconnected optional group
    with pytest.raises(ValueError, match="shares no variable"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b . OPTIONAL { ?x <knows> ?y . } }"
        )
    # top-level filter over an optional-only (nullable) variable
    with pytest.raises(ValueError, match="unbound variable"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b . "
            "OPTIONAL { ?b <knows> ?c . } FILTER(?c != ?a) }"
        )
    with pytest.raises(ValueError, match="empty OPTIONAL"):
        parse_bgp("SELECT ?a WHERE { ?a <knows> ?b . OPTIONAL {  } }")


def test_aggregates_grouped(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city (COUNT(*) AS ?n) (COUNT(DISTINCT ?p) AS ?np) "
        "(MIN(?p) AS ?first) WHERE { ?p <born_in> ?city . }",
    )
    assert out.columns == ["city", "n", "np", "first"]
    got = {r["city"]: (r["n"], r["np"], r["first"]) for r in out.collect()}
    assert got == {
        "paris": (2, 2, "alice"),
        "lyon": (1, 1, "carol"),
        "berlin": (1, 1, "dave"),
    }


def test_aggregates_global(spark):
    df = _edges_df(spark)
    rows = bgp(
        df, "SELECT (COUNT(*) AS ?n) (MAX(?b) AS ?m) WHERE { ?a <knows> ?b . }"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 4 and rows[0]["m"] == "eve"


def test_aggregate_rejections():
    with pytest.raises(ValueError, match="unbound variable"):
        parse_bgp("SELECT (COUNT(?z) AS ?n) WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="not supported"):
        parse_bgp("SELECT (MAX(*) AS ?n) WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="only supported inside COUNT"):
        parse_bgp("SELECT (SUM(DISTINCT ?b) AS ?n) WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="cannot be mixed"):
        parse_bgp("SELECT * (COUNT(*) AS ?n) WHERE { ?a <knows> ?b . }")


def test_union_bag_semantics_and_null_fill(spark):
    """UNION is bag union; a variable one branch never binds is NULL on
    that branch's rows (SPARQL's unbound)."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p ?city ?friend WHERE {"
        "  { ?p <born_in> ?city . } UNION { ?p <knows> ?friend . }"
        "}",
    )
    assert out.columns == ["p", "city", "friend"]
    got = sorted(
        [(r["p"], r["city"], r["friend"]) for r in out.collect()],
        key=lambda t: tuple("" if x is None else x for x in t),
    )
    exp = sorted(
        [(s, o, None) for s, p, o in EDGES if p == "born_in"]
        + [(s, None, o) for s, p, o in EDGES if p == "knows"],
        key=lambda t: tuple("" if x is None else x for x in t),
    )
    assert got == exp


def test_union_duplicates_kept_distinct_collapses(spark):
    df = _edges_df(spark)
    q = "SELECT {d}?c WHERE {{ {{ ?p <born_in> ?c . }} UNION {{ ?p <born_in> ?c . }} }}"
    plain = bgp(df, q.format(d="")).collect()
    dedup = bgp(df, q.format(d="DISTINCT ")).collect()
    assert len(plain) == 8  # 4 born_in edges x 2 identical branches
    assert sorted(r["c"] for r in dedup) == ["berlin", "lyon", "paris"]


def test_union_branch_filters_run_before_union(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        'SELECT ?p WHERE {'
        '  { ?p <age> ?a . FILTER(?a >= "41") } UNION { ?p <born_in> <berlin> . }'
        "}",
    )
    assert sorted(r["p"] for r in out.collect()) == ["bob", "dave"]


def test_union_with_aggregate(spark):
    """Aggregates over a partially-bound variable skip its NULL rows."""
    df = _edges_df(spark)
    rows = bgp(
        df,
        "SELECT (COUNT(*) AS ?rows) (COUNT(?city) AS ?cities) WHERE {"
        "  { ?p <born_in> ?city . } UNION { ?p <knows> ?friend . }"
        "}",
    ).collect()
    assert rows[0]["rows"] == 8 and rows[0]["cities"] == 4


def test_order_by_limit_topk(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p ?a WHERE { ?p <age> ?a . } ORDER BY DESC(?a) ?p LIMIT 2",
    )
    assert [tuple(r) for r in out.collect()] == [("bob", "41"), ("alice", "30")]


def test_order_by_on_aggregate_alias(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city (COUNT(*) AS ?n) WHERE { ?p <born_in> ?city . }"
        " ORDER BY DESC(?n) ?city LIMIT 2",
    )
    assert [(r["city"], r["n"]) for r in out.collect()] == [("paris", 2), ("berlin", 1)]


def test_order_limit_plans_take_ordered(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k + k-merge), not a total-sort exchange."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?p ?a WHERE { ?p <age> ?a . } ORDER BY ?a LIMIT 1")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan


def test_union_order_rejections():
    with pytest.raises(ValueError, match="not in the result columns"):
        parse_bgp("SELECT ?a WHERE { ?a <r> ?b . } ORDER BY ?b LIMIT 1")
    with pytest.raises(ValueError, match="nested groups"):
        parse_bgp(
            "SELECT ?a WHERE { { ?a <r> ?b . OPTIONAL { ?a <s> ?c . } }"
            " UNION { ?a <s> ?c . } }"
        )
    with pytest.raises(ValueError, match="outside its branch"):
        parse_bgp(
            "SELECT ?a WHERE { { ?a <r> ?b . FILTER(?c > 1) } UNION { ?a <s> ?c . } }"
        )
    with pytest.raises(ValueError, match="must be exactly"):
        parse_bgp(
            "SELECT ?a WHERE { ?x <q> ?a . { ?a <r> ?b . } UNION { ?a <s> ?c . } }"
        )
    with pytest.raises(ValueError, match="unparsed trailing"):
        parse_bgp("SELECT ?a WHERE { ?a <r> ?b . } LIMIT 2 extra")


def test_not_exists_anti_join(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT DISTINCT ?a WHERE { ?a <knows> ?b ."
        " FILTER NOT EXISTS { ?a <born_in> ?c . } }",
    )
    # knows-subjects: alice bob carol eve; all but eve have a birthplace
    assert [r["a"] for r in out.collect()] == ["eve"]


def test_minus_alias_same_result(spark):
    df = _edges_df(spark)
    a = bgp(
        df,
        "SELECT DISTINCT ?a WHERE { ?a <knows> ?b ."
        " FILTER NOT EXISTS { ?a <born_in> ?c . } }",
    ).collect()
    b = bgp(
        df,
        "SELECT DISTINCT ?a WHERE { ?a <knows> ?b . MINUS { ?a <born_in> ?c . } }",
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_negation_group_filter_prefilters(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT DISTINCT ?a WHERE { ?a <knows> ?b ."
        ' FILTER NOT EXISTS { ?a <age> ?g . FILTER(?g >= "41") } }',
    )
    # only bob (41) is excluded; eve has no age edge at all -> kept
    assert sorted(r["a"] for r in out.collect()) == ["alice", "carol", "eve"]


def test_negation_with_optional_runs_before(spark):
    """Negation applies to the required solution; OPTIONAL NULLs are
    attached afterwards and never tested by the anti-join."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a ?city WHERE { ?a <knows> ?b ."
        " FILTER NOT EXISTS { ?a <born_in> ?c . }"
        " OPTIONAL { ?a <born_in> ?city . } }",
    )
    rows = [(r["a"], r["city"]) for r in out.collect()]
    assert rows == [("eve", None)]


def test_negation_rejections():
    with pytest.raises(ValueError, match="shares no variable"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b ."
            " FILTER NOT EXISTS { ?x <born_in> ?c . } }"
        )
    with pytest.raises(ValueError, match="outside its group"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b ."
            " MINUS { ?a <born_in> ?c . FILTER(?b != ?c) } }"
        )


def test_negation_plans_left_anti_join(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a WHERE { ?a <knows> ?b ."
        " FILTER NOT EXISTS { ?a <born_in> ?c . } }",
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan


def test_path_sequence(spark):
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?p ?country WHERE { ?p <born_in>/<in_country> ?country . }")
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "france"), ("bob", "france"),
        ("carol", "france"), ("dave", "germany"),
    ]


def test_path_inverse_step(spark):
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?c WHERE { <france> ^<in_country> ?c . }")
    assert sorted(r["c"] for r in out.collect()) == ["lyon", "paris"]


def test_path_mixed_inverse_sequence(spark):
    """?a knows someone who shares ?a's birthplace: born_in/^born_in
    walks forward then backward through the city node."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a ?b WHERE { ?a <born_in>/^<born_in> ?b . FILTER(?a != ?b) }",
    )
    assert sorted(map(tuple, out.collect())) == [("alice", "bob"), ("bob", "alice")]


def test_path_select_star_hides_anonymous_vars(spark):
    df = _edges_df(spark)
    out = bgp(df, "SELECT * WHERE { ?p <born_in>/<in_country> ?country . }")
    assert out.columns == ["country", "p"]


def test_path_equivalent_to_explicit_chain(spark):
    df = _edges_df(spark)
    a = bgp(df, "SELECT ?p ?c WHERE { ?p <born_in>/<in_country> ?c . }").collect()
    b = bgp(
        df, "SELECT ?p ?c WHERE { ?p <born_in> ?m . ?m <in_country> ?c . }"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_path_plus_closure_cycle(spark):
    """+ over the knows 3-cycle: connectivity (set) semantics — every
    ordered pair inside the cycle exactly once, incl. (x, x) via the
    cycle, plus eve's self-loop; the cycle proves fixpoint termination."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?x ?y WHERE { ?x <knows>+ ?y . }")
    cyc = ["alice", "bob", "carol"]
    exp = sorted([(x, y) for x in cyc for y in cyc] + [("eve", "eve")])
    assert sorted(map(tuple, out.collect())) == exp


def test_path_plus_self_constraint(spark):
    """?x <r>+ ?x == cycle membership — the repeated variable
    self-constrains the closure pair set."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?x WHERE { ?x <knows>+ ?x . }")
    assert sorted(r["x"] for r in out.collect()) == ["alice", "bob", "carol", "eve"]


def test_path_star_includes_zero_length(spark):
    """* == + ∪ zero-length: anchored on a constant, the constant pairs
    with itself (it occurs in the graph) plus everything reachable."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?y WHERE { <paris> <in_country>* ?y . }")
    assert sorted(r["y"] for r in out.collect()) == ["france", "paris"]
    # zero-length ranges over the graph's node universe: a var-var ?
    # step yields one (n, n) row per distinct node plus the base edges
    nodes = {s for s, _, _ in EDGES} | {str(o) for _, _, o in EDGES}
    base = {(s, str(o)) for s, p, o in EDGES if p == "in_country"}
    out2 = bgp(df, "SELECT ?x ?y WHERE { ?x <in_country>? ?y . }")
    assert set(map(tuple, out2.collect())) == base | {(n, n) for n in nodes}


def test_path_modifier_in_sequence_and_inverse(spark):
    df = _edges_df(spark)
    # zero-or-more step inside a sequence: knows*/born_in = born_in of
    # anyone transitively known INCLUDING yourself (zero-length arm)
    out = bgp(df, "SELECT ?a ?c WHERE { ?a <knows>*/<born_in> ?c . }")
    got = sorted(map(tuple, out.collect()))
    assert ("dave", "berlin") in got  # zero-length arm (dave knows no one)
    assert ("alice", "lyon") in got  # via alice->bob->carol
    # inverse closure anchored on a constant: ^knows+ from alice == the
    # cycle members who reach alice forwards
    inv = bgp(df, "SELECT ?x WHERE { <alice> ^<knows>+ ?x . }")
    assert sorted(r["x"] for r in inv.collect()) == ["alice", "bob", "carol"]


def test_path_plus_long_chain_converges(spark, monkeypatch):
    """A 33-node chain needs depth 32 > 2**4 — the doubling fixpoint
    must keep going until the full n*(n-1)/2 pair set is closed, and a
    round cap too small for that depth raises instead of truncating."""
    from deepex_spark.operators import sparql

    n = 33
    rows = [(f"v{i:02d}", "next", f"v{i + 1:02d}") for i in range(n - 1)]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    q = "SELECT ?x ?y WHERE { ?x <next>+ ?y . }"
    assert bgp(df, q).count() == n * (n - 1) // 2
    monkeypatch.setattr(sparql, "CLOSURE_ROUNDS", 4)
    with pytest.raises(RuntimeError, match="did not converge within 4"):
        bgp(df, q)


def test_path_modifier_rejections():
    # a modifier needs a constant step — a variable predicate can't close
    with pytest.raises(ValueError, match="bad triple pattern"):
        parse_bgp("SELECT ?x ?y WHERE { ?x ?p+ ?y . }")
    # CONSTRUCT templates are plain triples: no modifiers
    from deepex_spark.operators.sparql import construct

    with pytest.raises(ValueError, match="bad CONSTRUCT template"):
        construct(None, "CONSTRUCT { ?x <r>+ ?y . } WHERE { ?x <knows> ?y . }")


def test_alternation_in_path_step(spark):
    """Alternation as ONE step of a sequence path: people born in a city
    of ?country OR who know such a person's city... here simply
    (born_in|knows)/in_country — 'knows' never reaches a city, so only
    born_in contributes, proving the step is a set-match not a union of
    chains."""
    df = _edges_df(spark)
    out = bgp(
        df, "SELECT ?p ?c WHERE { ?p (<born_in>|<knows>)/<in_country> ?c . }"
    )
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "france"), ("bob", "france"),
        ("carol", "france"), ("dave", "germany"),
    ]


def test_alternation_inverse_group(spark):
    """^ applies to the whole group: ^(in_country|born_in) from france
    walks both edge kinds backwards (only in_country edges land on
    france)."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?c WHERE { <france> ^(<in_country>|<born_in>) ?c . }")
    assert sorted(r["c"] for r in out.collect()) == ["lyon", "paris"]


def test_alternation_single_member_collapses(spark):
    df = _edges_df(spark)
    a = bgp(df, "SELECT ?p ?c WHERE { ?p (<born_in>) ?c . }").collect()
    b = bgp(df, "SELECT ?p ?c WHERE { ?p <born_in> ?c . }").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # and the parse collapses to a plain string constant (same plan shape)
    q = parse_bgp("SELECT ?p ?c WHERE { ?p (<born_in>) ?c . }")
    assert q.patterns[0].pred == "born_in"


def test_alternation_dedups_members():
    q = parse_bgp("SELECT ?a ?b WHERE { ?a (<knows>|<knows>|<age>) ?b . }")
    assert q.patterns[0].pred == ("knows", "age")


def test_alternation_pushes_in_filter_to_scan(spark, tmp_path):
    """The alternation must reach the parquet scan as ONE In filter —
    one scan, no union of per-member scans."""
    p = str(tmp_path / "edges_alt")
    _edges_df(spark).write.parquet(p)
    out = bgp(
        spark.read.parquet(p),
        "SELECT ?a ?b WHERE { ?a (<knows>|<born_in>) ?b . }",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(rel" in plan
    assert "Union" not in plan


def test_strstarts_pushes_to_scan(spark, tmp_path):
    """STRSTARTS over a scan column must reach parquet as
    StringStartsWith — the namespace-prefix filter of IRI-keyed edge
    tables, pruned at the scan."""
    p = str(tmp_path / "edges_pfx")
    _edges_df(spark).write.parquet(p)
    out = bgp(
        spark.read.parquet(p),
        'SELECT ?a ?b WHERE { ?a ?r ?b . FILTER(STRSTARTS(?r, "born")) }',
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(rel,born" in plan


def test_string_filter_in_optional_group(spark):
    """A string filter inside OPTIONAL pre-filters the optional side:
    the required row survives with NULL, it does not drop."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p ?c ?f WHERE { ?p <born_in> ?c ."
        ' OPTIONAL { ?p <knows> ?f . FILTER(STRSTARTS(?f, "zzz")) } }',
    )
    rows = {(r["p"], r["f"]) for r in out.collect()}
    assert ("alice", None) in rows and all(f is None for _, f in rows)


def test_string_filter_rejections():
    with pytest.raises(ValueError):
        # variable second argument is outside the subset
        parse_bgp('SELECT ?a WHERE { ?a <knows> ?b . FILTER(REGEX(?b, ?a)) }')
    with pytest.raises(ValueError, match="unbound variable"):
        parse_bgp('SELECT ?a WHERE { ?a <knows> ?b . FILTER(CONTAINS(?z, "x")) }')


def test_alternation_rejections():
    with pytest.raises(ValueError, match="bad triple pattern"):
        # a variable inside an alternation group is outside the subset
        parse_bgp("SELECT ?a WHERE { ?a (<knows>|?p) ?b . }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        # per-member inversion is outside the subset (invert the group)
        parse_bgp("SELECT ?a WHERE { ?a (<knows>|^<born_in>) ?b . }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        parse_bgp("SELECT ?a WHERE { ?a () ?b . }")


def test_negated_set_single(spark):
    """!<knows> matches every edge whose predicate is anything BUT
    knows — one scan, one Not filter."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?s ?o WHERE { ?s !<knows> ?o . }")
    exp = sorted((s, str(o)) for s, p, o in EDGES if p != "knows")
    assert sorted(map(tuple, out.collect())) == exp


def test_negated_set_group(spark):
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?s ?o WHERE { ?s !(<knows>|<age>) ?o . }")
    exp = sorted((s, str(o)) for s, p, o in EDGES if p not in ("knows", "age"))
    assert sorted(map(tuple, out.collect())) == exp


def test_negated_set_inverse(spark):
    """^!(...) walks the complement edge set backwards — inversion still
    just swaps the pattern's endpoints."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?s ?o WHERE { ?s ^!(<knows>|<age>) ?o . }")
    exp = sorted((str(o), s) for s, p, o in EDGES if p not in ("knows", "age"))
    assert sorted(map(tuple, out.collect())) == exp


def test_negated_set_in_path_step(spark):
    """A negated set as one step of a sequence path: !(knows|age) here
    equals born_in|in_country, and only born_in reaches a city that has
    an in_country edge."""
    df = _edges_df(spark)
    out = bgp(df, "SELECT ?p ?c WHERE { ?p !(<knows>|<age>)/<in_country> ?c . }")
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "france"), ("bob", "france"),
        ("carol", "france"), ("dave", "germany"),
    ]


def test_negated_set_closure(spark):
    """A modifier composes with negation: !(born_in|in_country|age)+ is
    the transitive closure of the knows edges — the 3-cycle closes to
    all 9 ordered pairs plus eve's self-loop."""
    df = _edges_df(spark)
    out = bgp(
        df, "SELECT ?s ?o WHERE { ?s !(<born_in>|<in_country>|<age>)+ ?o . }"
    )
    people = ["alice", "bob", "carol"]
    exp = sorted([(a, b) for a in people for b in people] + [("eve", "eve")])
    assert sorted(map(tuple, out.collect())) == exp


def test_negated_set_pushes_not_filter_to_scan(spark, tmp_path):
    """The negated set must reach the parquet scan as ONE Not filter —
    one pruned pass, never a union or a post-scan Python filter."""
    p = str(tmp_path / "edges_neg")
    _edges_df(spark).write.parquet(p)
    out = bgp(
        spark.read.parquet(p),
        "SELECT ?a ?b WHERE { ?a !(<knows>|<age>) ?b . }",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "Not(" in plan
    assert "Union" not in plan


def test_negated_set_orders_after_selective_patterns():
    """Join ordering: a negated predicate keeps almost the whole table,
    so it must not count as a constant — the selective plain pattern
    leads the left-deep tree."""
    q = parse_bgp("SELECT ?a ?b WHERE { ?a !<knows> ?b . }")
    assert q.patterns[0].n_constants() == 0
    q2 = parse_bgp("SELECT ?a ?b WHERE { ?a <knows> ?b . }")
    assert q2.patterns[0].n_constants() == 1


def test_negated_set_rejections():
    with pytest.raises(ValueError, match="bad triple pattern"):
        # negated set of INVERSE members is outside the subset
        parse_bgp("SELECT ?a WHERE { ?a !^<knows> ?b . }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        # a variable cannot be negated
        parse_bgp("SELECT ?a WHERE { ?a !?p ?b . }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        parse_bgp("SELECT ?a WHERE { ?a !() ?b . }")


def test_subquery_group_stat_join(spark):
    """The canonical subquery shape: a per-group aggregate joined back
    to the rows — every born_in edge annotated with its city's resident
    count."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?city ?n WHERE {
          ?p <born_in> ?city .
          { SELECT ?city (COUNT(*) AS ?n) WHERE { ?q <born_in> ?city . } }
        }
        """,
    )
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "paris", 2), ("bob", "paris", 2),
        ("carol", "lyon", 1), ("dave", "berlin", 1),
    ]


def test_subquery_filter_on_aggregate(spark):
    """An outer FILTER over the subquery's aggregate applies after the
    join — people born in a city with >= 2 residents."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p WHERE {
          ?p <born_in> ?city .
          { SELECT ?city (COUNT(*) AS ?n) WHERE { ?q <born_in> ?city . } }
          FILTER(?n >= 2)
        }
        """,
    )
    assert sorted(r["p"] for r in out.collect()) == ["alice", "bob"]


def test_subquery_topk_restricts_outer(spark):
    """A subquery's own ORDER BY + LIMIT is honored BEFORE the join —
    the top-1 city by resident count keeps only its residents."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?city WHERE {
          ?p <born_in> ?city .
          { SELECT ?city (COUNT(*) AS ?n) WHERE { ?q <born_in> ?city . }
            ORDER BY DESC(?n) ?city LIMIT 1 }
        }
        """,
    )
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "paris"), ("bob", "paris"),
    ]


def test_subquery_output_feeds_outer_aggregate(spark):
    """Outer implicit grouping may aggregate OVER a subquery column —
    the count of (edge, group-stat) rows and the max group size."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT (COUNT(*) AS ?rows) (MAX(?n) AS ?biggest) WHERE {
          ?p <born_in> ?city .
          { SELECT ?city (COUNT(*) AS ?n) WHERE { ?q <born_in> ?city . } }
        }
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(4, 2)]


def test_subquery_nested_two_levels(spark):
    """A subquery inside a subquery resolves by recursion: innermost
    counts residents per city, the middle level keeps french cities
    with >= 2 residents, the outer query returns their residents."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?city ?n WHERE {
          ?p <born_in> ?city .
          { SELECT ?city ?n WHERE {
              ?city <in_country> "france" .
              { SELECT ?city (COUNT(*) AS ?n) WHERE { ?q <born_in> ?city . } }
              FILTER(?n >= 2)
            } }
        }
        """,
    )
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "paris", 2), ("bob", "paris", 2),
    ]


def test_subquery_distinct_projection(spark):
    """SELECT DISTINCT inside the subquery dedups before the join."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?f WHERE {
          ?p <knows> ?f .
          { SELECT DISTINCT ?f WHERE { ?f <born_in> ?c . } }
        }
        """,
    )
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "bob"), ("bob", "carol"), ("carol", "alice"),
    ]


def test_sample_aggregate_deterministic_min(spark):
    """SAMPLE == the min member: reproducible across partitionings
    (SPARQL allows any member; nondeterminism is not an option on a
    distributed engine)."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city (SAMPLE(?p) AS ?resident) (COUNT(*) AS ?n)"
        " WHERE { ?p <born_in> ?city . }",
    )
    assert sorted(map(tuple, out.collect())) == [
        ("berlin", "dave", 1), ("lyon", "carol", 1), ("paris", "alice", 2),
    ]


def test_sample_rejections():
    with pytest.raises(ValueError, match=r"SAMPLE\(\*\) is not supported"):
        parse_bgp("SELECT (SAMPLE(*) AS ?x) WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="DISTINCT is only supported"):
        parse_bgp("SELECT (SAMPLE(DISTINCT ?b) AS ?x) WHERE { ?a <knows> ?b . }")


def test_subquery_aggregate_stays_below_join(spark):
    """Scale shape: the subquery's aggregation runs on ITS side of the
    join (group-compact build side), never re-derived above the
    join-back — one Aggregate node, below the one Join, in the
    optimized logical plan (stable node names, no AQE rewriting)."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?city ?n WHERE {
          ?p <born_in> ?city .
          { SELECT ?city (COUNT(*) AS ?n) WHERE { ?q <born_in> ?city . } }
        }
        """,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan
    assert "Join" in plan and plan.index("Join") < plan.index("Aggregate"), plan


def test_subquery_composes_with_path_closure(spark):
    """Feature composition: a + closure INSIDE a subquery aggregate —
    each chain node annotated with the furthest node it reaches."""
    rows = [(f"v{i}", "next", f"v{i + 1}") for i in range(4)]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    out = bgp(
        df,
        """
        SELECT ?x ?y ?top WHERE {
          ?x <next> ?y .
          { SELECT ?x (MAX(?z) AS ?top) WHERE { ?x <next>+ ?z . } }
        }
        """,
    )
    assert sorted(map(tuple, out.collect())) == [
        ("v0", "v1", "v4"), ("v1", "v2", "v4"),
        ("v2", "v3", "v4"), ("v3", "v4", "v4"),
    ]


def test_subquery_inside_group_refused():
    """A { SELECT } written inside OPTIONAL/MINUS/EXISTS must not be
    hoisted to a top-level inner join (that would drop OPTIONAL rows or
    invert a NOT EXISTS) — refused loudly instead."""
    for wrapper in (
        "OPTIONAL { ?p <knows> ?f . %s }",
        "FILTER NOT EXISTS { ?p <knows> ?f . %s }",
        "FILTER EXISTS { ?p <knows> ?f . %s }",
        "MINUS { ?p <knows> ?f . %s }",
    ):
        group = wrapper % "{ SELECT DISTINCT ?p WHERE { ?p <age> ?g . } }"
        with pytest.raises(ValueError, match="top level of"):
            parse_bgp("SELECT ?p WHERE { ?p <born_in> ?c . " + group + " }")


def test_subquery_union_guard_is_structural():
    """The UNION guard must not false-positive on the token inside an
    IRI or a string literal."""
    q = parse_bgp(
        "SELECT ?s ?n WHERE { ?s <http://ex/UNION/member> ?o ."
        " { SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <p> ?x . } } }"
    )
    assert len(q.subqueries) == 1 and q.patterns[0].pred == "http://ex/UNION/member"


def test_subquery_literal_braces_do_not_shift_span(spark):
    """Braces inside a quoted FILTER literal must not close the
    subquery span early."""
    df = _edges_df(spark)
    out = bgp(
        df,
        """
        SELECT ?p ?c WHERE {
          ?p <born_in> ?c .
          { SELECT DISTINCT ?c WHERE { ?x <born_in> ?c .
            FILTER(CONTAINS(?c, "par")) FILTER(STRSTARTS(?c, "{x")) } }
        }
        """,
    )
    # the literal "{x" matches nothing — empty result, but it PARSES
    assert out.collect() == []
    q = parse_bgp(
        'SELECT ?p WHERE { ?p <born_in> ?c .'
        ' { SELECT DISTINCT ?p WHERE { ?p <born_in> ?z .'
        ' FILTER(CONTAINS(?z, "}y")) } } }'
    )
    assert len(q.subqueries) == 1


def test_subquery_rejections():
    with pytest.raises(ValueError, match="sibling triple pattern"):
        parse_bgp(
            "SELECT ?n WHERE { { SELECT ?c (COUNT(*) AS ?n)"
            " WHERE { ?c <has> ?x . } } }"
        )
    with pytest.raises(ValueError, match="shares no variable"):
        parse_bgp(
            "SELECT ?z WHERE { ?z <w> ?v . { SELECT ?c (COUNT(*) AS ?n)"
            " WHERE { ?c <has> ?x . } } }"
        )
    with pytest.raises(ValueError, match="top level of"):
        # inside a UNION branch == inside a group: depth guard fires
        parse_bgp(
            "SELECT ?c WHERE { { ?c <has> ?o . } UNION"
            " { { SELECT ?c (COUNT(*) AS ?n) WHERE { ?c <has> ?x . } } } }"
        )
    with pytest.raises(ValueError, match="combined with UNION"):
        # top-level subquery NEXT TO a union body: structural guard
        parse_bgp(
            "SELECT ?c WHERE {"
            " { SELECT DISTINCT ?c WHERE { ?c <has> ?x . } }"
            " { ?c <has> ?o . } UNION { ?c <got> ?o . } }"
        )


def test_path_reserved_prefix_and_bad_path():
    with pytest.raises(ValueError, match="reserved"):
        parse_bgp("SELECT ?__path1 WHERE { ?__path1 <r> ?b . }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        parse_bgp("SELECT ?a WHERE { ?a ^?p ?b . }")
    with pytest.raises(ValueError, match="bad triple pattern"):
        parse_bgp("SELECT ?a WHERE { ?a <r>/ ?b . }")


def test_values_single_var(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a ?b WHERE { ?a <knows> ?b . VALUES ?a { <alice> <carol> } }",
    )
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "bob"), ("carol", "alice"),
    ]


def test_values_multi_var_and_dedup(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a ?b WHERE { ?a <knows> ?b ."
        " VALUES (?a ?b) { (<alice> <bob>) (<carol> <alice>)"
        " (<alice> <bob>) (<alice> <dave>) } }",
    )
    # duplicate VALUES row must not duplicate the solution row
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "bob"), ("carol", "alice"),
    ]


def test_values_plans_broadcast_join(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a ?b WHERE { ?a <knows> ?b . VALUES ?a { <alice> } }",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_values_rejections():
    with pytest.raises(ValueError, match="not bound by the required"):
        parse_bgp("SELECT ?a WHERE { ?a <knows> ?b . VALUES ?z { <x> } }")
    with pytest.raises(ValueError, match="arity"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b . VALUES (?a ?b) { (<x>) } }"
        )
    with pytest.raises(ValueError, match="constants"):
        parse_bgp("SELECT ?a WHERE { ?a <knows> ?b . VALUES ?a { ?v } }")
    with pytest.raises(ValueError, match="empty VALUES"):
        parse_bgp("SELECT ?a WHERE { ?a <knows> ?b . VALUES ?a { } }")


def test_construct_materializes_edges(spark):
    from deepex_spark.operators.sparql import construct

    df = _edges_df(spark)
    out = construct(
        df,
        "CONSTRUCT { ?p <citizen_of> ?country . }"
        " WHERE { ?p <born_in>/<in_country> ?country . }",
    )
    assert out.columns == ["src", "rel", "dst"]
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "citizen_of", "france"),
        ("bob", "citizen_of", "france"),
        ("carol", "citizen_of", "france"),
        ("dave", "citizen_of", "germany"),
    ]
    # output schema == input edge schema: the constructed graph unions
    # straight back into the edge table
    assert out.schema == df.schema


def test_construct_multi_template_and_dedup(spark):
    from deepex_spark.operators.sparql import construct

    df = _edges_df(spark)
    out = construct(
        df,
        "CONSTRUCT { ?c <located_in> ?country . <eu> <has_city> ?c . }"
        " WHERE { ?c <in_country> ?country . }",
    )
    rows = sorted(map(tuple, out.collect()))
    assert ("paris", "located_in", "france") in rows
    assert ("eu", "has_city", "paris") in rows
    # graph semantics: no duplicate triples even if solutions repeat
    assert len(rows) == len(set(rows))


def test_construct_skips_unbound_optional(spark):
    from deepex_spark.operators.sparql import construct

    df = _edges_df(spark)
    out = construct(
        df,
        "CONSTRUCT { ?p <knows_someone_from> ?fc . } WHERE {"
        " ?p <born_in> ?c ."
        " OPTIONAL { ?p <knows> ?f . ?f <born_in> ?fc . } }",
    )
    rows = sorted(map(tuple, out.collect()))
    # dave knows nobody -> NULL ?fc -> no triple emitted for dave
    assert all(r[0] != "dave" for r in rows)
    assert ("alice", "knows_someone_from", "paris") in rows


def test_construct_rejections(spark):
    from deepex_spark.operators.sparql import construct

    df = _edges_df(spark)
    with pytest.raises(ValueError, match="not a CONSTRUCT"):
        construct(df, "SELECT ?a WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="bad CONSTRUCT template"):
        construct(df, "CONSTRUCT { ?a <x>/<y> ?b . } WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="never bound"):
        construct(df, "CONSTRUCT { ?a <x> ?z . } WHERE { ?a <knows> ?b . }")
    with pytest.raises(ValueError, match="binds no variables"):
        construct(df, "CONSTRUCT { <a> <x> <b> . } WHERE { ?a <knows> ?b . }")


def test_ask_true_false_and_lazy(spark):
    from deepex_spark.operators.sparql import ask

    df = _edges_df(spark)
    out = ask(df, "ASK { ?p <born_in> ?c . ?c <in_country> <france> . }")
    assert out.columns == ["ask"]
    assert out.collect()[0]["ask"] is True
    assert ask(df, "ASK WHERE { ?p <born_in> <atlantis> . }").collect()[0][
        "ask"
    ] is False
    # the plan is capped before the count: a GlobalLimit sits below the agg
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit 1" in plan


def test_exists_semi_join(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT DISTINCT ?a WHERE { ?a <knows> ?b ."
        " FILTER EXISTS { ?a <born_in> ?c . } }",
    )
    # knows-subjects: alice bob carol eve; eve has no birthplace -> dropped
    assert sorted(r["a"] for r in out.collect()) == ["alice", "bob", "carol"]


def test_exists_never_multiplies(spark):
    """A key with MANY group solutions still contributes each required row
    ONCE — semi-join, not inner join."""
    rows = [("a", "knows", "b")] + [("a", "likes", f"x{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "src string, rel string, dst string")
    out = bgp(
        df,
        "SELECT ?a ?b WHERE { ?a <knows> ?b . FILTER EXISTS { ?a <likes> ?z . } }",
    )
    assert [tuple(r) for r in out.collect()] == [("a", "b")]


def test_exists_group_filter_prefilters(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT DISTINCT ?a WHERE { ?a <knows> ?b ."
        ' FILTER EXISTS { ?a <age> ?g . FILTER(?g >= "41") } }',
    )
    assert [r["a"] for r in out.collect()] == ["bob"]


def test_exists_complements_not_exists(spark):
    """EXISTS and NOT EXISTS on the same group partition the required
    solution set exactly."""
    df = _edges_df(spark)
    base = "SELECT DISTINCT ?a WHERE { ?a <knows> ?b . %s }"
    pos = {r["a"] for r in bgp(
        df, base % "FILTER EXISTS { ?a <born_in> ?c . }").collect()}
    neg = {r["a"] for r in bgp(
        df, base % "FILTER NOT EXISTS { ?a <born_in> ?c . }").collect()}
    allr = {r["a"] for r in bgp(df, base % "").collect()}
    assert pos | neg == allr and not (pos & neg)


def test_exists_with_optional_runs_before(spark):
    """EXISTS restricts the required solution; OPTIONAL NULLs are attached
    afterwards and never tested by the semi-join."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a ?nat WHERE { ?a <born_in> ?city ."
        " FILTER EXISTS { ?a <knows> ?x . }"
        " OPTIONAL { ?city <in_country> ?nat . FILTER(?nat = \"france\") } }",
    )
    rows = sorted((r["a"], r["nat"]) for r in out.collect())
    assert rows == [("alice", "france"), ("bob", "france"), ("carol", "france")]


def test_exists_rejections():
    with pytest.raises(ValueError, match="shares no variable"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b ."
            " FILTER EXISTS { ?x <born_in> ?c . } }"
        )
    with pytest.raises(ValueError, match="outside its group"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b ."
            " FILTER EXISTS { ?a <born_in> ?c . FILTER(?b != ?c) } }"
        )


def test_exists_plans_left_semi_join(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?a WHERE { ?a <knows> ?b ."
        " FILTER EXISTS { ?a <born_in> ?c . } }",
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


def test_having_on_select_aggregate(spark):
    """HAVING re-stating a SELECT aggregate reuses its grouped column."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city (COUNT(?p) AS ?n) WHERE { ?p <born_in> ?city . }"
        " HAVING(COUNT(?p) >= 2)",
    )
    assert [tuple(r) for r in out.collect()] == [("paris", 2)]


def test_having_hidden_aggregate(spark):
    """A HAVING aggregate absent from SELECT is computed in the same
    exchange and dropped from the output."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city (MIN(?p) AS ?first) WHERE { ?p <born_in> ?city . }"
        ' HAVING(COUNT(?p) = 1) ORDER BY ?city',
    )
    assert out.columns == ["city", "first"]
    assert [tuple(r) for r in out.collect()] == [
        ("berlin", "dave"), ("lyon", "carol"),
    ]


def test_having_without_select_aggregate(spark):
    """HAVING alone still triggers grouping on the SELECT variables."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city WHERE { ?p <born_in> ?city . } HAVING(COUNT(*) >= 2)",
    )
    assert [r["city"] for r in out.collect()] == ["paris"]


def test_having_string_literal_and_order(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p (MAX(?x) AS ?m) WHERE { ?p <knows> ?x . }"
        ' HAVING(MAX(?x) > "b") ORDER BY ?p',
    )
    assert [tuple(r) for r in out.collect()] == [
        ("alice", "bob"), ("bob", "carol"), ("eve", "eve"),
    ]


def test_having_single_exchange(spark):
    """HAVING's hidden aggregate rides the SELECT aggregation's exchange —
    exactly one shuffle in the single-pattern plan."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?city (MIN(?p) AS ?first) WHERE { ?p <born_in> ?city . }"
        " HAVING(COUNT(?p) >= 2)",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert [tuple(r) for r in out.collect()] == [("paris", "alice")]


def test_having_rejections():
    with pytest.raises(ValueError, match="unbound variable"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b . } HAVING(COUNT(?z) > 1)"
        )
    with pytest.raises(ValueError, match="DISTINCT is only supported"):
        parse_bgp(
            "SELECT ?a WHERE { ?a <knows> ?b . } HAVING(SUM(DISTINCT ?b) > 1)"
        )


def test_describe_constant(spark):
    from deepex_spark.operators.sparql import describe

    df = _edges_df(spark)
    out = describe(df, "DESCRIBE <paris>")
    assert out.columns == ["src", "rel", "dst"]
    assert sorted(map(tuple, out.collect())) == [
        ("alice", "born_in", "paris"),
        ("bob", "born_in", "paris"),
        ("paris", "in_country", "france"),
    ]


def test_describe_multiple_constants_dedup(spark):
    """An edge between two described nodes appears ONCE."""
    from deepex_spark.operators.sparql import describe

    df = _edges_df(spark)
    out = describe(df, "DESCRIBE <paris> <france>")
    rows = sorted(map(tuple, out.collect()))
    assert rows.count(("paris", "in_country", "france")) == 1
    assert ("lyon", "in_country", "france") in rows


def test_describe_variable_with_where(spark):
    from deepex_spark.operators.sparql import describe

    df = _edges_df(spark)
    out = describe(
        df, "DESCRIBE ?city WHERE { ?city <in_country> <germany> . }"
    )
    assert sorted(map(tuple, out.collect())) == [
        ("berlin", "in_country", "germany"),
        ("dave", "born_in", "berlin"),
    ]


def test_describe_mixed_terms(spark):
    from deepex_spark.operators.sparql import describe

    df = _edges_df(spark)
    out = describe(
        df, "DESCRIBE <lyon> ?x WHERE { ?x <knows> <eve> . }"
    )
    rows = sorted(map(tuple, out.collect()))
    # lyon's edges + eve's (self-loop counted once)
    assert rows == [
        ("carol", "born_in", "lyon"),
        ("eve", "knows", "eve"),
        ("lyon", "in_country", "france"),
    ]


def test_describe_constants_push_to_scan(spark, tmp_path):
    """Constants-only DESCRIBE is ONE pruned scan — the Or of two
    membership filters reaches parquet, no join in the plan."""
    from deepex_spark.operators.sparql import describe

    p = str(tmp_path / "edges")
    _edges_df(spark).write.parquet(p)
    out = describe(spark.read.parquet(p), "DESCRIBE <paris> <lyon>")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [Or(In(src" in plan or "Or(In" in plan
    assert "Join" not in plan


def test_describe_rejections(spark):
    from deepex_spark.operators.sparql import describe

    df = _edges_df(spark)
    with pytest.raises(ValueError, match="needs a WHERE block"):
        describe(df, "DESCRIBE ?x")
    with pytest.raises(ValueError, match="not bound by the required"):
        describe(
            df,
            "DESCRIBE ?n WHERE { ?p <born_in> ?c ."
            " OPTIONAL { ?c <in_country> ?n . } }",
        )
    with pytest.raises(ValueError, match="not a DESCRIBE"):
        describe(df, "DESCRIBE")
    with pytest.raises(ValueError, match="bad DESCRIBE term list"):
        describe(df, "DESCRIBE foo")


def test_bind_arith_and_copy(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p ?a2 WHERE { ?p <age> ?a . BIND(?a * 2 AS ?a2) }"
        " ORDER BY ?p",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("alice", 60.0), ("bob", 82.0), ("carol", 60.0),
    ]


def test_bind_chain_and_concat(spark):
    """BINDs apply in source order; later ones see earlier ones."""
    df = _edges_df(spark)
    out = bgp(
        df,
        'SELECT ?k WHERE { ?p <born_in> ?c . BIND(UCASE(?p) AS ?u) .'
        ' BIND(CONCAT(?u, "@", ?c) AS ?k) } ORDER BY ?k',
    )
    assert [r["k"] for r in out.collect()] == [
        "ALICE@paris", "BOB@paris", "CAROL@lyon", "DAVE@berlin",
    ]


def test_bind_strlen_filterable(spark):
    """A FILTER over a BIND var applies after the bind column exists."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p ?n WHERE { ?p <born_in> ?c . BIND(STRLEN(?c) AS ?n) ."
        " FILTER(?n >= 5) } ORDER BY ?p",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("alice", 5), ("bob", 5), ("dave", 6),
    ]


def test_bind_in_aggregate(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?c (SUM(?a2) AS ?s) WHERE { ?p <born_in> ?c ."
        " ?p <age> ?a . BIND(?a + 0 AS ?a2) } ORDER BY ?c",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("lyon", 30.0), ("paris", 71.0),
    ]


def test_bind_stays_codegen(spark):
    """BIND is a pure projection: no exchange, no Python stage."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?p ?n WHERE { ?p <age> ?a . BIND(?a * 3 AS ?n) }",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_bind_rejections():
    with pytest.raises(ValueError, match="unbound variables"):
        parse_bgp("SELECT ?b WHERE { ?p <age> ?a . BIND(?z + 1 AS ?b) }")
    with pytest.raises(ValueError, match="already in use"):
        parse_bgp("SELECT ?a WHERE { ?p <age> ?a . BIND(?a + 1 AS ?a) }")
    with pytest.raises(ValueError, match="already in use"):
        parse_bgp(
            "SELECT ?b WHERE { ?p <age> ?a . BIND(1 AS ?b) . BIND(2 AS ?b) }"
        )
    with pytest.raises(ValueError, match="already in use"):
        parse_bgp(
            "SELECT ?p WHERE { ?p <age> ?a ."
            " OPTIONAL { ?p <born_in> ?c . } BIND(1 AS ?c) }"
        )
    with pytest.raises(ValueError, match="unsupported BIND expression"):
        parse_bgp(
            "SELECT ?b WHERE { ?p <age> ?a . BIND(?a + 1 + 2 AS ?b) }"
        )
    # BIND referencing an optional-only (nullable) var is refused
    with pytest.raises(ValueError, match="unbound variables"):
        parse_bgp(
            "SELECT ?b WHERE { ?p <age> ?a ."
            " OPTIONAL { ?p <born_in> ?c . } BIND(STRLEN(?c) AS ?b) }"
        )


def test_offset_pages_deterministically(spark):
    df = _edges_df(spark)
    base = ("SELECT ?p WHERE { ?p <born_in> ?c . } ORDER BY ?p %s")
    all_rows = [r["p"] for r in bgp(df, base % "").collect()]
    page1 = [r["p"] for r in bgp(df, base % "LIMIT 2").collect()]
    page2 = [r["p"] for r in bgp(df, base % "LIMIT 2 OFFSET 2").collect()]
    assert page1 + page2 == all_rows == ["alice", "bob", "carol", "dave"]
    # tail page past the end is empty, not an error
    assert bgp(df, base % "OFFSET 4").count() == 0


def test_offset_requires_order(spark):
    with pytest.raises(ValueError, match="OFFSET requires ORDER BY"):
        parse_bgp("SELECT ?p WHERE { ?p <born_in> ?c . } OFFSET 2")


def test_group_by_explicit_hidden_key(spark):
    """Explicit GROUP BY can group by a var NOT in SELECT — one output
    row per group, bag semantics (groups agreeing on the projection
    stay separate rows)."""
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT (COUNT(?p) AS ?n) WHERE { ?p <born_in> ?city . }"
        " GROUP BY ?city ORDER BY DESC(?n)",
    )
    assert [r["n"] for r in out.collect()] == [2, 1, 1]


def test_group_by_matches_implicit_when_same(spark):
    df = _edges_df(spark)
    imp = bgp(
        df,
        "SELECT ?city (COUNT(?p) AS ?n) WHERE { ?p <born_in> ?city . }",
    )
    exp = bgp(
        df,
        "SELECT ?city (COUNT(?p) AS ?n) WHERE { ?p <born_in> ?city . }"
        " GROUP BY ?city",
    )
    assert sorted(map(tuple, imp.collect())) == sorted(map(tuple, exp.collect()))


def test_group_by_no_aggregates_one_row_per_group(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?c WHERE { ?p <born_in> ?city . ?city <in_country> ?c . }"
        " GROUP BY ?c ?city ORDER BY ?c",
    )
    # groups: (france,paris) (france,lyon) (germany,berlin) -> bag keeps
    # both france rows
    assert [r["c"] for r in out.collect()] == ["france", "france", "germany"]


def test_group_by_with_having(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT ?c WHERE { ?p <born_in> ?city . ?city <in_country> ?c . }"
        " GROUP BY ?c HAVING(COUNT(*) >= 3)",
    )
    assert [r["c"] for r in out.collect()] == ["france"]


def test_group_by_rejections():
    with pytest.raises(ValueError, match="not in the explicit GROUP BY"):
        parse_bgp(
            "SELECT ?p WHERE { ?p <born_in> ?city . } GROUP BY ?city"
        )
    with pytest.raises(ValueError, match="never bound"):
        parse_bgp(
            "SELECT (COUNT(?p) AS ?n) WHERE { ?p <born_in> ?c . } GROUP BY ?z"
        )
    with pytest.raises(ValueError, match="duplicate GROUP BY"):
        parse_bgp(
            "SELECT (COUNT(?p) AS ?n) WHERE { ?p <born_in> ?c . }"
            " GROUP BY ?c ?c"
        )


def test_group_concat_sorted_custom_sep(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        'SELECT ?city (GROUP_CONCAT(?p; SEPARATOR="|") AS ?people)'
        " WHERE { ?p <born_in> ?city . } ORDER BY ?city",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("berlin", "dave"), ("lyon", "carol"), ("paris", "alice|bob"),
    ]


def test_group_concat_distinct_default_sep(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        "SELECT (GROUP_CONCAT(DISTINCT ?a) AS ?ages)"
        " WHERE { ?p <age> ?a . }",
    )
    # ages 30 30 41 -> distinct sorted, space-joined
    assert out.collect()[0]["ages"] == "30 41"


def test_group_concat_mixed_with_other_aggregates(spark):
    df = _edges_df(spark)
    out = bgp(
        df,
        'SELECT ?city (COUNT(?p) AS ?n) (GROUP_CONCAT(?p; SEPARATOR=",") AS ?who)'
        " WHERE { ?p <born_in> ?city . } HAVING(COUNT(?p) >= 2)",
    )
    assert [tuple(r) for r in out.collect()] == [("paris", 2, "alice,bob")]


# ---------------------------------------------------------------------------
# independent FULL-fragment enumerator: patterns + filters + VALUES +
# negation + EXISTS + OPTIONAL + string BINDs + DISTINCT, evaluated the
# slow, obviously-correct way (enumerate every edge assignment) — no
# Spark, no SQL, shares nothing with the implementation but the parser.


def _naive_match(edges, patterns, filters, seed_binding=None):
    """All consistent bindings of `patterns` over `edges` extending
    `seed_binding`, with group-local filters applied."""
    out = []
    for combo in itertools.product(
        *[_closure_candidates(edges, pat) for pat in patterns]
    ):
        binding = dict(seed_binding or {})
        ok = True
        for (s, p, o), pat in zip(combo, patterns):
            for pos, (val, (term, is_var)) in enumerate(zip(
                (s, p, o),
                ((pat.subj, pat.subj_var), (pat.pred, pat.pred_var),
                 (pat.obj, pat.obj_var)),
            )):
                if pos == 1 and pat.pred_mod is not None:
                    continue  # predicate consumed by the closure
                if is_var:
                    if binding.setdefault(term, val) != val:
                        ok = False
                elif isinstance(term, tuple):  # alternation / negated set
                    if (val in term) == (pos == 1 and pat.pred_neg):
                        ok = False
                elif val != term:
                    ok = False
            if not ok:
                break
        if ok and all(_naive_filter(f, binding) for f in filters):
            out.append(binding)
    return out


def _naive_filter(f, binding):
    lhs = binding[f.left]
    rhs = binding[f.right] if f.right_var else f.right
    return {
        "=": lambda: lhs == rhs, "!=": lambda: lhs != rhs,
        "<": lambda: lhs < rhs, "<=": lambda: lhs <= rhs,
        ">": lambda: lhs > rhs, ">=": lambda: lhs >= rhs,
        "strstarts": lambda: str(lhs).startswith(str(rhs)),
        "strends": lambda: str(lhs).endswith(str(rhs)),
        "contains": lambda: str(rhs) in str(lhs),
        "regex": lambda: bool(re.search(str(rhs), str(lhs))),
    }[f.op]()


def _naive_bind_val(expr, binding):
    kind = expr[0]
    if kind == "term":
        v, is_var = expr[1]
        return binding[v] if is_var else v
    if kind == "func":
        name, terms = expr[1], expr[2]
        vals = [binding[v] if iv else v for v, iv in terms]
        if name == "concat":
            return "".join(str(v) for v in vals)
        if name == "ucase":
            return str(vals[0]).upper()
        if name == "lcase":
            return str(vals[0]).lower()
        if name == "strlen":
            return len(str(vals[0]))
    raise NotImplementedError(f"enumerator bind: {expr}")


def _naive_subquery_rows(edges, sq):
    """Rows (tuples in sq.select order) of one aggregate-free subquery,
    evaluated by the same enumerator machinery, recursively."""
    inner = naive_full(edges, sq)
    return sorted(inner) if isinstance(inner, set) else inner


def naive_full(edges, query):
    """Full-fragment reference evaluator (no aggregates; paths via the
    BFS closure; aggregate-free subqueries by recursion). Accepts a
    query string or an already-parsed BGPQuery (subquery recursion)."""
    q = parse_bgp(query) if isinstance(query, str) else query
    bind_vars = {b.var for b in q.binds}
    subq_vars = set()
    for sq in q.subqueries:
        if sq.aggregates:
            raise NotImplementedError("enumerator subqueries are aggregate-free")
        subq_vars |= set(sq.select)
    sols = _naive_match(
        edges, q.patterns,
        [f for f in q.filters
         if not (f.variables() & (bind_vars | subq_vars))],
    )
    for sq in q.subqueries:
        # recursive bottom-up solve (the subquery is itself a full
        # query), then a nested-loop join on the shared projected vars —
        # bag semantics: a duplicate subquery row multiplies, exactly
        # like the engine's inner join; DISTINCT dedups before the join
        sub_rows = _naive_subquery_rows(edges, sq)
        nxt = []
        for b in sols:
            for srow in sub_rows:
                merged = dict(b)
                ok = True
                for v, val in zip(sq.select, srow):
                    if merged.setdefault(v, val) != val:
                        ok = False
                        break
                if ok:
                    nxt.append(merged)
        sols = nxt
    for f in [f for f in q.filters
              if f.variables() & subq_vars and not (f.variables() & bind_vars)]:
        sols = [s for s in sols if _naive_filter(f, s)]
    for vc in q.values:
        sols = [b for b in sols
                if tuple(b[v] for v in vc.variables) in set(map(tuple, vc.rows))]
    for g in q.negations:
        sols = [b for b in sols if not _naive_match(edges, g.patterns, g.filters, b)]
    for g in q.exists_groups:
        sols = [b for b in sols if _naive_match(edges, g.patterns, g.filters, b)]
    for g in q.optionals:
        nxt = []
        for b in sols:
            ext = _naive_match(edges, g.patterns, g.filters, b)
            if ext:
                nxt.extend(ext)
            else:
                nb = dict(b)
                for v in g.variables():
                    nb.setdefault(v, None)
                nxt.append(nb)
        sols = nxt
    for b_ in q.binds:
        for s in sols:
            s[b_.var] = _naive_bind_val(b_.expr, s)
    bind_filters = [f for f in q.filters
                    if f.variables() & {b.var for b in q.binds}]
    sols = [s for s in sols if all(_naive_filter(f, s) for f in bind_filters)]
    rows = [tuple(s.get(v) for v in q.select) for s in sols]
    return set(rows) if q.distinct else sorted(
        rows, key=lambda t: tuple((x is None, str(x)) for x in t))


FULL_QUERIES = [
    # OPTIONAL + NOT EXISTS composition
    "SELECT ?a ?city WHERE { ?a <knows> ?b ."
    " FILTER NOT EXISTS { ?a <born_in> ?c . }"
    " OPTIONAL { ?a <born_in> ?city . } }",
    # EXISTS + OPTIONAL with group filter
    'SELECT ?a ?nat WHERE { ?a <born_in> ?city .'
    ' FILTER EXISTS { ?a <knows> ?x . }'
    ' OPTIONAL { ?city <in_country> ?nat . FILTER(?nat = "france") } }',
    # VALUES restriction + negation
    "SELECT ?a WHERE { ?a <knows> ?b . VALUES ?a { <alice> <eve> <bob> }"
    " MINUS { ?a <born_in> <paris> . } }",
    # EXISTS with group-local filter
    'SELECT DISTINCT ?a WHERE { ?a <knows> ?b .'
    ' FILTER EXISTS { ?a <age> ?g . FILTER(?g >= "41") } }',
    # two OPTIONALs (independent left joins)
    "SELECT ?p ?city ?friend WHERE { ?p <age> ?a ."
    " OPTIONAL { ?p <born_in> ?city . }"
    " OPTIONAL { ?p <knows> ?friend . } }",
    # string BIND + filter over the bound var
    'SELECT ?p ?u WHERE { ?p <born_in> ?c . BIND(UCASE(?c) AS ?u) .'
    ' FILTER(CONTAINS(?u, "PAR")) }',
    # chained string binds
    'SELECT ?k WHERE { ?p <knows> ?q . BIND(CONCAT(?p, ">", ?q) AS ?k) }',
    # EXISTS and NOT EXISTS on different groups simultaneously
    "SELECT ?a WHERE { ?a <knows> ?b ."
    " FILTER EXISTS { ?a <age> ?g . }"
    " FILTER NOT EXISTS { ?a <born_in> <lyon> . } }",
    # aggregate-free DISTINCT subquery as a semi-restriction
    "SELECT ?a ?city WHERE { ?a <born_in> ?city ."
    " { SELECT DISTINCT ?a WHERE { ?a <knows> ?x . } } }",
    # subquery binding a NEW var + outer filter over it
    'SELECT ?p ?f ?c WHERE { ?p <knows> ?f .'
    ' { SELECT ?f ?c WHERE { ?f <born_in> ?c . } }'
    ' FILTER(STRSTARTS(?c, "p")) }',
    # subquery + OPTIONAL composition
    "SELECT ?p ?c ?fr WHERE { ?p <born_in> ?c ."
    " { SELECT DISTINCT ?p WHERE { ?p <age> ?g . } }"
    " OPTIONAL { ?p <knows> ?fr . } }",
    # sequence-group closure composed with OPTIONAL
    "SELECT ?a ?b ?c WHERE { ?a (<knows>/<knows>)+ ?b ."
    " OPTIONAL { ?b <born_in> ?c . } }",
    # sequence-group closure under NOT EXISTS
    "SELECT DISTINCT ?a WHERE { ?a <knows> ?x ."
    " FILTER NOT EXISTS { ?a (<knows>/<born_in>)+ <lyon> . } }",
]


@pytest.mark.parametrize("query", FULL_QUERIES)
def test_matches_full_enumerator(spark, query):
    str_edges = [(s, p, str(o)) for s, p, o in EDGES]
    exp = naive_full(str_edges, query)
    got = [tuple(r) for r in bgp(_edges_df(spark), query).collect()]
    if isinstance(exp, set):
        assert set(got) == exp and len(got) == len(set(got))
    else:
        assert sorted(got, key=lambda t: tuple((x is None, str(x)) for x in t)) == exp


def test_randomized_differential_vs_enumerator(spark):
    """Seeded fuzz: 15 random KGs x random composite queries, Spark vs
    the full-fragment reference evaluator. Deterministic (fixed seed) so
    a failure is reproducible; the generator covers every solution-set
    clause the fragment has."""
    import random

    rng = random.Random(20260819)
    rels = ["r0", "r1", "r2"]
    nodes = [f"n{i}" for i in range(6)]
    for case in range(15):
        edges = sorted({
            (rng.choice(nodes), rng.choice(rels), rng.choice(nodes))
            for _ in range(rng.randint(8, 18))
        })
        mod = rng.choice(["", "", "", "+", "*"])  # random dense KGs cycle
        pred = rng.choice(
            [f"<{rng.choice(rels)}>", f"<{rng.choice(rels)}>",
             f"!<{rng.choice(rels)}>",
             f"!({'|'.join('<%s>' % r for r in rng.sample(rels, 2))})"]
        )
        if rng.random() < 0.25:
            # sequence GROUP under a (always-present) modifier, members
            # optionally inverted — the composed-base closure path
            seq = "/".join(
                f"{rng.choice(['', '^'])}<{rng.choice(rels)}>"
                for _ in range(rng.randint(2, 3))
            )
            pred, mod = f"({seq})", rng.choice(["+", "*", "?"])
        parts = [f"?a {pred}{mod} ?b ."]
        if rng.random() < 0.7:
            parts.append(f"?b <{rng.choice(rels)}> ?c .")
        extra = rng.choice(["opt", "exists", "minus", "values", "filter", "subq", ""])
        if extra == "opt":
            parts.append(f"OPTIONAL {{ ?a <{rng.choice(rels)}> ?d . }}")
        elif extra == "exists":
            parts.append(f"FILTER EXISTS {{ ?b <{rng.choice(rels)}> ?e . }}")
        elif extra == "minus":
            parts.append(f"MINUS {{ ?a <{rng.choice(rels)}> ?e . }}")
        elif extra == "values":
            parts.append("VALUES ?a { <n0> <n1> <n2> }")
        elif extra == "filter":
            parts.append("FILTER(?a != ?b)")
        elif extra == "subq":
            parts.append(
                "{ SELECT DISTINCT ?a WHERE { ?a <%s> ?z . } }"
                % rng.choice(rels)
                if rng.random() < 0.5
                else "{ SELECT ?a ?w WHERE { ?a <%s> ?w . } }"
                % rng.choice(rels)
            )
        sel = "SELECT * " if rng.random() < 0.5 else "SELECT DISTINCT ?a ?b "
        query = sel + "WHERE { " + " ".join(parts) + " }"
        df = spark.createDataFrame(edges, "src string, rel string, dst string")
        got = [tuple(r) for r in bgp(df, query).collect()]
        exp = naive_full(edges, query)
        key = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
        if isinstance(exp, set):
            assert set(got) == exp and len(got) == len(set(got)), (case, query, edges)
        else:
            assert sorted(got, key=key) == exp, (case, query, edges)
