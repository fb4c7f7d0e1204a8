"""KG quality operators (operators/kgq.py): contradiction detection,
TruthFinder-lite truth discovery, subClassOf closure + type inference."""

import pytest
from pyspark.sql import functions as F

from deepex_spark.operators.kgq import (
    conflict_report,
    subclass_closure,
    truth_discovery,
    type_extension,
)

_CLAIM_COLS = ["subj", "val", "src"]


def _claims(spark, rows):
    return spark.createDataFrame(rows, _CLAIM_COLS)


def test_conflict_report_distinct_source_votes(spark):
    """A source repeating the same claim must count once; subjects with
    a single asserted value never appear."""
    df = _claims(
        spark,
        [
            (1, "x", "a"),
            (1, "x", "a"),  # duplicate vote, same source
            (1, "x", "b"),
            (1, "y", "c"),
            (2, "z", "a"),  # no conflict -> excluded
            (2, "z", "b"),
        ],
    )
    rows = {r["subj"]: r for r in conflict_report(df).collect()}
    assert set(rows) == {1}
    r = rows[1]
    assert r["n_vals"] == 2
    assert r["vals"] == "x,y"
    assert r["n_votes"] == 3  # a+b for x, c for y — NOT 4
    assert r["top_share"] == pytest.approx(2 / 3, abs=1e-6)


def test_truth_discovery_trust_flips_majority(spark):
    """Two untrusted sources outvote one trusted source in round 1; the
    trust-weighted re-vote must flip the verdict. Calibration subjects
    pin the trust: g agrees with 3 majorities, b1/b2 with none."""
    rows = []
    for cal in (10, 11, 12):
        rows += [
            (cal, "v", "g"),
            (cal, "v", "g2"),
            (cal, "v", "g3"),
            (cal, "w", "b1"),
            (cal, "w", "b2"),
        ]
    rows += [(1, "x", "b1"), (1, "x", "b2"), (1, "y", "g")]
    out = {r["subj"]: r for r in truth_discovery(_claims(spark, rows)).collect()}
    r = out[1]
    # round 1: x has 2 votes, y has 1 -> majority x
    assert r["majority_val"] == "x"
    # trust: g = 3/4 agree (cal yes, subj-1 no) -> 750000
    #        b  = 1/4 agree (cal no, subj-1 x IS the majority) -> 250000
    # re-vote: x = 2*250000 = 500000 < y = 750000 -> flipped
    assert r["resolved_val"] == "y"
    assert r["weight"] == 750_000
    assert r["changed"] is True
    # calibration subjects keep their majority, changed = False
    assert out[10]["resolved_val"] == "v" and out[10]["changed"] is False


def test_truth_discovery_tie_breaks_on_value(spark):
    """Equal support and equal trust -> lexicographically smallest value
    wins in both rounds (deterministic across engines/partitionings)."""
    df = _claims(spark, [(1, "b", "s1"), (1, "a", "s2")])
    r = truth_discovery(df).collect()[0]
    assert r["majority_val"] == "a" and r["resolved_val"] == "a"
    assert r["changed"] is False


def test_subclass_closure_path_doubling_depth(spark):
    """A depth-4 chain a->b->c->d->e closes to all 10 ancestor pairs, and
    a depth-9 chain still closes exactly: the closure runs to its
    fixpoint rather than a fixed round count that would drop the pairs
    beyond 2^rounds."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["child", "anc"]
    )
    got = {(r["child"], r["anc"]) for r in subclass_closure(edges).collect()}
    want = {
        (c, a)
        for i, c in enumerate("abcd")
        for a in "abcde"[i + 1 :]
    }
    assert got == want
    # 10-node chain t0 -> ... -> t9: depth 9 > 4, all 45 ancestor pairs
    chain = spark.createDataFrame(
        [(f"t{i}", f"t{i + 1}") for i in range(9)], ["child", "anc"]
    )
    typing = spark.createDataFrame([(0, "t0")], ["instance_id", "type_id"])
    out = type_extension(chain, typing).collect()
    assert sum(r["n_subtypes"] for r in out) == 45


def test_type_extension_inferred_counts(spark):
    """rdf:type instances roll up through the closure: inferred counts
    include every descendant's instances, direct counts do not."""
    edges = spark.createDataFrame(
        [("leaf1", "mid"), ("leaf2", "mid"), ("mid", "root")],
        ["child", "anc"],
    )
    typing = spark.createDataFrame(
        [(1, "leaf1"), (2, "leaf1"), (3, "leaf2"), (4, "mid")],
        ["instance_id", "type_id"],
    )
    out = {r["type_id"]: r for r in type_extension(edges, typing).collect()}
    assert set(out) == {"leaf1", "leaf2", "mid", "root"}
    assert (out["leaf1"]["n_direct"], out["leaf1"]["n_inferred"]) == (2, 2)
    assert (out["mid"]["n_direct"], out["mid"]["n_inferred"]) == (1, 4)
    assert (out["root"]["n_direct"], out["root"]["n_inferred"]) == (0, 4)
    assert out["root"]["n_subtypes"] == 3  # leaf1, leaf2, mid
    assert out["leaf1"]["n_subtypes"] == 0


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_conflict_report_single_exchange_plan(spark):
    """The explicit subject repartition is the ONLY shuffle: the vote
    distinct, per-value count and per-subject rollup all satisfy their
    distribution from it (subset rule) — no ENSURE_REQUIREMENTS exchange
    may appear."""
    df = _claims(spark, [(1, "x", "a"), (1, "y", "b")])
    plan = _executed(conflict_report(df))
    assert "ENSURE_REQUIREMENTS" not in plan
    assert plan.count("REPARTITION_BY_COL") == 1


def test_truth_discovery_two_exchange_plan(spark):
    """Post-cache, exactly ONE required shuffle survives (the
    source-keyed trust aggregate); every subject-keyed consumer reuses
    the cached repartition — the pattern depends on
    canChangeCachedPlanOutputPartitioning=false (session.py) plus eager
    cache materialization, so a regression here means one of those broke."""
    df = _claims(spark, [(1, "x", "a"), (1, "y", "b"), (2, "x", "a")])
    plan = _executed(truth_discovery(df))
    ensures = [
        ln for ln in plan.splitlines() if "ENSURE_REQUIREMENTS" in ln
    ]
    assert len(ensures) == 1 and "src" in ensures[0]


def test_inverse_rules_exact_partial_symmetric(spark):
    """The miner must recover exact inverses (conf 1.0 both ways),
    partial inverses (conf = overlap share), symmetry (p==q), and must
    dedup repeated facts before counting support."""
    from deepex_spark.operators.kgq import inverse_rules

    edges = spark.createDataFrame(
        [
            (1, 2, "p"), (3, 4, "p"),
            (1, 2, "p"),            # duplicate fact — must not inflate
            (2, 1, "q"), (4, 3, "q"),
            (2, 1, "r"),            # reverses only HALF of p
            (5, 6, "s"), (6, 5, "s"),  # symmetric predicate
        ],
        ["src", "dst", "rel"],
    )
    out = {
        (r["p_rel"], r["q_rel"]): r
        for r in inverse_rules(edges, min_support=1).collect()
    }
    assert out[("p", "q")]["inv_confidence"] == 1.0
    assert out[("q", "p")]["inv_confidence"] == 1.0
    assert out[("p", "q")]["n_p"] == 2 and out[("p", "q")]["inv_support"] == 2
    assert out[("p", "r")]["inv_confidence"] == 0.5
    assert out[("r", "p")]["inv_confidence"] == 1.0
    assert out[("s", "s")]["inv_confidence"] == 1.0
    # no self-inverse rule for p: p(x,y) never has p(y,x) here
    assert ("p", "p") not in out


# ---------------------------------------------------------------- link pred

def _lattice_emb(col, j):
    """Deterministic integer-lattice embedding: exact in float64, so a
    pure-Python mirror reproduces Spark's scores bit-for-bit."""
    return ((col.cast("long") * 7 + j * 3) % 5 - 2) / F.lit(2.0)


def _py_lattice(x, j):
    return ((x * 7 + j * 3) % 5 - 2) / 2.0


def _py_link_pred(test, cands, dim):
    """Pure-Python mirror of link_prediction_eval over integer ids."""
    from collections import defaultdict

    by_rel = defaultdict(list)
    for rel, cand in cands:
        by_rel[rel].append(cand)
    agg = defaultdict(lambda: [0, 0.0, 0.0, 0.0])  # n, h1, h10, mrr
    for subj, rel, obj in test:
        def score(c):
            return sum(
                _py_lattice(subj, j) * _py_lattice(rel, j) * _py_lattice(c, j)
                for j in range(dim)
            )
        s_true = score(obj)
        rnk = 1 + sum(
            1
            for c in by_rel[rel]
            if score(c) > s_true or (score(c) == s_true and c < obj)
        )
        a = agg[rel]
        a[0] += 1
        a[1] += 1.0 if rnk <= 1 else 0.0
        a[2] += 1.0 if rnk <= 10 else 0.0
        a[3] += 1.0 / rnk
    return {
        rel: {
            "n_test": n,
            "hits1": round(h1 / n, 6),
            "hits10": round(h10 / n, 6),
            "mrr": round(mrr / n, 6),
        }
        for rel, (n, h1, h10, mrr) in agg.items()
    }


def _lp_toy(spark):
    """12 test triples over 2 relations, 15 candidates per relation —
    big enough that ranks spread across [1, 15] and hits@1 < 1."""
    pos = [(s, s % 2, (s * 11) % 15) for s in range(1, 31)]
    test = [t for t in pos if t[0] <= 12]
    cands = sorted({(r, o) for _, r, o in pos})
    tdf = spark.createDataFrame(test, ["subj", "rel", "obj"])
    cdf = spark.createDataFrame(cands, ["rel", "cand"])
    return test, cands, tdf, cdf


def test_link_prediction_matches_python_mirror(spark):
    """Per-relation n_test/hits@1/hits@10/MRR must equal a pure-Python
    re-derivation exactly (the lattice embedding is exact in float64)."""
    from deepex_spark.operators.kgq import link_prediction_eval

    test, cands, tdf, cdf = _lp_toy(spark)
    want = _py_link_pred(test, cands, dim=4)
    got = {
        r["rel"]: r
        for r in link_prediction_eval(
            tdf, cdf, _lattice_emb, _lattice_emb, dim=4, salt_buckets=4
        ).collect()
    }
    assert set(got) == set(want)
    for rel, w in want.items():
        g = got[rel]
        assert g["n_test"] == w["n_test"]
        assert g["hits1"] == w["hits1"]
        assert g["hits10"] == w["hits10"]
        assert g["mrr"] == w["mrr"]
    # the toy is non-degenerate: some rank is neither 1 nor > 10
    assert any(0.0 < w["hits1"] < w["hits10"] for w in want.values())


def test_link_prediction_salt_invariant(spark):
    """Salting only re-partitions the skewed rel join — result sets at
    salt_buckets=1 and salt_buckets=8 must be identical."""
    from deepex_spark.operators.kgq import link_prediction_eval

    _, _, tdf, cdf = _lp_toy(spark)
    rows = lambda b: sorted(  # noqa: E731
        map(
            tuple,
            link_prediction_eval(
                tdf, cdf, _lattice_emb, _lattice_emb, dim=4, salt_buckets=b
            ).collect(),
        )
    )
    assert rows(1) == rows(8)


# ------------------------------------------------------------ skip-gram

def _round_half_up(x, digits):
    import math

    p = 10.0 ** digits
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def _py_sgns_epoch(pos, neg, emb_in, emb_out, dim, lr=0.05):
    """Pure-Python mirror of skipgram_epoch: fast-sigmoid link,
    weighted batch gradient, 1e9 integer quantization, one update."""
    from collections import defaultdict

    ex = [(c, x, float(w), 1.0) for c, x, w in pos] + [
        (c, x, 1.0, 0.0) for c, x in neg
    ]
    gsum = defaultdict(int)
    init = {}
    for c, x, w, y in ex:
        ei = [emb_in(c, j) for j in range(dim)]
        eo = [emb_out(x, j) for j in range(dim)]
        s = 0.0
        for j in range(dim):
            s = s + ei[j] * eo[j]
        sig = 0.5 + (0.5 * s) / (1.0 + abs(s))
        err = (sig - y) * w
        for j in range(dim):
            gsum[("in", c, j)] += int(_round_half_up(err * eo[j] * 1e9, 0))
            gsum[("out", x, j)] += int(_round_half_up(err * ei[j] * 1e9, 0))
            init[("in", c, j)] = ei[j]
            init[("out", x, j)] = eo[j]
    return {
        k: _round_half_up(init[k] - lr * (g / 1e9), 9)
        for k, g in gsum.items()
    }


def _sg_toy(spark):
    pos = [(1, 2, 2), (2, 3, 1), (3, 1, 1), (1, 3, 4)]
    neg = [(1, 4), (2, 4), (3, 2)]
    pdf = spark.createDataFrame(pos, ["center", "context", "n_pairs"])
    ndf = spark.createDataFrame(neg, ["center", "context"])
    return pos, neg, pdf, ndf


def test_skipgram_epoch_matches_python_mirror(spark):
    """Every updated (side, node, j, emb) must equal the pure-Python
    batch-gradient re-derivation exactly — the lattice embeddings and
    the integer-quantized sum leave no rounding slack."""
    from deepex_spark.operators.kgq import skipgram_epoch

    pos, neg, pdf, ndf = _sg_toy(spark)
    want = _py_sgns_epoch(pos, neg, _py_lattice, _py_lattice, dim=3)
    got = {
        (r["side"], r["node"], r["j"]): r["emb"]
        for r in skipgram_epoch(
            pdf, ndf, _lattice_emb, _lattice_emb, dim=3
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])
    # training moved something
    assert any(got[k] != _py_lattice(k[1], k[2]) for k in got)


def test_skipgram_from_table_reproduces_hash_epoch(spark):
    """Feeding the hash-init parameters through the iterative
    (join-based) form must reproduce epoch 1 exactly — pins that the
    parameter-server read path computes the same update as the
    row-local hash path."""
    from deepex_spark.operators.kgq import (
        skipgram_epoch,
        skipgram_epoch_from_table,
    )

    _, _, pdf, ndf = _sg_toy(spark)
    dim = 3
    nodes = (
        pdf.select(F.col("center").alias("node"))
        .union(pdf.select("context"))
        .union(ndf.select("center"))
        .union(ndf.select("context"))
        .distinct()
    )
    init = nodes.selectExpr(
        "node",
        f"explode(sequence(0, {dim - 1})) AS j",
    ).selectExpr(
        "explode(array('in', 'out')) AS side",
        "node",
        "j",
        "CAST(((node * 7 + j * 3) % 5 - 2) / 2.0 AS DOUBLE) AS emb",
    )
    a = sorted(
        map(
            tuple,
            skipgram_epoch(
                pdf, ndf, _lattice_emb, _lattice_emb, dim=dim
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            skipgram_epoch_from_table(pdf, ndf, init, dim=dim).collect(),
        )
    )
    assert a == b


def test_skipgram_second_epoch_runs(spark):
    """Epoch 2 = from_table over epoch 1's output: schema-stable, and
    parameters keep moving."""
    from deepex_spark.operators.kgq import (
        skipgram_epoch,
        skipgram_epoch_from_table,
    )

    _, _, pdf, ndf = _sg_toy(spark)
    e1 = skipgram_epoch(pdf, ndf, _lattice_emb, _lattice_emb, dim=3)
    e2 = skipgram_epoch_from_table(pdf, ndf, e1, dim=3)
    assert e2.schema.simpleString() == e1.schema.simpleString()
    m1 = {(r["side"], r["node"], r["j"]): r["emb"] for r in e1.collect()}
    m2 = {(r["side"], r["node"], r["j"]): r["emb"] for r in e2.collect()}
    assert set(m1) == set(m2)
    assert any(m1[k] != m2[k] for k in m1)


def _py_eval_from_table(test, cands, table, dim):
    """Pure-Python mirror of link_prediction_eval_from_table: missing
    parameters score 0.0, ties break toward the smaller candidate id."""
    from collections import defaultdict

    def vec(side, node):
        return [table.get((side, node, j), 0.0) for j in range(dim)]

    by_rel = defaultdict(list)
    for rel, cand in cands:
        by_rel[rel].append(cand)
    agg = defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for subj, rel, obj in test:
        ei = vec("in", subj)

        def score(c):
            eo = vec("out", c)
            s = 0.0
            for j in range(dim):
                s = s + ei[j] * eo[j]
            return s

        st = score(obj)
        rnk = 1 + sum(
            1
            for c in by_rel[rel]
            if score(c) > st or (score(c) == st and c < obj)
        )
        a = agg[rel]
        a[0] += 1
        a[1] += 1.0 if rnk <= 1 else 0.0
        a[2] += 1.0 if rnk <= 10 else 0.0
        a[3] += 1.0 / rnk
    return {
        rel: (n, round(h1 / n, 6), round(h10 / n, 6), round(mrr / n, 6))
        for rel, (n, h1, h10, mrr) in agg.items()
    }


def test_eval_from_table_matches_python_mirror(spark):
    """Metrics over a materialized (trained) embedding table must equal
    the pure-Python re-derivation, including the missing-parameter →
    0.0 convention."""
    from deepex_spark.operators.kgq import (
        link_prediction_eval_from_table,
        skipgram_epoch,
    )

    pos, neg, pdf, ndf = _sg_toy(spark)
    dim = 3
    table = _py_sgns_epoch(pos, neg, _py_lattice, _py_lattice, dim=dim)
    test = [(1, "r", 2), (2, "r", 3), (4, "r", 1)]  # subj 4 untrained
    cands = [("r", c) for c in (1, 2, 3, 4)]
    want = _py_eval_from_table(test, cands, table, dim)
    tdf = spark.createDataFrame(test, ["subj", "rel", "obj"])
    cdf = spark.createDataFrame(cands, ["rel", "cand"])
    emb = skipgram_epoch(pdf, ndf, _lattice_emb, _lattice_emb, dim=dim)
    got = {
        r["rel"]: (r["n_test"], r["hits1_t"], r["hits10_t"], r["mrr_t"])
        for r in link_prediction_eval_from_table(
            tdf, cdf, emb, dim=dim, salt_buckets=4, suffix="_t"
        ).collect()
    }
    assert got == want


def test_training_lifts_designed_toy(spark):
    """On a toy where each subject's true object is a heavily-weighted
    training pair and every candidate is trained (no zero-score mass),
    two epochs — the second through the ITERATIVE from_table path —
    must strictly lift hits@1 and MRR over the hash init: the machinery
    can learn; the sf-graph audit (kg_link_pred_trained_vs_init,
    EXPLAIN.md) documents why the single-walk corpus there cannot."""
    from deepex_spark.operators.kgq import (
        link_prediction_eval_from_table,
        skipgram_epoch,
        skipgram_epoch_from_table,
    )

    dim = 3
    subs, objs = [1, 2, 3], [11, 12, 13, 14]
    truth = {1: 12, 2: 13, 3: 14}  # misaligned with the mod-5 lattice
    pos = [(s, o, 10) for s, o in truth.items()]
    # every object appears in training so no candidate scores exactly 0
    neg = [(s, o) for s in subs for o in objs if o != truth[s]]
    pdf = spark.createDataFrame(pos, ["center", "context", "n_pairs"])
    ndf = spark.createDataFrame(neg, ["center", "context"])
    test = spark.createDataFrame(
        [(s, "r", o) for s, o in truth.items()], ["subj", "rel", "obj"]
    )
    cands = spark.createDataFrame(
        [("r", o) for o in objs], ["rel", "cand"]
    )
    init_rows = [
        (side, n, j, _py_lattice(n, j))
        for side in ("in", "out")
        for n in subs + objs
        for j in range(dim)
    ]
    init = spark.createDataFrame(init_rows, ["side", "node", "j", "emb"])
    e1 = skipgram_epoch(pdf, ndf, _lattice_emb, _lattice_emb, dim=dim, lr=0.5)
    e2 = skipgram_epoch_from_table(pdf, ndf, e1, dim=dim, lr=0.5)

    def metrics(table):
        r = link_prediction_eval_from_table(
            test, cands, table, dim=dim, salt_buckets=2, suffix=""
        ).collect()[0]
        return r["hits1"], r["mrr"]

    h1_init, mrr_init = metrics(init)
    h1_tr, mrr_tr = metrics(e2)
    assert h1_init == 0.0 and mrr_init == 0.333333
    assert h1_tr == 0.666667 and mrr_tr == 0.833333


def test_chain_rules_semantics(spark):
    """Chain-rule mining pins: distinct-pair support (parallel mids count
    once), CWA vs PCA confidence divergence, backtrack exclusion, and the
    hub-fanout cutoff."""
    from deepex_spark.operators.kgq import chain_rules

    edges = spark.createDataFrame(
        [
            # placed ∘ contains ⇒ bought holds exactly; (c1,p1) is
            # reachable through BOTH o1 and o2 — one body pair, not two
            ("c1", "o1", "placed"),
            ("c1", "o2", "placed"),
            ("c2", "o3", "placed"),
            ("o1", "p1", "contains"),
            ("o1", "p2", "contains"),
            ("o2", "p1", "contains"),
            ("o3", "p2", "contains"),
            ("c1", "p1", "bought"),
            ("c1", "p2", "bought"),
            ("c2", "p2", "bought"),
            ("c1", "p1", "returned"),
            # pure backtrack: knows(a,b) ∧ knows(b,a) returns to a
            ("a", "b", "knows"),
            ("b", "a", "knows"),
            # hub mid-vertex: in_deg 2 × out_deg 2 = fanout 4
            ("s1", "h", "in1"),
            ("s2", "h", "in1"),
            ("h", "t1", "out1"),
            ("h", "t2", "out1"),
            ("s1", "t1", "lh"),
        ],
        ["src", "dst", "rel"],
    )
    rows = {
        (r["rel_a"], r["rel_b"], r["head_rel"]): r
        for r in chain_rules(edges, min_support=1).collect()
    }
    exact = rows[("placed", "contains", "bought")]
    assert exact["n_body"] == 3 and exact["support"] == 3
    assert exact["confidence"] == 1.0 and exact["pca_confidence"] == 1.0
    part = rows[("placed", "contains", "returned")]
    # CWA: 1 of 3 body pairs returned; PCA: only c1's 2 pairs count
    assert part["support"] == 1 and part["n_body"] == 3
    assert part["confidence"] == 0.333333
    assert part["pca_confidence"] == 0.5
    # backtrack (y == x) pairs are not body pairs
    assert not any(k[0] == "knows" and k[1] == "knows" for k in rows)
    # uncapped: the hub rule is mined ...
    assert rows[("in1", "out1", "lh")]["support"] == 1
    # ... the fanout cap excludes the hub mid but keeps order mids
    capped = {
        (r["rel_a"], r["rel_b"], r["head_rel"])
        for r in chain_rules(edges, min_support=1, max_mid_fanout=3).collect()
    }
    assert ("in1", "out1", "lh") not in capped
    assert ("placed", "contains", "bought") in capped
