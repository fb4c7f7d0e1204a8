"""Connected components + near-dup cluster assignment
(operators/graph.py::connected_components / dedup_clusters).

Verified against an independent union-find implementation written here
(not shared with the operator), on adversarial shapes: a long chain (worst
diameter — exercises pointer jumping), transitive dup chains, and a seeded
random graph; plus partition-count invariance of the fixpoint.
"""

import random

import pytest
from pyspark.sql import functions as F


def _union_find(n_vertices, edges):
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id
    comp_min: dict[int, int] = {}
    for v in range(n_vertices):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in range(n_vertices)}


def _cc_dict(spark, edges):
    from deepex_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["v"]: r["comp"] for r in connected_components(df).collect()}


def test_cc_chain_worst_diameter(spark):
    """A 64-vertex chain: naive min-propagation needs 63 rounds; pointer
    jumping must collapse it within the operator's round cap."""
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_dict(spark, edges)
    assert got == {v: 0 for v in range(64)}


def test_cc_raises_when_round_cap_is_hit(spark, monkeypatch):
    """Labels still changing when the cap runs out are an error, not a
    result: one round cannot settle the 64-vertex chain."""
    from deepex_spark.operators import graph

    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge within 1 rounds"):
        _cc_dict(spark, [(i, i + 1) for i in range(63)])


def test_cc_matches_union_find_random(spark):
    rnd = random.Random(1234)
    n = 200
    edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(150)]
    exp = _union_find(n, edges)
    got = _cc_dict(spark, edges)
    # operator only labels vertices that appear in an edge
    touched = {a for a, _ in edges} | {b for _, b in edges}
    assert got == {v: exp[v] for v in touched}


def test_cc_partition_invariance(spark):
    from deepex_spark.operators.graph import connected_components

    edges = [(i, i + 1) for i in range(40)] + [(100 + i, 100 + (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, connected_components(df).collect()))
    b = sorted(map(tuple, connected_components(df.repartition(13)).collect()))
    assert a == b and len(a) == 41 + 5


def test_dedup_clusters_transitive(spark):
    """A~B and B~C (A never pairs with C directly) must land in ONE
    cluster; untouched docs are their own canonical singleton."""
    from deepex_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 7)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in
            dedup_clusters(docs, pairs).collect()}
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (2, True),
        3: (3, True),
        4: (1, False),
        5: (5, True),
        6: (1, False),
        7: (2, False),
    }
    # keep-one-per-cluster retains exactly one doc per cluster
    canon = [d for d, (_, keep) in rows.items() if keep]
    assert sorted(canon) == [0, 1, 2, 3, 5]


def test_dedup_clusters_string_ids(spark):
    """String doc_ids (UUID/url-hash corpora) must cluster, not silently
    cast to NULL longs and mark every row non-canonical (which emptied the
    curate job's output corpus)."""
    from deepex_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame(
        [("u-a",), ("u-b",), ("u-c",), ("u-d",)], "doc_id string"
    )
    pairs = spark.createDataFrame([("u-b", "u-d")], "id_a string, id_b string")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in
            dedup_clusters(docs, pairs).collect()}
    assert rows == {
        "u-a": ("u-a", True),
        "u-b": ("u-b", True),
        "u-c": ("u-c", True),
        "u-d": ("u-b", False),
    }


def test_graph_id_type_guard(spark):
    """Unsupported id types fail loudly instead of casting to NULL."""
    from deepex_spark.operators.graph import connected_components

    df = spark.createDataFrame([(1.5, 2.5)], "src double, dst double")
    with pytest.raises(TypeError, match="integral or string"):
        connected_components(df)


def test_khop_matches_reference_bfs(spark):
    """Fixed-k BFS min-hop distances vs an independent dict-based BFS on
    a seeded random directed graph; vertices beyond k hops absent."""
    from collections import deque

    from deepex_spark.operators.graph import khop_distances

    rnd = random.Random(77)
    n = 60
    edges = list({(rnd.randrange(n), rnd.randrange(n)) for _ in range(120)})
    seeds = [0, 7, 13]
    k = 3
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    exp = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if exp[u] >= k:
            continue
        for w in adj.get(u, []):
            if w not in exp:
                exp[w] = exp[u] + 1
                q.append(w)
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "v long")
    got = {r["v"]: r["hops"] for r in khop_distances(edf, sdf, k=k).collect()}
    assert got == exp


def test_khop_zero_rounds_is_seed_set(spark):
    from deepex_spark.operators.graph import khop_distances

    edf = spark.createDataFrame([(1, 2)], "src long, dst long")
    sdf = spark.createDataFrame([(1,), (9,)], "v long")
    got = {(r["v"], r["hops"]) for r in khop_distances(edf, sdf, k=0).collect()}
    assert got == {(1, 0), (9, 0)}


def test_relpath2_backtrack_only_pairs_absent(spark, tmp_path):
    """A single order produces edges (c,o) and (o,c) whose only 2-hop
    paths are immediate backtracks: the oracle's COUNT(*) GROUP BY emits
    no row for that relation pair, so the engine must emit NONE either —
    not a zero row (row-count parity on degenerate graphs)."""
    from deepex_spark.queries import REGISTRY

    spark.createDataFrame(
        [(1, 2, "1-URGENT")], "o_custkey long, o_orderkey long, o_orderpriority string"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = REGISTRY["kg_relpath2"].spark_fn(spark, str(tmp_path))
    assert out.count() == 0


def test_pagerank_matches_reference_power_iteration(spark):
    """Independent dict-based power iteration (incl. dangling-node mass
    redistribution) must match the distributed operator to float
    precision on a small directed graph WITH a dangling vertex."""
    from deepex_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (1, 4)]  # 4 -> dangling
    n_iter, d = 10, 0.85
    verts = sorted({u for e in edges for u in e})
    n = len(verts)
    out = {}
    for a, b in edges:
        out.setdefault(a, set()).add(b)
    r = {v: 1.0 / n for v in verts}
    for _ in range(n_iter):
        dang = sum(r[v] for v in verts if v not in out)
        nxt = {}
        for v in verts:
            csum = sum(r[u] / len(out[u]) for u in verts if u in out and v in out[u])
            nxt[v] = (1.0 - d) / n + d * (csum + dang / n)
        r = nxt
    assert abs(sum(r.values()) - 1.0) < 1e-9  # mass conserved

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {row["v"]: row["r"] for row in pagerank(df, n_iter=n_iter, damping=d).collect()}
    assert set(got) == set(verts)
    for v in verts:
        assert got[v] == pytest.approx(r[v], abs=1e-12)


def test_hits_matches_reference_power_iteration(spark):
    """Independent dict-based HITS (L1-normalized half-steps) must match
    the distributed operator to float precision; pure sinks get hub 0,
    pure sources get authority 0."""
    from deepex_spark.operators.graph import hits

    edges = [(0, 2), (1, 2), (2, 3), (0, 3), (3, 1)]
    n_iter = 10
    verts = sorted({u for e in edges for u in e})
    n = len(verts)
    h = {v: 1.0 / n for v in verts}
    a = dict(h)
    for _ in range(n_iter):
        a_raw = {v: sum(h[u] for u, w in edges if w == v) for v in verts}
        tot = sum(a_raw.values()) or 1.0
        a = {v: a_raw[v] / tot for v in verts}
        h_raw = {v: sum(a[w] for u, w in edges if u == v) for v in verts}
        tot = sum(h_raw.values()) or 1.0
        h = {v: h_raw[v] / tot for v in verts}
    assert abs(sum(a.values()) - 1.0) < 1e-9 and abs(sum(h.values()) - 1.0) < 1e-9

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["v"]: (r["h"], r["a"]) for r in hits(df, n_iter=n_iter).collect()}
    assert set(got) == set(verts)
    for v in verts:
        assert got[v][0] == pytest.approx(h[v], abs=1e-12)
        assert got[v][1] == pytest.approx(a[v], abs=1e-12)
    # vertex 0 has no in-links -> zero authority
    assert got[0][1] == 0.0


def _lp_rows(spark, edges, **kw):
    from deepex_spark.operators.graph import link_pred_heuristics

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r["a"], r["b"]): (r["cn"], r["aa"], r["jaccard"])
        for r in link_pred_heuristics(df, **kw).collect()
    }


def test_link_pred_cycle_exact(spark):
    """4-cycle: the two diagonals are the only non-adjacent pairs, each
    with both opposite corners (deg 2) as common neighbours."""
    import math

    got = _lp_rows(spark, [(1, 2), (2, 3), (3, 4), (1, 4)], min_cn=2)
    aa = round(2.0 / math.log(2.0), 6)
    assert got == {(1, 3): (2, aa, 1.0), (2, 4): (2, aa, 1.0)}


def test_link_pred_hub_cutoff_and_full_degrees(spark):
    """Hub cutoff: mids above max_mid_deg never mediate a pair, but the
    AA weight and the Jaccard denominator keep FULL-graph degrees, so
    jaccard is a lower bound under the cutoff (documented contract)."""
    import math

    edges = [(1, 2), (2, 3), (3, 4), (1, 4), (9, 1), (9, 2), (9, 3), (9, 4)]
    # no cutoff: hub 9 (deg 4) is a third common neighbour of each diagonal
    full = _lp_rows(spark, edges, min_cn=2)
    aa_full = round(2.0 / math.log(3.0) + 1.0 / math.log(4.0), 6)
    assert full == {(1, 3): (3, aa_full, 1.0), (2, 4): (3, aa_full, 1.0)}
    # cutoff 3 drops the hub as a mid; corner degrees stay 3 in jaccard
    cut = _lp_rows(spark, edges, min_cn=2, max_mid_deg=3)
    aa_cut = round(2.0 / math.log(3.0), 6)
    assert cut == {(1, 3): (2, aa_cut, 0.5), (2, 4): (2, aa_cut, 0.5)}


def test_link_pred_min_cn_and_adjacency(spark):
    """Path 1-2-3: (1,3) has one common neighbour — emitted at min_cn=1,
    filtered at min_cn=2; adjacent pairs never appear; direction and
    duplicate input edges are normalized away."""
    import math

    edges = [(1, 2), (3, 2), (2, 1)]  # reversed + duplicate forms of the path
    assert _lp_rows(spark, edges, min_cn=2) == {}
    got = _lp_rows(spark, edges, min_cn=1)
    assert got == {(1, 3): (1, round(1.0 / math.log(2.0), 6), 1.0)}


def test_link_pred_plan_no_cartesian(spark):
    """The wedge self-join must key on the mid vertex — a cartesian or
    nested-loop node here is the quadratic blowup the operator exists to
    avoid."""
    from deepex_spark.operators.graph import link_pred_heuristics

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = link_pred_heuristics(df, min_cn=1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_personalized_pagerank_matches_reference(spark):
    """Independent dict-based PPR (teleport AND dangling mass to the
    seed vector) must match the distributed operator to float precision;
    a vertex unreachable from the seeds scores exactly 0."""
    from deepex_spark.operators.graph import personalized_pagerank

    # 3 -> dangling (no out-edges); 4 <-> 5 is a component unreachable
    # from the seeds {0, 1}
    edges = [(0, 1), (1, 2), (2, 0), (1, 3), (4, 5), (5, 4)]
    seeds = [0, 1]
    d, n_iter = 0.85, 10
    verts = sorted({u for ed in edges for u in ed})
    out = {v: [w for u, w in edges if u == v] for v in verts}
    e = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in verts}
    r = dict(e)
    for _ in range(n_iter):
        dang = sum(r[v] for v in verts if not out[v])
        nxt = {}
        for v in verts:
            csum = sum(r[u] / len(out[u]) for u in verts if v in out[u])
            nxt[v] = (1.0 - d) * e[v] + d * (csum + dang * e[v])
        r = nxt
    assert abs(sum(r.values()) - 1.0) < 1e-12  # mass conserved

    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "v long")
    got = {
        row["v"]: row["r"]
        for row in personalized_pagerank(df, sdf, n_iter=n_iter, damping=d).collect()
    }
    assert set(got) == set(verts)
    for v in verts:
        assert got[v] == pytest.approx(r[v], abs=1e-12)
    assert got[4] == 0.0 and got[5] == 0.0


def test_personalized_pagerank_seed_guard(spark):
    """Seeds entirely absent from the graph raise instead of silently
    returning an all-zero vector; absent seeds alongside present ones
    are ignored."""
    from deepex_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        personalized_pagerank(df, spark.createDataFrame([(99,)], "v long"))
    got = {
        r["v"]: r["r"]
        for r in personalized_pagerank(
            df, spark.createDataFrame([(1,), (99,)], "v long"), n_iter=2
        ).collect()
    }
    # 99 ignored -> teleport mass concentrates on vertex 1 alone
    assert got[1] > 0.5


def _assort(spark, edges):
    from deepex_spark.operators.graph import degree_assortativity

    df = spark.createDataFrame(edges, "src long, dst long")
    return degree_assortativity(df).collect()[0]


def _assort_reference(edges):
    """Independent pure-Python Newman r over the symmetrized endpoint
    list (not shared with the operator)."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in und:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    n = len(xs)
    mx = sum(xs) / n
    cov = sum(x * y for x, y in zip(xs, ys)) / n - mx * mx
    var = sum(x * x for x in xs) / n - mx * mx
    return cov / var


def test_assortativity_star_and_path(spark):
    """Star and 3-path are perfectly disassortative (every edge joins
    the max-degree vertex to a leaf): r = -1 exactly."""
    row = _assort(spark, [(0, 1), (0, 2), (0, 3)])
    assert (row["n_endpoints"], row["assortativity"]) == (6, -1.0)
    row = _assort(spark, [(1, 2), (2, 3)])
    assert (row["n_endpoints"], row["assortativity"]) == (4, -1.0)


def test_assortativity_matches_reference_random(spark):
    """Seeded random graph: the distributed moments must reproduce the
    independent Pearson computation; duplicates/reverses/self-loops are
    normalized away first."""
    import random

    rnd = random.Random(7)
    edges = list({(rnd.randrange(12), rnd.randrange(12)) for _ in range(40)})
    edges += [(b, a) for a, b in edges[:10]] + [(5, 5)]  # noise forms
    clean = [(a, b) for a, b in edges if a != b]
    got = _assort(spark, edges)["assortativity"]
    assert got == round(_assort_reference(clean), 6)


def test_directed_overlap_modes_exact(spark):
    """Directed star fan-out: sources {1,2} both cite {10,11}; source 3
    cites {11,12}. Coupling intersects OUT-neighbourhoods, co-citation
    intersects IN-neighbourhoods — hand-computed counts and Jaccards for
    both modes, duplicate edges collapse first."""
    from deepex_spark.operators.graph import directed_overlap_pairs

    edges = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 11), (3, 12), (1, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")

    cpl = {
        (r["a"], r["b"]): (r["n_shared"], r["jaccard"])
        for r in directed_overlap_pairs(df, mode="coupling").collect()
    }
    assert cpl == {
        (1, 2): (2, 1.0),            # {10,11} == {10,11}
        (1, 3): (1, round(1 / 3, 6)),  # {10,11} ∩ {11,12} = {11}
        (2, 3): (1, round(1 / 3, 6)),
    }

    coc = {
        (r["a"], r["b"]): (r["n_shared"], r["jaccard"])
        for r in directed_overlap_pairs(df, mode="cocitation").collect()
    }
    # (10,12) are never co-cited -> absent entirely; 11's in-degree of 3
    # dilutes both of its Jaccards
    assert coc == {
        (10, 11): (2, round(2 / 3, 6)),
        (11, 12): (1, round(1 / 3, 6)),
    }


def test_directed_overlap_fanout_cutoff(spark):
    """A hub part supplied by everyone is excluded as a wedge key by
    max_key_fanout, while full-graph degrees keep the Jaccard a lower
    bound (same contract as link_pred_heuristics)."""
    from deepex_spark.operators.graph import directed_overlap_pairs

    # parts 10,11 shared by 1,2; hub part 99 supplied by all of 1,2,3
    edges = [(1, 10), (2, 10), (1, 11), (2, 11), (1, 99), (2, 99), (3, 99)]
    df = spark.createDataFrame(edges, "src long, dst long")
    full = {
        (r["a"], r["b"]): r["n_shared"]
        for r in directed_overlap_pairs(df, mode="coupling").collect()
    }
    assert full == {(1, 2): 3, (1, 3): 1, (2, 3): 1}
    cut = {
        (r["a"], r["b"]): (r["n_shared"], r["jaccard"])
        for r in directed_overlap_pairs(
            df, mode="coupling", max_key_fanout=2
        ).collect()
    }
    # hub 99 excluded: (1,2) share only {10,11}; deg stays 3 each
    assert cut == {(1, 2): (2, round(2 / 4, 6))}


def test_clustering_coefficients_kite(spark):
    """Hand-computed lcc on a kite (triangle 1-2-3 plus pendant 3-4):
    triangle corners score 1.0 / 1.0 / 1/3, the pendant scores 0."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    from deepex_spark.operators.graph import clustering_coefficients

    got = {
        r["vertex"]: (r["deg"], r["n_tri"], r["lcc"])
        for r in clustering_coefficients(edges).collect()
    }
    assert got == {
        1: (2, 1, 1.0),
        2: (2, 1, 1.0),
        3: (3, 1, round(2.0 * 1 / (3 * 2), 6)),
        4: (1, 0, 0.0),
    }


def test_clustering_coefficients_direction_and_dupes(spark):
    """Duplicate and reversed edges collapse to one undirected edge
    before any counting; self-loops drop."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)], "src long, dst long"
    )
    from deepex_spark.operators.graph import clustering_coefficients

    got = {r["vertex"]: (r["deg"], r["lcc"]) for r in clustering_coefficients(edges).collect()}
    assert got == {1: (2, 1.0), 2: (2, 1.0), 3: (2, 1.0)}


def test_ktruss_k4_survives_pendant_triangle_dies(spark):
    """K4 is a stable 4-truss (every edge in 2 triangles); a pendant
    triangle's edges have support 1 and peel in round one."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pendant = [(4, 5), (5, 6), (4, 6)]
    edges = spark.createDataFrame(k4 + pendant, "src long, dst long")

    from deepex_spark.operators.graph import ktruss

    got = {(r["a"], r["b"]): r["support"] for r in ktruss(edges, k=4, n_rounds=2).collect()}
    assert got == {(a, b): 2 for a, b in k4}


def test_ktruss_peel_cascades(spark):
    """Peeling cascades: two triangles sharing an edge — at k=4 the
    outer edges (support 1) die first, then the shared edge (support
    now 0) dies in round two. Fixed rounds must capture the cascade."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    from deepex_spark.operators.graph import ktruss

    assert ktruss(edges, k=4, n_rounds=2).count() == 0
    # at k=3 (support >= 1) both triangles survive intact
    got = ktruss(edges, k=3, n_rounds=2).count()
    assert got == 5


def _peel_reference(edge_list, k, n_rounds):
    """Brute-force k-truss peel: recount every live edge's support per
    round, drop those under max(k-2, 1), keep supported survivors."""
    def support(es):
        nbr = {}
        for a, b in es:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        return {(a, b): len(nbr[a] & nbr[b]) for a, b in es}

    live = {(min(e), max(e)) for e in edge_list if e[0] != e[1]}
    for _ in range(n_rounds):
        s = support(live)
        live = {e for e in live if s[e] >= max(k - 2, 1)}
    return {e: n for e, n in support(live).items() if n >= 1}


def test_ktruss_delta_peel_matches_reference(spark, monkeypatch):
    """A round removing under delta_ratio (5%) of the live edges takes
    the delta branch: K10 plus a vertex joined to two K10 vertices at
    k=4 drops only the 2 pendant edges of 47."""
    import deepex_spark.operators.graph as G

    real, calls = G._truss_delta_loss, []

    def spy(removed, graph):
        calls.append(removed.count())
        return real(removed, graph)

    monkeypatch.setattr(G, "_truss_delta_loss", spy)
    edge_list = [(a, b) for a in range(10) for b in range(a + 1, 10)]
    edge_list += [(0, 10), (1, 10)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {(r["a"], r["b"]): r["support"] for r in G.ktruss(edges, k=4, n_rounds=2).collect()}
    want = _peel_reference(edge_list, k=4, n_rounds=2)
    assert got == want and len(want) == 45
    assert calls == [2]
