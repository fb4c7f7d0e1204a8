"""spark-submit entry point: mine horn rules from the KG, emit them as
CONSTRUCT rules, optionally forward-chain them back into the snapshot.

The knowledge-base-completion loop, lakehouse-shaped: ``build_kg.py``
writes the graph, this job MINES what the graph already implies —
AMIE-style inverse/symmetry rules (``p(x,y) ⇒ q(y,x)``) and chain rules
(``a(x,z) ∧ b(z,y) ⇒ h(x,y)``, operators/kgq.py::chain_rules) scored by
support + PCA confidence — and renders every qualifying rule as a
CONSTRUCT query in the documented SPARQL-lite fragment::

    CONSTRUCT { ?x <h> ?y } WHERE { ?x <a> ?z . ?z <b> ?y . FILTER(?x != ?y) }
    CONSTRUCT { ?y <q> ?x } WHERE { ?x <p> ?y . }

so the inference step IS the existing, already-tested batch
materializer (jobs/query_kg.py::materialize_rules — one merge, one
atomic idempotent publish, per-rule lineage tags)::

    spark-submit --py-files deepex_spark.zip jobs/mine_rules.py \\
        --catalog /warehouse/kg --min-support 50 --min-pca-conf 0.9 \\
        --rules-out /tmp/rules.sparql            # inspect first, or
    spark-submit ... jobs/mine_rules.py \\
        --catalog /warehouse/kg --min-support 50 --min-pca-conf 0.9 \\
        --materialize kbc_round1                 # mine + infer in one go

Why PCA confidence gates materialization: a rule at CWA confidence 1.0
is already complete (every body pair's head edge exists — inferring it
adds nothing); a rule at CWA 0.6 / PCA 1.0 is exactly the
KB-completion target — wherever the KG knows anything about
(x, head), the rule holds, so the missing 40% are gaps, not
counter-evidence (AMIE's partial-completeness reading).

Honest scope notes:
* ``--max-mid-fanout`` is a MINING statistics guard (hub mid-vertices
  are excluded from rule scoring, disclosed-cutoff style); the emitted
  CONSTRUCT body has no such cap — materialization applies a rule to
  every body pair, hubs included. Gate hubs before mining if the KG has
  'links-to'-scale predicates.
* The rule list after thresholds is ≤ |predicates|³ rows — the ONE
  ``collect()`` here is a bounded rule table, not data.
* Forward chaining runs ONE stratum per invocation (rules never see
  each other's output within a batch); closure = re-run under fresh
  run_ids until the published edge count stops growing.
"""

from __future__ import annotations

import argparse


def _quote(rel: str) -> str:
    """Render a predicate as a <...> IRI term for the rule text. The
    parser takes any non-'>' characters inside the brackets; refuse
    predicates that cannot round-trip rather than emit a broken rule."""
    s = str(rel)
    if ">" in s or "\n" in s:
        raise ValueError(f"predicate not expressible as an IRI term: {s!r}")
    return f"<{s}>"


def chain_rule_text(rel_a: str, rel_b: str, head_rel: str) -> str:
    """The CONSTRUCT form of a mined chain rule. FILTER(?x != ?y)
    mirrors the miner's body definition (backtrack/self pairs are not
    body pairs), so materialized inference matches scored semantics."""
    return (
        f"CONSTRUCT {{ ?x {_quote(head_rel)} ?y }} WHERE {{"
        f" ?x {_quote(rel_a)} ?z . ?z {_quote(rel_b)} ?y ."
        f" FILTER(?x != ?y) }}"
    )


def inverse_rule_text(p_rel: str, q_rel: str) -> str:
    return (
        f"CONSTRUCT {{ ?y {_quote(q_rel)} ?x }} WHERE {{"
        f" ?x {_quote(p_rel)} ?y . }}"
    )


def mine_rule_set(
    edges,
    min_support: int = 2,
    min_pca_conf: float = 0.9,
    max_cwa_conf: float = 0.999999,
    max_mid_fanout: int | None = None,
    include_inverse: bool = True,
    top_n: int | None = None,
):
    """Mine chain (+ optionally inverse) rules over ``edges(src, dst,
    rel)`` and return ``(rule_strings, stat_rows)`` — rules rendered for
    ``materialize_rules``, stats as plain dict rows for logging/audit.

    Selection: support ≥ ``min_support`` AND pca_confidence ≥
    ``min_pca_conf`` AND cwa confidence ≤ ``max_cwa_conf`` (a rule the
    KG already satisfies everywhere infers nothing — skip its cost).
    Deterministic order: pca desc, support desc, then rule name — so
    ``top_n`` and rule lineage indices (#i tags) are stable across
    partitionings and reruns."""
    from pyspark.sql import functions as F

    from deepex_spark.operators.kgq import chain_rules, inverse_rules

    mined = chain_rules(
        edges, min_support=min_support, max_mid_fanout=max_mid_fanout
    ).where(F.col("pca_confidence") >= min_pca_conf)
    rows = [
        {
            "kind": "chain",
            "rule": chain_rule_text(r["rel_a"], r["rel_b"], r["head_rel"]),
            "support": r["support"],
            "confidence": r["confidence"],
            "pca_confidence": r["pca_confidence"],
        }
        for r in mined.collect()
        if r["confidence"] <= max_cwa_conf
    ]
    if include_inverse:
        inv = inverse_rules(edges, min_support=min_support)
        for r in inv.collect():
            conf = r["inv_confidence"]
            if conf >= min_pca_conf and conf <= max_cwa_conf:
                rows.append(
                    {
                        "kind": "inverse",
                        "rule": inverse_rule_text(r["p_rel"], r["q_rel"]),
                        "support": r["inv_support"],
                        "confidence": conf,
                        "pca_confidence": conf,
                    }
                )
    rows.sort(
        key=lambda r: (-r["pca_confidence"], -r["support"], r["rule"])
    )
    if top_n is not None:
        rows = rows[:top_n]
    return [r["rule"] for r in rows], rows


def main(argv=None):
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.session import build_session
    from jobs.query_kg import materialize_rules

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--catalog", required=True)
    p.add_argument("--catalog-format", default="parquet",
                   choices=["parquet", "iceberg"])
    p.add_argument("--edges-table", default="edges")
    p.add_argument("--cols", default="subj_id,pred_canon,obj_id")
    p.add_argument("--min-support", type=int, default=2)
    p.add_argument("--min-pca-conf", type=float, default=0.9)
    p.add_argument("--max-cwa-conf", type=float, default=0.999999,
                   help="skip rules the KG already satisfies everywhere "
                        "(CWA confidence above this infers nothing)")
    p.add_argument("--max-mid-fanout", type=int, default=None,
                   help="exclude hub mid-vertices (in_deg*out_deg above "
                        "this) from rule SCORING — disclosed cutoff")
    p.add_argument("--no-inverse", action="store_true",
                   help="mine chain rules only")
    p.add_argument("--top", type=int, default=None,
                   help="keep the N best rules (pca desc, support desc)")
    p.add_argument("--rules-out", default=None,
                   help="write the mined rules as a query_kg --rules-file "
                        "(blank-line separated, stats as # comments)")
    p.add_argument("--materialize", metavar="RUN_ID", default=None,
                   help="forward-chain the mined batch into the edge "
                        "snapshot now (one merge, one idempotent publish)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    cols = tuple(c.strip() for c in args.cols.split(","))
    if len(cols) != 3:
        p.error("--cols needs exactly three comma-separated column names")
    if not args.rules_out and not args.materialize:
        p.error("nothing to do: need --rules-out and/or --materialize")

    spark = build_session(master=args.master) if args.master else build_session()
    catalog = Catalog(args.catalog, fmt=args.catalog_format)
    from pyspark.sql import functions as F

    # cols is (subject, predicate, object); the miner takes (src, dst, rel)
    edges = catalog.read(spark, args.edges_table).select(
        F.col(cols[0]).alias("src"),
        F.col(cols[2]).alias("dst"),
        F.col(cols[1]).alias("rel"),
    )
    rules, stats = mine_rule_set(
        edges,
        min_support=args.min_support,
        min_pca_conf=args.min_pca_conf,
        max_cwa_conf=args.max_cwa_conf,
        max_mid_fanout=args.max_mid_fanout,
        include_inverse=not args.no_inverse,
        top_n=args.top,
    )
    for s in stats:
        print(f"# {s['kind']} support={s['support']} "
              f"cwa={s['confidence']} pca={s['pca_confidence']}")
        print(s["rule"])
    if args.rules_out:
        with open(args.rules_out, "w") as f:
            for s in stats:
                f.write(f"# {s['kind']} support={s['support']} "
                        f"cwa={s['confidence']} pca={s['pca_confidence']}\n")
                f.write(s["rule"] + "\n\n")
        print(f"wrote {len(rules)} rules to {args.rules_out}")
    if args.materialize:
        if not rules:
            print("no rules met the thresholds; nothing materialized")
            return None
        v, n = materialize_rules(
            spark, catalog, rules, args.materialize,
            table=args.edges_table, cols=cols,
        )
        print(f"published {args.edges_table} v{v}: {n} edges "
              f"({len(rules)} rules)")
    return None


if __name__ == "__main__":
    main()
