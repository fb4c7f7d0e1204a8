"""spark-submit entry point: SPARQL-lite queries over a published KG.

Closes the lakehouse loop — ``build_kg.py`` writes the graph,
``maintain_kg.py`` folds deltas in, and this job reads it back by
pattern without anyone hand-writing joins:

    zip -r deepex_spark.zip deepex_spark
    spark-submit --py-files deepex_spark.zip jobs/query_kg.py \\
        --catalog /warehouse/kg \\
        --query 'SELECT ?s ?o WHERE { ?s <capital_of> ?o . }' \\
        --output /warehouse/kg_answers/run42

The query runs against the CURRENT edge snapshot (``plans/catalog.py``
serves snapshot-versioned tables at their published version, so a
concurrent ``maintain_kg`` merge never tears a half-written table under
this job). The full documented fragment applies — BGP joins, FILTER
(comparisons + STRSTARTS/STRENDS/CONTAINS/REGEX), OPTIONAL, UNION,
EXISTS/NOT EXISTS/MINUS, property paths with per-step alternation, transitive +/*/?
modifiers (exact doubling-fixpoint closure) and negated property sets
!(<a>|<b>) (one scan-pushed Not-In), subqueries ({ SELECT ... } solved
bottom-up, joined on shared projected vars), VALUES,
aggregates, ORDER BY/LIMIT, plus the CONSTRUCT (derived edge-shaped
graph, writable straight back through maintain_kg) and ASK (one-row
boolean) query forms (``operators/sparql.py``) — compiled to DataFrame
algebra, so Catalyst/AQE plans the physical joins against however large
the snapshot is; nothing in this job ever collects to the driver unless
``--show`` asks for a preview.

Column mapping: the built edge table stores (subj_id, pred_canon,
obj_id); ``--cols`` overrides for foreign tables (any 3 columns of one
DataFrame work — the operator is storage-agnostic).
"""

from __future__ import annotations

import argparse
import sys


def _compile(edges, query: str, cols: tuple, allow_product: bool = False):
    """Dispatch on the query form: SELECT -> bgp, CONSTRUCT -> derived
    edge-shaped graph (same schema as the snapshot — writable straight
    back through maintain_kg), ASK -> one-row boolean."""
    from deepex_spark.operators import sparql

    head = query.split(None, 1)[0].upper() if query.split() else ""
    if head == "CONSTRUCT":
        return sparql.construct(edges, query, cols=cols, allow_product=allow_product)
    if head == "ASK":
        return sparql.ask(edges, query, cols=cols, allow_product=allow_product)
    if head == "DESCRIBE":
        return sparql.describe(edges, query, cols=cols, allow_product=allow_product)
    return sparql.bgp(edges, query, cols=cols, allow_product=allow_product)


def run_query(spark, catalog, query: str, table: str = "edges",
              cols: tuple = ("subj_id", "pred_canon", "obj_id"),
              at_version: int | None = None):
    """Resolve the edge snapshot and compile+run the query. Returns the
    result DataFrame (columns = the SELECT variables; edge columns for
    CONSTRUCT; a single boolean ``ask`` for ASK). ``at_version`` pins a
    historical snapshot (the catalog's VERSION AS OF) — point-in-time
    SPARQL, e.g. "what did this pattern answer BEFORE the kbc1 rule
    batch fired"; the default reads the current published version."""
    if at_version is not None:
        edges = catalog.read_snapshot(spark, table, version=at_version)
    else:
        edges = catalog.read(spark, table)
    return _compile(edges, query, cols)


def _entity_out_cols(query: str, cols: tuple, out_cols: list) -> list:
    """Output columns holding ENTITY ids — the ones label resolution may
    touch. For SELECT: variables that appear in a subject/object slot of
    any pattern (top-level, OPTIONAL, negation, EXISTS, union branch);
    predicate variables are excluded (the edge table already stores the
    canonical predicate string, and predicate ids are not vertices). For
    CONSTRUCT/DESCRIBE the output IS the edge schema, so the subject and
    object columns resolve by name. ASK has nothing to resolve."""
    from deepex_spark.operators import sparql

    head = query.split(None, 1)[0].upper() if query.split() else ""
    if head == "ASK":
        return []
    if head in ("CONSTRUCT", "DESCRIBE"):
        return [c for c in (cols[0], cols[2]) if c in out_cols]
    q = sparql.parse_bgp(query)
    groups = [q] + q.optionals + q.negations + q.exists_groups + q.unions
    evars = set()
    for g in groups:
        for p in g.patterns:
            if p.subj_var:
                evars.add(p.subj)
            if p.obj_var:
                evars.add(p.obj)
    return [c for c in out_cols if c in evars]


def with_labels(spark, catalog, out, query: str,
                cols: tuple = ("subj_id", "pred_canon", "obj_id"),
                vertices_table: str = "vertices"):
    """Append ``<col>_label`` (the vertex table's canonical surface form)
    next to every entity-id output column — the id->label hop a KG
    consumer otherwise hand-writes. Non-destructive: ids stay, labels are
    extra columns; an id absent from the vertex table labels as NULL.

    Scale shape: one LEFT equi-join per entity column against the
    2-column (entity_id, canonical) projection of the vertex table. A
    query result is usually driver-small (top-k, aggregates, DESCRIBE of
    a node set) while vertices is the big side, so AQE broadcasts the
    RESULT into the vertex scan; ids are unique per vertex by
    construction (entity_id = xxhash64(canonical)), so the join can only
    relabel, never multiply rows."""
    from pyspark.sql import functions as F

    targets = _entity_out_cols(query, cols, out.columns)
    if not targets:
        return out
    verts = catalog.read(spark, vertices_table).select("entity_id", "canonical")
    orig = list(out.columns)
    for c in targets:
        out = out.join(
            verts.select(
                F.col("entity_id").alias(c),
                F.col("canonical").alias(f"{c}_label"),
            ),
            on=c,
            how="left",
        )
    # the equi-join moves its key to the front — restore the query's
    # column order, each label right after its id column
    ordered = []
    for c in orig:
        ordered.append(c)
        if c in targets:
            ordered.append(f"{c}_label")
    return out.select(*ordered)


def derived_edges_delta(derived, run_id: str, evidence_tag: str | None = None):
    """Lift a CONSTRUCT result (the 3-column query view of the edge
    snapshot, in (subject, predicate, object) column order) into a
    ``merge_edges``-mergeable delta in the full edge-statistics schema
    (``operators/graph.py::build_edges``):

    * ``pred_id`` is recomputed by the ONE canonical id rule —
      ``xxhash64(pred_canon)`` (``operators/canonicalize.py``) — so a
      derived predicate and a doc-extracted predicate with the same
      canonical surface share an edge key;
    * each derived triple carries ONE unit of rule evidence
      (``n_evidence = 1`` — CONSTRUCT output is a set) and ZERO document
      statistics (``n_docs = 0``, scores ``0.0``): a rule firing is not a
      document observation, and ``merge_edges``'s sum semantics then keep
      doc-backed counts unpolluted while still strengthening an edge the
      crawl also saw;
    * ``sample_docid`` records the lineage tag (``sparql:<run_id>`` by
      default) so a derived-only edge is distinguishable at a glance.

    Endpoint contract: CONSTRUCT over the edge table can only bind
    endpoints that exist in it (template CONSTANTS in entity slots are
    the exception — on an xxhash64-id graph they rarely cast to a valid
    id and are refused there by the null-drop), so no vertex delta is
    needed: rule evidence adds no mentions and no documents.
    """
    from pyspark.sql import functions as F

    scols = derived.columns
    if len(scols) != 3:
        raise ValueError(f"expected a 3-column CONSTRUCT result, got {scols}")
    s, p, o = scols
    tag = evidence_tag if evidence_tag is not None else f"sparql:{run_id}"
    return derived.select(
        F.col(s).alias("subj_id"),
        F.col(o).alias("obj_id"),
        F.xxhash64(F.col(p)).alias("pred_id"),
        F.col(p).alias("pred_canon"),
        F.lit(1).cast("long").alias("n_evidence"),
        F.lit(0).cast("long").alias("n_docs"),
        F.lit(0.0).alias("max_score"),
        F.lit(0.0).alias("sum_score"),
        F.lit(tag).alias("sample_docid"),
        F.lit(run_id).alias("run_id"),
        F.spark_partition_id().alias("src_partition"),
    )


def materialize_construct(spark, catalog, query: str, run_id: str,
                          table: str = "edges",
                          cols: tuple = ("subj_id", "pred_canon", "obj_id"),
                          allow_product: bool = False):
    """Run a CONSTRUCT query against the live edge snapshot and merge the
    derived triples back into it — the rule-materialization write path:
    ``materialize_rules`` with one rule, whose evidence is tagged
    ``sparql:<run_id>``. Returns ``(version, row_count)``.

    Re-running the same rule under a NEW run_id adds evidence again — the
    same contract as re-merging any delta; pick run_ids per rule firing.
    """
    return _materialize(spark, catalog, {f"sparql:{run_id}": query}, run_id,
                        table, cols, allow_product)


def materialize_rules(spark, catalog, rules: list, run_id: str,
                      table: str = "edges",
                      cols: tuple = ("subj_id", "pred_canon", "obj_id"),
                      allow_product: bool = False):
    """Apply a BATCH of CONSTRUCT rules in one pass — the forward-chaining
    step of a rule engine, Spark-shaped: every rule compiles against the
    SAME input snapshot (rules never see each other's output within a
    batch — one deterministic stratum, order-independent by construction),
    their deltas union as plan concatenation (no exchange), and the whole
    batch pays ONE merge_edges fold and ONE atomic snapshot publish.
    Contrast with N materialize_construct calls: N merges, N publishes,
    and order-dependent results.

    Each rule's evidence is tagged ``sparql:<run_id>#<i>`` so per-rule
    lineage survives the shared publish. Transitive closure = re-run the
    batch under fresh run_ids until ASK says no new edges (or query with
    a +/* property path, whose closure is exact). Returns ``(version,
    row_count)``."""
    if not rules:
        raise ValueError("materialize_rules needs at least one rule")
    return _materialize(spark, catalog,
                        {f"sparql:{run_id}#{i}": r for i, r in enumerate(rules)},
                        run_id, table, cols, allow_product)


def _materialize(spark, catalog, rules: dict, run_id: str, table: str,
                 cols: tuple, allow_product: bool):
    """Fold the triples ``{evidence_tag: CONSTRUCT rule}`` derive from the
    live edge snapshot back into it through ``graph.fold_snapshot`` (the
    commit path ``jobs/maintain_kg.maintain`` uses): same ``merge_edges``
    fold, same bucket layout, and IDEMPOTENT per ``run_id`` — a retried
    job can never double-count rule evidence."""
    from deepex_spark.operators.graph import fold_snapshot, merge_edges, with_edge_bucket

    for r in rules.values():
        head = r.split(None, 1)[0].upper() if r.split() else ""
        if head != "CONSTRUCT":
            raise ValueError(f"not a CONSTRUCT rule: {r[:60]!r}")
    if not catalog.exists(table):
        raise ValueError(f"catalog has no {table!r} table to materialize rules over")

    def delta(existing):
        out = None
        for tag, r in rules.items():
            d = derived_edges_delta(_compile(existing, r, cols, allow_product), run_id,
                                    evidence_tag=tag)
            out = d if out is None else out.unionByName(d)
        return out

    v = fold_snapshot(spark, catalog, table, run_id, delta,
                      lambda e, d, run_id: with_edge_bucket(merge_edges(e, d, run_id=run_id)))
    return v, catalog.read_snapshot(spark, table, version=v).count()


def main(argv=None):
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.session import build_session

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--catalog", required=True, help="catalog base dir")
    p.add_argument("--catalog-format", default="parquet",
                   choices=["parquet", "iceberg"])
    p.add_argument("--query", default=None,
                   help="SPARQL-lite query string (see operators/sparql.py)")
    p.add_argument("--rules-file", default=None,
                   help="file of CONSTRUCT rules (blank-line separated, "
                        "'#' comment lines skipped) applied as ONE batch — "
                        "one merge, one atomic publish; requires "
                        "--materialize RUN_ID and replaces --query")
    p.add_argument("--edges-table", default="edges")
    p.add_argument("--cols", default="subj_id,pred_canon,obj_id",
                   help="comma-separated (subject,predicate,object) columns")
    p.add_argument("--output", default=None,
                   help="parquet output path; omit to just --show")
    p.add_argument("--show", type=int, default=0,
                   help="print the first N result rows to stdout")
    p.add_argument("--allow-product", action="store_true",
                   help="opt in to a disconnected (cartesian) pattern")
    p.add_argument("--materialize", metavar="RUN_ID", default=None,
                   help="CONSTRUCT only: merge the derived triples back "
                        "into the edge snapshot under this run_id "
                        "(idempotent per run_id) instead of previewing")
    p.add_argument("--resolve-labels", action="store_true",
                   help="append <col>_label (vertex canonical form) next "
                        "to every entity-id output column")
    p.add_argument("--vertices-table", default="vertices")
    p.add_argument("--at-version", type=int, default=None,
                   help="query a pinned snapshot version (VERSION AS OF) "
                        "instead of the current one — point-in-time reads; "
                        "incompatible with --materialize (historical "
                        "versions are read-only)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if args.at_version is not None and (args.materialize or args.rules_file):
        p.error("--at-version is read-only (no --materialize/--rules-file)")

    cols = tuple(c.strip() for c in args.cols.split(","))
    if len(cols) != 3:
        p.error("--cols needs exactly three comma-separated column names")

    if (args.query is None) == (args.rules_file is None):
        p.error("exactly one of --query / --rules-file is required")
    if args.rules_file and not args.materialize:
        p.error("--rules-file requires --materialize RUN_ID")

    spark = build_session(master=args.master) if args.master else build_session()
    catalog = Catalog(args.catalog, fmt=args.catalog_format)
    if args.rules_file:
        with open(args.rules_file) as f:
            text = f.read()
        rules = []
        for block in text.split("\n\n"):
            lines = [ln for ln in block.splitlines()
                     if ln.strip() and not ln.lstrip().startswith("#")]
            if lines:
                rules.append(" ".join(ln.strip() for ln in lines))
        v, n = materialize_rules(
            spark, catalog, rules, args.materialize,
            table=args.edges_table, cols=cols,
            allow_product=args.allow_product,
        )
        print(f"published {args.edges_table} v{v}: {n} edges "
              f"({len(rules)} rules)")
        return None
    if args.materialize:
        head = args.query.split(None, 1)[0].upper() if args.query.split() else ""
        if head != "CONSTRUCT":
            p.error("--materialize requires a CONSTRUCT query")
        v, n = materialize_construct(
            spark, catalog, args.query, args.materialize,
            table=args.edges_table, cols=cols,
            allow_product=args.allow_product,
        )
        print(f"published {args.edges_table} v{v}: {n} edges")
        return None
    if args.at_version is not None:
        edges = catalog.read_snapshot(spark, args.edges_table,
                                      version=args.at_version)
    else:
        edges = catalog.read(spark, args.edges_table)
    out = _compile(edges, args.query, cols, args.allow_product)
    if args.resolve_labels:
        out = with_labels(spark, catalog, out, args.query, cols,
                          vertices_table=args.vertices_table)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    if args.show:
        for row in out.limit(args.show).collect():
            print("\t".join("" if v is None else str(v) for v in row))
    if not args.output and not args.show:
        # neither sink requested: still validate end-to-end cheaply
        print(f"rows: {out.count()}")
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
