"""The benchmark workloads: ``crawl_build`` and ``kg_live``.

Each workload has the same life cycle, driven by ``run.py``:

* ``generate(seed)`` writes its seeded inputs (never timed);
* ``prepare(spark)`` is workload set-up that belongs to ``setup_s``;
* ``unit(spark)`` runs one unit of closed-loop work (a build, or a
  sequence of fold-then-query operations), checks every output, and returns
  ``(latencies, failures)``;
* ``traced_unit(spark, tracer)`` runs the same unit staged layer by layer
  inside spans, for the per-layer metrics;
* ``prepare_checks(spark)`` computes what the checks compare against
  (outside every timed figure).

The checks compare against DuckDB, which runs in a process of its own
(``refdb.RefDB``, passed in as ``db``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import gen


def force(df):
    """Persist ``df`` and run the action that materializes it."""
    df = df.persist()
    return df, df.count()


def catalog_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


def live_snapshot(cat_dir: str, table: str) -> str:
    """Directory of the current snapshot of a versioned catalog table."""
    with open(os.path.join(cat_dir, f"_{table}_snapshots.json")) as f:
        return os.path.join(cat_dir, table, f"_v{json.load(f)['current']}")


def fold_mismatches(db, snapshot_dir: str, triple_files: list[str]) -> int:
    """Edge keys on which a live edges snapshot differs from
    ``kg_stream.batch_edges`` over the union of all triple files, computed
    independently by DuckDB: counts, max_score and sample_docid exactly,
    ``sum_score`` to 6 dp (the tests/test_graph_merge.py contract)."""
    sql = f"""
        WITH exp AS ({edges_sql(triple_files)}),
        live AS (SELECT * FROM read_parquet('{snapshot_dir}/*.parquet'))
        SELECT count(*) FROM live FULL OUTER JOIN exp
            USING (subj_id, obj_id, pred_id, pred_canon)
        WHERE live.n_evidence IS NULL OR exp.n_evidence IS NULL
           OR live.n_evidence <> exp.n_evidence OR live.n_docs <> exp.n_docs
           OR live.max_score <> exp.max_score OR live.sample_docid <> exp.sample_docid
           OR abs(live.sum_score - exp.sum_score) > 5e-7"""
    return db.query(sql)[0][0]


def _fail(what: str) -> int:
    print(f"kgbench: check failed: {what}", file=sys.stderr)
    return 1


class Workload:
    name = ""
    ops_per_unit = 1

    def __init__(self, work: str, db):
        self.work = work
        self.db = db
        self._n = 0
        self.stored_ratio = 0.0
        # latencies of the parts of an operation, by part name
        self.splits: dict[str, list[float]] = {}

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{tag}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def prepare(self, spark) -> None:
        pass

    def prepare_checks(self, spark) -> None:
        pass

    def load_record(self, path: str) -> None:
        """Output a previous run with the same seed and program recorded."""

    def save_record(self, path: str) -> None:
        pass


# -- crawl_build -------------------------------------------------------------------

class CrawlBuild(Workload):
    """``pipeline.build_knowledge_graph`` with ``jobs/build_kg.py``'s
    defaults: ``DeepExConfig.task()``, broadcast alias linking, a catalog."""

    name = "crawl_build"
    N_PAGES = 240
    N_FILES = 8
    record: dict | None = None  # output signature every build must match

    def generate(self, seed: int) -> None:
        self.inp = gen.crawl(os.path.join(self.work, "input"), seed, self.N_PAGES, self.N_FILES,
                             n_long=2, long_mult=30)

    @staticmethod
    def _cfg():
        from deepex_spark.config import DeepExConfig

        # the job's argparse defaults
        return DeepExConfig.task(dist_const=2048, beam_size=6, max_kernel_tokens=None,
                                 repartition_by_url=None, rerank_sorted=True, run_id="bench")

    def _alias_df(self, spark):
        from deepex_spark.operators.linking import alias_entity_table

        return alias_entity_table(spark, self.inp["aliases"])

    def unit(self, spark):
        from deepex_spark.pipeline import build_knowledge_graph
        from deepex_spark.plans.catalog import Catalog
        from deepex_spark.sources.pages import read_pages

        cat_dir = self.fresh_dir("catalog")
        t0 = time.perf_counter()
        pages = read_pages(spark, self.inp["pages"])
        triples, vertices, edges = build_knowledge_graph(
            pages, self._cfg(), alias_df=self._alias_df(spark),
            catalog=Catalog(cat_dir), link_strategy="broadcast")
        counts = (triples.count(), vertices.count(), edges.count())
        lat = time.perf_counter() - t0
        failed = self.check(counts, cat_dir)
        self.stored_ratio = catalog_files(cat_dir)[0] / self.inp["input_bytes"]
        shutil.rmtree(cat_dir, ignore_errors=True)
        return [lat], failed

    def signature(self, counts, cat_dir: str) -> dict:
        """The job's counts plus order-independent content hashes of the
        written vertex and edge tables (DuckDB over the catalog files)."""
        e = self.db.query(f"""
            SELECT sum(hash(subj_id, obj_id, pred_id, pred_canon, n_evidence, n_docs,
                            round(max_score, 6), round(sum_score, 6),
                            sample_docid)::HUGEINT)::VARCHAR, sum(n_evidence)
            FROM read_parquet('{cat_dir}/edges/*.parquet')""")[0]
        v = self.db.query(f"""
            SELECT sum(hash(entity_id, canonical, n_docs, n_mentions,
                            surfaces)::HUGEINT)::VARCHAR
            FROM read_parquet('{cat_dir}/vertices/*.parquet')""")[0]
        return {"triples": counts[0], "vertices": counts[1], "edges": counts[2],
                "edge_hash": e[0], "vertex_hash": v[0], "evidence": int(e[1] or 0)}

    def load_record(self, path: str) -> None:
        if os.path.exists(path):
            with open(path) as f:
                self.record = json.load(f)

    def save_record(self, path: str) -> None:
        if self.record is not None and not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(self.record, f)

    def check(self, counts, cat_dir: str) -> int:
        return self.check_signature(self.signature(counts, cat_dir))

    def check_signature(self, sig: dict) -> int:
        if sig["evidence"] != sig["triples"]:
            return _fail(f"sum(edges.n_evidence)={sig['evidence']} != linked triples {sig['triples']}")
        if min(sig["triples"], sig["vertices"], sig["edges"]) == 0:
            return _fail(f"empty build {sig}")
        if self.record is None:
            self.record = sig
        elif sig != self.record:
            return _fail(f"build output differs between operations: {sig} vs {self.record}")
        return 0

    def traced_unit(self, spark, tracer):
        from deepex_spark.functions.sentencize import sentencize
        from deepex_spark.operators.canonicalize import canonicalize_triples
        from deepex_spark.operators.distill import distill_project, with_doc_rank
        from deepex_spark.operators.extract import extract_candidates
        from deepex_spark.operators.graph import build_edges, build_vertices
        from deepex_spark.operators.linking import link_triples
        from deepex_spark.operators.rerank import rerank_triples
        from deepex_spark.pipeline import normalize_pages
        from deepex_spark.plans.catalog import Catalog
        from deepex_spark.sources.pages import read_pages
        from pyspark.sql import functions as F

        cfg = self._cfg()
        cat_dir = self.fresh_dir("catalog")
        cat = Catalog(cat_dir)
        counts: dict = {}
        held = []
        with tracer.span("build"):
            pages, _ = force(read_pages(spark, self.inp["pages"]))
            held.append(pages)
            with tracer.span("normalize"):
                normalized, _ = force(normalize_pages(pages, cfg))
            with tracer.span("sentencize"):
                sentences, counts["sentencize.rows_out"] = force(sentencize(
                    normalized, mode=cfg.sentencize_offsets,
                    scan_max_len=cfg.sentencize_scan_max_len))
            with tracer.span("extract"):
                cands, counts["extract.rows_out"] = force(extract_candidates(
                    sentences, cfg, repartition=not cfg.repartition_by_url))
            with tracer.span("distill"):
                ranked, _ = force(with_doc_rank(distill_project(cands, cfg)))
            with tracer.span("rerank"):
                reranked, _ = force(rerank_triples(ranked, cfg))
            with tracer.span("catalog.checkpoint"):
                cat.checkpoint(reranked, "triples", bucket_col="docid", run_id=cfg.run_id)
                triples, n_triples = force(cat.read(spark, "triples"))
                cat.log_metric(spark, "triples", n_triples, 0.0, cfg.run_id)
            with tracer.span("link"):
                linked, _ = force(link_triples(triples, self._alias_df(spark),
                                               strategy="broadcast", salt_buckets=cfg.salt_buckets))
            with tracer.span("canonicalize"):
                canon, _ = force(canonicalize_triples(linked))
            with tracer.span("graph.build"):
                vertices, _ = force(build_vertices(canon, cfg.run_id))
                edges, _ = force(build_edges(canon, cfg.run_id))
            with tracer.span("catalog.write"):
                cat.write(vertices, "vertices")
                cat.write(edges, "edges")
                out_v = cat.read(spark, "vertices")
                out_e = cat.read(spark, "edges")
                out_counts = (n_triples, out_v.count(), out_e.count())
            held += [normalized, sentences, cands, ranked, reranked, triples, linked, canon,
                     vertices, edges]
        m = linked.agg(
            F.sum(F.col("subj_linked").cast("int") + F.col("obj_linked").cast("int")),
            F.count("*")).first()
        counts["link.matched_ratio"] = m[0] / (2 * m[1]) if m[1] else 0.0
        counts["catalog.bytes_written"], counts["catalog.files_written"] = catalog_files(cat_dir)
        failed = self.check(out_counts, cat_dir)
        for df in held:
            df.unpersist()
        shutil.rmtree(cat_dir, ignore_errors=True)
        return counts, failed


# -- kg_live ---------------------------------------------------------------------------

class KgLive(Workload):
    """A live KG. Each operation folds one doc-disjoint micro-batch of
    linked triples into the snapshot-versioned ``edges`` table with
    ``kg_stream.fold_batch`` (plus ``Catalog.expire_snapshots(keep=2)``
    every ``EXPIRE_EVERY`` folds), then answers the next query of a fixed
    SPARQL-lite mix through ``jobs.query_kg.run_query`` on the new
    snapshot. A unit replays the whole batch sequence from a copy of the
    base snapshot, so every unit does the same work. The mix has no
    unbounded ``+`` closure: on a Zipf graph one did not finish in minutes."""

    name = "kg_live"
    BASE_DOCS = 10000
    BATCH_DOCS = 800
    EXPIRE_EVERY = 3
    COLS = ("subj_id", "pred_canon", "obj_id")

    def __init__(self, work: str, db):
        super().__init__(work, db)
        self.splits = {"fold": [], "query": []}

    def generate(self, seed: int) -> None:
        self.inp = gen.live(os.path.join(self.work, "input"), seed, self.BASE_DOCS,
                            len(QUERY_MIX), self.BATCH_DOCS)
        self.ops_per_unit = len(self.inp["batches"])

    def prepare(self, spark) -> None:
        """Publish the base snapshot and the vertex labels once; every unit
        starts from a copy."""
        from deepex_spark.plans.catalog import Catalog
        from deepex_spark.streaming.kg_stream import fold_batch

        self.template = os.path.join(self.work, "base-catalog")
        cat = Catalog(self.template)
        fold_batch(cat, "edges", run_prefix="base")(spark.read.parquet(self.inp["base"]), 0)
        cat.write(spark.read.parquet(self.inp["vertices"]), "vertices")

    def prepare_checks(self, spark) -> None:
        """The mix's constants (predicates by frequency, subjects by
        out-degree rank in the base) and, for every fold, the reference
        answer: DuckDB's, over ``batch_edges`` of the triples folded so far."""
        files = [self.inp["base"], *self.inp["batches"]]
        base = f"({edges_sql(files[:1])})"
        preds = [r[0] for r in self.db.query(
            f"SELECT pred_canon FROM {base} GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 2")]
        hubs = [r[0] for r in self.db.query(
            f"SELECT subj_id FROM {base} GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 60")]
        self.queries = []
        for b, make in enumerate(QUERY_MIX):
            q = make(preds, hubs)
            rows = self.db.query(q["sql"].format(E=f"({edges_sql(files[:b + 2])})",
                                                 V=f"read_parquet('{self.inp['vertices']}')"))
            q["expected"] = rows if q.get("ordered") else sorted(rows, key=repr)
            self.queries.append(q)

    def _sequence(self):
        from deepex_spark.plans.catalog import Catalog

        d = self.fresh_dir("catalog")
        shutil.copytree(self.template, d)
        return d, Catalog(d)

    def unit(self, spark):
        from deepex_spark.streaming.kg_stream import fold_batch
        from jobs.query_kg import run_query, with_labels

        d, cat = self._sequence()
        fold = fold_batch(cat, "edges", run_prefix="fold")
        lats, failed = [], 0
        for b, (path, q) in enumerate(zip(self.inp["batches"], self.queries)):
            t0 = time.perf_counter()
            fold(spark.read.parquet(path), b)
            if (b + 1) % self.EXPIRE_EVERY == 0:
                cat.expire_snapshots("edges", keep=2)
            t1 = time.perf_counter()
            out = run_query(spark, cat, q["q"], cols=self.COLS)
            if q.get("labels"):
                out = with_labels(spark, cat, out, q["q"], cols=self.COLS)
            rows = out.collect()
            t2 = time.perf_counter()
            lats.append(t2 - t0)
            self.splits["fold"].append(t1 - t0)
            self.splits["query"].append(t2 - t1)
            failed += check_answer(q, rows)
        failed += self.check_live(d)
        self.stored_ratio = catalog_files(d)[0] / self.inp["input_bytes"]
        shutil.rmtree(d, ignore_errors=True)
        return lats, failed

    def check_live(self, cat_dir: str) -> int:
        bad = fold_mismatches(self.db, live_snapshot(cat_dir, "edges"),
                              [self.inp["base"], *self.inp["batches"]])
        if bad:
            return _fail(f"live edges differ from batch_edges(all batches) on {bad} keys")
        return 0

    def traced_unit(self, spark, tracer):
        from deepex_spark.operators import sparql
        from deepex_spark.operators.graph import merge_edges
        from deepex_spark.streaming.kg_stream import batch_edges
        from jobs.query_kg import with_labels

        d, cat = self._sequence()
        totals = {"catalog.bytes_written": 0, "catalog.files_written": 0, "sparql.rows_out": 0}
        failed = 0
        for b, (path, q) in enumerate(zip(self.inp["batches"], self.queries)):
            run_id = f"fold-{b}"
            with tracer.span("cycle"):
                batch = spark.read.parquet(path)
                with tracer.span("fold.batch_edges"):
                    delta, _ = force(batch_edges(batch))
                with tracer.span("catalog.read"):
                    existing, _ = force(cat.read_snapshot(spark, "edges")
                                        .drop("run_id", "src_partition"))
                with tracer.span("graph.merge"):
                    merged, _ = force(merge_edges(existing, delta, run_id=run_id))
                with tracer.span("catalog.publish"):
                    v = cat.write_snapshot(merged, "edges", run_id=run_id)
                if (b + 1) % self.EXPIRE_EVERY == 0:
                    with tracer.span("catalog.expire"):
                        cat.expire_snapshots("edges", keep=2)
                with tracer.span("catalog.read"):
                    edges, _ = force(cat.read(spark, "edges"))
                with tracer.span("sparql.compile"):
                    out = sparql.bgp(edges, q["q"], cols=self.COLS)
                with tracer.span("sparql.plan"):
                    out._jdf.queryExecution().executedPlan()
                with tracer.span("sparql.execute"):
                    out = out.persist()
                    rows = out.collect()
                totals["sparql.rows_out"] += len(rows)
                if q.get("labels"):
                    with tracer.span("labels.join"):
                        rows = with_labels(spark, cat, out, q["q"], cols=self.COLS).collect()
            failed += check_answer(q, rows)
            nb, nf = catalog_files(os.path.join(cat.path("edges"), f"_v{v}"))
            totals["catalog.bytes_written"] += nb
            totals["catalog.files_written"] += nf
            for df in (delta, existing, merged, edges, out):
                df.unpersist()
        counts = {k: v / self.ops_per_unit for k, v in totals.items()}
        counts["graph.live_edges"] = cat.read_snapshot(spark, "edges").count()
        failed += self.check_live(d)
        shutil.rmtree(d, ignore_errors=True)
        return counts, failed


def edges_sql(triple_files: list[str]) -> str:
    """``kg_stream.batch_edges`` over the union of ``triple_files``, in
    DuckDB SQL: the independent reference for the live table."""
    files = ", ".join(f"'{p}'" for p in triple_files)
    return f"""
        SELECT subj AS subj_id, obj AS obj_id, rel AS pred_id, rel AS pred_canon,
               count(*) AS n_evidence, count(DISTINCT docid) AS n_docs,
               round(max(score), 9) AS max_score, sum(score) AS sum_score,
               min(docid) AS sample_docid
        FROM read_parquet([{files}]) GROUP BY subj, obj, rel"""


def check_answer(q: dict, rows) -> int:
    got = [tuple(r) for r in rows]
    if not q.get("ordered"):
        got = sorted(got, key=repr)
    if got != q["expected"]:
        return _fail(f"query {q['name']}: {len(got)} rows differ from DuckDB's "
                     f"{len(q['expected'])}")
    return 0


# The query mix, one query per fold: each entry maps (predicates by
# frequency, subjects by out-degree rank) to the SPARQL-lite text and the
# DuckDB SQL over the edge relation {E} and the vertex labels {V}.
QUERY_MIX = [
    lambda p, h: {
        "name": "lookup",
        "q": f"SELECT ?p ?o WHERE {{ {h[50]} ?p ?o . }}",
        "sql": f"SELECT pred_canon, obj_id FROM {{E}} WHERE subj_id = {h[50]}"},
    lambda p, h: {
        "name": "two_hop",
        "q": f"SELECT ?m ?o WHERE {{ {h[10]} <{p[0]}> ?m . ?m <{p[1]}> ?o . }}",
        "sql": f"SELECT a.obj_id, b.obj_id FROM {{E}} a JOIN {{E}} b ON a.obj_id = b.subj_id "
               f"WHERE a.subj_id = {h[10]} AND a.pred_canon = '{p[0]}' "
               f"AND b.pred_canon = '{p[1]}'"},
    lambda p, h: {
        "name": "aggregate",
        "q": "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o . } GROUP BY ?p",
        "sql": "SELECT pred_canon, count(*) FROM {E} GROUP BY pred_canon"},
    lambda p, h: {
        "name": "optional",
        "q": f"SELECT ?o ?x WHERE {{ {h[0]} <{p[0]}> ?o . OPTIONAL {{ ?o <{p[1]}> ?x . }} }}",
        "sql": f"SELECT a.obj_id, b.obj_id FROM {{E}} a LEFT JOIN {{E}} b "
               f"ON b.subj_id = a.obj_id AND b.pred_canon = '{p[1]}' "
               f"WHERE a.subj_id = {h[0]} AND a.pred_canon = '{p[0]}'"},
    lambda p, h: {
        "name": "top_subjects", "ordered": True,
        "q": f"SELECT ?s (COUNT(*) AS ?n) WHERE {{ ?s <{p[0]}> ?o . }} GROUP BY ?s "
             "ORDER BY DESC(?n) ASC(?s) LIMIT 20",
        "sql": f"SELECT subj_id, count(*) AS n FROM {{E}} WHERE pred_canon = '{p[0]}' "
               "GROUP BY subj_id ORDER BY n DESC, subj_id ASC LIMIT 20"},
    lambda p, h: {
        "name": "two_hop_labels", "labels": True,
        "q": f"SELECT ?m ?o WHERE {{ {h[10]} <{p[0]}> ?m . ?m <{p[1]}> ?o . }}",
        "sql": f"SELECT a.obj_id, vm.canonical, b.obj_id, vo.canonical "
               f"FROM {{E}} a JOIN {{E}} b ON a.obj_id = b.subj_id "
               f"LEFT JOIN {{V}} vm ON vm.entity_id = a.obj_id "
               f"LEFT JOIN {{V}} vo ON vo.entity_id = b.obj_id "
               f"WHERE a.subj_id = {h[10]} AND a.pred_canon = '{p[0]}' "
               f"AND b.pred_canon = '{p[1]}'"},
]


WORKLOADS = {w.name: w for w in (CrawlBuild, KgLive)}


def run_unit(workload, spark):
    """One unit; an exception counts every operation of the unit failed."""
    try:
        return workload.unit(spark)
    except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
        traceback.print_exc()
        return [], workload.ops_per_unit
