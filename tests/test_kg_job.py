"""End-to-end KG job: build_knowledge_graph with catalog checkpoints,
resume behaviour, and long-document skew (FIXTURES.md F10)."""

import pytest

from deepex_spark.config import DeepExConfig


def test_build_kg_with_catalog_and_resume(spark, tmp_path, run_in_job_group):
    from deepex_spark.operators.linking import alias_entity_table
    from deepex_spark.pipeline import build_knowledge_graph
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.sources.pages import synth_pages

    cfg = DeepExConfig.task(dist_const=2, run_id="r1")
    cat = Catalog(str(tmp_path / "kg"))
    pages = synth_pages(spark, n_docs=12, seed=11)
    alias_df = alias_entity_table(
        spark,
        {"barack obama": "Barack Obama", "the president": "Barack Obama",
         "president": "Barack Obama"},
    )
    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    (triples, vertices, edges), grouped, ungrouped = run_in_job_group(
        lambda: build_knowledge_graph(pages, cfg, alias_df=alias_df, catalog=cat))
    # every job of the build, both graph writes' included, runs in the
    # caller's job group: the writes' threads inherit it
    assert grouped and not ungrouped
    # the build caches canon for its two writes and drops it before returning
    # (subset: the context cleaner may drop an earlier test's cache meanwhile)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= cached_before
    nt, nv, ne = triples.count(), vertices.count(), edges.count()
    assert nt > 0 and nv > 0 and ne > 0
    # checkpoints + lineage on disk
    assert cat.exists("triples") and cat.exists("vertices") and cat.exists("edges")
    assert len(cat.completed_buckets("triples")) == 32
    v = cat.read(spark, "vertices")
    assert {"run_id", "src_partition"} <= set(v.columns)
    # metrics recorded
    m = cat.read(spark, "metrics").collect()
    # the count observed on the checkpoint write, not a second job
    assert [r["rows"] for r in m if r["stage"] == "triples"] == [nt]
    # resume: all buckets done -> pending empty
    docs = pages.selectExpr("url as docid")
    assert cat.pending(docs, "triples").count() == 0
    # alias linking collapsed 'The President' onto Barack Obama
    canon = {r["canonical"] for r in v.collect()}
    assert "barack obama" in canon
    assert "president" not in canon  # linked away before canonicalization


def test_build_kg_failing_graph_write_raises_and_unpersists(spark, tmp_path):
    """A graph write that fails raises out of build_knowledge_graph, after
    the other write has ended, and the build still drops its canon cache."""
    from deepex_spark.pipeline import build_knowledge_graph
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.sources.pages import synth_pages

    class FailingEdges(Catalog):
        def write(self, df, table, **kw):
            if table == "edges":
                raise RuntimeError("edges write failed")
            super().write(df, table, **kw)

    cat = FailingEdges(str(tmp_path / "kg"))
    pages = synth_pages(spark, n_docs=4, seed=11)
    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="edges write failed"):
        build_knowledge_graph(pages, DeepExConfig.task(dist_const=2), catalog=cat)
    # the vertices write ran to its end over the cached canon...
    assert cat.read(spark, "vertices").count() > 0
    # ...and the cache is gone (subset: see the test above)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= cached_before


def test_build_kg_on_versioned_catalog_raises(spark, tmp_path):
    """build_knowledge_graph writes plain tables: into a catalog whose graph
    tables are snapshot-versioned (after jobs/maintain_kg.py) it raises the
    plain-write guard and publishes nothing, whatever run_id it carries."""
    from deepex_spark.pipeline import build_knowledge_graph
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.sources.pages import synth_pages

    cat = Catalog(str(tmp_path / "kg"))
    stub = spark.createDataFrame([("x", 1)], "canonical string, n int")
    for table in ("vertices", "edges"):
        cat.write_snapshot(stub, table, run_id="r1")
    pages = synth_pages(spark, n_docs=4, seed=11)
    for run_id in ("r1", "r2"):
        with pytest.raises(ValueError, match="snapshot-versioned"):
            build_knowledge_graph(pages, DeepExConfig.task(dist_const=2, run_id=run_id),
                                  catalog=cat)
    for table in ("vertices", "edges"):
        assert cat.version_of_run(table, "r2") is None
        assert [tuple(r) for r in cat.read(spark, table).collect()] == [("x", 1)]


def test_spark_submit_job_cli(spark, tmp_path):
    # drive the spark-submit entry's main() in-process (same session reuse
    # via getOrCreate)
    import json as _json

    from deepex_spark.sources.pages import synth_pages
    from jobs.build_kg import main

    src = tmp_path / "pages"
    synth_pages(spark, n_docs=8, seed=5).write.parquet(str(src))
    alias_file = tmp_path / "aliases.json"
    alias_file.write_text(_json.dumps({"barack obama": "Barack Obama"}))
    out = tmp_path / "out"
    main(
        [
            "--input", str(src),
            "--output", str(out),
            "--run-id", "cli1",
            "--dist-const", "2",
            "--alias-json", str(alias_file),
        ]
    )
    assert (out / "edges").exists() and (out / "vertices").exists()


def test_skewed_corpus_completes_balanced(spark):
    """1% of urls carry ~50x average length (FIXTURES F10): round-robin
    repartition before the kernel keeps the stage from serializing on the
    hot docs; output must equal the unskewed invariant of determinism."""
    from deepex_spark.pipeline import extract_triples
    from deepex_spark.sources.pages import synth_pages

    cfg = DeepExConfig.small()  # windowed kernel bounds worst-case sentence
    pages = synth_pages(spark, n_docs=100, seed=9, skew=True)
    tri = extract_triples(pages, cfg)
    n1 = tri.count()
    assert n1 > 0
    # determinism under different parallelism on the skewed input
    tri2 = extract_triples(pages.repartition(16), cfg)
    assert tri2.count() == n1


def test_spark_submit_pyfiles_subprocess(spark, tmp_path):
    """Run the literal north_rule deployment shape — a real ``spark-submit
    --py-files deepex_spark.zip jobs/build_kg.py`` subprocess — from a cwd
    that does NOT contain the package, so the import can only resolve
    through the shipped zip."""
    import json as _json
    import os
    import shutil
    import subprocess
    import sys
    import zipfile

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from deepex_spark.sources.pages import synth_pages

    src = tmp_path / "pages"
    synth_pages(spark, n_docs=6, seed=3).write.parquet(str(src))

    # package the library exactly as the docstring in jobs/build_kg.py says
    zip_path = tmp_path / "deepex_spark.zip"
    pkg = os.path.join(repo, "deepex_spark")
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, repo))
    job = tmp_path / "build_kg.py"
    shutil.copy(os.path.join(repo, "jobs", "build_kg.py"), job)

    out = tmp_path / "out"
    env = {
        **os.environ,
        "SPARK_GRAFT_MASTER": "local[2]",
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    proc = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--py-files", str(zip_path),
            str(job),
            "--input", str(src),
            "--output", str(out),
            "--run-id", "submit1",
            "--dist-const", "2",
        ],
        cwd=str(tmp_path),  # repo root absent: deepex_spark only via zip
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"run_id"' in line:
            report = _json.loads(line)
    assert report is not None, proc.stdout[-4000:]
    assert report["run_id"] == "submit1"
    assert report["triples"] > 0 and report["vertices"] > 0 and report["edges"] > 0
    assert (out / "edges").exists() and (out / "vertices").exists()


def test_canonicalize_urls_dedups_refetches(spark, tmp_path):
    """--canonicalize-urls: surface re-fetches of one logical page are
    processed once, keyed by the canonical url."""
    import json as _json
    from io import StringIO
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from deepex_spark.sources.pages import synth_pages
    from jobs.build_kg import main

    base = synth_pages(spark, n_docs=6, seed=5)
    # re-fetch of every page under a messy surface url, one hour later
    refetch = base.select(
        F.concat(F.lit("HTTPS://WWW."), F.regexp_replace("url", "^https://", ""),
                 F.lit("/?utm_source=x")).alias("url"),
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
        "html", "text", "lang",
    )
    src = tmp_path / "pages"
    base.unionByName(refetch).write.parquet(str(src))
    out = tmp_path / "out"
    buf = StringIO()
    with redirect_stdout(buf):
        main(
            [
                "--input", str(src),
                "--output", str(out),
                "--run-id", "canon1",
                "--dist-const", "2",
                "--canonicalize-urls",
            ]
        )
    report = _json.loads(buf.getvalue().strip().splitlines()[-1])
    # 12 surface rows -> 6 canonical pages; triples keyed by canonical url
    from deepex_spark.plans.catalog import Catalog

    triples = Catalog(str(out)).read(spark, "triples")
    docids = {r["docid"] for r in triples.select("docid").distinct().collect()}
    assert len(docids) == 6
    assert all(u.startswith("https://example.org/") for u in docids)
    assert report["triples"] == triples.count()


def test_resolve_entities_merges_typo_variants(spark):
    """resolve_entities: near-identical canonical entities merge to one
    deterministic representative id; untouched entities keep theirs."""
    from pyspark.sql import functions as F

    from deepex_spark.operators.canonicalize import (
        canonicalize_triples,
        resolve_entities,
    )
    from deepex_spark.operators.graph import build_vertices

    triples = spark.createDataFrame(
        [
            ("d1", "Alan Turing", "founded", "Princeton", 0.9),
            ("d2", "Alann Turing", "visited", "Warsaw", 0.8),
            ("d3", "Alan Turnig", "left", "Warsaw", 0.7),
            ("d4", "Grace Hopper", "joined", "Alan Turing", 0.6),
        ],
        "docid string, subj string, rel string, obj string, score double",
    )
    canon = canonicalize_triples(triples)
    ids_before = {
        r["subj_canon"]: r["subj_id"] for r in canon.select("subj_canon", "subj_id").collect()
    }
    out = resolve_entities(canon)
    got = {r["subj"]: (r["subj_canon"], r["subj_id"]) for r in out.collect()}
    rep_id = min(
        ids_before["alan turing"], ids_before["alann turing"], ids_before["alan turnig"]
    )
    rep_name = {v: k for k, v in ids_before.items()}[rep_id]
    # all three variants share the representative's canon AND id
    assert got["Alan Turing"] == (rep_name, rep_id)
    assert got["Alann Turing"] == (rep_name, rep_id)
    assert got["Alan Turnig"] == (rep_name, rep_id)
    assert got["Grace Hopper"][0] == "grace hopper"
    # the OBJ side is rewritten too ("Alan Turing" as object of d4)
    obj = {r["docid"]: r["obj_canon"] for r in out.collect()}
    assert obj["d4"] == rep_name
    # id = xxhash64(canon) contract survives the merge
    bad = out.where(F.xxhash64("subj_canon") != F.col("subj_id")).count()
    assert bad == 0
    # vertex table unifies: one vertex for the merged entity with all
    # surface forms attached
    v = build_vertices(out)
    merged = [r for r in v.collect() if r["canonical"] == rep_name]
    assert len(merged) == 1
    assert set(merged[0]["surfaces"]) >= {"Alan Turing", "Alann Turing", "Alan Turnig"}


def test_mine_aliases_links_from_crawl_anchors(spark, tmp_path):
    """--mine-aliases: the job builds its linking dictionary from the
    crawl's own anchor texts — pages anchor-label a KB url with messy
    'Barack OBAMA' variants, and the mined alias links the extracted
    triples' 'barack obama' surfaces onto that canonical url with no
    hand-written dictionary."""
    from pyspark.sql import functions as F

    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.sources.pages import synth_pages
    from jobs.build_kg import main

    kb = "https://kb.example.org/Barack_Obama"
    anchor = f' <a href="{kb}">Barack\n OBAMA </a>'
    pages = synth_pages(spark, n_docs=12, seed=11).withColumn(
        "html",
        F.concat(F.col("html").cast("string"), F.lit(anchor)).cast("binary"),
    )
    src = tmp_path / "pages"
    pages.write.parquet(str(src))
    out = tmp_path / "kg"
    main(
        [
            "--input", str(src),
            "--output", str(out),
            "--run-id", "mine1",
            "--dist-const", "2",
            "--mine-aliases",
        ]
    )
    canon = {
        r["canonical"]
        for r in Catalog(str(out)).read(spark, "vertices").collect()
    }
    assert any("kb.example.org" in c for c in canon)
    assert "barack obama" not in canon  # linked away before canonicalization


def test_strip_boilerplate_kills_template_triples(spark, tmp_path):
    """--strip-boilerplate: a triple-shaped nav line repeated on every
    page of the host never reaches the kernel; per-page body triples
    survive."""
    from pyspark.sql import functions as F

    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.sources.pages import synth_pages
    from jobs.build_kg import main

    boiler = "Acme Corp sells widgets."
    pages = synth_pages(spark, n_docs=8, seed=5).withColumn(
        "text", F.concat(F.lit(boiler + " "), F.lit("\n"), F.col("text"))
    )
    src = tmp_path / "pages"
    pages.write.parquet(str(src))

    def subjects(out_dir, flags):
        main(["--input", str(src), "--output", str(out_dir),
              "--run-id", "bp", "--dist-const", "2", *flags])
        t = Catalog(str(out_dir)).read(spark, "triples")
        return {r["subj"].lower() for r in t.select("subj").distinct().collect()}

    with_boiler = subjects(tmp_path / "kg_raw", [])
    without = subjects(tmp_path / "kg_clean", ["--strip-boilerplate"])
    assert any("acme" in s for s in with_boiler)
    assert not any("acme" in s for s in without)
    assert without  # body triples survive the cleaning


def test_export_adjacency_and_walk_corpus(spark, tmp_path):
    """--export-adjacency / --walk-corpus publish catalog snapshots
    derived from the built edges: adjacency rows are bounded at k=8
    neighbors, walks start at every edge endpoint and traverse real
    (symmetrized) edges."""
    from deepex_spark.plans.catalog import Catalog
    from deepex_spark.sources.pages import synth_pages
    from jobs.build_kg import main

    src = tmp_path / "pages"
    synth_pages(spark, n_docs=8, seed=7).write.parquet(str(src))
    out = tmp_path / "out"
    main(
        [
            "--input", str(src),
            "--output", str(out),
            "--run-id", "adjw",
            "--dist-const", "2",
            "--export-adjacency",
            "--walk-corpus", "2",
        ]
    )
    cat = Catalog(str(out))
    assert cat.version_of_run("adjacency", "adjw-adj") is not None
    assert cat.version_of_run("walks", "adjw-walks") is not None

    edges = {
        (r.subj_id, r.obj_id)
        for r in cat.read(spark, "edges").select("subj_id", "obj_id").collect()
    }
    sym = edges | {(b, a) for a, b in edges}
    verts = {a for a, _ in sym}

    adj = cat.read_snapshot(spark, "adjacency").collect()
    assert {r.src for r in adj} == {a for a, _ in edges}
    for r in adj:
        assert 1 <= len(r.adj_head.split("|")) <= 8
        assert r.degree >= 1

    walks = cat.read_snapshot(spark, "walks").collect()
    paths: dict = {}
    for r in walks:
        paths.setdefault(r.start, {})[r.step] = r.v
    assert set(paths) == verts
    for start, path in paths.items():
        assert path[0] == start and len(path) == 3
        for t in (1, 2):
            assert (path[t - 1], path[t]) in sym

    # idempotent republish: same run_id does not mint a new version
    v = cat.version_of_run("adjacency", "adjw-adj")
    from deepex_spark.operators.graph import adjacency_export  # noqa: F401
    from pyspark.sql import functions as F
    e = cat.read(spark, "edges").select(
        F.col("subj_id").alias("src"),
        F.col("obj_id").alias("dst"),
        F.col("pred_canon").alias("rel"),
    )
    assert cat.write_snapshot(adjacency_export(e), "adjacency", run_id="adjw-adj") == v


def test_pages_jsonl_roundtrip(spark, tmp_path):
    """JSONL pages interchange: write_pages_jsonl -> read_pages_jsonl is
    the identity on (url, warc_ts-to-the-second, html bytes, text, lang),
    read_pages dispatches on fmt='jsonl', missing optional fields come
    back as typed NULLs, and the read schema matches PAGES_SCHEMA."""
    from deepex_spark.sources.pages import (
        PAGES_SCHEMA,
        read_pages,
        read_pages_jsonl,
        synth_pages,
        write_pages_jsonl,
    )

    src = synth_pages(spark, n_docs=20, partitions=2)
    path = str(tmp_path / "pages_jsonl")
    write_pages_jsonl(src, path)
    back = read_pages(spark, path, fmt="jsonl")
    assert back.schema == PAGES_SCHEMA
    a = sorted(src.select("url", "text", "lang").collect())
    b = sorted(back.select("url", "text", "lang").collect())
    assert a == b
    # html binary survives base64; warc_ts second precision
    sa = {r["url"]: (bytes(r["html"] or b""), r["warc_ts"]) for r in src.collect()}
    sb = {r["url"]: (bytes(r["html"] or b""), r["warc_ts"]) for r in back.collect()}
    for u in sa:
        assert sb[u][0] == sa[u][0]
        assert sb[u][1].replace(microsecond=0) == sa[u][1].replace(microsecond=0)

    # optional fields absent -> typed NULLs, no schema drift
    with open(tmp_path / "sparse.jsonl", "w") as f:
        f.write('{"url": "http://x.test/a", "warc_ts": "2026-01-02T03:04:05"}\n')
    sparse = read_pages_jsonl(spark, str(tmp_path / "sparse.jsonl"))
    r = sparse.collect()[0]
    assert r["url"] == "http://x.test/a"
    assert r["html"] is None and r["text"] is None and r["lang"] is None
    assert r["warc_ts"].year == 2026
