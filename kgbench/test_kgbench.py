"""The benchmark's own tests: seeded inputs are byte-identical per seed,
and every output check rejects a deliberately corrupted output.

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import refdb  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def db():
    with refdb.RefDB() as ref:
        yield ref


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    lambda d, s: gen.crawl(d, s, n_pages=40, n_files=4, n_long=1, long_mult=5),
    lambda d, s: gen.live(d, s, base_docs=200, n_batches=3, batch_docs=50),
], ids=["crawl", "live"])
def test_generator_is_byte_identical_per_seed(tmp_path, make):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_crawl_pages_have_html_only_and_long_pages(tmp_path):
    d = gen.crawl(str(tmp_path), 3, n_pages=200, n_files=4, n_long=2, long_mult=30)
    pages = pq.read_table(d["pages"]).to_pylist()
    assert len(pages) == 200 and len(os.listdir(d["pages"])) == 4
    assert sum(p["text"] is None for p in pages) > 10
    lengths = sorted(len(p["html"]) for p in pages)
    assert lengths[-2] > 10 * lengths[len(lengths) // 2]
    assert d["aliases"] and all(k == k.lower() for k in d["aliases"])


def test_fold_batches_are_doc_disjoint(tmp_path):
    d = gen.live(str(tmp_path), 1, base_docs=100, n_batches=4, batch_docs=30)
    seen: set[str] = set()
    for path in [d["base"], *d["batches"]]:
        docs = set(pq.read_table(path, columns=["docid"]).column(0).to_pylist())
        assert not docs & seen
        seen |= docs


def _live_snapshot(out_dir: str, triple_files: list[str]) -> str:
    """An edges snapshot built the way ``batch_edges`` defines it."""
    import duckdb

    os.makedirs(out_dir)
    sql = workloads.edges_sql(triple_files).replace(
        "sum(score) AS sum_score", "round(sum(score), 9) AS sum_score")
    duckdb.connect().execute(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT PARQUET)")
    return out_dir


def test_fold_check_rejects_a_dropped_batch(tmp_path, db):
    d = gen.live(str(tmp_path / "in"), 2, base_docs=200, n_batches=3, batch_docs=60)
    every = [d["base"], *d["batches"]]
    good = _live_snapshot(str(tmp_path / "good"), every)
    dropped = _live_snapshot(str(tmp_path / "dropped"), every[:-1])
    assert workloads.fold_mismatches(db, good, every) == 0
    assert workloads.fold_mismatches(db, dropped, every) > 0


def test_fold_check_rejects_one_wrong_score(tmp_path, db):
    import pyarrow as pa

    d = gen.live(str(tmp_path / "in"), 3, base_docs=100, n_batches=2, batch_docs=40)
    every = [d["base"], *d["batches"]]
    snap = _live_snapshot(str(tmp_path / "snap"), every)
    path = os.path.join(snap, "part-0.parquet")
    t = pq.read_table(path)
    scores = t.column("sum_score").to_pylist()
    scores[0] += 1e-5
    pq.write_table(t.set_column(t.schema.get_field_index("sum_score"), "sum_score",
                                pa.array(scores)), path)
    assert workloads.fold_mismatches(db, snap, every) == 1


def test_crawl_check_rejects_changed_or_inconsistent_output():
    sig = {"triples": 10, "vertices": 4, "edges": 6, "edge_hash": "1",
           "vertex_hash": "2", "evidence": 10}
    w = workloads.CrawlBuild("unused", None)
    assert w.check_signature(dict(sig)) == 0
    assert w.check_signature(dict(sig)) == 0
    assert w.check_signature({**sig, "edge_hash": "3"}) == 1
    fresh = workloads.CrawlBuild("unused", None)
    assert fresh.check_signature({**sig, "evidence": 9}) == 1


def test_crawl_record_carries_across_runs(tmp_path):
    sig = {"triples": 10, "vertices": 4, "edges": 6, "edge_hash": "1",
           "vertex_hash": "2", "evidence": 10}
    path = str(tmp_path / "records" / "r.json")
    first = workloads.CrawlBuild("unused", None)
    first.load_record(path)
    assert first.check_signature(dict(sig)) == 0
    first.save_record(path)
    second = workloads.CrawlBuild("unused", None)
    second.load_record(path)
    assert second.check_signature({**sig, "vertex_hash": "9"}) == 1


def test_query_check_rejects_one_wrong_row():
    q = {"name": "lookup", "expected": sorted([(1, "a"), (2, "b"), (3, "c")], key=repr)}
    assert workloads.check_answer(q, [(3, "c"), (1, "a"), (2, "b")]) == 0
    assert workloads.check_answer(q, [(3, "c"), (1, "a"), (2, "x")]) == 1
    assert workloads.check_answer(q, [(3, "c"), (1, "a")]) == 1
    ordered = {"name": "top", "ordered": True, "expected": [(5, 9), (6, 8)]}
    assert workloads.check_answer(ordered, [(6, 8), (5, 9)]) == 1


def test_every_query_of_the_mix_has_a_nonempty_reference(tmp_path, db):
    w = workloads.KgLive(str(tmp_path), db)
    w.BASE_DOCS, w.BATCH_DOCS = 3000, 200
    w.generate(4)
    w.prepare_checks(spark=None)
    assert [q["name"] for q in w.queries] == [
        "lookup", "two_hop", "aggregate", "optional", "top_subjects", "two_hop_labels"]
    assert all(q["expected"] for q in w.queries)


def test_reference_rows_round_trip_exactly(db):
    assert db.query("SELECT 1::BIGINT, 'a', 0.1::DOUBLE + 0.2::DOUBLE, NULL") == [
        (1, "a", 0.1 + 0.2, None)]
    for bad in ("SELECT * FROM no_such_table", "SELECT 0.5::DECIMAL(4, 2)"):
        with pytest.raises(RuntimeError):
            db.query(bad)


def test_tail_is_above_the_median_or_the_maximum():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    values = [float(i) for i in range(1, 41)]
    v, name = run.tail(values)
    assert v == 30.0 and name == "p75"
    assert sum(x > v for x in values) == 10


def test_benchmark_json_matches_the_metrics_the_runner_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "kg_live", "--seed", "1"]) == 2
