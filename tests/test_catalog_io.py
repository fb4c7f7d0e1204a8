"""Catalog I/O at the cost of a flat write and a plain scan
(plans/catalog.py): recorded read schemas, the flat checkpoint and its
observed row count; page inputs read with their footer's schema
(sources/pages.py)."""

import os

import pytest
from pyspark.sql import functions as F

from deepex_spark.plans.catalog import Catalog


def _nested(spark):
    """Nested, partly non-nullable columns; ``bucket`` and ``g`` sit
    mid-schema so a partitioned write moves them."""
    return spark.range(40, numPartitions=2).select(
        F.col("id").alias("docid"),  # not null
        F.pmod("id", F.lit(3)).cast("int").alias("bucket"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.array(F.lit(1)).alias("arr_nn"),  # containsNull = false
        F.create_map(F.lit("k"), F.struct(F.col("id").alias("x"))).alias("m"),
        F.struct(F.lit("s").alias("a"), F.array(F.lit(2.0)).alias("b")).alias("st"),
        (F.col("id") % 2).alias("g"),  # long: inference types g=0/1 as int
        F.when(F.col("id") > 5, F.lit("t")).alias("txt"),
    )


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn started)."""
    import uuid

    sc = spark.sparkContext
    group = f"catalog-io-{uuid.uuid4()}"  # a tracker keeps old groups' jobs
    sc.setJobGroup(group, "jobs started by one catalog call")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _data_dir(cat, table):
    if cat.is_versioned(table):
        man = cat._snapshot_manifest(table)
        return os.path.join(cat.path(table), f"_v{man['current']}")
    return cat.path(table)


def _parquet_files(path):
    return [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def _tables(spark, cat):
    """One table of each kind: plain, partitioned, snapshot, checkpoint."""
    df = _nested(spark)
    cat.write(df, "plain")
    cat.write(df, "parts", partition_by=["bucket", "g"])
    cat.write_snapshot(df, "snap", partition_by=["bucket"])
    cat.write_snapshot(df.drop("m"), "snap")  # _v2 holds another schema
    cat.checkpoint(df.drop("bucket"), "ckpt", n_buckets=4)
    return ["plain", "parts", "snap", "ckpt"]


def test_recorded_schema_equals_inference(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    for table in _tables(spark, cat):
        data_dir = _data_dir(cat, table)
        assert os.path.exists(os.path.join(data_dir, "_schema.json")), table
        inferred = spark.read.parquet(data_dir).schema
        # StructType equality covers nested types, nullability, metadata
        # and column order
        assert cat.read(spark, table).schema == inferred, table
    assert cat.read(spark, "parts").columns[-2:] == ["bucket", "g"]
    assert cat.read(spark, "snap").schema == spark.read.parquet(
        os.path.join(cat.path("snap"), "_v2")).schema
    v1 = cat.read_snapshot(spark, "snap", version=1)
    assert v1.schema == spark.read.parquet(os.path.join(cat.path("snap"), "_v1")).schema
    assert "m" in v1.columns and "m" not in cat.read(spark, "snap").columns


def test_recorded_reads_start_no_job(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    for table in _tables(spark, cat):
        df, jobs = _jobs(spark, lambda: cat.read(spark, table))
        assert jobs == [], table
        assert df.count() == 40, table
    _, jobs = _jobs(spark, lambda: cat.read_snapshot(spark, "snap", version=1))
    assert jobs == []
    # the same read by inference does start one: the probe above can see it
    os.unlink(os.path.join(cat.path("plain"), "_schema.json"))
    _, jobs = _jobs(spark, lambda: cat.read(spark, "plain"))
    assert jobs


def test_tables_without_sidecar_infer(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = _nested(spark)
    cat.write(df, "t", partition_by=["bucket"])
    os.unlink(os.path.join(cat.path("t"), "_schema.json"))  # an older tree's table
    assert cat.read(spark, "t").schema == spark.read.parquet(cat.path("t")).schema
    assert cat.read(spark, "t").count() == 40
    # an append never records a table that had no sidecar
    cat.write(df, "t", mode="append", partition_by=["bucket"])
    assert not os.path.exists(os.path.join(cat.path("t"), "_schema.json"))
    assert cat.read(spark, "t").count() == 80


def test_same_schema_append_keeps_sidecar(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = _nested(spark)
    cat.write(df, "t")
    cat.write(df, "t", mode="append")
    assert os.path.exists(os.path.join(cat.path("t"), "_schema.json"))
    got, jobs = _jobs(spark, lambda: cat.read(spark, "t"))
    assert jobs == [] and got.count() == 80


def test_drifting_append_drops_sidecar(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.range(10).withColumn("docid", F.col("id").cast("string"))
    cat.write(df, "t")
    cat.write(df.withColumn("extra", F.lit(1.5)), "t", mode="append")
    assert not os.path.exists(os.path.join(cat.path("t"), "_schema.json"))
    assert cat.read(spark, "t").schema == spark.read.parquet(cat.path("t")).schema
    assert cat.read(spark, "t").count() == 20
    # a checkpoint that drifts drops it the same way
    cat.checkpoint(df, "c", n_buckets=4)
    assert os.path.exists(os.path.join(cat.path("c"), "_schema.json"))
    os.unlink(cat._manifest_path("c"))  # make every bucket pending again
    cat.checkpoint(df.withColumn("extra", F.lit(1.5)), "c", n_buckets=4)
    assert not os.path.exists(os.path.join(cat.path("c"), "_schema.json"))
    assert cat.read(spark, "c").schema == spark.read.parquet(cat.path("c")).schema


def test_overwrite_records_the_new_schema(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.write(spark.range(5), "t")
    cat.write(spark.range(5).withColumn("b", F.lit("x")), "t", mode="append")
    assert not os.path.exists(os.path.join(cat.path("t"), "_schema.json"))
    cat.write(_nested(spark), "t")  # overwrite starts the table afresh
    got, jobs = _jobs(spark, lambda: cat.read(spark, "t"))
    assert jobs == [] and got.schema == spark.read.parquet(cat.path("t")).schema


def test_checkpoint_is_flat_one_file_per_task(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.range(200, numPartitions=1).withColumn("docid", F.col("id").cast("string"))
    cat.checkpoint(df, "t")
    assert len(_parquet_files(cat.path("t"))) == 1
    assert not [d for d in os.listdir(cat.path("t")) if d.startswith("bucket=")]
    t = cat.read(spark, "t")
    assert {"bucket", "run_id"} <= set(t.columns)
    # bucket is a data column with the manifest's values
    buckets = {r[0] for r in t.select("bucket").distinct().collect()}
    assert buckets <= set(cat.completed_buckets("t")) and len(buckets) > 1


def test_checkpoint_returns_rows_written(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.range(60, numPartitions=3).withColumn("docid", F.col("id").cast("string"))
    assert cat.checkpoint(df, "t", n_buckets=8, run_id="r1") == 60
    assert cat.read(spark, "t").count() == 60
    # every bucket done: nothing is written and the count is 0
    assert cat.checkpoint(df, "t", n_buckets=8, run_id="r2") == 0
    assert cat.read(spark, "t").count() == 60
    # resume after a partial run writes exactly the pending buckets' rows
    import json

    mp = cat._manifest_path("p")
    cat.checkpoint(df, "p", n_buckets=8, run_id="r1")
    with open(mp) as f:
        man = json.load(f)
    for b in ("0", "1"):
        del man["buckets"][b]
    with open(mp, "w") as f:
        json.dump(man, f)
    pending = cat.read(spark, "p").filter(F.col("bucket").isin(0, 1)).count()
    assert pending > 0
    assert cat.checkpoint(df, "p", n_buckets=8, run_id="r2") == pending


def test_checkpoint_refuses_legacy_partitioned_layout(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = spark.range(10).withColumn("docid", F.col("id"))
    # an older tree's checkpoint: partitionBy("bucket") dirs in the table
    df.withColumn("bucket", F.pmod(F.xxhash64("docid"), F.lit(4)).cast("int")).write.partitionBy(
        "bucket").parquet(cat.path("t"))
    with pytest.raises(ValueError, match="bucket=-partitioned"):
        cat.checkpoint(df, "t", n_buckets=4)
    assert spark.read.parquet(cat.path("t")).count() == 10


def test_metrics_read_starts_no_job(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.log_metric(spark, "triples", 7, 1.5, "r1")
    cat.log_metric(spark, "edges", 3, 0.5, "r1")
    df, jobs = _jobs(spark, lambda: cat.read(spark, "metrics"))
    assert jobs == []
    assert df.schema == spark.read.parquet(cat.path("metrics")).schema
    assert sorted((r.stage, r.rows) for r in df.collect()) == [("edges", 3), ("triples", 7)]


@pytest.mark.parametrize("columns", [("text", "html"), ("text",), ("html",)])
def test_read_pages_uses_the_footer_schema(spark, tmp_path, columns):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from deepex_spark.sources.pages import read_pages, synth_pages

    keep = ["url", "warc_ts", *columns, "lang"]
    by_spark = str(tmp_path / "spark")
    synth_pages(spark, n_docs=8, seed=5).select(*keep).write.parquet(by_spark)
    # written outside Spark, as a crawler's export: no Spark schema in the
    # footer, a naive (TIMESTAMP_NTZ) warc_ts
    by_arrow = tmp_path / "arrow"
    by_arrow.mkdir()
    pq.write_table(pa.table({
        "url": ["u0", "u1"],
        "warc_ts": pa.array([dt.datetime(2024, 1, 1)] * 2, pa.timestamp("us")),
        **({"text": ["A b.", None]} if "text" in columns else {}),
        **({"html": pa.array([b"<p>A b.</p>", None])} if "html" in columns else {}),
        "lang": ["en", "en"],
    }), str(by_arrow / "part-0.parquet"))
    for path in (by_spark, str(by_arrow)):
        df, jobs = _jobs(spark, lambda: read_pages(spark, path))
        assert jobs == [], path
        assert df.schema == spark.read.parquet(path).schema, path
        assert df.columns == keep
