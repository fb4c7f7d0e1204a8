"""Catalog snapshot versions (plans/catalog.py::write_snapshot,
read_snapshot, expire_snapshots) and the guards around them."""

from pyspark.sql import functions as F

from deepex_spark.plans.catalog import Catalog


def test_snapshot_write_read_time_travel(spark, tmp_path):
    """Versioned overwrite: current pointer flips only after the write,
    prior versions stay readable (time travel), expire keeps the tail."""
    import pytest

    cat = Catalog(str(tmp_path))
    v1 = cat.write_snapshot(spark.range(5).withColumn("gen", F.lit(1)), "verts")
    v2 = cat.write_snapshot(spark.range(3).withColumn("gen", F.lit(2)), "verts")
    assert (v1, v2) == (1, 2)
    cur = cat.read_snapshot(spark, "verts")
    assert cur.count() == 3 and cur.select(F.max("gen")).first()[0] == 2
    old = cat.read_snapshot(spark, "verts", version=1)
    assert old.count() == 5 and old.select(F.max("gen")).first()[0] == 1
    with pytest.raises(ValueError, match="no snapshot version"):
        cat.read_snapshot(spark, "verts", version=9)


def test_snapshot_expire_keeps_current(spark, tmp_path):
    import pytest

    cat = Catalog(str(tmp_path))
    for g in (1, 2, 3, 4):
        cat.write_snapshot(spark.range(g).withColumn("gen", F.lit(g)), "t")
    dropped = cat.expire_snapshots("t", keep=2)
    assert dropped == [1, 2]
    # survivors readable, expired gone
    assert cat.read_snapshot(spark, "t", version=3).count() == 3
    assert cat.read_snapshot(spark, "t").count() == 4
    with pytest.raises(ValueError):
        cat.read_snapshot(spark, "t", version=1)
    with pytest.raises(ValueError):
        cat.expire_snapshots("t", keep=0)


def test_plain_write_into_versioned_table_refused(spark, tmp_path):
    import pytest

    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(3), "t")
    with pytest.raises(ValueError, match="snapshot-versioned"):
        cat.write(spark.range(5), "t")


def test_plain_read_serves_current_snapshot(spark, tmp_path):
    """After migration to snapshots, legacy read() consumers must see the
    current version — not the stale pre-migration root files."""
    cat = Catalog(str(tmp_path))
    cat.write(spark.range(7).withColumn("gen", F.lit(0)), "t")     # plain layout
    cat.write_snapshot(spark.range(4).withColumn("gen", F.lit(1)), "t")
    got = cat.read(spark, "t")
    assert got.count() == 4 and got.select(F.max("gen")).first()[0] == 1


def test_expire_manifest_first_and_orphan_sweep(spark, tmp_path):
    """Orphaned _vN dirs (crashed expire) are swept on the next expire;
    the manifest never references deleted data."""
    import os

    cat = Catalog(str(tmp_path))
    for g in (1, 2, 3):
        cat.write_snapshot(spark.range(g), "t")
    # simulate a crashed expire: dir exists on disk, absent from manifest
    orphan = os.path.join(cat.path("t"), "_v99")
    os.makedirs(orphan)
    cat.expire_snapshots("t", keep=2)
    assert not os.path.exists(orphan)


def test_write_snapshot_lock_released(spark, tmp_path):
    import os

    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(2), "t")
    assert not os.path.exists(cat._snapshot_manifest_path("t") + ".lock")
    cat.write_snapshot(spark.range(3), "t")  # lock reacquirable


def test_write_snapshot_run_id_guard_inside_lock(spark, tmp_path):
    """Publishing the same run_id twice returns the FIRST version and
    writes nothing — the in-lock re-check that makes racing retries safe."""
    cat = Catalog(str(tmp_path))
    v1 = cat.write_snapshot(spark.range(3), "t", run_id="r1")
    v_again = cat.write_snapshot(spark.range(999), "t", run_id="r1")
    assert (v1, v_again) == (1, 1)
    assert cat._snapshot_manifest("t")["current"] == 1
    assert cat.read_snapshot(spark, "t").count() == 3  # second df never landed


def test_expired_run_ids_survive_retention(spark, tmp_path):
    """Expiring a version keeps its run_id in the manifest, so a stale
    retry of an old batch can never re-apply after retention."""
    cat = Catalog(str(tmp_path))
    for i in (1, 2, 3):
        cat.write_snapshot(spark.range(i), "t", run_id=f"r{i}")
    cat.expire_snapshots("t", keep=1)
    man = cat._snapshot_manifest("t")
    assert man["expired_run_ids"] == ["r1", "r2"]
    assert [m["run_id"] for m in man["versions"].values()] == ["r3"]
    # and a replay of an expired run_id is still a no-op
    v = cat.write_snapshot(spark.range(50), "t", run_id="r1")
    assert v == cat._snapshot_manifest("t")["current"]
    assert cat.read_snapshot(spark, "t").count() == 3


def test_stale_lock_from_dead_holder_is_broken(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    lock = cat._snapshot_manifest_path("t") + ".lock"
    with open(lock, "w") as f:
        f.write("999999999")  # PID that cannot exist
    assert cat.write_snapshot(spark.range(2), "t") == 1  # no TimeoutError
    import os

    assert not os.path.exists(lock.replace(".lock", ".lock.stale"))


def test_checkpoint_refuses_versioned_table(spark, tmp_path):
    import pytest

    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(2).withColumn("docid", F.col("id")), "t")
    with pytest.raises(ValueError, match="snapshot-versioned"):
        cat.checkpoint(spark.range(5).withColumn("docid", F.col("id")), "t")
