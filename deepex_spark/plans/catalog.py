"""Lakehouse catalog shim + checkpoint/resume (O9 at scale).

The at-scale deployment writes every stage checkpoint to Iceberg
(``writeTo(...).append()``); this sandbox has no Iceberg jars, so the shim
falls back to a parquet layout with a JSON manifest per table that records
completed buckets — the same contract the reference implements with
per-batch ``search_res.json`` existence checks + FileLock
(``src/deepex/data/re_data.py:166-201``, ``scripts/generator.py:164-166``).

A checkpoint is a FLAT file set: ``bucket`` is an ordinary data column,
not a ``bucket=`` directory, so one write task writes one file instead of
one per bucket it holds. The manifest maps the buckets: resume =
``left_anti`` join of the input's bucket ids against the manifest's
completed buckets, so only pending buckets are recomputed, with lineage
(run_id, bucket, written_at) carried in both the manifest and the rows.

Every write records the table's read schema in a ``_schema.json`` sidecar
inside its data directory (the table root, or ``_vN`` for a snapshot), and
reads pass it to ``.schema(...)``: parquet schema inference is a Spark job,
the sidecar is a file read. Spark, DuckDB globs and file counters skip
``_``-prefixed, non-``.parquet`` files, and an overwrite or an expired
``_vN`` takes its sidecar along. A data directory without one (written by
an older tree, after schema drift, or by a crash between the data and the
sidecar write) is read by inference, as before.

A ``_metrics`` table accumulates per-stage row counts and wall times
(SURVEY.md §7.0 lineage/metrics requirement).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_SCHEMA_FILE = "_schema.json"


def _nullable(t: DataType) -> DataType:
    """``t`` with every level nullable, as parquet schema inference reads it."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _file_schema(df: DataFrame, partition_by=None) -> StructType:
    """The schema of the parquet files ``df`` writes, as inference reads it.
    Partition columns are left out: a read discovers them from the
    directory names while listing files (no job) and types them from their
    values, exactly as an inferring read does — a recorded type would
    override that (a long column of small values infers as int). They land
    last, after the recorded columns, on both paths."""
    parts = set(partition_by or ())
    return _nullable(StructType([f for f in df.schema.fields if f.name not in parts]))


def _read_sidecar(data_dir: str) -> StructType | None:
    try:
        with open(os.path.join(data_dir, _SCHEMA_FILE)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _has_data(data_dir: str) -> bool:
    return os.path.isdir(data_dir) and any(
        not n.startswith(("_", ".")) for n in os.listdir(data_dir)
    )


def _publish_json(obj, path: str) -> None:
    """Write ``obj`` as JSON to ``path`` whole: the data goes to a temporary
    sibling, and ``os.replace`` swaps it in, so a reader sees the old file
    or the new one, never a partial write."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def _write_sidecar(schema: StructType, data_dir: str) -> None:
    # readers skip "_"-prefixed files, so the rename publishes it whole
    _publish_json(schema.jsonValue(), os.path.join(data_dir, _SCHEMA_FILE))


def _write_parquet(df: DataFrame, data_dir: str, mode: str, partition_by=None) -> None:
    """``df.write.mode(mode).parquet(data_dir)`` keeping the sidecar true:
    an overwrite or a first write records ``df``'s schema after the data
    lands; an append whose schema differs from the recorded one (or into a
    table without one) drops the sidecar before writing, so those reads
    keep inferring."""
    schema = _file_schema(df, partition_by)
    fresh = mode == "overwrite" or not _has_data(data_dir)
    if _read_sidecar(data_dir) != schema:
        try:
            os.unlink(os.path.join(data_dir, _SCHEMA_FILE))
        except FileNotFoundError:
            pass
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(data_dir)
    if fresh:
        _write_sidecar(schema, data_dir)


def _scan(spark: SparkSession, data_dir: str) -> DataFrame:
    """Read a parquet data dir with its recorded schema (no Spark job),
    or by inference when it has none."""
    schema = _read_sidecar(data_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(data_dir)


class Catalog:
    def __init__(self, base_dir: str, fmt: str = "parquet"):
        self.base_dir = base_dir
        self.fmt = fmt
        os.makedirs(base_dir, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.base_dir, f"_{table}_manifest.json")

    # -- IO ---------------------------------------------------------------
    def write(self, df: DataFrame, table: str, mode: str = "overwrite", partition_by=None):
        if self.fmt == "iceberg":  # pragma: no cover - jars absent in sandbox
            w = df.writeTo(table)
            (w.createOrReplace() if mode == "overwrite" else w.append())
            return
        if self._snapshot_manifest(table)["versions"]:
            # a plain write into a snapshot-versioned table would land in
            # the root while read() serves the current _vN — silently
            # invisible data. Fail loudly instead.
            raise ValueError(
                f"table {table!r} is snapshot-versioned — use write_snapshot()"
            )
        _write_parquet(df, self.path(table), mode, partition_by)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        if self.fmt == "iceberg":  # pragma: no cover
            return spark.read.format("iceberg").load(table)
        # snapshot-versioned tables serve the CURRENT version to plain
        # readers too — once a maintenance run moves a table to snapshots,
        # every existing read() consumer sees the merged data, not the
        # stale root files from before the first snapshot
        if self._snapshot_manifest(table)["versions"]:
            return self.read_snapshot(spark, table)
        return _scan(spark, self.path(table))

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table)) or os.path.exists(self._manifest_path(table))

    # -- checkpoint / resume ----------------------------------------------
    def completed_buckets(self, table: str) -> list[int]:
        mp = self._manifest_path(table)
        if not os.path.exists(mp):
            return []
        with open(mp) as f:
            manifest = json.load(f)
        return sorted(int(b) for b in manifest.get("buckets", {}))

    def checkpoint(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str = "docid",
        n_buckets: int = 32,
        run_id: str = "run0",
    ) -> int:
        """Append df's rows as one flat file set with a
        ``bucket = pmod(xxhash64(bucket_col), n_buckets)`` column, skipping
        buckets already in the manifest (resume). Returns the number of
        rows written, counted by ``observe`` on the write itself."""
        if self._snapshot_manifest(table)["versions"]:
            # appending into the root of a versioned table would be
            # invisible to read() (which serves _vN) while the resume
            # manifest marks the buckets complete — silent data loss
            raise ValueError(
                f"table {table!r} is snapshot-versioned — checkpoint() "
                "appends to the plain layout; use a different table or "
                "write_snapshot()"
            )
        base = self.path(table)
        if os.path.isdir(base) and any(d.startswith("bucket=") for d in os.listdir(base)):
            # a flat append next to bucket= dirs reads back as the
            # partitioned rows only (partition discovery ignores the root
            # files): silent data loss
            raise ValueError(
                f"table {table!r} holds the bucket=-partitioned checkpoint "
                "layout of an older tree — rewrite it flat or checkpoint "
                "to a new table"
            )
        done = set(self.completed_buckets(table))
        if done >= set(range(n_buckets)):
            return 0
        bucketed = df.withColumn("run_id", F.lit(run_id)).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets)).cast("int")
        )
        if done:
            bucketed = bucketed.filter(~F.col("bucket").isin(sorted(done)))
        written = Observation()
        _write_parquet(
            bucketed.observe(written, F.count(F.lit(1)).alias("rows")), base, "append"
        )
        now = time.time()
        mp = self._manifest_path(table)
        manifest = {"table": table, "n_buckets": n_buckets, "buckets": {}}
        if os.path.exists(mp):
            with open(mp) as f:
                manifest = json.load(f)
        for b in range(n_buckets):
            if b not in done:
                manifest["buckets"][str(b)] = {"run_id": run_id, "written_at": now}
        _publish_json(manifest, mp)
        return written.get["rows"]

    def pending(self, df: DataFrame, table: str, bucket_col: str = "docid", n_buckets: int = 32) -> DataFrame:
        """Rows of df whose bucket is NOT yet completed (anti-join resume)."""
        done = self.completed_buckets(table)
        bucketed = df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets)).cast("int")
        )
        if not done:
            return bucketed
        spark = df.sparkSession
        done_df = spark.createDataFrame([(b,) for b in done], "bucket int")
        return bucketed.join(F.broadcast(done_df), "bucket", "left_anti")

    # -- snapshots (time travel) -------------------------------------------
    def _snapshot_manifest_path(self, table: str) -> str:
        return os.path.join(self.base_dir, f"_{table}_snapshots.json")

    def _snapshot_manifest(self, table: str) -> dict:
        sp = self._snapshot_manifest_path(table)
        if not os.path.exists(sp):
            return {"table": table, "current": 0, "versions": {}}
        with open(sp) as f:
            return json.load(f)

    def _snapshot_lock(self, table: str):
        """Single-host exclusive lock for snapshot version allocation —
        the same FileLock discipline the reference uses for its per-batch
        result files (generator.py:164-166). Two concurrent maintenance
        jobs would otherwise allocate the SAME version number and write
        into one _vN directory simultaneously. Multi-host coordination is
        Iceberg's job (``fmt='iceberg'`` commits through the engine)."""
        import contextlib

        lock_path = self._snapshot_manifest_path(table) + ".lock"

        def _holder_dead() -> bool:
            """A lock whose recorded PID no longer exists is stale (the
            holder was SIGKILLed mid-publish) — break it so the documented
            same-run_id retry recovery can proceed instead of bricking."""
            try:
                with open(lock_path) as f:
                    pid = int(f.read().strip() or "0")
            except (OSError, ValueError):
                return False
            if pid <= 0:
                return False
            try:
                os.kill(pid, 0)
                return False
            except ProcessLookupError:
                return True
            except PermissionError:
                return False

        @contextlib.contextmanager
        def held():
            deadline = time.time() + 600  # > any sane snapshot write
            while True:
                try:
                    fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, str(os.getpid()).encode())
                    break
                except FileExistsError:
                    if _holder_dead():
                        try:
                            os.unlink(lock_path)
                        except FileNotFoundError:
                            pass
                        continue
                    if time.time() > deadline:
                        raise TimeoutError(f"snapshot lock busy: {lock_path}")
                    time.sleep(0.2)
            try:
                yield
            finally:
                os.close(fd)
                os.unlink(lock_path)

        return held()

    def is_versioned(self, table: str) -> bool:
        return bool(self._snapshot_manifest(table)["versions"])

    def version_of_run(self, table: str, run_id: str) -> int | None:
        """Version a given run_id published to this table, or None."""
        for v, meta in self._snapshot_manifest(table)["versions"].items():
            if meta.get("run_id") == run_id:
                return int(v)
        return None

    def write_snapshot(
        self, df: DataFrame, table: str, partition_by=None, run_id: str | None = None
    ) -> int:
        """Iceberg-snapshot-style versioned overwrite for the parquet
        shim (write-audit-publish): data lands in ``<table>/_v<N>`` and
        the current-version pointer flips via ``os.replace`` only AFTER
        the write finishes — a reader of the current snapshot never sees
        a partial overwrite, and every prior version stays readable
        (``read_snapshot(..., version=K)``) until explicitly expired.
        This is what lets incremental KG maintenance publish a rebuilt
        vertices/edges table while queries keep running against the old
        one. ``run_id`` is recorded in the manifest so the idempotent
        fold (``operators/graph.py::fold_snapshot``) can detect an
        already-applied batch and skip the re-merge on retry. Version
        allocation + publish run under a single-host file lock. With
        ``fmt='iceberg'`` the engine's own snapshot commit subsumes this
        (``VERSION AS OF`` time travel). Returns the new version number."""
        if self.fmt == "iceberg":  # pragma: no cover - jars absent in sandbox
            df.writeTo(table).createOrReplace()
            return -1
        with self._snapshot_lock(table):
            man = self._snapshot_manifest(table)
            if run_id is not None:
                # idempotent publish: the run_id re-check happens INSIDE
                # the lock, so two racing jobs with the same run_id — even
                # one that re-read the table AFTER the other published —
                # cannot both land a merge (the classic check-then-act
                # double-apply)
                for v_str, meta in man["versions"].items():
                    if meta.get("run_id") == run_id:
                        return int(v_str)
                if run_id in man.get("expired_run_ids", []):
                    return int(man["current"])
            v = int(man["current"]) + 1
            _write_parquet(
                df, os.path.join(self.path(table), f"_v{v}"), "overwrite", partition_by
            )
            man["current"] = v
            man["versions"][str(v)] = {"written_at": time.time(), "run_id": run_id}
            _publish_json(man, self._snapshot_manifest_path(table))
        return v

    def read_snapshot(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Read a snapshot table at the current (default) or a pinned
        version — the shim's ``VERSION AS OF``."""
        if self.fmt == "iceberg":  # pragma: no cover
            r = spark.read.format("iceberg")
            if version is not None:
                r = r.option("snapshot-id", str(version))
            return r.load(table)
        man = self._snapshot_manifest(table)
        v = int(man["current"]) if version is None else int(version)
        if str(v) not in man["versions"]:
            raise ValueError(f"table {table!r} has no snapshot version {v}")
        return _scan(spark, os.path.join(self.path(table), f"_v{v}"))

    def expire_snapshots(self, table: str, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` versions (the current one is
        always kept) — the shim's ``expire_snapshots`` maintenance job.
        Manifest-first ordering: entries are removed and PERSISTED before
        any directory is deleted, so a crash mid-expire leaves only
        orphaned _vN dirs (harmless; swept by the next expire) — never a
        manifest pointing at deleted data. Returns the expired version
        numbers."""
        import shutil

        if self.fmt == "iceberg":  # pragma: no cover - jars absent in sandbox
            raise NotImplementedError(
                "expire_snapshots() manages the parquet shim's _vN layout; "
                "for an iceberg catalog use the engine's retention "
                "(CALL system.expire_snapshots)"
            )
        if keep < 1:
            raise ValueError("keep must be >= 1")
        with self._snapshot_lock(table):
            man = self._snapshot_manifest(table)
            versions = sorted(int(x) for x in man["versions"])
            drop = [v for v in versions[:-keep] if v != int(man["current"])]
            expired = set(man.get("expired_run_ids", []))
            for v in drop:
                rid = man["versions"][str(v)].get("run_id")
                if rid:
                    expired.add(rid)  # keep idempotency history past retention
                del man["versions"][str(v)]
            man["expired_run_ids"] = sorted(expired)
            _publish_json(man, self._snapshot_manifest_path(table))
            # delete dropped dirs + sweep orphans from earlier crashed
            # expires (on disk but absent from the manifest)
            base = self.path(table)
            live = {f"_v{x}" for x in man["versions"]}
            if os.path.isdir(base):
                for d in os.listdir(base):
                    if d.startswith("_v") and d not in live:
                        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        return drop

    # -- metrics ----------------------------------------------------------
    def log_metric(self, spark: SparkSession, stage: str, rows: int, wall_s: float, run_id: str = "run0"):
        """Append one row to the ``metrics`` table, written in-process as a
        one-row parquet file with pyarrow: a DataFrame built from a Python
        list is a pickled Python RDD, and writing it costs a Spark job of
        Python tasks. ``spark`` stays in the signature for callers."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        table = pa.table(
            [[run_id], [stage], [rows], [float(wall_s)], [time.time()]],
            schema=pa.schema([("run_id", pa.string()), ("stage", pa.string()),
                              ("rows", pa.int64()), ("wall_s", pa.float64()),
                              ("ts", pa.float64())]),
        )
        out = self.path("metrics")
        os.makedirs(out, exist_ok=True)
        first = not _has_data(out)
        name = f"part-{uuid.uuid4()}.parquet"
        # readers skip "_"-prefixed files, so the rename publishes the row whole
        tmp = os.path.join(out, "_" + name)
        pq.write_table(table, tmp, store_schema=False)
        os.replace(tmp, os.path.join(out, name))
        if first:  # the schema is fixed: record it once, as the other writes do
            _write_sidecar(from_arrow_schema(table.schema), out)
