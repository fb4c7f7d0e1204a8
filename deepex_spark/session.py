"""SparkSession construction with scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_conf(warehouse_dir: str, catalog_name: str = "local") -> dict:
    """Standard Iceberg session wiring (SQL extensions + a hadoop-type
    local catalog). Pass as ``extra_conf`` together with
    ``iceberg_jars=True`` — requires network (or a populated ivy cache) to
    resolve the runtime jar, so the sandbox test suite exercises the
    ``fmt='iceberg'`` catalog branches through stubs instead."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog_name}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog_name}.type": "hadoop",
        f"spark.sql.catalog.{catalog_name}.warehouse": warehouse_dir,
    }


def _warm_daemon_applies(master: str) -> bool:
    """Whether Python workers can run ``deepex_spark.pyworker`` as their
    daemon: the master is local (the workers start from this JVM, with
    its cwd and environment) and ``deepex_spark`` was imported from a
    directory that is the cwd or on ``PYTHONPATH``. A package shipped with
    ``--py-files`` reaches workers only per task, after the daemon has
    started, so those sessions keep Spark's own daemon."""
    if not (master == "local" or master.startswith("local[")):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(root):
        return False
    paths = [os.getcwd()] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    return any(os.path.abspath(p) == root for p in paths)


def build_session(
    app_name: str = "deepex-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 8192,
    extra_conf: dict | None = None,
    iceberg_jars: bool = False,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting — the north_rule's
        # "adaptive skew handling for long-document partitions"
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batch sizing replaces the reference's example_batch_size=2048
        # (re_data.py:88). 8192 measured ~1.7x faster than 2048 at full
        # 32-thread saturation: fewer JVM<->python round trips per task —
        # python-worker IPC is syscall-heavy and anti-scales when every
        # core is busy.
        # Preserve the output partitioning of cached plans (Spark >= 3.5
        # flipped this to true, letting AQE re-plan cache materialization
        # at the cost of downstream consumers seeing UnknownPartitioning).
        # The engine's multi-consumer operators (truth_discovery, rerank,
        # temporal) persist an explicitly key-partitioned table precisely
        # so every consumer's aggregate/window/join reuses that one
        # exchange (subset rule) — losing it re-shuffles the cached table
        # once per consumer, which at 100 TB is the dominant cost.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "false",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        .config("spark.buffer.size", "1048576")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures the Python call site of every Column and
        # DataFrame call for error messages, ~5 py4j round trips each: half
        # of a crawl build's driver round trips. Pass it "true" in
        # extra_conf to get the call sites back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if _warm_daemon_applies(master):
        b = b.config("spark.python.daemon.module", "deepex_spark.pyworker")
    if iceberg_jars:
        b = b.config("spark.jars.packages", ICEBERG_PACKAGE)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
