"""The warm Python worker daemon (deepex_spark/pyworker.py): it drops
Spark's redundant archives from the path, preloads the UDF modules in
one thread, and still starts a working pyspark daemon."""

import json
import os
import struct
import subprocess
import sys
import zipfile

import pyspark

from deepex_spark.session import _warm_daemon_applies

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INSTALLED_VERSION_PY = os.path.join(os.path.dirname(pyspark.__file__), "version.py")


def _archive(path, member: str, data: bytes = b"") -> str:
    with zipfile.ZipFile(path, "w") as z:
        parts = member.split("/")
        for i in range(1, len(parts)):  # directory entries, as jar tools write them
            z.writestr("/".join(parts[:i]) + "/", b"")
        z.writestr(member, data)
    return str(path)


def _spark_zips(tmp_path, version_py: bytes):
    """The archives the JVM puts on a worker's path: a pyspark.zip holding
    ``version_py``, a py4j source zip and a jar of classes."""
    return [
        _archive(tmp_path / "pyspark.zip", "pyspark/version.py", version_py),
        _archive(tmp_path / "py4j-0.10.9.9-src.zip", "py4j/__init__.py"),
        _archive(tmp_path / "spark-core_2.13.jar", "org/apache/spark/SparkContext.class"),
    ]


def _python(code: str, pythonpath: list, **env):
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(pythonpath), **env},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


_STRIP = """
import json, sys
import deepex_spark, deepex_spark.config
import deepex_spark.pyworker as w
loaded = sorted(m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j"))
org = "org" in sys.modules  # copy.py's Jython probe finds the jar's org/
stripped = w.strip_spark_archives()
print(json.dumps({
    "stripped": stripped,
    "loaded_before_strip": loaded,
    "org": [org, "org" in sys.modules],
    "path": sys.path,
    "cache": list(sys.path_importer_cache),
}))
"""


def test_strip_drops_zips_before_any_pyspark_import(tmp_path):
    with open(INSTALLED_VERSION_PY, "rb") as f:
        zips = _spark_zips(tmp_path, f.read())
    # a jar that holds Python sources stays importable
    py_jar = _archive(tmp_path / "udfs.jar", "udfs/__init__.py")
    out = _python(_STRIP, zips + [py_jar, REPO])
    assert out["loaded_before_strip"] == []
    assert out["stripped"] is True
    assert not set(zips) & set(out["path"])
    assert not set(zips) & set(out["cache"])
    assert out["org"] == [True, False]
    assert py_jar in out["path"]


def test_strip_keeps_zips_of_another_pyspark(tmp_path):
    zips = _spark_zips(tmp_path, b'__version__: str = "0.0.0"\n')
    out = _python(_STRIP, zips + [REPO])
    assert out["stripped"] is False
    assert out["path"][1:4] == zips  # after the script's "" entry


_WORKERS = """
import json, os, sys
import pandas as pd
from pyspark.sql.functions import pandas_udf
from deepex_spark.session import build_session

spark = build_session(master="local[4]", shuffle_partitions=4)

@pandas_udf("string")
def where(s: pd.Series) -> pd.Series:
    import pyspark
    daemon = os.getppid()
    info = {
        "pid": os.getpid(),
        "pyspark": pyspark.__file__,
        "zips": [k for k, v in sys.path_importer_cache.items()
                 if type(v).__name__ == "zipimporter"],
        "daemon_threads": len(os.listdir(f"/proc/{daemon}/task")),
        "daemon_cmd": open(f"/proc/{daemon}/cmdline").read().split("\\0"),
    }
    return pd.Series([json.dumps(info)] * len(s))

rows = [json.loads(r.w) for r in spark.range(64, numPartitions=16).select(where("id").alias("w")).collect()]
print(json.dumps(rows))
spark.stop()
"""


def test_workers_start_from_the_warm_daemon():
    """16 pandas-UDF tasks at local[4] run on exactly 4 reused workers,
    forked from a single-threaded deepex_spark.pyworker daemon, with the
    site-packages pyspark and no archive on their import path."""
    rows = _python(_WORKERS, [REPO])
    assert len(rows) == 64
    assert {r["pyspark"] for r in rows} == {pyspark.__file__}
    assert all(r["zips"] == [] for r in rows)
    assert len({r["pid"] for r in rows}) == 4
    assert {r["daemon_threads"] for r in rows} == {1}
    assert all("deepex_spark.pyworker" in r["daemon_cmd"] for r in rows)


def test_preload_leaves_one_thread():
    # the daemon's environment: Spark sets OMP_NUM_THREADS to spark.task.cpus
    out = _python(
        "import json, os, threading\n"
        "import deepex_spark.pyworker as w\n"
        "w.strip_spark_archives(); w.preload(w.PRELOAD)\n"
        "print(json.dumps([threading.active_count(), len(os.listdir('/proc/self/task'))]))",
        [REPO],
        OMP_NUM_THREADS="1",
    )
    assert out == [1, 1]


def test_failing_preload_still_starts_the_daemon(tmp_path):
    (tmp_path / "boom.py").write_text("raise RuntimeError('boom at import')\n")
    code = (
        "import deepex_spark.pyworker as w\n"
        "w.PRELOAD = ('boom', 'no_such_module_here') + w.PRELOAD\n"
        "w.main()\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": os.pathsep.join([str(tmp_path), REPO])},
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
    )
    try:
        # the daemon reports its listening port as one big-endian int
        (port,) = struct.unpack("!i", proc.stdout.read(4))
        assert 0 < port < 65536
    finally:
        # Spark stops its daemon by closing stdin (pyspark's manager then
        # exits through its own ``finally: shutdown(1)``)
        proc.stdin.close()
        proc.wait(timeout=60)
    err = proc.stderr.read()
    assert b"preloading boom failed" in err
    assert b"preloading no_such_module_here failed" in err


def test_warm_daemon_only_where_workers_can_import_it(monkeypatch, tmp_path):
    monkeypatch.chdir(REPO)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert _warm_daemon_applies("local[4]")
    assert _warm_daemon_applies("local")
    assert not _warm_daemon_applies("local-cluster[2,1,1024]")
    assert not _warm_daemon_applies("spark://host:7077")
    monkeypatch.chdir(tmp_path)
    assert not _warm_daemon_applies("local[4]")
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert _warm_daemon_applies("local[4]")
