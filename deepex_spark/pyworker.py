"""PySpark worker daemon whose forked workers start warm.

``session.build_session`` sets this module as ``spark.python.daemon.module``
for local masters, so the JVM starts the worker daemon with
``python -m deepex_spark.pyworker`` instead of ``-m pyspark.daemon``. The
daemon forks one worker per concurrent Python task, and a worker is a
copy of the daemon. Before it serves, this daemon

1. drops ``pyspark.zip``, the py4j source zip and the spark-core jar
   from ``sys.path`` when the same pyspark is installed on the rest of
   the path. The JVM puts all three on every worker's path, and each
   task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
   which makes every zipimporter re-read its archive's directory:
   ~0.11 CPU-s per task on CPython 3.11 with PySpark 4.1 (the jar alone
   lists 5,359 entries). An executor that ships only the zip, or a
   different pyspark, keeps its path.
2. imports numpy, pandas, pyarrow, ``pyspark.worker`` and the modules the
   pipeline's UDFs run (the front end, the kernel and its native
   extension) in one thread, then freezes them out of the garbage
   collector. Every worker starts with them imported and shares their
   pages copy-on-write instead of importing a private copy.
3. runs ``pyspark.daemon.manager()``.

``runpy`` imports ``deepex_spark`` and ``deepex_spark.config`` before this
module; neither imports pyspark, and this module imports it only after
step 1, so no pyspark module is ever loaded from the zip.
"""

from __future__ import annotations

import gc
import importlib
import importlib.machinery
import os
import sys
import traceback
import zipfile

# what a warm worker has imported; a failed import is left to the task
PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.worker",
    "deepex_spark.functions.sentencize",
    "deepex_spark.kernel.sentence_kernel",
    "deepex_spark.nlp.attention",
    "deepex_spark.operators.rerank",
)


def _holds_python(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # unreadable: leave it where it is


def _spark_archives() -> list:
    """The archives the JVM puts on a worker's path: pyspark.zip, the py4j
    source zip, and the jar of Spark's own classes (which holds Python
    sources only in some builds)."""
    out = []
    for entry in sys.path:
        name = os.path.basename(entry)
        if name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith("-src.zip")):
            out.append(entry)
        elif name.endswith(".jar") and not _holds_python(entry):
            out.append(entry)
    return out


def _read_zip_member(zip_path: str, member: str) -> bytes | None:
    try:
        with zipfile.ZipFile(zip_path) as z:
            return z.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def strip_spark_archives() -> bool:
    """Drop Spark's archives from ``sys.path`` and
    ``sys.path_importer_cache`` when the rest of the path imports pyspark
    and py4j and its ``pyspark/version.py`` equals pyspark.zip's. True
    when they were dropped."""
    archives = _spark_archives()
    pyspark_zip = next((p for p in archives if os.path.basename(p) == "pyspark.zip"), None)
    if pyspark_zip is None:
        return False
    rest = [p for p in sys.path if p not in archives]
    specs = {n: importlib.machinery.PathFinder.find_spec(n, rest) for n in ("pyspark", "py4j")}
    if any(s is None or not s.submodule_search_locations for s in specs.values()):
        return False
    version_py = os.path.join(specs["pyspark"].submodule_search_locations[0], "version.py")
    try:
        with open(version_py, "rb") as f:
            installed = f.read()
    except OSError:
        return False
    if installed != _read_zip_member(pyspark_zip, "pyspark/version.py"):
        return False

    def inside(entry: str) -> bool:
        return any(entry == a or entry.startswith(a + os.sep) for a in archives)

    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if inside(key):
            del sys.path_importer_cache[key]
    # a namespace package found only in the jar (``org``: copy.py probes
    # ``org.python.core`` for Jython) would keep a zipimporter on it
    for name, mod in list(sys.modules.items()):
        path = list(getattr(mod, "__path__", None) or ())
        if path and all(inside(p) for p in path):
            del sys.modules[name]
    return True


def preload(modules) -> None:
    """Import ``modules`` (skipping any that fails, with its traceback on
    stderr) and freeze everything imported so far out of the collector,
    so workers' collections neither scan nor touch those pages."""
    # pyarrow's jemalloc starts a purging thread when it loads, and a
    # forked child runs without one anyway; without it the daemon stays
    # single-threaded, so no lock can be held across a fork
    os.environ.setdefault("JE_ARROW_MALLOC_CONF", "background_thread:false")
    for name in modules:
        try:
            importlib.import_module(name)
        except Exception:
            print(f"deepex_spark.pyworker: preloading {name} failed; workers import it per task",
                  file=sys.stderr)
            traceback.print_exc()
    gc.collect()
    gc.freeze()


def main() -> None:
    strip_spark_archives()
    preload(PRELOAD)
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
