"""Build-and-load helper for the native beam-walk kernel (_cbeam.c).

The extension is compiled once per machine/interpreter from the committed C
source (no network, plain ``cc`` from the toolchain) into the package
directory — or, when that is read-only, a private per-user temp dir
(mode 0o700; a .so is loaded from it only while lstat shows the dir and
the file owned by this user, not symlinks and not writable by group or
others, so another local user cannot plant one). A fresh build deletes the
``_cbeam_<tag>`` builds of older sources in its dir. Concurrent builders
(32 local executor python workers all importing the kernel at once)
serialize on an ``fcntl`` lock and the compile writes to a unique temp
name followed by an atomic rename, so a half-written .so can never be
loaded.

``load_cbeam()`` returns the module or ``None`` (no compiler, build error,
or ``DEEPEX_DISABLE_CBEAM=1``) — callers fall back to the pure-Python
implementation, which computes the identical result
(tests/test_cbeam_parity.py pins bit-equality over the fixture corpus).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import stat
import subprocess
import sys
import sysconfig
import tempfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_PKG_DIR, "_cbeam.c")


def _src_tag() -> str:
    with open(_SRC, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _so_name(tag: str) -> str:
    abi = sys.implementation.cache_tag  # e.g. cpython-311
    return f"_cbeam_{tag}.{abi}.so"


def _candidate_dirs() -> list[tuple[str, bool]]:
    """(dir, private): the package dir, then the per-user temp dir, which
    must pass ``_private`` before anything in it is trusted."""
    tmp_dir = os.path.join(tempfile.gettempdir(), f"deepex_cbeam_{os.getuid()}")
    return [(_PKG_DIR, False), (tmp_dir, True)]


def _private(path: str) -> bool:
    """lstat: owned by this user, not a symlink, no group/other write bit."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (
        st.st_uid == os.getuid()
        and not stat.S_ISLNK(st.st_mode)
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    )


def _drop_stale(d: str, tag: str) -> None:
    """Delete builds of other source revisions (``_cbeam_<old tag>.*.so``)."""
    for name in os.listdir(d):
        stale = not name.startswith(f"_cbeam_{tag}.")
        if stale and name.startswith("_cbeam_") and name.endswith(".so"):
            try:
                os.unlink(os.path.join(d, name))
            except OSError:
                pass


def _compile(so_path: str) -> bool:
    cc = os.environ.get("CC", "cc")
    include = sysconfig.get_paths()["include"]
    tmp = so_path + f".tmp.{os.getpid()}"
    cmd = [cc, "-O2", "-fPIC", "-shared", f"-I{include}", _SRC, "-o", tmp]
    try:
        r = subprocess.run(cmd, capture_output=True, timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        return False
    if r.returncode != 0:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return False
    os.chmod(tmp, 0o755)  # whatever the umask: no group/other write bit
    os.replace(tmp, so_path)  # atomic on POSIX
    return True


def _import_so(so_path: str):
    # name must match the extension's PyInit__cbeam export
    spec = importlib.util.spec_from_file_location("_cbeam", so_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def load_cbeam():
    if os.environ.get("DEEPEX_DISABLE_CBEAM") == "1":
        return None
    try:
        tag = _src_tag()
    except OSError:
        return None
    for d, private in _candidate_dirs():
        so_path = os.path.join(d, _so_name(tag))
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
            if private and not _private(d):
                continue  # pre-existing and not ours alone: never load from it
            if os.path.exists(so_path):
                if private and not _private(so_path):
                    continue
                return _import_so(so_path)
            lock_path = os.path.join(d, "_cbeam.lock")
            import fcntl

            with open(lock_path, "w") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                try:
                    # a concurrent builder may have won while we waited
                    if not os.path.exists(so_path):
                        if not _compile(so_path):
                            continue
                        _drop_stale(d, tag)
                finally:
                    fcntl.flock(lock, fcntl.LOCK_UN)
            return _import_so(so_path)
        except (ImportError, OSError):
            continue
    return None
