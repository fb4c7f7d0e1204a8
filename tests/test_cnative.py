"""Loading the native kernel from the per-user temp dir: a dir someone
else could write into is never trusted, a fresh one is private, and a
fresh build drops the builds of older sources."""

import os
import shutil
import tempfile

import pytest

from deepex_spark.kernel import _cnative
from deepex_spark.kernel import sentence_kernel as sk


@pytest.fixture
def tmp_only(tmp_path, monkeypatch):
    """Route load_cbeam to the temp-dir fallback under ``tmp_path``: the
    package dir is made unusable (a path below a regular file)."""
    (tmp_path / "file").write_text("")
    monkeypatch.setattr(_cnative, "_PKG_DIR", str(tmp_path / "file" / "pkg"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.delenv("DEEPEX_DISABLE_CBEAM", raising=False)
    return tmp_path / f"deepex_cbeam_{os.getuid()}"


@pytest.mark.skipif(sk._cbeam is None, reason="native kernel unavailable (no compiler)")
def test_planted_group_writable_dir_is_never_loaded(tmp_only):
    # a loadable build of the current source, planted in a dir of the
    # right name but mode 0o777
    tmp_only.mkdir()
    os.chmod(tmp_only, 0o777)
    shutil.copy(sk._cbeam.__file__, tmp_only / _cnative._so_name(_cnative._src_tag()))
    assert _cnative.load_cbeam() is None
    # a private dir whose build is group-writable is refused too
    os.chmod(tmp_only, 0o700)
    os.chmod(tmp_only / _cnative._so_name(_cnative._src_tag()), 0o775)
    assert _cnative.load_cbeam() is None


@pytest.mark.skipif(shutil.which(os.environ.get("CC", "cc")) is None, reason="no C compiler")
def test_fresh_build_is_private_and_drops_stale_builds(tmp_only):
    tmp_only.mkdir(mode=0o700)
    stale = tmp_only / "_cbeam_0123456789abcdef.cpython-311.so"
    stale.write_bytes(b"old build")
    other = tmp_only / "_cbeam.c.keep"
    other.write_text("")
    mod = _cnative.load_cbeam()
    assert mod is not None and hasattr(mod, "ie_sentence")
    assert not stale.exists() and other.exists()
    assert os.listdir(tmp_only).count(_cnative._so_name(_cnative._src_tag())) == 1
    shutil.rmtree(tmp_only)
    assert _cnative.load_cbeam() is not None
    assert os.stat(tmp_only).st_mode & 0o777 == 0o700
