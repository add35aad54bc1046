"""Tests for the session factory's local filesystem: permissions set
through java.nio (session.py, jvm/NioLocalFileSystem.java)."""

from __future__ import annotations

import logging
import os
import shutil
import stat
from pathlib import Path

import pytest

from etl_rust_spark import session

needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None, reason="no javac to compile the local filesystem"
)


def _fs(spark, path):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(str(path)).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


@needs_javac
def test_session_local_fs_is_nio(spark, tmp_path):
    fs = _fs(spark, tmp_path)
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == session.LOCAL_FS_CLASS + "$Raw"


def test_run_range_sink_modes(spark, tmp_path):
    """Hadoop's default modes under its 022 umask, as a forked chmod set
    them: files 0644, directories 0755."""
    from etl_rust_spark.etl import run_range
    from etl_rust_spark.sources.chain import SyntheticChain

    out = tmp_path / "sink"
    run_range(spark, SyntheticChain(), 0, 30, str(out), bucket_size=10)
    modes = {}
    for p in [out, *out.rglob("*")]:
        modes.setdefault(p.is_dir(), set()).add(stat.S_IMODE(p.stat().st_mode))
    assert modes == {True: {0o755}, False: {0o644}}


def test_set_permission_through_filesystem(spark, tmp_path):
    """Plain rwx modes go through java.nio; a sticky directory mode keeps
    Hadoop's own path."""
    jvm = spark._jvm
    fs = _fs(spark, tmp_path)
    f = tmp_path / "f"
    f.write_bytes(b"x")
    d = tmp_path / "d"
    d.mkdir()
    hpath, perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    fs.setPermission(hpath(str(f)), perm(0o600))
    fs.setPermission(hpath(str(d)), perm(0o1777))
    assert stat.S_IMODE(f.stat().st_mode) == 0o600
    assert stat.S_IMODE(d.stat().st_mode) == 0o1777


@needs_javac
def test_local_fs_classes_cached(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    first = session._local_fs_classes()
    assert first and Path(first, "etl_rust_spark", "jvm", "NioLocalFileSystem$Raw.class").is_file()

    def no_javac(*a, **kw):
        raise AssertionError("javac started on a cache hit")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    assert session._local_fs_classes() == first
    # only the class directory is left in the cache, no build leftovers
    assert [p.name for p in (tmp_path / "etl_rust_spark").iterdir()] == [Path(first).name]


def test_no_javac_keeps_hadoop_fs(tmp_path, monkeypatch, caplog):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._local_fs_classes() is None
        confs = session._session_confs("local[2]", 2, None)
    assert "spark.hadoop.fs.file.impl" not in confs
    assert "spark.driver.extraClassPath" not in confs
    assert any("no javac" in r.getMessage() for r in caplog.records)


def test_failed_javac_keeps_hadoop_fs(tmp_path, monkeypatch, caplog):
    fake = tmp_path / "bin" / "javac"
    fake.parent.mkdir()
    fake.write_text("#!/bin/sh\necho 'error: no compiler' >&2\nexit 1\n")
    fake.chmod(0o755)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("PATH", str(fake.parent))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._local_fs_classes() is None
    assert any("no compiler" in r.getMessage() for r in caplog.records)
    assert list((tmp_path / "cache" / "etl_rust_spark").iterdir()) == []


@needs_javac
def test_confs_local_master_only_and_keep_class_path(spark, monkeypatch):
    classes = session._local_fs_classes()
    assert session._jvm_has(session.LOCAL_FS_CLASS)  # the test session's JVM
    assert not session._jvm_has("etl_rust_spark.jvm.Missing")
    monkeypatch.setattr(session, "_jvm_has", lambda c: True)
    confs = session._session_confs("local[2]", 2, {"spark.driver.extraClassPath": "/x.jar"})
    assert confs["spark.hadoop.fs.file.impl"] == session.LOCAL_FS_CLASS
    assert confs["spark.driver.extraClassPath"] == classes + os.pathsep + "/x.jar"
    remote = session._session_confs("spark://host:7077", 2, None)
    assert "spark.hadoop.fs.file.impl" not in remote
    assert "spark.driver.extraClassPath" not in remote
