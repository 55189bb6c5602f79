"""The engine's ``file:`` FileSystem (``apache_nifi_spark/localfs.py``)."""

from __future__ import annotations

import logging
import os
import stat

import pytest

from apache_nifi_spark import localfs


def _file_systems(spark):
    """The session's ``file:`` FileSystem and a stock ``LocalFileSystem``
    over Hadoop's own raw FS, initialized with the same conf."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(uri, conf)
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf), stock


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_session_file_system_is_the_engine_class(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == localfs.CONFS["spark.hadoop.fs.file.impl"]
    assert fs.getRawFileSystem().getClass().getName() == "sparkgraft.NioLocalFileSystem$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "sparkgraft.NioLocalFileSystem$Fs"


@pytest.mark.parametrize("mode", [0o640, 0o755, 0o700])
def test_modes_match_the_stock_file_system(spark, tmp_path, mode):
    """A file with its ``.crc`` sidecar and a directory get the same mode
    bits through the engine's FS as through Hadoop's stock one."""
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    got = {}
    for side, fs in zip(("engine", "stock"), _file_systems(spark)):
        base = tmp_path / side
        f = jvm.org.apache.hadoop.fs.Path(str(base / "part-0"))
        out = fs.create(f, perm, True, 4096, 1, 1 << 20, None)
        out.write(b"x" * 10)
        out.close()
        assert fs.mkdirs(jvm.org.apache.hadoop.fs.Path(str(base / "dir")), perm)
        got[side] = {n: _mode(base / n) for n in ("part-0", ".part-0.crc", "dir")}
    assert got["engine"] == got["stock"]
    assert got["engine"]["part-0"] == got["engine"]["dir"] == mode


def test_sticky_mode_takes_the_chmod_fallback(spark, tmp_path):
    """java.nio cannot set a sticky bit; such a mode goes to Hadoop's
    ``chmod`` and lands whole."""
    jvm = spark._jvm
    engine, _ = _file_systems(spark)
    target = tmp_path / "shared"
    target.mkdir(mode=0o700)
    engine.setPermission(
        jvm.org.apache.hadoop.fs.Path(str(target)),
        jvm.org.apache.hadoop.fs.permission.FsPermission(0o1777),
    )
    assert stat.S_IMODE(os.stat(target).st_mode) == 0o1777


def test_link_status_matches_the_stock_file_system(spark, tmp_path):
    """FileContext's rename reads link statuses; the engine's raw FS reads
    them in-process and reports what the stock one does."""
    jvm = spark._jvm
    engine, stock = _file_systems(spark)
    (tmp_path / "data").write_bytes(b"y" * 7)
    os.symlink(tmp_path / "data", tmp_path / "link")
    for name in ("data", "link"):
        p = jvm.org.apache.hadoop.fs.Path(str(tmp_path / name))
        a = engine.getRawFileSystem().getFileLinkStatus(p)
        b = stock.getRawFileSystem().getFileLinkStatus(p)
        assert (a.isSymlink(), a.getLen(), a.getPermission().toShort(), a.getOwner()) == (
            b.isSymlink(), b.getLen(), b.getPermission().toShort(), b.getOwner()
        ), name
        assert a.getPath().toString() == b.getPath().toString()
    link = engine.getRawFileSystem().getFileLinkStatus(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link"))
    )
    assert link.isSymlink()
    assert link.getSymlink().toUri().getPath() == str(tmp_path / "data")


@pytest.fixture
def first_launch(tmp_path, monkeypatch):
    """``plan`` as before a first launch, with an empty jar cache."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))


def test_no_javac_keeps_the_stock_file_system(first_launch, monkeypatch, caplog):
    monkeypatch.setattr(localfs, "_javac", lambda java_home: None)
    with caplog.at_level(logging.WARNING, logger=localfs.__name__):
        assert localfs.plan("local[2]") is None
    [record] = caplog.records
    assert "stock file: FileSystem" in record.getMessage() and "javac" in record.getMessage()


def test_non_local_master_keeps_the_stock_file_system(first_launch, caplog):
    with caplog.at_level(logging.WARNING, logger=localfs.__name__):
        assert localfs.plan("spark://host:7077") is None
    [record] = caplog.records
    assert "spark://host:7077" in record.getMessage()


def test_jar_is_built_once_per_source(first_launch, tmp_path, monkeypatch):
    jar = localfs.plan("local[2]")
    assert jar is not None and jar.startswith(str(tmp_path / "xdg" / "spark-graft" / "jvm"))
    mtime = os.stat(jar).st_mtime_ns
    assert localfs.plan("local[2]") == jar
    assert os.stat(jar).st_mtime_ns == mtime

    changed = tmp_path / "NioLocalFileSystem.java"
    with open(localfs._SOURCE) as f:
        changed.write_text(f.read() + "// changed\n")
    monkeypatch.setattr(localfs, "_SOURCE", str(changed))
    rebuilt = localfs.plan("local[2]")
    assert rebuilt is not None and rebuilt != jar
    assert os.path.exists(jar)
    assert not [n for n in os.listdir(os.path.dirname(jar)) if not n.endswith(".jar")]
