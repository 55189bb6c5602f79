"""The session's class-data archive (``apache_nifi_spark/cds.py``).

Each JVM-launching case runs ``get_spark`` in a child process with its own
``XDG_CACHE_HOME``: the first child writes the archive (through a one-query
session of its own) and maps it, the second maps it, and a conf directory
with real files keeps the archive out of the launch.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys
from collections import Counter

import pytest

from apache_nifi_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from pyspark import SparkContext
from apache_nifi_spark.session import get_spark
spark = get_spark(app_name="test-session", shuffle_partitions=2)
rows = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().collect()
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{{pid}}/maps") as f:
    maps = sorted({{line.split()[-1] for line in f if line.rstrip().endswith(".jsa")}})
with open(f"/proc/{{pid}}/cmdline") as f:
    cmdline = f.read().split(chr(0))
print("RESULT " + json.dumps({{
    "rows": sorted([r.k, r["count"]] for r in rows),
    "maps": maps,
    "cmdline": cmdline,
    "marker": spark.conf.get("spark.graft.test.marker", None),
}}), flush=True)
"""

EXPECTED_ROWS = sorted([k, n] for k, n in Counter(i % 7 for i in range(100)).items())


def run_child(xdg: str, conf_dir: str | None = None) -> tuple[dict, str]:
    """``get_spark`` plus one query in a child process; its result and its
    console output (stdout and stderr)."""
    env = dict(os.environ, XDG_CACHE_HOME=xdg, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    for var in ("SPARK_CONF_DIR", "SPARK_GRAFT_JAVA_OPTS"):
        env.pop(var, None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = conf_dir
    out = subprocess.run(
        [sys.executable, "-c", CHILD], env=env, capture_output=True, text=True, timeout=300
    )
    console = out.stdout + out.stderr
    assert out.returncode == 0, console[-3000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):]), console


def listing(root: str) -> list[str]:
    return sorted(n for n in os.listdir(root) if n.endswith((".jsa", ".part")))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory) -> tuple[str, str, dict, str]:
    """A cache after one child: the XDG dir, the archive root, and the
    child's result and console."""
    xdg = str(tmp_path_factory.mktemp("xdg"))
    got, console = run_child(xdg)
    return xdg, os.path.join(xdg, "spark-graft", "cds"), got, console


def test_first_launch_writes_archive_and_later_ones_map_it(dumped):
    xdg, root, first, first_console = dumped
    [name] = listing(root)
    archive = os.path.join(root, name)
    assert name.endswith(".jsa") and cds._complete(archive)
    assert archive in first["maps"]
    assert first["rows"] == EXPECTED_ROWS

    second, console = run_child(xdg)
    assert listing(root) == [name]
    assert f"-XX:SharedArchiveFile={archive}" in second["cmdline"]
    assert archive in second["maps"]
    assert second["rows"] == EXPECTED_ROWS
    assert "[cds" not in console and "[cds" not in first_console


def test_engine_jar_is_appended_and_the_archive_still_maps(dumped):
    """The engine's FileSystem jar (``localfs.py``) ends the JVM's class
    path, after Spark's jars: the archive, written by a JVM without it,
    still maps, and its key leaves the jar out."""
    from pyspark.find_spark_home import _find_spark_home

    xdg, root, first, _ = dumped
    class_path = first["cmdline"][first["cmdline"].index("-cp") + 1].split(os.pathsep)
    assert os.path.dirname(class_path[-1]) == os.path.join(xdg, "spark-graft", "jvm")
    assert class_path[-1].endswith(".jar")
    assert os.path.join(_find_spark_home(), "jars", "*") in class_path[:-1]
    archive = os.path.join(root, cds._key(cds.java_home(), _find_spark_home()) + ".jsa")
    assert archive in first["maps"]


def test_incomplete_candidate_is_never_mapped(tmp_path):
    key = "0123456789abcdef"
    root = str(tmp_path)
    # what a dump leaves until it ends, and after a kill: a zero header
    part = tmp_path / f"{key}.1-aa.part"
    part.write_bytes(bytes(4096))
    # a live process with ``part`` as its dump target stands in for its JVM
    jvm = subprocess.Popen(
        [sys.executable, "-c", "import sys; sys.stdin.read()", f"-XX:ArchiveClassesAtExit={part}"],
        stdin=subprocess.PIPE,
    )
    try:
        archive = cds._publish(root, key)
        assert not os.path.exists(archive)  # neither mapped nor raced
        assert part.exists()
    finally:
        jvm.stdin.close()
        jvm.wait(timeout=30)

    archive = cds._publish(root, key)
    assert not os.path.exists(archive)
    assert not part.exists()

    complete = tmp_path / f"{key}.2-bb.part"
    complete.write_bytes(struct.pack("=I", cds._MAGIC) + bytes(4092))
    other_key = tmp_path / "fedcba9876543210.jsa"
    other_key.write_bytes(bytes(4096))
    assert cds._publish(root, key) == os.path.join(root, f"{key}.jsa")
    assert listing(root) == [f"{key}.jsa"]


def test_conf_dir_with_files_launches_without_archive(dumped, tmp_path):
    xdg, root, _, _ = dumped
    before = listing(root)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.test.marker  present\n")

    got, console = run_child(xdg, str(conf))
    assert got["marker"] == "present"
    assert got["rows"] == EXPECTED_ROWS
    assert not any("SharedArchiveFile" in a or "ArchiveClassesAtExit" in a for a in got["cmdline"])
    assert not any(m.startswith(root) for m in got["maps"])
    assert "launching the JVM without a class-data archive: SPARK_CONF_DIR" in console
    assert listing(root) == before


def test_failed_writer_is_not_retried(tmp_path, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)  # as before a first launch
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    for var in cds._CLASS_PATH_DIRS:
        monkeypatch.delenv(var, raising=False)
    calls = []

    def failing(*args):
        calls.append(args)
        raise OSError("the one-query session exited with 1")

    monkeypatch.setattr(cds, "_write", failing)
    assert cds._plan("", "1g", {}) is None
    assert cds._plan("", "1g", {}) is None
    assert len(calls) == 1
    [marker] = [n for n in os.listdir(cds._cache_root()) if n.endswith(".failed")]


def test_launch_appends_the_engine_jar_for_the_launch_only(tmp_path, monkeypatch):
    """``SPARK_DIST_CLASSPATH`` holds the engine's jar only while the JVM
    launches; a user's class path still means a launch without the
    archive, with the jar after the user's entries."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)  # as before a first launch
    for var in cds._CLASS_PATH_DIRS:
        monkeypatch.delenv(var, raising=False)
    archive = str(tmp_path / "0123456789abcdef.jsa")
    plan = cds._plan
    monkeypatch.setattr(cds, "_plan", lambda *a: (str(tmp_path), archive))
    monkeypatch.setattr(cds, "_drop_unmapped", lambda archive: None)
    with cds.launch("", "1g", {}, class_path="/engine/fs.jar") as options:
        assert os.environ["SPARK_DIST_CLASSPATH"] == "/engine/fs.jar"
        assert os.environ["SPARK_CONF_DIR"] == str(tmp_path)
        assert f"-XX:SharedArchiveFile={archive}" in options
    assert "SPARK_DIST_CLASSPATH" not in os.environ and "SPARK_CONF_DIR" not in os.environ

    monkeypatch.setattr(cds, "_plan", plan)
    monkeypatch.setenv("SPARK_DIST_CLASSPATH", "/user/classes")
    with cds.launch("", "1g", {}, class_path="/engine/fs.jar") as options:
        expected = os.pathsep.join(["/user/classes", "/engine/fs.jar"])
        assert os.environ["SPARK_DIST_CLASSPATH"] == expected
        assert "SharedArchiveFile" not in options
    assert os.environ["SPARK_DIST_CLASSPATH"] == "/user/classes"
