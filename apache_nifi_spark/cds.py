"""Class-data sharing (CDS) for the engine's JVM.

A Spark session loads, parses and verifies about 16k classes before its
first query.  JDK 13+ can write the classes a JVM loaded to a dynamic
archive when it exits (``-XX:ArchiveClassesAtExit``) and map that archive
at every later launch (``-XX:SharedArchiveFile``).  ``launch`` maps one
archive per Java home and Spark jar set, from a per-user cache:

- ``$XDG_CACHE_HOME/spark-graft/cds`` (``~/.cache/...`` when unset) holds
  ``<key>.jsa``, about 145 MB, and an empty ``conf/`` directory;
- with no archive yet, the launch first runs a one-query session in a
  child process, with the session's memory and Java options, whose JVM
  dumps to ``<key>.<pid>-<hex>.part`` when it exits (35-45 s in all,
  once per host).  The dump is not left to the session's own JVM at its
  exit: that dump covers every class the session loaded and took
  16.5-23.3 s on a 4-vCPU host, longer than callers wait for a JVM to
  exit (perfbench's ``kill_tree`` allows 20 s);
- the JVM writes the archive header last, so a candidate whose first four
  bytes are not the magic is still being written or was killed.  A launch
  promotes a complete candidate with ``os.replace`` and deletes an
  incomplete one once no process has it on its command line;
- after the launch, ``/proc/<jvm>/maps`` shows whether the JVM mapped the
  archive.  An archive it did not map is deleted, so the next launch
  writes a new one.

CDS refuses a non-empty directory on the class path.  The launcher puts the
conf directory first, which in a distribution holds only ``*.template``
files Spark never reads; with ``SPARK_CONF_DIR`` unset the launch points it
at the empty ``conf/`` instead.  A conf directory with real files, a
``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
``SPARK_DIST_CLASSPATH`` (more class-path directories), a running JVM,
``-Xshare:off`` among the JVM's options, a caller's own
``spark.driver.extraJavaOptions``, or a ``<key>.failed`` marker left by a
writer that failed each mean a launch without the archive.

The engine's own jar (``localfs.py``) joins the class path after Spark's
jars, through ``SPARK_DIST_CLASSPATH`` scoped to the launch: the JVM maps
an archive whose class path is a prefix of its own, so the archive, its
key and the writer's class path leave the jar out.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import re
import shutil
import struct
import subprocess
import sys
import uuid
from collections.abc import Iterator, Mapping

__all__ = ["cache_dir", "java_home", "launch"]

_LOG = logging.getLogger(__name__)

#: The first word of a complete dynamic archive (JDK 13-17), in host order.
_MAGIC = 0xF00BABA8
#: Options that mean whoever launches the JVM manages class sharing.
_CALLER_SHARING = re.compile(r"-Xshare:off|SharedArchiveFile|ArchiveClassesAtExit")
#: Environment variables the launcher or the JVM read Java options from.
_ENV_OPTIONS = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
#: The launcher puts the directories these name on the class path.
_CLASS_PATH_DIRS = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: Without this, a dump prints ~480 ``[cds]`` warnings (signed jars,
#: generated accessors, ...) to the JVM's stdout.
_QUIET = "-Xlog:cds*=off"
#: The child that writes the archive: the session's memory and Java
#: options (compressed oops and the class path must match the launches
#: that map it), one query, then the JVM's exit and its dump.
_WRITER = """
import sys
from pyspark import SparkContext
from pyspark.sql import SparkSession
memory, options = sys.argv[1:]
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", memory)
    .config("spark.driver.extraJavaOptions", options)
    .getOrCreate()
)
spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
spark.stop()
jvm = SparkContext._gateway.proc
jvm.stdin.close()
sys.exit(jvm.wait())
"""
_WRITER_TIMEOUT_S = 300


def cache_dir(name: str) -> str:
    """The per-user cache directory ``name``:
    ``$XDG_CACHE_HOME/spark-graft/<name>`` (``~/.cache/...`` when unset)."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.realpath(os.path.join(base, "spark-graft", name))


def _cache_root() -> str:
    return cache_dir("cds")


@contextlib.contextmanager
def launch(
    java_options: str, memory: str, extra_conf: Mapping[str, str], class_path: str | None = None
) -> Iterator[str]:
    """Wrap the ``getOrCreate`` that may launch the JVM with ``memory`` of
    heap: yields the ``spark.driver.extraJavaOptions`` to launch with
    (``java_options`` plus the archive's options), sets ``SPARK_CONF_DIR``
    and appends ``class_path`` to ``SPARK_DIST_CLASSPATH`` for the launch,
    and afterwards deletes an archive the JVM did not map."""
    plan = _plan(java_options, memory, extra_conf)
    env = {}
    if class_path:
        env["SPARK_DIST_CLASSPATH"] = os.pathsep.join(
            filter(None, [os.environ.get("SPARK_DIST_CLASSPATH"), class_path])
        )
    if plan is not None:
        conf_dir, archive = plan
        env["SPARK_CONF_DIR"] = conf_dir  # unset, or _plan returns None
        java_options = f"{java_options} -XX:SharedArchiveFile={archive} {_QUIET}".strip()
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield java_options
    finally:
        for k, v in saved.items():
            if v is None:
                del os.environ[k]
            else:
                os.environ[k] = v
    if plan is not None:
        _drop_unmapped(archive)


def _plan(java_options: str, memory: str, extra_conf: Mapping[str, str]) -> tuple[str, str] | None:
    """The conf directory and the archive to launch with, or None for a
    launch without the archive."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # getOrCreate reuses the running JVM
    if "spark.driver.extraJavaOptions" in extra_conf:
        return None  # the caller's options replace the engine's
    jvm_options = " ".join([java_options, *(os.environ.get(v, "") for v in _ENV_OPTIONS)])
    if _CALLER_SHARING.search(jvm_options):
        return None
    home = java_home()
    if home is None or not os.path.isfile(os.path.join(home, "lib/server/classes.jsa")):
        return _skip(f"no base archive lib/server/classes.jsa in the Java home {home}")
    for var in _CLASS_PATH_DIRS:
        if os.environ.get(var):
            return _skip(f"{var} is set")
    spark_home = _find_spark_home()
    spark_conf = os.path.join(spark_home, "conf")
    read = os.listdir(spark_conf) if os.path.isdir(spark_conf) else []
    read = [n for n in read if not n.endswith(".template")]
    if read:
        return _skip(f"{spark_conf} holds {read[0]}")
    root = _cache_root()
    conf_dir = os.path.join(root, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(root, os.W_OK | os.X_OK):
            raise PermissionError(f"{root} is not writable")
        key = _key(home, spark_home)
        archive = _publish(root, key)
        failed = os.path.join(root, f"{key}.failed")
        if not os.path.exists(archive):
            if os.path.exists(failed):
                return _skip(f"the one-query session failed before; delete {failed} to retry")
            part = os.path.join(root, f"{key}.{os.getpid()}-{uuid.uuid4().hex[:8]}.part")
            try:
                _write(part, java_options, memory, conf_dir)
            except OSError as e:
                with open(failed, "w") as f:  # no retry at every launch
                    f.write(f"{e}\n")
                raise
            _publish(root, key)
    except OSError as e:
        return _skip(f"no archive in {root}: {e}")
    if not os.path.exists(archive):
        return _skip(f"the one-query session did not finish {archive}")
    return conf_dir, archive


def _skip(reason: str) -> None:
    _LOG.warning("launching the JVM without a class-data archive: %s", reason)
    return None


def java_home() -> str | None:
    """The Java home ``spark-class`` runs, found as it does, without
    forking ``java``."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _key(java_home: str, spark_home: str) -> str:
    """Names the archive: it maps only into the JVM build that wrote it,
    with the same jars on the class path."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    st = os.stat(os.path.join(java_home, "lib/server/libjvm.so"))
    h.update(f"libjvm.so {st.st_size} {st.st_mtime_ns}\n".encode())
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _write(part: str, java_options: str, memory: str, conf_dir: str) -> None:
    """Run the one-query child whose JVM dumps to ``part`` as it exits."""
    options = f"{java_options} -XX:ArchiveClassesAtExit={part} {_QUIET}".strip()
    try:
        out = subprocess.run(
            [sys.executable, "-c", _WRITER, memory, options],
            env=dict(os.environ, SPARK_CONF_DIR=conf_dir),
            stdin=subprocess.DEVNULL,
            capture_output=True,
            timeout=_WRITER_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        raise OSError(f"the one-query session ran past {_WRITER_TIMEOUT_S} s") from None
    if out.returncode:
        last = out.stderr.decode(errors="replace").strip().splitlines()[-1:]
        raise OSError(f"the one-query session exited with {out.returncode}: {last}")


def _complete(path: str) -> bool:
    with open(path, "rb") as f:
        head = f.read(4)
    return len(head) == 4 and struct.unpack("=I", head)[0] == _MAGIC


def _publish(root: str, key: str) -> str:
    """Promote this key's complete candidate to ``<key>.jsa`` (deleting
    other keys' archives) and delete candidates whose JVM is gone without
    finishing them; returns the archive's path, which may not exist."""
    archive = os.path.join(root, f"{key}.jsa")
    for part in glob.glob(os.path.join(root, "*.part")):
        try:
            if _complete(part):
                if os.path.basename(part).startswith(f"{key}."):
                    os.replace(part, archive)
                    for other in glob.glob(os.path.join(root, "*.jsa")):
                        if other != archive:
                            os.remove(other)
            elif not _dump_target(part):
                os.remove(part)  # its JVM was killed before the dump ended
        except FileNotFoundError:
            continue  # another launch promoted or removed it
    return archive


def _dump_target(part: str) -> bool:
    """Whether a live process, the JVM that writes ``part``, has it as
    its dump target."""
    flag = f"-XX:ArchiveClassesAtExit={part}".encode()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        with contextlib.suppress(OSError), open(f"/proc/{pid}/cmdline", "rb") as f:
            if flag in f.read():
                return True
    return False


def _drop_unmapped(archive: str) -> None:
    from pyspark import SparkContext

    try:
        with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as f:
            if archive in f.read():
                return
    except OSError:
        return  # no /proc to read: keep the archive
    _LOG.warning("the JVM did not map %s; deleting it so the next launch writes a new one", archive)
    with contextlib.suppress(FileNotFoundError):
        os.remove(archive)
