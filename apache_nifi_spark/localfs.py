"""The engine's ``file:`` FileSystem.

Without ``libhadoop``, Hadoop's ``RawLocalFileSystem`` forks a ``chmod``
for every file and directory it creates (``setPermission``) and, under
FileContext, a ``readlink`` for every ``getFileLinkStatus`` of a rename.
Every writer pays it: checkpoints, state-store deltas, ``.crc`` sidecars,
parquet part files, Delta and Iceberg commits.
``jvm/sparkgraft/NioLocalFileSystem.java`` is ``LocalFileSystem`` over a
raw FS that does the same through ``java.nio`` in-process; a mode with a
sticky bit still goes to ``chmod``.

``plan`` builds its jar with the Java home's ``javac`` once per source and
Java home into ``$XDG_CACHE_HOME/spark-graft/jvm`` (``~/.cache/...`` when
unset; about 1-5 s); ``CONFS`` select its FS for both ``FileSystem``
(``fs.file.impl``) and ``FileContext``
(``fs.AbstractFileSystem.file.impl``).  The build writes to a temporary
file and ``os.replace``-s it into place, so a concurrent first launch
never reads half a jar.  A non-local master, or a host without ``javac``,
keeps Hadoop's stock FS and logs why.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from apache_nifi_spark import cds

__all__ = ["CONFS", "plan"]

_LOG = logging.getLogger(__name__)

_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "sparkgraft", "NioLocalFileSystem.java"
)
_CLASS = "sparkgraft.NioLocalFileSystem"
CONFS = {
    "spark.hadoop.fs.file.impl": _CLASS,
    "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_CLASS}$Fs",
}
#: Masters whose executors run in the driver's JVM, on its class path.
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
_JAVAC_TIMEOUT_S = 120


def plan(master: str) -> str | None:
    """The jar to append to the class path of the JVM ``getOrCreate`` is
    about to launch with ``CONFS``; None keeps Hadoop's stock FS."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # getOrCreate reuses the running JVM and its class path
    if not _LOCAL_MASTER.fullmatch(master):
        return _skip(f"master {master} runs executors outside the driver's JVM")
    try:
        return _build()
    except OSError as e:
        return _skip(str(e))


def _skip(reason: str) -> None:
    _LOG.warning("keeping Hadoop's stock file: FileSystem: %s", reason)
    return None


def _javac(java_home: str | None) -> str | None:
    """The Java home's ``javac``, else the one on ``PATH``."""
    if java_home and os.access(os.path.join(java_home, "bin", "javac"), os.X_OK):
        return os.path.join(java_home, "bin", "javac")
    return shutil.which("javac")


def _build() -> str:
    """The cached jar, built first if this source and Java home have none."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = cds.java_home()
    with open(_SOURCE, "rb") as f:
        source = f.read()
    home = os.path.realpath(java_home or "")
    key = hashlib.sha256(source + f"\0{home}".encode()).hexdigest()[:16]
    root = cds.cache_dir("jvm")
    jar = os.path.join(root, f"{key}.jar")
    if os.path.exists(jar):
        return jar
    javac = _javac(java_home)
    if javac is None:
        raise OSError(f"no javac in the Java home {java_home} or on PATH")
    jars = os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")
    api = os.pathsep.join(glob.glob(jars))
    os.makedirs(root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        try:
            out = subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", api, "-d", tmp, _SOURCE],
                stdin=subprocess.DEVNULL,
                capture_output=True,
                timeout=_JAVAC_TIMEOUT_S,
            )
        except subprocess.TimeoutExpired:
            raise OSError(f"{javac} ran past {_JAVAC_TIMEOUT_S} s") from None
        if out.returncode:
            first = out.stderr.decode(errors="replace").strip().splitlines()[:1]
            raise OSError(f"{javac} exited with {out.returncode}: {first}")
        part = os.path.join(tmp, "part.jar")
        with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
            for cls in sorted(glob.glob(os.path.join(tmp, "sparkgraft", "*.class"))):
                z.write(cls, os.path.relpath(cls, tmp))
        os.replace(part, jar)
    return jar
