"""The engine's Python worker daemon (``apache_nifi_spark.pyworker``).

Workers fork from it, so each Python UDF task re-reads a zip archive on
``importlib.invalidate_caches()`` only when the archive changed.  These
tests pin the lazy re-read itself, that Spark's workers really run it, that
they import the engine from any working directory, and that the queries
whose plans hold a Python UDF still match their DuckDB oracles.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_lazy_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the daemon changes nothing on Python >= 3.12"
)


@pytest.fixture
def lazy_zip_invalidation():
    """The daemon's ``invalidate_caches`` on the class, undone afterwards
    (importing the module patches the class)."""
    from apache_nifi_spark import pyworker

    zipimport.zipimporter.invalidate_caches = pyworker.invalidate_caches
    yield
    zipimport.zipimporter.invalidate_caches = pyworker._reread


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@needs_lazy_patch
def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch, lazy_zip_invalidation):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_old_mod.py": "X = 1\n"})
    importer = zipimport.zipimporter(archive)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importer.invalidate_caches()  # first call stamps the importer
    assert len(reads) == 1
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == 1, "an unchanged archive was re-read"

    _write_zip(archive, {"graft_old_mod.py": "X = 1\n", "graft_new_mod.py": "Y = 2\n"})
    importer.invalidate_caches()
    assert reads == [archive, archive]

    monkeypatch.syspath_prepend(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    try:
        assert importlib.import_module("graft_new_mod").Y == 2
    finally:
        sys.modules.pop("graft_new_mod", None)


def test_spark_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame(
            {"file": [code.co_filename], "minor": [sys.version_info[1]]}
        )

    rows = spark.range(1).mapInPandas(probe, "file string, minor long").collect()
    assert rows
    for r in rows:
        if r.minor < 12:
            assert r.file.endswith(os.path.join("apache_nifi_spark", "pyworker.py"))
        else:
            assert not r.file.endswith("pyworker.py")


def test_workers_import_engine_from_any_working_directory(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from apache_nifi_spark.session import get_spark

        def where(batches):
            import apache_nifi_spark
            import pandas as pd
            for _ in batches:
                pass
            yield pd.DataFrame({{"file": [apache_nifi_spark.__file__]}})

        s = get_spark(app_name="pyworker-cwd", master="local[1]", shuffle_partitions=1)
        try:
            print("ENGINE", s.range(1).mapInPandas(where, "file string").first().file)
        finally:
            s.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    engine = os.path.join(REPO, "apache_nifi_spark", "__init__.py")
    assert f"ENGINE {engine}" in out.stdout.splitlines()


@pytest.mark.parametrize("name", ["stream_stateful_running_totals", "invoke_http_enrich"])
def test_python_udf_queries_match_oracle(spark, sf_dir, name):
    from apache_nifi_spark.registry import ORACLES, QUERIES
    from tools.check_oracle import compare, duck_con

    got = QUERIES[name](spark, sf_dir).toPandas()
    want = duck_con(sf_dir).execute(ORACLES[name]).df()
    assert compare(name, got, want) == []
