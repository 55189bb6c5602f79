"""Scratch space and stagings: ``io.scratch`` is the engine's one owner of
temporary directories (one per-process root, removed at exit), a drain
removes the private checkpoint it made once the query terminates, and
every staged fixture is built once per (session, sf_dir) through
``functools.cache``."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException

import apache_nifi_spark
from apache_nifi_spark import io
from apache_nifi_spark.streaming import drain, run_to_memory, sources, stream_events

ENGINE = pathlib.Path(apache_nifi_spark.__file__).parent
ROOT = ENGINE.parent


def _calls(tree: ast.AST, attr: str):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr == attr) or (
                isinstance(f, ast.Name) and f.id == attr
            ):
                yield node


def test_only_io_scratch_makes_temp_directories():
    """No ``mkdtemp`` under the engine outside ``io.scratch`` (and the
    root it makes its directories in)."""
    owners = {"scratch", "_scratch_root"}
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == ENGINE / "io.py":
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name in owners:
                    allowed |= {id(c) for c in _calls(fn, "mkdtemp")}
        found += [
            f"{path.relative_to(ROOT)}:{c.lineno}"
            for c in _calls(tree, "mkdtemp")
            if id(c) not in allowed
        ]
    assert found == []


def _empty(value: ast.AST | None) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, ast.List):
        return not value.elts
    return (
        isinstance(value, ast.Call)
        and isinstance(value.func, ast.Name)
        and value.func.id in ("dict", "list")
        and not value.args
        and not value.keywords
    )


def test_no_module_level_memo_tables():
    """Stagings memoize with ``functools.cache``: the registry modules
    and the stream sources hold no module-level empty dict or list but
    the registry's own ``QUERIES``/``ORACLES``."""
    paths = sorted(ENGINE.glob("registry*.py")) + [ENGINE / "streaming" / "sources.py"]
    found = []
    for path in paths:
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            if _empty(value) and set(names) - {"QUERIES", "ORACLES"}:
                found.append(f"{path.name}:{node.lineno} {names}")
    assert len(paths) == 8
    assert found == []


_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from apache_nifi_spark import io
from apache_nifi_spark.registry import QUERIES
from apache_nifi_spark.session import get_spark

spark = get_spark(app_name="scratch-exit", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rows = {n: QUERIES[n](spark, sys.argv[2]).count() for n in sys.argv[3:]}
print(json.dumps({"root": io._scratch_root(), "rows": rows}))
spark.stop()
"""


def test_scratch_root_is_removed_at_exit(tmp_path, sf_dir):
    """A process that runs a partitioned file write, a stateful drain,
    a Delta staging and an FTP round trip, then exits normally, leaves
    no ``anspark_*`` entry in its temp directory."""
    queries = [
        "put_file_partitioned",
        "stream_stateful_running_totals",
        "delta_log_snapshot_read",
        "put_ftp_roundtrip",
    ]
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env.update(TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(ROOT), sf_dir, *queries],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(report["rows"]) == set(queries) and all(report["rows"].values())
    assert os.path.dirname(report["root"]) == str(tmp_path)
    assert sorted(p.name for p in tmp_path.glob("anspark_*")) == []


def test_drain_removes_only_its_private_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """``run_to_memory``'s private checkpoint is gone once the query
    terminates; a failed drain keeps its checkpoint; a checkpoint the
    caller passes to ``drain`` is never touched."""
    made = []

    def recording_scratch(prefix):
        made.append(io.scratch(prefix))
        return made[-1]

    ids = stream_events(spark, sf_dir).select("event_id")
    with monkeypatch.context() as m:
        m.setattr(sources, "scratch", recording_scratch)
        assert run_to_memory(ids, shuffle_partitions=2).count() > 0
        (drained,) = made
        with pytest.raises(AnalysisException):  # complete mode, no aggregation
            run_to_memory(ids, output_mode="complete", shuffle_partitions=2)
        _, failed = made
    assert os.path.basename(drained).startswith("anspark_cp_")
    assert not os.path.exists(drained)
    assert os.path.isdir(failed)

    kept = tmp_path / "cp"
    drain(
        ids.writeStream.format("memory").queryName("t_scratch_kept_cp"),
        checkpoint=str(kept),
    )
    assert (kept / "commits" / "0").is_file()
    assert (kept / "offsets" / "0").is_file()


def test_staging_runs_once_per_session_and_input(spark, sf_dir, monkeypatch):
    """A staging's body runs once per (session, sf_dir): repeated calls
    share the first result, a second session or input stages anew."""
    from apache_nifi_spark.registry import registry_coverage

    made, scratch = [], io.scratch

    def recording_scratch(prefix):
        made.append(scratch(prefix))
        return made[-1]

    monkeypatch.setattr(io, "scratch", recording_scratch)
    stage = registry_coverage._staged_rolling_dir
    s1, s2 = spark.newSession(), spark.newSession()
    first = stage(s1, sf_dir)
    assert stage(s1, sf_dir) == first and made == [first]
    second = stage(s2, sf_dir)
    assert second != first and made == [first, second]
    other_dir = sf_dir.rstrip("/") + "/"  # same fixture, another input key
    assert stage(s1, other_dir) not in (first, second) and len(made) == 3
    assert stage(s2, sf_dir) == second and len(made) == 3

    # every other staging is memoized the same way, but the bucketed
    # tables, whose staleness the session catalog decides
    unmemoized = [
        f"{name}.{fn_name}"
        for name, mod in sorted(sys.modules.items())
        if name.startswith("apache_nifi_spark.registry")
        for fn_name, fn in vars(mod).items()
        if fn_name.startswith("_staged_") and not hasattr(fn, "cache_info")
    ]
    assert unmemoized == ["apache_nifi_spark.registry._staged_bucketed_tables"]
