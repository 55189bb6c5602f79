"""The landing contract (``streaming/listen.Landing``): whole files under
distinct, gap-free sequence numbers, an injective line escape, a record
count to wait on — and no second copy of it anywhere in the package."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import sys
import threading

import pytest

import apache_nifi_spark
from apache_nifi_spark.streaming.listen import Landing, unescape_landed


def test_concurrent_publishers_get_distinct_gap_free_names(tmp_path):
    landing = Landing(str(tmp_path), ".log")
    n_threads, per_thread = 8, 40

    def publish(t: int) -> None:
        for i in range(per_thread):
            landing.publish_lines([f"{t} {i}".encode()])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=publish, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)

    names = os.listdir(tmp_path)
    assert not [n for n in names if n.startswith(".")], "temp file left over"
    assert all(re.fullmatch(r"\d{8}_[0-9a-f]{8}\.log", n) for n in names), names
    seqs = sorted(int(n[:8]) for n in names)
    assert seqs == list(range(1, n_threads * per_thread + 1))
    # each thread's files carry increasing sequence numbers in publish order
    by_thread: dict[int, list[tuple[int, int]]] = {}
    for n in names:
        t, i = map(int, (tmp_path / n).read_bytes().split())
        by_thread.setdefault(t, []).append((i, int(n[:8])))
    for pairs in by_thread.values():
        assert [s for _, s in sorted(pairs)] == sorted(s for _, s in pairs)
    assert landing.count == n_threads * per_thread
    landing.wait(n_threads * per_thread, timeout=1)


def test_wait_times_out_short_of_the_count(tmp_path):
    landing = Landing(str(tmp_path), ".log")
    landing.publish_lines([b"a", b"b"])
    landing.wait(2, timeout=1)
    with pytest.raises(TimeoutError, match="2 of 3"):
        landing.wait(3, timeout=0.1)


@pytest.mark.parametrize(
    "payload",
    [
        b"two\nlines", b"literal \\n pair", b"back\\slash", b"\\", b"\\\\",
        b"\\\n", b"\\n\n\\", b"\n\\n\\\\n", b"",
    ],
)
def test_escape_is_inverted_by_unescape_landed(payload):
    escaped = Landing.escape(payload)
    assert b"\n" not in escaped
    assert unescape_landed(escaped.decode()) == payload.decode()


def test_one_landing_module_and_one_read_exact():
    """Only ``streaming/listen.py`` writes landing files (no other module
    defines ``_land`` or publishes with ``os.rename``), only ``net.py``
    defines ``read_exact``, and no registry module polls a landing
    directory with ``glob`` in a loop (listeners' ``landing.wait``
    replaces it)."""
    root = pathlib.Path(apache_nifi_spark.__file__).parent
    listen = root / "streaming" / "listen.py"
    net = root / "net.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        rel = path.relative_to(root)
        if path != listen:
            offenders += [f"{rel}: {t}" for t in ("def _land(", "os.rename(") if t in text]
        if path != net and re.search(r"def _?read_exact\(", text):
            offenders.append(f"{rel}: read_exact")
        if path.name.startswith("registry"):
            for loop in ast.walk(ast.parse(text)):
                if isinstance(loop, ast.While) and any(
                    isinstance(n, ast.Attribute) and n.attr == "glob"
                    for n in ast.walk(loop)
                ):
                    offenders.append(f"{rel}:{loop.lineno}: glob poll")
    assert not offenders, offenders
