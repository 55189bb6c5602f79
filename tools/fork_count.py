"""Count the commands the engine's JVM forks, per registry query.

Usage:
    python tools/fork_count.py QUERY... --sf DIR [--root TREE] > OUT.json

Runs ``get_spark`` and then each query (collected) in a child process
whose ``PATH`` starts with logging wrappers for ``chmod``, ``readlink``,
``stat`` and ``ls``; the JVM inherits that ``PATH``, so every one of these
that Hadoop's ``Shell`` forks is logged before it runs.  Prints one JSON
object: per query (and ``get_spark`` for the launch) the count of each
command.  ``--root`` imports the engine from another checkout, so two
revisions can be counted with one tool.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections.abc import Iterable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMANDS = ("chmod", "readlink", "stat", "ls")
LAUNCH = "get_spark"
#: Log lines that start with this name the query whose forks follow.
MARK = "@"

CHILD = """
import os, sys
root, sf_dir, *names = sys.argv[1:]
sys.path.insert(0, root)
from apache_nifi_spark.registry import QUERIES
from apache_nifi_spark.session import get_spark

def mark(name):
    with open(os.environ["FORK_LOG"], "a") as f:
        f.write(f"@{name}\\n")

spark = get_spark()
for name in names:
    mark(name)
    QUERIES[name](spark, sf_dir).collect()
mark("")
spark.stop()
"""


def count(lines: Iterable[str]) -> dict[str, dict[str, int]]:
    """Per-query command counts from a fork log: ``@name`` lines open a
    query's section (``@`` alone closes the last one), every other line
    is one forked command.  The section before the first mark is the
    launch."""
    counts = {LAUNCH: dict.fromkeys(COMMANDS, 0)}
    current: str | None = LAUNCH
    for line in lines:
        line = line.strip()
        if line.startswith(MARK):
            current = line[len(MARK):] or None
            if current is not None:
                counts.setdefault(current, dict.fromkeys(COMMANDS, 0))
        elif line in COMMANDS and current is not None:
            counts[current][line] += 1
    return counts


def wrappers(directory: str, log: str) -> None:
    """A logging wrapper per command in ``directory``, each exec-ing the
    command the current ``PATH`` finds."""
    for cmd in COMMANDS:
        real = shutil.which(cmd)
        if real is None:
            raise SystemExit(f"no {cmd} on PATH")
        path = os.path.join(directory, cmd)
        with open(path, "w") as f:
            f.write(f'#!/bin/sh\necho {cmd} >> "{log}"\nexec {real} "$@"\n')
        os.chmod(path, 0o755)


def run(names: list[str], sf_dir: str, root: str) -> dict[str, dict[str, int]]:
    with tempfile.TemporaryDirectory(prefix="fork_count_") as tmp:
        log = os.path.join(tmp, "forks.log")
        bin_dir = os.path.join(tmp, "bin")
        os.mkdir(bin_dir)
        wrappers(bin_dir, log)
        env = dict(os.environ, FORK_LOG=log, PATH=bin_dir + os.pathsep + os.environ["PATH"])
        out = subprocess.run(
            [sys.executable, "-c", CHILD, root, sf_dir, *names],
            env=env,
            stdin=subprocess.DEVNULL,
            capture_output=True,
            text=True,
        )
        if out.returncode:
            sys.stderr.write(out.stderr[-3000:])
            raise SystemExit(f"the query process exited with {out.returncode}")
        with open(log) as f:
            return count(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--sf", required=True, help="fixture directory, e.g. a sf0.01 directory")
    ap.add_argument("--root", default=ROOT, help="checkout whose engine runs (default: this one)")
    args = ap.parse_args(argv)
    counts = run(args.queries, os.path.abspath(args.sf), os.path.abspath(args.root))
    print(json.dumps(counts, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
