"""Generate one run's inputs, or compute their oracle results.

    python3 perfbench/prep.py generate SF SEED DIR
    python3 perfbench/prep.py oracles NAMES FILE DIR SF ALT_SEED ALT_DIR

``generate`` writes the seeded tables at scale factor ``SF``
(``gen.generate``) to ``DIR``.  ``oracles`` runs the DuckDB oracle of each
query in the comma-separated ``NAMES`` over the tables in ``DIR``, then
generates ``ALT_DIR`` with ``ALT_SEED`` and runs them again there, and
pickles the two results, each a dict of query name to DataFrame, to
``FILE``.  ``run.py`` runs this as a child process, so the memory that
building the tables and running DuckDB takes never counts in the benchmark
process's peak RSS.
"""

from __future__ import annotations

import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import gen  # noqa: E402


def oracle_results(in_dir: str, names: list[str]) -> dict:
    from apache_nifi_spark.registry import ORACLES

    from tools.check_oracle import duck_con

    con = duck_con(in_dir)
    try:
        return {name: con.execute(ORACLES[name]).df() for name in names}
    finally:
        con.close()


def main(argv: list[str]) -> int:
    if len(argv) == 4 and argv[0] == "generate":
        _, sf, seed, out_dir = argv
        gen.generate(float(sf), int(seed), out_dir)
    elif len(argv) == 7 and argv[0] == "oracles":
        _, names, out_file, in_dir, sf, alt_seed, alt_dir = argv
        expected = oracle_results(in_dir, names.split(","))
        gen.generate(float(sf), int(alt_seed), alt_dir)
        alt = oracle_results(alt_dir, names.split(","))
        with open(out_file, "wb") as f:
            pickle.dump((expected, alt), f)
    else:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
