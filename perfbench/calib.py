"""Time a fixed DuckDB aggregation, once per line read from standard input.

    python3 perfbench/calib.py THREADS

The benchmark runs this as a child process beside the engine and asks for
one measurement after every job of the timed phase.  For every line read
it prints the CPU seconds the query took.  The query never touches the
engine, its inputs or its settings, so that figure changes only with how
fast the host's CPUs run while other machines share them: contention for
caches, memory bandwidth and hyper-threads.  CPU time leaves out steal, the
time the hypervisor ran another machine, which ``run.py`` takes out of the
job latencies itself.
"""

from __future__ import annotations

import sys
import time

#: Rows of the calibration table: about 0.2 s of aggregation on 4 threads.
ROWS = 4_000_000
QUERY = "SELECT sum(s), sum(c) FROM (SELECT k, sum(v) AS s, count(*) AS c FROM t GROUP BY k)"


def main(argv: list[str]) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(argv[1])}")
        con.execute(
            "CREATE TABLE t AS SELECT hash(i) % 100000 AS k, (i % 997) * 1.25 AS v "
            f"FROM range({ROWS}) r(i)"
        )
        con.execute(QUERY).fetchall()
        print("ready", flush=True)
        for _ in sys.stdin:
            c0 = time.process_time()
            con.execute(QUERY).fetchall()
            print(time.process_time() - c0, flush=True)
    finally:
        con.close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
