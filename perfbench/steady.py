"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads etl_sf01,flows_sf001 --seeds 10

Seeds run from 0, the workloads interleaved.  For every workload and
end-to-end metric it prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the quartile distance as a
share of the median, beside the metric's bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads.split(",")
    values: dict[str, dict[str, list[float]]] = {wl: {} for wl in workloads}
    # workloads interleaved, so every workload sees the same host weather
    for seed in range(args.seeds):
        for wl in workloads:
            res = run_once(wl, seed, bench["run_seconds"])
            if not res["correct"]:
                raise RuntimeError(f"{wl} seed {seed}: incorrect output")
            for name, m in res["metrics"].items():
                values[wl].setdefault(name, []).append(m["value"])
            print(wl, seed, {k: round(v[-1], 4) for k, v in values[wl].items()}, flush=True)
    for wl in workloads:
        for name, vals in values[wl].items():
            q1, med, q3, rel = stats.spread(vals)
            flag = "" if rel < bounds[name] / 3 else "  <-- above bound/3"
            print(f"{wl:16s} {name:12s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {rel:6.3f}  bound {bounds[name]}{flag}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
