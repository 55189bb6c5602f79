"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_sf01 --seed 0 --seconds 10 --trace 0

Run it from the repository root (any working directory works; all scratch
goes to ``.perfbench/`` at the root).  A run:

1. sets up: opens a Spark session (launching the JVM), generates the
   seeded inputs and runs every job of the workload once, comparing its
   output with the query's DuckDB oracle (the correctness pass).
   Generation and the oracles run in child processes (``prep.py``), which
   also compute the oracles on a second seed's input;
2. runs whole cycles of the workload's jobs, each cycle in a seeded order,
   one job at a time, for about ``--seconds`` (a closed loop with one
   client), with a calibration query (``calib.py``) after every job;
3. checks that the second seed's input gave the same oracle results, and
   lists any query whose oracle depends on row order.

The time metrics are corrected for CPU steal and for the host's CPU
speed; ``perfbench/README.md`` says how.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` sets up with
Spark's event log on, runs the timed phase traced and then untraced, each
for half of ``--seconds``,
prints the per-layer metrics and writes the spans to
``.perfbench/<run>/trace.json``.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")

#: Timed cycles per phase, however long they take.
MIN_CYCLES = 3
#: A run that reaches this age kills its process tree and exits non-zero.
DEADLINE_S = 170.0
#: A job still running after this long has its Spark jobs cancelled.
JOB_TIMEOUT_S = 60.0
#: CPU seconds of the calibration query (``calib.py``) on the reference
#: host.  ``wall_s`` and ``cpu_s`` are scaled to a host this fast; the
#: development host (4 vCPUs, shared) measured run medians of 0.42-0.65 s.
REF_CAL_CPU_S = 0.5

for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import procstat  # noqa: E402

T_TICKS = procstat.cpu_ticks()

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A sixteenth of the host's memory, within 1-4 GiB.  The inputs are
    small; a heap the jobs fill keeps the JVM's resident size from
    depending on when the collector chose to grow it."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return f"{max(1024, min(4096, total_mb // 16))}m"


def configure_env(run_dir: str) -> None:
    """Point the engine, Spark, the JVM and the Python workers at this
    host and at the run's own scratch directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    # -UsePerfData: no hsperfdata files under /tmp
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine inside pandas UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


class Bench:
    """One run: a workload, a seed and the Spark sessions it opens."""

    def __init__(self, workload: str, seed: int, run_dir: str) -> None:
        t0 = time.perf_counter()
        from apache_nifi_spark.registry import QUERIES

        from tools.check_oracle import compare

        self.import_s = time.perf_counter() - t0
        self.queries = QUERIES
        self.compare = compare
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.run_dir = run_dir
        self.cpus = host_cpus()
        self.spark = None
        self.in_dir = os.path.join(run_dir, "in")
        self.attempted = 0
        self.failures: list[str] = []
        self.job_started: float | None = None
        self.job_seq = 0
        self.expected: dict = {}
        self.alt_expected: dict = {}
        self.calib: Calibrator | None = None

    # -- sessions -------------------------------------------------------

    def open_session(self, extra: dict[str, str] | None = None) -> float:
        from apache_nifi_spark.session import get_spark

        t0 = time.perf_counter()
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **(extra or {}),
        }
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}", shuffle_partitions=self.cpus, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        for k, v in self.wl.conf.items():
            self.spark.conf.set(k, v)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        finally:
            gw = SparkContext._gateway
            if gw is not None and gw.proc is not None:
                kill_tree(gw.proc)
                SparkContext._gateway = None
                SparkContext._jvm = None

    # -- jobs -----------------------------------------------------------

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}")
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)

    def prep(self, *args: object) -> None:
        """Run ``prep.py`` with ``args`` as a child process, whose memory
        never counts in this process's peak RSS."""
        cmd = [sys.executable, os.path.join(HERE, "prep.py"), *map(str, args)]
        subprocess.run(cmd, check=True, stdout=sys.stderr)

    def warm_up(self) -> float:
        """Run every job once, checking its output against the oracle;
        returns the time the comparisons took."""
        check_s = 0.0
        for name in self.wl.jobs:
            self.attempted += 1
            try:
                got = self.queries[name](self.spark, self.in_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failing job is a result
                self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
                continue
            t1 = time.perf_counter()
            problems = self.compare(name, got, self.expected[name])
            check_s += time.perf_counter() - t1
            if problems:
                self.fail(name, "oracle mismatch: " + "; ".join(problems)[:300])
        return check_s

    def run_job(self, name: str, tracer: tracing.Tracer | None, job_id: int) -> float | None:
        """One job, construction through the noop action; its latency, or
        None when it failed."""
        self.attempted += 1
        if tracer is not None:
            tracer.job = job_id
            self.spark.sparkContext.setJobGroup(f"{tracing.GROUP_PREFIX}{job_id}", name)
        t0 = time.perf_counter()
        self.job_started = time.monotonic()
        try:
            if tracer is None:
                df = self.queries[name](self.spark, self.in_dir)
                df.write.mode("overwrite").format("noop").save()
            else:
                with tracer.span(name, "job"):
                    with tracer.span("construct", "registry.construct"):
                        df = self.queries[name](self.spark, self.in_dir)
                    with tracer.span("action", "registry.action"):
                        df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001 - a failing job is a result
            self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            self.job_started = None
        return time.perf_counter() - t0

    def timed(self, seconds: float, tracer: tracing.Tracer | None = None) -> dict:
        """Whole cycles of the workload's jobs, each in a seeded order, for
        about ``seconds``.  Every job's latency is kept with the host's
        steal share while it ran; with a calibrator, one calibration query
        runs after every job."""
        rng = random.Random(self.seed)
        lat: list[float] = []
        per_job: dict[str, list[float]] = {}
        steal_job: dict[str, list[float]] = {}
        cal_cpu: list[float] = []
        cycles: list[float] = []
        jvm = self.jvm_pid()
        skip = self.calib.proc.pid if self.calib is not None else None
        cpu0 = procstat.cpu_split(os.getpid(), jvm, skip)
        ticks_phase = procstat.cpu_ticks()
        t_epoch = time.time()
        t0 = time.perf_counter()
        # whole cycles; stop before a cycle that would end past ``seconds``
        while len(cycles) < MIN_CYCLES or (
            time.perf_counter() - t0 + stats.median(cycles) <= seconds
        ):
            order = list(self.wl.jobs)
            rng.shuffle(order)
            tc = time.perf_counter()
            for name in order:
                self.job_seq += 1
                ticks0 = procstat.cpu_ticks()
                dt = self.run_job(name, tracer, self.job_seq)
                if dt is not None:
                    lat.append(dt)
                    per_job.setdefault(name, []).append(dt)
                    steal_job.setdefault(name, []).append(
                        procstat.steal_share(ticks0, procstat.cpu_ticks())
                    )
                if self.calib is not None:
                    cal_cpu.append(self.calib.measure())
            cycles.append(time.perf_counter() - tc)
        wall = time.perf_counter() - t0
        t_end = time.time()
        cpu1 = procstat.cpu_split(os.getpid(), jvm, skip)
        return {
            "lat": lat,
            "per_job": per_job,
            "steal_job": steal_job,
            "cal_cpu": cal_cpu,
            "cycles": cycles,
            "wall": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "steal": procstat.steal_share(ticks_phase, procstat.cpu_ticks()),
            "start": t_epoch,
            "end": t_end,
        }

    def order_dependent(self) -> list[str]:
        """Queries whose oracle result differs on another seed's input
        (same rows, other order)."""
        return [
            name
            for name in self.wl.jobs
            if self.compare(name, self.alt_expected[name], self.expected[name])
        ]


class Calibrator:
    """The ``calib.py`` child: a fixed DuckDB query, timed on request, whose
    time moves with the host's speed and nothing else."""

    def __init__(self, threads: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "calib.py"), str(threads)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        if self.proc.stdout.readline().strip() != "ready":
            self.close()
            raise RuntimeError("calib.py did not start")

    def measure(self) -> float:
        """CPU seconds of one run of the query."""
        self.proc.stdin.write("\n")
        self.proc.stdin.flush()
        return float(self.proc.stdout.readline())

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - escalate whatever went wrong
            self.proc.kill()
            self.proc.wait()


def kill_tree(proc) -> None:
    """End the JVM (closing its stdin makes it exit) and every process
    under it, waiting for each to be gone."""
    tree = procstat.descendants(proc.pid, procstat.all_stats())
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001 - escalate whatever went wrong
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if _alive(p)]
        time.sleep(0.05)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    st = procstat.read_stat(pid)
    return st is not None and st.state != "Z"


def watchdog(bench: Bench) -> None:
    """Cancel a job that overruns ``JOB_TIMEOUT_S``; at ``DEADLINE_S``
    kill the process tree and exit without a result."""
    cancelled = None
    while True:
        time.sleep(0.5)
        if time.perf_counter() - T_START > DEADLINE_S:
            print("perfbench: run deadline reached", file=sys.stderr, flush=True)
            from pyspark import SparkContext

            if bench.calib is not None:
                bench.calib.proc.kill()
                bench.calib.proc.wait()
            gw = SparkContext._gateway
            if gw is not None and gw.proc is not None:
                kill_tree(gw.proc)
            os._exit(3)
        started = bench.job_started
        if started and started != cancelled and time.monotonic() - started > JOB_TIMEOUT_S:
            cancelled = started
            try:
                bench.spark.sparkContext.cancelAllJobs()
            except Exception:  # noqa: BLE001 - the deadline still applies
                pass


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def pass_wall(ph: dict) -> float:
    """Wall time of one pass over the job list, net of steal: the sum over
    jobs of each job's best latency less the share of it the hypervisor
    gave to other machines.  On a shared host that share moves between 0
    and 60 % within seconds, and a job's latency grows with it."""
    return sum(
        min(dt * (1 - f) for dt, f in zip(ph["per_job"][name], ph["steal_job"][name]))
        for name in ph["per_job"]
    )


def host_factor(ph: dict) -> float:
    """How much faster the reference host's CPUs run than this host's did
    during the phase: ``REF_CAL_CPU_S`` over the median CPU time of the
    calibration query (``calib.py``)."""
    return REF_CAL_CPU_S / stats.median(ph["cal_cpu"])


def set_up(bench: Bench, conf: dict[str, str] | None = None) -> dict:
    """Open the session (launching the JVM), generate the inputs, and run
    every job once, cold, as the correctness pass.  ``setup_s`` runs from
    process start to ready, less the time spent on the oracles, which a
    user of the engine would not run, and less the share of it the
    hypervisor gave to other machines."""
    t0 = time.perf_counter()
    session_s = bench.open_session(conf)
    launch_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    bench.prep("generate", bench.wl.sf, bench.seed, bench.in_dir)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    expected = os.path.join(bench.run_dir, "expected.pkl")
    alt_dir = os.path.join(bench.run_dir, "alt")
    names = ",".join(bench.wl.jobs)
    bench.prep("oracles", names, expected, bench.in_dir, bench.wl.sf, bench.seed + 1, alt_dir)
    with open(expected, "rb") as f:
        bench.expected, bench.alt_expected = pickle.load(f)
    oracle_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    check_s = bench.warm_up()
    warm_s = time.perf_counter() - t0 - check_s
    steal = procstat.steal_share(T_TICKS, procstat.cpu_ticks())
    return {
        "setup_s": (time.perf_counter() - T_START - oracle_s - check_s) * (1 - steal),
        "steal_share": steal,
        "session_s": session_s,
        "setup_parts_s": {
            "import": bench.import_s,
            "launch": launch_s,
            "generate": gen_s,
            "warm_up": warm_s,
        },
    }


def end_to_end(bench: Bench, seconds: float) -> tuple[dict, dict]:
    su = set_up(bench)
    bench.calib = Calibrator(bench.cpus)
    try:
        ph = bench.timed(seconds)
    finally:
        bench.calib.close()
    rss = procstat.peak_rss_mb(os.getpid())
    tail, pct, n = stats.tail(ph["lat"])
    factor = host_factor(ph)
    cpu_per_cycle = sum(ph["cpu"].values()) / len(ph["cycles"])
    metrics = {
        "setup_s": (su["setup_s"], "s"),
        "wall_s": (pass_wall(ph) * factor, "s"),
        "job_p50_s": (stats.median(ph["lat"]), "s"),
        "job_tail_s": (tail, "s"),
        "cpu_s": (cpu_per_cycle * factor, "s"),
        "peak_rss_mb": (rss["total"], "MB"),
    }
    detail = {
        "job_tail_pct": pct,
        "job_samples": n,
        "cycles": len(ph["cycles"]),
        "job_latency_s": ph["per_job"],
        "job_steal_share": ph["steal_job"],
        "phase_wall_s": ph["wall"],
        "throughput_jobs_per_s": len(ph["lat"]) / ph["wall"],
        "cpu_split_s": ph["cpu"],
        # what the host did to the figures: the steal taken out of wall_s
        # and setup_s, and the CPU speed wall_s and cpu_s are scaled by
        "host_steal_share": ph["steal"],
        "setup_steal_share": su["steal_share"],
        "host_factor": factor,
        "calibration_cpu_s": ph["cal_cpu"],
        "wall_net_of_steal_s": pass_wall(ph),
        "cpu_per_cycle_s": cpu_per_cycle,
        "setup_parts_s": su["setup_parts_s"],
    }
    return metrics, detail


#: Self-time layers reported by the traced run, zero when absent.
SELF_LAYERS = (
    "job",
    "registry.construct",
    "registry.action",
    "io.load_table",
    "io.widen_if_narrow",
    "io.pin_for_rescan",
    "streaming.run_to_memory",
    "streaming.batch",
    "exec",
)


def per_layer(bench: Bench, seconds: float) -> tuple[dict, dict, list[tracing.Span]]:
    """One session with Spark's event log on: set up, run the timed phase
    traced (layer wrappers, py4j and socket counters, a streaming
    listener), then again untraced for the overhead ratio, each for half
    of ``seconds``.  The untraced phase runs second, on a warmer JVM, so
    the ratio errs high."""
    elog = os.path.join(bench.run_dir, "eventlog")
    os.makedirs(elog, exist_ok=True)
    su = set_up(
        bench,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": elog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    import apache_nifi_spark.io as eio
    import apache_nifi_spark.streaming.sources as ssrc

    tr = tracing.Tracer()
    tr.wrap_function(eio, "load_table", "io.load_table")
    tr.wrap_function(eio, "widen_if_narrow", "io.widen_if_narrow", fired=lambda a, out: out is not a)
    tr.wrap_function(eio, "pin_for_rescan", "io.pin_for_rescan")
    tr.wrap_function(ssrc, "run_to_memory", "streaming.run_to_memory")
    listener = tracing.make_listener()
    bench.spark.streams.addListener(listener)
    tr.patch_py4j()
    tr.patch_sockets()
    try:
        ph = bench.timed(seconds / 2, tr)
    finally:
        tr.restore()
    deadline = time.monotonic() + 10
    while listener.terminated < listener.started and time.monotonic() < deadline:
        time.sleep(0.05)
    bench.spark.streams.removeListener(listener)
    rss = procstat.peak_rss_mb(os.getpid())
    untraced = bench.timed(seconds / 2)
    bench.stop_session()  # finalizes the event log

    events = []
    for path in glob.glob(os.path.join(elog, "*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    exec_m, exec_spans = tracing.fold_event_log(events, since=ph["start"], until=ph["end"])
    stream_m, batch_spans = tracing.fold_progress(listener.progress)
    spans = list(tr.spans)
    tracing.assign_parents(spans, batch_spans + exec_spans)
    spans += batch_spans + exec_spans
    selfs = tracing.self_times(spans)
    py4j_free, py4j_blocking = tracing.split_blocking(
        tr.py4j_calls, [(s.start, s.end) for s in exec_spans]
    )

    def layer_total(layer: str) -> float:
        return sum(s.end - s.start for s in tr.spans if s.layer == layer)

    c = tr.counts
    widen_calls = c["io.widen_if_narrow.calls"]
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (su["session_s"], "s"),
        "registry.construct_s": (layer_total("registry.construct"), "s"),
        "registry.action_s": (layer_total("registry.action"), "s"),
        "py4j.calls": (len(tr.py4j_calls), "count"),
        "py4j.s": (py4j_free, "s"),
        "py4j.blocking_s": (py4j_blocking, "s"),
        "io.load_table.calls": (c["io.load_table.calls"], "count"),
        "io.load_table_s": (layer_total("io.load_table"), "s"),
        "io.widen_if_narrow.calls": (widen_calls, "count"),
        "io.widen_if_narrow.fired": (c["io.widen_if_narrow.fired"], "count"),
        "io.widen_if_narrow.fired_share": (
            c["io.widen_if_narrow.fired"] / widen_calls if widen_calls else 0.0,
            "ratio",
        ),
        "io.widen_if_narrow_s": (layer_total("io.widen_if_narrow"), "s"),
        "io.pin_for_rescan.calls": (c["io.pin_for_rescan.calls"], "count"),
        "streaming.drains": (listener.started, "count"),
        "streaming.run_to_memory_s": (layer_total("streaming.run_to_memory"), "s"),
        # drain time covered by no micro-batch and no Spark job
        "streaming.drain_overhead_s": (selfs.get("streaming.run_to_memory", 0.0), "s"),
    }
    for k, v in exec_m.items():
        unit = "count" if k in ("exec.jobs", "exec.stages", "exec.tasks") else "s"
        m[k] = (v, "bytes" if k.endswith("_bytes") else unit)
    m["exec.core_util"] = (exec_m["exec.run_s"] / (ph["wall"] * bench.cpus), "ratio")
    for k, v in stream_m.items():
        m[k] = (v, "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count")
    for k in ("wire.accepts", "wire.recv_calls", "wire.send_calls"):
        m[k] = (c[k], "count")
    for k in ("wire.bytes_in", "wire.bytes_out"):
        m[k] = (c[k], "bytes")
    m["proc.jvm_cpu_s"] = (ph["cpu"]["jvm"], "s")
    m["proc.driver_py_cpu_s"] = (ph["cpu"]["driver"], "s")
    m["proc.pyworker_cpu_s"] = (ph["cpu"]["pyworker"], "s")
    m["proc.jvm_rss_mb"] = (rss["jvm"], "MB")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    traced_wall = pass_wall(ph)
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.overhead"] = (traced_wall / pass_wall(untraced), "ratio")
    detail = {
        "cycles": len(ph["cycles"]),
        "job_latency_s": ph["per_job"],
        "untraced_job_latency_s": untraced["per_job"],
        "setup_parts_s": su["setup_parts_s"],
    }
    return m, detail, spans


def declared(kind: str) -> dict[str, str]:
    """Metric name to unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "apache_nifi_spark")):
        print(f"perfbench: no apache_nifi_spark package in {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(SCRATCH, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    configure_env(run_dir)
    bench = Bench(args.workload, args.seed, run_dir)
    threading.Thread(target=watchdog, args=(bench,), daemon=True).start()
    spans: list[tracing.Span] = []
    try:
        if args.trace:
            metrics, detail, spans = per_layer(bench, args.seconds)
        else:
            metrics, detail = end_to_end(bench, args.seconds)
        detail["order_dependent_oracles"] = bench.order_dependent()
    finally:
        bench.shutdown()
    failed = len(bench.failures)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        attempted=bench.attempted,
        failed=failed,
        failures=bench.failures,
        run_s=time.perf_counter() - T_START,
    )
    everything = {k: metric(v, u) for k, (v, u) in metrics.items()}
    if not args.trace:
        # all seven end-to-end figures, three of which are not declared
        # metrics (README: fail_share is 0 on a correct run; p50 and the
        # tail of a few mixed samples are too unsteady to gate on)
        detail["end_to_end"] = {
            **{k: everything[k] for k in ("setup_s", "wall_s", "job_p50_s", "job_tail_s")},
            "fail_share": metric(failed / bench.attempted, "ratio"),
            **{k: everything[k] for k in ("cpu_s", "peak_rss_mb")},
        }
    report = os.path.join(run_dir, "trace.json" if args.trace else "report.json")
    tracing.write_report(report, spans, {"metrics": everything, "detail": detail})
    for sub in os.listdir(run_dir):
        path = os.path.join(run_dir, sub)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif path != report:
            os.remove(path)
    print(json.dumps({"report": os.path.relpath(report, ROOT), **detail}))
    wanted = declared("per_layer" if args.trace else "end_to_end")
    out = {}
    for name, unit in wanted.items():
        if everything[name]["unit"] != unit:
            raise RuntimeError(f"{name}: unit {everything[name]['unit']}, declared {unit}")
        out[name] = everything[name]
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": out}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
