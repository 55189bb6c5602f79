"""Tracing for the benchmark's traced run.

Everything here observes the engine from outside: it wraps the public
functions of a layer, counts py4j round trips and server-side socket
traffic in the driver, listens to Spark's ``StreamingQueryListener`` and
folds Spark's event log.  Nothing in ``apache_nifi_spark`` is edited.

A span is one timed interval at a layer boundary.  Spans of one benchmark
job share the job's id, and each span names the span that caused it, so a
layer's self time is its spans' duration minus the part their child spans
cover.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import bisect
import contextlib
import datetime as dt
import functools
import itertools
import json
import socket
import sys
import threading
import time
import weakref
from collections import Counter
from dataclasses import asdict, dataclass

#: Job-group prefix the traced run sets with ``setJobGroup``.
GROUP_PREFIX = "perfbench-"

#: ``StreamingQueryProgress.durationMs`` phases, reported as
#: ``streaming.<name>_s``.
PHASES = {
    "queryPlanning": "query_planning",
    "walCommit": "wal_commit",
    "addBatch": "add_batch",
    "commitOffsets": "commit_offsets",
    "latestOffset": "latest_offset",
    "getBatch": "get_batch",
    "triggerExecution": "trigger",
}


#: Totals ``fold_event_log`` reports, present even when zero.
EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.sched_wait_s",
    "exec.input_bytes",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
)


@dataclass
class Span:
    id: int
    parent: int | None
    job: int | None
    name: str
    layer: str
    start: float  # seconds since the epoch
    end: float


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: the sum over its spans of duration minus child cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


def assign_parents(spans: list[Span], orphans: list[Span]) -> None:
    """Attach each orphan to the innermost span of its job that contains
    its start; an orphan with no job takes the job of the innermost
    ``job`` span containing it.  Orphans are placed in start order, so an
    earlier orphan (a streaming batch) can parent a later one (a Spark
    job it ran)."""
    by_job: dict[int | None, list[Span]] = {}
    for s in spans:
        by_job.setdefault(s.job, []).append(s)
    jobs = [s for s in spans if s.layer == "job"]
    for o in sorted(orphans, key=lambda s: (s.start, -s.end)):
        if o.job is None:
            owner = [j for j in jobs if j.start <= o.start <= j.end]
            o.job = owner[-1].job if owner else None
        inside = [
            s for s in by_job.get(o.job, []) if s.start <= o.start <= s.end and s is not o
        ]
        if inside:
            o.parent = min(inside, key=lambda s: s.end - s.start).id
        by_job.setdefault(o.job, []).append(o)


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def split_blocking(
    calls: list[tuple[float, float]], busy: list[tuple[float, float]]
) -> tuple[float, float]:
    """Split call time into ``(free, blocking)``: calls that overlap no
    ``busy`` interval (a Spark job) and calls that waited on one."""
    merged = _merge(busy)
    starts = [a for a, _ in merged]
    free = blocking = 0.0
    for a, b in calls:
        i = bisect.bisect_right(starts, b) - 1
        if i >= 0 and merged[i][1] >= a:
            blocking += b - a
        else:
            free += b - a
    return free, blocking


def fold_event_log(
    events: list[dict], since: float = 0.0, until: float = float("inf")
) -> tuple[dict[str, float], list[Span]]:
    """Fold a Spark JSON event log into ``exec.*`` totals and one span per
    Spark job, keeping only jobs, stages and tasks that started within
    ``[since, until]`` (seconds since the epoch).  A job's span carries
    the benchmark job id when its job group was set by the traced run,
    else ``None``."""
    job_start: dict[int, dict] = {}
    job_end: dict[int, float] = {}
    stage_submit: dict[int, float] = {}
    m = Counter()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if since <= e["Submission Time"] / 1000.0 <= until:
                job_start[e["Job ID"]] = e
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1000.0
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            submitted = info.get("Submission Time", 0) / 1000.0
            if not since <= submitted <= until:
                continue
            stage_submit.setdefault(info["Stage ID"], submitted)
            if kind == "SparkListenerStageCompleted":
                m["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            launch = info["Launch Time"] / 1000.0
            if not since <= launch <= until:
                continue
            m["exec.tasks"] += 1
            m["exec.run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            submit = stage_submit.get(e["Stage ID"])
            if submit is not None:
                m["exec.sched_wait_s"] += max(0.0, launch - submit)
            m["exec.input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            rd = tm.get("Shuffle Read Metrics") or {}
            m["exec.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = tm.get("Shuffle Write Metrics") or {}
            m["exec.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            m["exec.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
    spans = []
    for jid, e in sorted(job_start.items()):
        group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
        job = int(group[len(GROUP_PREFIX) :]) if group.startswith(GROUP_PREFIX) else None
        start = e["Submission Time"] / 1000.0
        spans.append(
            Span(-1 - jid, None, job, f"spark-job-{jid}", "exec", start, job_end.get(jid, start))
        )
    m["exec.jobs"] = len(job_start)
    for k in EXEC_KEYS:
        m.setdefault(k, 0)
    return dict(m), spans


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def fold_progress(records: list[dict]) -> tuple[dict[str, float], list[Span]]:
    """Fold ``StreamingQueryProgress`` records (their JSON form) into
    ``streaming.*`` totals and one span per micro-batch."""
    m: dict[str, float] = {"streaming.batches": len(records), "streaming.empty_batches": 0}
    for v in PHASES.values():
        m[f"streaming.{v}_s"] = 0.0
    m["streaming.state_commit_s"] = 0.0
    last_state: dict[str, tuple[int, int]] = {}
    spans = []
    for i, r in enumerate(records):
        if not r.get("numInputRows"):
            m["streaming.empty_batches"] += 1
        dur = r.get("durationMs") or {}
        for k, v in PHASES.items():
            m[f"streaming.{v}_s"] += dur.get(k, 0) / 1000.0
        ops = r.get("stateOperators") or []
        m["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
        last_state[r.get("runId", "")] = (
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )
        start = _iso(r["timestamp"])
        spans.append(
            Span(
                -1_000_000 - i,
                None,
                None,
                f"batch-{r.get('batchId')}",
                "streaming.batch",
                start,
                start + dur.get("triggerExecution", 0) / 1000.0,
            )
        )
    # state left by each drain when it finished, summed over drains
    m["streaming.state_rows"] = sum(r for r, _ in last_state.values())
    m["streaming.state_memory_bytes"] = sum(b for _, b in last_state.values())
    return m, spans


class Tracer:
    """Spans and counters of one traced phase."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.py4j_calls: list[tuple[float, float]] = []
        self.job: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, self.job, name, layer, t0, t1))

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    # -- patching -------------------------------------------------------

    def _set(self, owner: object, attr: str, value: object) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_function(self, module: object, attr: str, layer: str, fired=None) -> None:
        """Replace ``module.attr`` with a spanned, counted wrapper in every
        loaded engine module that imported it by name.  ``fired(arg, out)``
        marks calls that changed their input."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(attr, layer):
                out = orig(*args, **kwargs)
            tracer.count(f"{layer}.calls")
            if fired is not None and fired(args[0] if args else None, out):
                tracer.count(f"{layer}.fired")
            return out

        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("apache_nifi_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._set(mod, k, wrapper)

    def patch_py4j(self) -> None:
        """Time every py4j command the driver sends to the JVM."""
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        calls = self.py4j_calls

        def send_command(client, *args, **kwargs):
            t0 = time.time()
            try:
                return orig(client, *args, **kwargs)
            finally:
                calls.append((t0, time.time()))

        self._set(GatewayClient, "send_command", send_command)

    def patch_sockets(self) -> None:
        """Count connections accepted by servers in the driver process and
        the bytes and calls on them.  Sockets accepted by py4j or pyspark
        (the JVM talking to the driver) are not counted."""
        accepted: weakref.WeakSet = weakref.WeakSet()
        cls = socket.socket
        orig = {n: getattr(cls, n) for n in ("accept", "recv", "recv_into", "send", "sendall")}
        tracer = self

        def internal(frame) -> bool:
            for _ in range(3):
                if frame is None:
                    return False
                owner = frame.f_locals.get("self")
                mods = (frame.f_globals.get("__name__", ""), type(owner).__module__)
                if any(m.startswith(("py4j", "pyspark")) for m in mods):
                    return True
                frame = frame.f_back
            return False

        def accept(sock):
            conn, addr = orig["accept"](sock)
            if not internal(sys._getframe(1)):
                accepted.add(conn)
                tracer.count("wire.accepts")
            return conn, addr

        def counted(name: str, direction: str, size):
            fn = orig[name]

            def method(sock, *args, **kwargs):
                out = fn(sock, *args, **kwargs)
                if sock in accepted:
                    with tracer._lock:
                        tracer.counts[f"wire.{'recv' if direction == 'in' else 'send'}_calls"] += 1
                        tracer.counts[f"wire.bytes_{direction}"] += size(args, out)
                return out

            return method

        self._set(cls, "accept", accept)
        self._set(cls, "recv", counted("recv", "in", lambda a, out: len(out)))
        self._set(cls, "recv_into", counted("recv_into", "in", lambda a, out: out))
        self._set(cls, "send", counted("send", "out", lambda a, out: out))
        self._set(cls, "sendall", counted("sendall", "out", lambda a, out: len(a[0])))

    def restore(self) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            self.started += 1

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

    return ProgressListener()


def write_report(path: str, spans: list[Span], summary: dict) -> None:
    with open(path, "w") as f:
        json.dump({"summary": summary, "spans": [asdict(s) for s in spans]}, f)
