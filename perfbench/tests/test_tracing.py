import json
import socket
import threading

import pytest

import tracing
from tracing import Span


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert tracing.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert tracing.covered([], 0, 10) == 0


def test_self_time_subtracts_child_cover():
    spans = [
        Span(1, None, 1, "j", "job", 0.0, 10.0),
        Span(2, 1, 1, "c", "registry.construct", 0.0, 4.0),
        Span(3, 1, 1, "a", "registry.action", 4.0, 10.0),
        Span(4, 3, 1, "spark-job-0", "exec", 5.0, 8.0),
        Span(5, 3, 1, "spark-job-1", "exec", 7.0, 9.0),  # overlaps job 0
    ]
    st = tracing.self_times(spans)
    assert st["job"] == 0.0
    assert st["registry.construct"] == 4.0
    assert st["registry.action"] == 6.0 - 4.0  # 5..9 covered
    assert st["exec"] == 3.0 + 2.0


def test_assign_parents_picks_innermost_span_of_the_job():
    spans = [
        Span(1, None, 7, "j", "job", 0.0, 10.0),
        Span(2, 1, 7, "c", "registry.construct", 0.0, 6.0),
        Span(3, 2, 7, "run_to_memory", "streaming.run_to_memory", 1.0, 5.0),
    ]
    batch = Span(-1, None, None, "batch-0", "streaming.batch", 2.0, 4.0)
    job = Span(-2, None, None, "spark-job-3", "exec", 2.5, 3.0)
    grouped = Span(-3, None, 7, "spark-job-4", "exec", 7.0, 8.0)
    tracing.assign_parents(spans, [job, batch, grouped])
    assert (batch.job, batch.parent) == (7, 3)
    assert (job.job, job.parent) == (7, -1)
    assert grouped.parent == 1


def test_split_blocking():
    calls = [(0.0, 1.0), (2.0, 3.0), (5.5, 6.0)]
    free, blocking = tracing.split_blocking(calls, [(2.5, 4.0), (5.0, 7.0)])
    assert free == 1.0
    assert blocking == 1.5


# A hand-written, uncompressed event log in Spark's JSON-lines form: one
# setup job before the window, one benchmark job with two tasks.
EVENT_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500,
     "Stage IDs": [0], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": 600},
     "Task Metrics": {"Executor Run Time": 9000}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
     "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "perfbench-12"}},
    {"Event": "SparkListenerStageSubmitted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 1100}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Launch Time": 1150, "Finish Time": 1400},
     "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 150_000_000,
                      "JVM GC Time": 10, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
                      "Input Metrics": {"Bytes Read": 1000},
                      "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Launch Time": 1300, "Finish Time": 1500},
     "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 50_000_000,
                      "JVM GC Time": 0, "Input Metrics": {"Bytes Read": 24}}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 1100}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
]


def test_fold_event_log():
    lines = [json.dumps(e) for e in EVENT_LOG]
    m, spans = tracing.fold_event_log([json.loads(x) for x in lines], since=0.9)
    assert m["exec.jobs"] == 1 and m["exec.stages"] == 1 and m["exec.tasks"] == 2
    assert m["exec.run_s"] == pytest.approx(0.3)
    assert m["exec.cpu_s"] == pytest.approx(0.2)
    assert m["exec.gc_s"] == pytest.approx(0.01)
    assert m["exec.sched_wait_s"] == pytest.approx(0.05 + 0.2)
    assert m["exec.input_bytes"] == 1024
    assert m["exec.shuffle_read_bytes"] == 3
    assert m["exec.shuffle_write_bytes"] == 30
    assert m["exec.spill_bytes"] == 12
    assert [(s.job, s.layer, s.start, s.end) for s in spans] == [(12, "exec", 1.0, 1.6)]


PROGRESS = {
    "id": "q", "runId": "r1", "batchId": 0, "timestamp": "2026-01-01T00:00:00.000Z",
    "numInputRows": 10000,
    "durationMs": {"addBatch": 2329, "commitOffsets": 186, "getBatch": 52, "latestOffset": 47,
                   "queryPlanning": 353, "triggerExecution": 3039, "walCommit": 52},
    "stateOperators": [{"numRowsTotal": 600, "commitTimeMs": 1116, "memoryUsedBytes": 154944}],
}


def test_fold_progress():
    empty = dict(PROGRESS, batchId=1, numInputRows=0, timestamp="2026-01-01T00:00:04.000Z",
                 durationMs={"triggerExecution": 100}, stateOperators=[])
    m, spans = tracing.fold_progress([PROGRESS, empty])
    assert m["streaming.batches"] == 2 and m["streaming.empty_batches"] == 1
    assert m["streaming.add_batch_s"] == pytest.approx(2.329)
    assert m["streaming.trigger_s"] == pytest.approx(3.139)
    assert m["streaming.query_planning_s"] == pytest.approx(0.353)
    assert m["streaming.state_commit_s"] == pytest.approx(1.116)
    # the state a drain left is its last batch's
    assert m["streaming.state_rows"] == 0 and m["streaming.state_memory_bytes"] == 0
    m1, _ = tracing.fold_progress([PROGRESS])
    assert m1["streaming.state_rows"] == 600
    assert spans[0].end - spans[0].start == pytest.approx(3.039)


def test_wrap_function_counts_and_restores():
    import types

    mod = types.ModuleType("apache_nifi_spark._perfbench_test")
    mod.widen = lambda df: df + 1 if df < 0 else df
    import sys

    sys.modules[mod.__name__] = mod
    try:
        tr = tracing.Tracer()
        orig = mod.widen
        tr.wrap_function(mod, "widen", "io.widen", fired=lambda a, out: out is not a)
        tr.job = 3
        assert mod.widen(-5) == -4 and mod.widen(5) == 5
        assert tr.counts["io.widen.calls"] == 2 and tr.counts["io.widen.fired"] == 1
        assert [s.job for s in tr.spans] == [3, 3]
        tr.restore()
        assert mod.widen is orig
    finally:
        del sys.modules[mod.__name__]


def test_socket_counters_see_server_side_traffic():
    tr = tracing.Tracer()
    tr.patch_sockets()
    try:
        srv = socket.create_server(("127.0.0.1", 0))

        def serve():
            conn, _ = srv.accept()
            with conn:
                conn.sendall(conn.recv(100) * 2)

        t = threading.Thread(target=serve)
        t.start()
        with socket.create_connection(srv.getsockname()) as c:
            c.sendall(b"abc")
            assert c.recv(100) == b"abcabc"
        t.join(timeout=5)
        assert not t.is_alive()
        srv.close()
    finally:
        tr.restore()
    assert tr.counts["wire.accepts"] == 1
    assert tr.counts["wire.bytes_in"] == 3 and tr.counts["wire.bytes_out"] == 6
    assert tr.counts["wire.recv_calls"] == 1 and tr.counts["wire.send_calls"] == 1
