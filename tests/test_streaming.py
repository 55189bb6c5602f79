"""Streaming semantics tests (SURVEY.md §2.11): batch/stream parity of
the correlation join, multi-batch rate capping (ControlRate), and the
back-pressure monitor."""

from __future__ import annotations

import os
import pathlib
import time

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark import io
from apache_nifi_spark.streaming import (
    BackpressureMonitor,
    correlate_streams,
    run_to_memory,
    stream_events,
)


def test_correlate_streams_batch_parity(spark, sf_dir):
    ev = io.load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup")
    purchases = ev.filter(F.col("event_type") == "purchase")
    batch = correlate_streams(signups, purchases, ["user_id"], "ts", within="24 hours")

    s_sign = stream_events(spark, sf_dir).filter(F.col("event_type") == "signup")
    s_purch = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    streamed = run_to_memory(
        correlate_streams(s_sign, s_purch, ["user_id"], "ts", within="24 hours").select(
            "w_event_id", "s_event_id"
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.select("w_event_id", "s_event_id").collect())
    )


def test_max_files_per_trigger_multi_batch_and_backpressure(spark, sf_dir, tmp_path):
    # stage the same fixture as three files → three micro-batches at cap 1
    src = f"{sf_dir}/events.parquet"
    landing = str(tmp_path)
    for i in range(3):
        os.symlink(src, os.path.join(landing, f"events_{i}.parquet"))

    monitor = BackpressureMonitor()
    spark.streams.addListener(monitor)
    try:
        sdf = stream_events(spark, sf_dir, path=landing, max_files_per_trigger=1)
        total = run_to_memory(sdf.select("event_id"), query_name="t_rate_cap")
        n_one = spark.read.parquet(src).count()
        assert total.count() == 3 * n_one
        # listener saw one progress event per micro-batch
        deadline = time.time() + 10
        while len(monitor.history) < 3 and time.time() < deadline:
            time.sleep(0.2)
        assert len(monitor.history) >= 3
        assert isinstance(monitor.pressure_slope(), float)
        assert isinstance(monitor.backlog_pressure(), float)
    finally:
        spark.streams.removeListener(monitor)


def test_listen_http_landing_zone(spark, sf_dir, tmp_path):
    """E2E ListenHTTP analog (the reference's curl-POST entry point):
    POST JSON events to a live local HTTP listener → landing files →
    streaming drain → aggregate matches what was sent."""
    import json
    import urllib.request

    from apache_nifi_spark.streaming import HttpLandingListener, stream_json_landing

    landing = str(tmp_path)
    events = [
        {"event_id": i, "event_type": "purchase" if i % 2 else "error", "value": float(i)}
        for i in range(10)
    ]
    with HttpLandingListener(landing) as listener:
        for ev in events:
            req = urllib.request.Request(
                listener.url, data=json.dumps(ev).encode(), method="POST"
            )
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert resp.status == 200
    sdf = stream_json_landing(
        spark, landing, "event_id BIGINT, event_type STRING, value DOUBLE"
    )
    out = run_to_memory(
        sdf.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        ),
        output_mode="complete",
    )
    got = {r["event_type"]: (r["n"], r["total"]) for r in out.collect()}
    assert got == {
        "purchase": (5, float(sum(i for i in range(10) if i % 2))),
        "error": (5, float(sum(i for i in range(10) if not i % 2))),
    }


def test_site_to_site_relay_lossless(spark, sf_dir):
    from apache_nifi_spark.streaming import run_to_memory, s2s_pull, s2s_push, stream_events

    producer = stream_events(spark, sf_dir)
    bus = s2s_push(producer)
    relayed = run_to_memory(s2s_pull(spark, bus).groupBy().count(), output_mode="complete")
    direct = io.load_table(spark, sf_dir, "events").count()
    assert relayed.collect()[0]["count"] == direct


def test_listen_tcp_landing_zone_e2e(spark, tmp_path):
    """ListenTCP transport → landing dir → text-stream drain → syslog
    parse: the full wire-to-columns path."""
    import socket

    from apache_nifi_spark.operators import parse_syslog
    from apache_nifi_spark.streaming import TcpLandingListener

    landing = str(tmp_path / "tcp_landing")
    with TcpLandingListener(landing) as listener:
        lines = [
            f"<{8 + (3 if i % 2 else 6)}>Jan 0{i + 1} 01:02:0{i} host{i} app[{i}]: msg {i}"
            for i in range(4)
        ]
        for chunk in (lines[:2], lines[2:]):  # two connections → two files
            with socket.create_connection(("127.0.0.1", listener.port)) as s:
                s.sendall(("\n".join(chunk) + "\n").encode())
        listener.landing.wait(4)
        sdf = (
            spark.readStream.format("text")
            .schema("value string")
            .load(landing)
        )
        cp = str(tmp_path / "cp")
        q = (
            sdf.writeStream.format("memory")
            .queryName("tcp_syslog")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        parsed = parse_syslog(spark.table("tcp_syslog"), "value").collect()
        assert len(parsed) == 4
        by_pid = {r["pid"]: r for r in parsed}
        assert by_pid[2]["severity"] == 6 and by_pid[1]["severity"] == 3
        assert by_pid[3]["message"] == "msg 3" and by_pid[0]["host"] == "host0"


def test_udp_listener_lands_datagrams_e2e(spark, tmp_path):
    """ListenUDP e2e: datagrams → batched landing files → streaming drain.

    batch_size=3 over 7 datagrams → two full batch files + one flushed
    partial, all drained exactly-once by the file source."""
    import socket

    from apache_nifi_spark.streaming import UdpLandingListener

    landing = str(tmp_path / "udp_landing")
    with UdpLandingListener(landing, batch_size=3) as listener:
        msgs = [f"dgram-{i}|value={i * 10}" for i in range(7)]
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            for m in msgs:
                sock.sendto(m.encode(), ("127.0.0.1", listener.port))
        listener.landing.wait(6)  # two full batches land async
    files = [f for f in os.listdir(landing) if not f.startswith(".")]
    assert len(files) == 3

    sdf = spark.readStream.format("text").schema("value string").load(landing)
    cp = str(tmp_path / "udp_cp")
    q = (
        sdf.writeStream.format("memory")
        .queryName("udp_drain")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.value for r in spark.table("udp_drain").collect())
    assert got == sorted(msgs)


def test_put_tcp_udp_socket_delivery(spark, tmp_path):
    """PutTCP/PutUDP against the landing listeners: every record arrives
    byte-identical; a dead endpoint yields sent=false rows, not task
    death; UDP delivers one datagram per record."""
    import glob

    from apache_nifi_spark.sinks import put_tcp, put_udp
    from apache_nifi_spark.streaming.listen import TcpLandingListener, UdpLandingListener

    df = spark.createDataFrame(
        [(i, f"rec-{i}") for i in range(20)], "id long, content string"
    ).repartition(3)

    def landed_lines(d):
        return sorted(
            ln.decode()
            for p in glob.glob(f"{d}/*")
            for ln in pathlib.Path(p).read_bytes().splitlines()
            if ln.strip()
        )

    for build, put in (
        (lambda: TcpLandingListener(str(tmp_path / "tcp")), put_tcp),
        (lambda: UdpLandingListener(str(tmp_path / "udp"), batch_size=1), put_udp),
    ):
        with build() as listener:
            out = put(df, "127.0.0.1", listener.port, "content").collect()
            assert all(r["sent"] for r in out)
            listener.landing.wait(20, timeout=10)
        assert landed_lines(listener.landing_dir) == sorted(f"rec-{i}" for i in range(20))

    # dead endpoint: routed, not raised
    dead = put_tcp(df, "127.0.0.1", 1, "content").collect()  # port 1: refused
    assert all(not r["sent"] for r in dead)


def test_distribute_load_weighted_cycle(spark):
    from apache_nifi_spark.operators import distribute_load, duplicate_flowfile

    df = spark.range(10).withColumnRenamed("id", "k")
    out = distribute_load(df, {"a": 2, "b": 1}, "k").orderBy("k").collect()
    # cycle of 3: slots 0,1 -> a; 2 -> b
    assert [r["relationship"] for r in out] == ["a", "a", "b"] * 3 + ["a"]
    import pytest as _p

    with _p.raises(ValueError):
        distribute_load(df, {"a": 0}, "k")

    dup = duplicate_flowfile(df.limit(2), 3).collect()
    assert len(dup) == 8  # 2 rows x (1 original + 3 copies)
    assert sorted({r["copy_index"] for r in dup}) == [0, 1, 2, 3]


def test_map_cache_protocol_ops():
    """Wire-level invariants of the DataStream-framed cache protocol:
    put/get/containsKey/remove/keySet round-trip, misses signal cleanly,
    and a wrong protocol version is refused at handshake."""
    import socket
    import struct

    from apache_nifi_spark.streaming.map_cache import MapCacheClient, MapCacheServer

    with MapCacheServer() as srv:
        c = MapCacheClient("127.0.0.1", srv.port)
        assert c.get(b"missing") is None
        c.put(b"k1", b"v1")
        c.put(b"k2", b"x" * 70000)  # > 64 KiB value: 4-byte length framing
        assert c.get(b"k1") == b"v1"
        assert c.get(b"k2") == b"x" * 70000
        assert c.contains_key(b"k1") and not c.contains_key(b"zz")
        assert c.key_set() == [b"k1", b"k2"]
        assert c.remove(b"k1") and not c.remove(b"k1")
        assert c.get(b"k1") is None
        c.close()

        # a second client sees the first's state (shared tier)
        c2 = MapCacheClient("127.0.0.1", srv.port)
        assert c2.get(b"k2") == b"x" * 70000
        c2.close()

        # version handshake rejection
        s = socket.create_connection(("127.0.0.1", srv.port), timeout=5)
        s.sendall(struct.pack(">I", 99))
        assert s.recv(1) == b"\x00"
        s.close()


def test_octet_counted_framing_carries_embedded_newlines(spark, tmp_path):
    """RFC 6587 octet-counting must deliver messages containing raw
    newlines intact (escaped in the landing file), which the newline
    framing cannot do."""
    import glob

    from apache_nifi_spark.sinks import put_tcp_octet_counted
    from apache_nifi_spark.streaming.listen import TcpLandingListener

    landing = str(tmp_path)
    with TcpLandingListener(landing, framing="octet") as lst:
        df = spark.createDataFrame(
            [("one line",), ("two\nlines",), ("",)], "content string"
        ).coalesce(1)
        sent = put_tcp_octet_counted(df, "127.0.0.1", lst.port, "content")
        assert sent.filter("sent").count() == 3
        lst.landing.wait(2, timeout=10)
        body = b"".join(pathlib.Path(p).read_bytes() for p in sorted(glob.glob(f"{landing}/*")))
        lines = [ln for ln in body.split(b"\n") if ln != b""]
        assert lines == [b"one line", b"two\\nlines"]


def test_octet_truncated_frame_and_unescape_roundtrip(tmp_path):
    """A final frame whose declared length runs past the received bytes
    must be dropped, not landed partially (the escape's round trip is in
    tests/test_landing.py)."""
    import glob
    import socket

    from apache_nifi_spark.streaming.listen import TcpLandingListener

    landing = str(tmp_path)
    with TcpLandingListener(landing, framing="octet") as lst:
        with socket.create_connection(("127.0.0.1", lst.port)) as s:
            # one good frame, then a frame declaring 50 bytes but sending 4
            s.sendall(b"4 good" + b"50 oops")
        lst.landing.wait(1, timeout=10)
        body = b"".join(pathlib.Path(p).read_bytes() for p in glob.glob(f"{landing}/*"))
        assert body == b"good\n"  # partial 'oops' frame never landed


def test_prometheus_endpoint_scrape(spark):
    """The /metrics endpoint serves the rendered exposition with the
    standard content type; label escaping survives a real HTTP scrape."""
    import urllib.request

    from pyspark.sql import functions as F

    from apache_nifi_spark.plans.prometheus import (
        CONTENT_TYPE,
        MetricsEndpoint,
        render_exposition,
    )

    df = spark.createDataFrame(
        [('path "a"\nweird', 3), ("plain", 5)], "proc string, n long"
    )
    expo = render_exposition(
        df, "flow_items_total", "counter", "Items per processor",
        labels={"processor": F.col("proc")}, value=F.col("n").cast("string"),
    )
    with MetricsEndpoint() as ep:
        ep.publish(expo)
        with urllib.request.urlopen(ep.url, timeout=5) as resp:
            assert resp.headers["Content-Type"] == CONTENT_TYPE
            body = resp.read().decode()
        lines = body.strip().split("\n")
        assert lines[0] == "# HELP flow_items_total Items per processor"
        assert lines[1] == "# TYPE flow_items_total counter"
        assert 'flow_items_total{processor="plain"} 5' in lines
        assert 'flow_items_total{processor="path \\"a\\"\\nweird"} 3' in lines
        # non-metrics path 404s
        import urllib.error

        try:
            urllib.request.urlopen(ep.url.replace("/metrics", "/other"), timeout=5)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404


def test_smtp_dot_transparency_and_envelope(spark, tmp_path):
    """A body line starting with '.' must survive dot-stuffing (smtplib
    stuffs, the server unstuffs) and the envelope must land as
    X-Envelope headers distinct from the message headers."""
    import glob
    import smtplib

    from apache_nifi_spark.streaming.smtp import MiniSmtpServer

    landing = str(tmp_path)
    with MiniSmtpServer(landing) as srv:
        msg = (
            b"From: header-from@x\r\nSubject: t\r\n\r\n"
            b"line one\r\n"
            b".starts with a dot\r\n"
            b"..two dots\r\n"
        )
        c = smtplib.SMTP("127.0.0.1", srv.port, timeout=5)
        c.sendmail("env-from@x", ["env-to@y"], msg)
        c.quit()
        srv.landing.wait(1, timeout=5)
        (path,) = glob.glob(f"{landing}/*.eml")
        body = pathlib.Path(path).read_bytes()
        assert body.startswith(b"X-Envelope-From: env-from@x\r\n"
                               b"X-Envelope-To: env-to@y\r\n")
        assert b"\r\n.starts with a dot\r\n" in body
        assert b"\r\n..two dots\r\n" in body
        assert b"...two dots" not in body


def test_relp_frame_acks_and_newline_escape(spark, tmp_path):
    """Every syslog txnr must be individually ACKed (200), embedded
    newlines survive escaped, and the partial batch flushes on close."""
    import glob

    from pyspark.sql import functions as F

    from apache_nifi_spark.streaming.relp import RelpLandingListener, put_relp

    landing = str(tmp_path)
    # batch_size > n: the connection's close must flush
    with RelpLandingListener(landing, batch_size=100) as lst:
        df = spark.createDataFrame(
            [("plain msg",), ("multi\nline msg",)], "content string"
        ).coalesce(1)
        out = put_relp(df, "127.0.0.1", lst.port, "content")
        assert out.filter("sent").count() == 2  # sent == ACKed, not written
        lst.landing.wait(2, timeout=10)
        body = b"".join(pathlib.Path(p).read_bytes() for p in sorted(glob.glob(f"{landing}/*")))
        lines = [ln for ln in body.split(b"\n") if ln]
        assert lines == [b"plain msg", b"multi\\nline msg"]


def test_mini_elastic_bulk_protocol(tmp_path):
    """MiniElasticServer speaks the _bulk contract: per-item results,
    malformed pairs flagged without poisoning the batch, _count and
    _search answer the standard shapes, and every accepted document
    lands durably."""
    import glob
    import json
    import urllib.request

    from apache_nifi_spark.streaming.elastic_store import MiniElasticServer

    landing = str(tmp_path)
    with MiniElasticServer(landing) as srv:
        body = "\n".join([
            '{"index":{"_index":"t","_id":"1"}}', '{"k":1}',
            '{"create":{"_index":"t","_id":"2"}}', '{"k":2}',
            "not json", '{"k":3}',
            '{"delete":{"_index":"t","_id":"9"}}',
            '{"index":{"_index":"u"}}', '{"k":4}',
        ])
        req = urllib.request.Request(
            srv.url + "/_bulk", data=body.encode(), method="POST",
            headers={"Content-Type": "application/x-ndjson"},
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            resp = json.load(r)
        assert resp["errors"] is True
        ok = [i for i in resp["items"]
              for v in i.values() if v.get("status") == 201]
        assert len(ok) == 3  # two into t, auto-id into u

        with urllib.request.urlopen(srv.url + "/t/_count", timeout=10) as r:
            assert json.load(r)["count"] == 2
        with urllib.request.urlopen(srv.url + "/t/_search", timeout=10) as r:
            hits = json.load(r)["hits"]
        assert hits["total"]["value"] == 2
        assert {h["_source"]["k"] for h in hits["hits"]} == {1, 2}

        landed = [json.loads(pathlib.Path(p).read_text()) for p in glob.glob(f"{landing}/*.json")]
        assert {(d["_index"], d["k"]) for d in landed} == {
            ("t", 1), ("t", 2), ("u", 4)
        }


def test_skip_final_no_data_batch_is_output_neutral(spark, sf_dir):
    """final_no_data_batch=False must not change what an eligible drain
    emits — the trailing empty micro-batch only evicts state for an
    append-mode INNER stream-stream join and for arrival-time dedup —
    and must restore the session conf afterwards (r17)."""
    from apache_nifi_spark.streaming import dedup_within_watermark

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key, "true")

    def join_rows(skip):
        s = stream_events(spark, sf_dir).filter(F.col("event_type") == "signup")
        p = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
        j = correlate_streams(s, p, ["user_id"], "ts", within="24 hours")
        out = run_to_memory(
            j.select("w_event_id", "s_event_id"),
            final_no_data_batch=not skip,
        )
        return sorted(map(tuple, out.collect()))

    assert join_rows(skip=True) == join_rows(skip=False)
    assert spark.conf.get(key, "true") == before

    def dedup_rows(skip):
        sdf = stream_events(spark, sf_dir)
        doubled = sdf.union(stream_events(spark, sf_dir))
        out = run_to_memory(
            dedup_within_watermark(doubled, ["event_id"], "ts", delay="1 hour").select(
                "event_id", "event_type"
            ),
            final_no_data_batch=not skip,
        )
        return sorted(map(tuple, out.collect()))

    assert dedup_rows(skip=True) == dedup_rows(skip=False)
    assert spark.conf.get(key, "true") == before


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_DRAIN_KEYS = (
    _MANAGER_KEY,
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def _files_under(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def _record_start_managers(spark, monkeypatch):
    """Patch ``DataStreamWriter.start`` to record the session's checkpoint
    manager at every query start; returns the list it appends to."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    managers, start = [], DataStreamWriter.start

    def recording_start(self, *a, **kw):
        managers.append(spark.conf.get(_MANAGER_KEY, None))
        return start(self, *a, **kw)

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return managers


def test_drain_checkpoint_matches_default_manager(spark, sf_dir, monkeypatch, tmp_path):
    """run_to_memory starts its query with the session's checkpoint manager
    left untouched (unset: Spark's default FileContext one), and its
    private checkpoint holds the same files as the same stream started by
    hand.
    The drain removes its checkpoint once the query terminates, so the
    listing is taken as the removal starts."""
    from apache_nifi_spark.streaming import running_totals_per_key, sources

    listed, rmtree = {}, sources.shutil.rmtree

    def listing_rmtree(path, *a, **kw):
        listed[path] = _files_under(path)
        rmtree(path, *a, **kw)

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    managers = _record_start_managers(spark, monkeypatch)
    with monkeypatch.context() as m:
        m.setattr(sources.shutil, "rmtree", listing_rmtree)
        run_to_memory(
            running_totals_per_key(stream_events(spark, sf_dir)),
            shuffle_partitions=parts,
        )
    assert managers == [None]
    ((drained, files),) = listed.items()
    assert os.path.basename(drained).startswith("anspark_cp_")

    assert spark.conf.get(_MANAGER_KEY, None) is None  # Spark's default
    by_hand = str(tmp_path)
    q = (
        running_totals_per_key(stream_events(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("t_cp_default_manager")
        .outputMode("append")
        .option("checkpointLocation", by_hand)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert files == _files_under(by_hand)
    for f in ("offsets/0", "commits/0", "metadata", "sources/0/0"):
        assert f in files
    for p in range(parts):
        for f in ("1.delta", ".1.delta.crc", "1.delta.crc"):
            assert f"state/0/{p}/{f}" in files


def test_drain_restores_session_confs(spark, sf_dir):
    """Every conf a drain scopes holds its pre-drain value afterwards —
    unset stays unset, a caller-set manager is kept — also when the
    drain raises at start()."""
    from pyspark.errors import AnalysisException

    def confs():
        return {k: spark.conf.get(k, None) for k in _DRAIN_KEYS}

    def drains():
        ids = stream_events(spark, sf_dir).select("event_id")
        run_to_memory(ids, shuffle_partitions=3, final_no_data_batch=False)
        with pytest.raises(AnalysisException):  # complete mode, no aggregation
            run_to_memory(
                ids, output_mode="complete", shuffle_partitions=3, final_no_data_batch=False
            )

    before = confs()
    assert before[_MANAGER_KEY] is None
    drains()
    assert confs() == before

    caller_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    spark.conf.set(_MANAGER_KEY, caller_manager)
    try:
        drains()
        assert confs() == {**before, _MANAGER_KEY: caller_manager}
    finally:
        spark.conf.unset(_MANAGER_KEY)


@pytest.mark.parametrize(
    "name",
    [
        "stream_multi_route",
        "stream_site_to_site",
        "stream_delta_append_commits",
        "stream_delta_upsert_merge",
        "stream_put_database",
    ],
)
def test_sink_drains_run_on_the_drain_kernel(spark, sf_dir, monkeypatch, name):
    """The foreachBatch / file-sink registry queries start every query
    through ``sources.drain``: on its private checkpoint with the
    session's manager left untouched, and with the drain confs restored
    after."""
    from apache_nifi_spark.registry import QUERIES

    before = {k: spark.conf.get(k, None) for k in _DRAIN_KEYS}
    managers = _record_start_managers(spark, monkeypatch)
    QUERIES[name](spark, sf_dir)
    assert managers and set(managers) == {None}
    assert {k: spark.conf.get(k, None) for k in _DRAIN_KEYS} == before


def test_publish_stream_keeps_session_manager(spark, monkeypatch, tmp_path):
    """A caller-owned checkpoint (the producer's replay log) starts with
    the session's manager, and the publish has drained when it returns."""
    from apache_nifi_spark.streaming.kafka_bus import FileKafkaBus

    src = str(tmp_path / "src")
    spark.range(40).selectExpr("CAST(id AS STRING) AS value").write.parquet(src)
    sdf = spark.readStream.schema("value string").parquet(src)
    bus = FileKafkaBus(str(tmp_path / "bus"))
    session_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    managers = _record_start_managers(spark, monkeypatch)
    spark.conf.set(_MANAGER_KEY, session_manager)
    try:
        q = bus.publish_stream(sdf, "t", "p1", str(tmp_path / "cp"))
        assert spark.conf.get(_MANAGER_KEY) == session_manager
    finally:
        spark.conf.unset(_MANAGER_KEY)
    assert managers == [session_manager]
    assert not q.isActive
    assert bus.read_batch(spark, "t").count() == 40


def test_drain_is_the_only_query_start():
    """No module under the package other than ``streaming/sources.py``
    sets a trigger or a checkpoint location or waits on a query: every
    availableNow query goes through ``sources.drain``."""
    import pathlib

    import apache_nifi_spark

    root = pathlib.Path(apache_nifi_spark.__file__).parent
    kernel = root / "streaming" / "sources.py"
    offenders = [
        f"{path.relative_to(root)}: {token}"
        for path in sorted(root.rglob("*.py"))
        if path != kernel
        for token in (".trigger(", "checkpointLocation", "awaitTermination")
        if token in path.read_text()
    ]
    assert not offenders, offenders


def _running_totals_match_window_oracle(spark, src, max_records=None):
    """Drain ``running_totals_per_key`` over the events under ``src`` and
    compare with the registry's DuckDB window oracle over the same file;
    with ``max_records`` the drain's Arrow batches hold at most that many
    rows. Returns the largest number of chunks one group arrived in."""
    import duckdb
    from pyspark.sql.streaming.state import GroupStateTimeout

    from apache_nifi_spark.registry import ORACLES
    from apache_nifi_spark.streaming import running_totals_per_key

    def count_chunks(key, pdfs, state):  # nested: the workers cannot import tests
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "chunks": [sum(1 for _ in pdfs)]})

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    if max_records is not None:
        spark.conf.set(key, str(max_records))
    try:
        got = run_to_memory(running_totals_per_key(stream_events(spark, None, path=src)))
        chunks = run_to_memory(
            stream_events(spark, None, path=src).groupBy("user_id").applyInPandasWithState(
                count_chunks, "user_id long, chunks long", "n long", "append",
                GroupStateTimeout.NoTimeout,
            )
        )
        most = max(r["chunks"] for r in chunks.collect())
    finally:
        spark.conf.set(key, before)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/*.parquet')")
    want = con.execute(ORACLES["stream_stateful_running_totals"]).fetchall()
    assert sorted(map(tuple, got.collect())) == sorted(want)
    return most


def test_running_totals_match_window_oracle_on_edges(spark, tmp_path):
    """The stateful running totals equal the SQL window cumsum when a
    group arrives as several Arrow chunks, when equal ``ts`` values are
    ordered by ``event_id``, and on values at half-cent edges (half-up
    ``floor(v*100 + 0.5)``, not numpy's half-even round). Rows are
    written out of (ts, event_id) order."""
    halves = [0.005, 0.015, 0.025, 1.005, 2.675, 0.125, -0.005, -0.015, -2.675, 1e-3]
    rows = []
    for u in range(3):
        for i in range(12):
            eid = 100 * u + (i * 7) % 12  # arrival order is not event_id order
            ts = f"2024-01-01 00:00:0{(i * 5) % 3}"  # four events share each ts
            rows.append((u, eid, ts, halves[(i + u) % len(halves)]))
    src = str(tmp_path / "events")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).select(
        "user_id", "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "value"
    ).coalesce(1).write.parquet(src)
    assert _running_totals_match_window_oracle(spark, src) == 1
    assert _running_totals_match_window_oracle(spark, src, max_records=5) >= 3


def _state_partitions(spark, sf_dir, monkeypatch, **kw):
    """The ``state/0/<p>`` directories a running-totals drain wrote,
    listed as the drain removes its private checkpoint."""
    from apache_nifi_spark.streaming import running_totals_per_key, sources

    listed, rmtree = [], sources.shutil.rmtree

    def listing_rmtree(path, *a, **kw):
        listed.extend(_files_under(path))
        rmtree(path, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(sources.shutil, "rmtree", listing_rmtree)
        run_to_memory(running_totals_per_key(stream_events(spark, sf_dir)), **kw)
    return {
        f.split("/")[2] for f in listed
        if f.startswith("state/0/") and f.split("/")[2].isdigit()
    }


def test_drain_state_stores_fit_one_task_wave(spark, sf_dir, monkeypatch):
    """Left out, ``shuffle_partitions`` opens ``min(8, defaultParallelism)``
    state stores; an explicit count is kept as given."""
    one_wave = min(8, spark.sparkContext.defaultParallelism)
    assert _state_partitions(spark, sf_dir, monkeypatch) == {
        str(p) for p in range(one_wave)
    }
    assert _state_partitions(spark, sf_dir, monkeypatch, shuffle_partitions=3) == {
        "0", "1", "2"
    }
