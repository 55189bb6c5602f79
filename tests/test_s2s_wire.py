"""Site-to-site wire protocol: peer list, two-phase commit, abort &
redeliver, version negotiation — all over real TLS sockets."""

from __future__ import annotations

import json
import os
import socket
import struct

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark.streaming.s2s_wire import (
    PROTOCOL_VERSION,
    SiteToSiteServer,
    s2s_peers,
    s2s_send,
)
from apache_nifi_spark.streaming.tls import client_context, generate_self_signed


@pytest.fixture(scope="module")
def tls_pair(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("anspark_s2s_test_tls"))
    return generate_self_signed(d)


@pytest.fixture
def server(tls_pair, tmp_path):
    cert, key = tls_pair
    landing = str(tmp_path)
    with SiteToSiteServer(landing, cert, key, peers=[("other-node", 10000)]) as s:
        yield s


def _landed(server):
    rows = []
    for fname in sorted(os.listdir(server.landing_dir)):
        with open(os.path.join(server.landing_dir, fname)) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def test_peer_list(tls_pair, server):
    cert, _ = tls_pair
    peers = s2s_peers("127.0.0.1", server.port, cert)
    assert peers[0]["port"] == server.port and peers[0]["secure"]
    assert {p["host"] for p in peers} == {"127.0.0.1", "other-node"}


def test_roundtrip_two_phase_commit(spark, tls_pair, server):
    cert, _ = tls_pair
    df = spark.range(20).select(
        F.col("id"),
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.concat(F.lit("payload-"), F.col("id")).alias("content"),
    ).repartition(4)
    sent = s2s_send(df, "127.0.0.1", server.port, cert, "in", ["key"], "content")
    assert sent.filter(~F.col("delivered")).count() == 0
    rows = _landed(server)
    assert len(rows) == 20
    assert {r["attributes"]["key"] for r in rows} == {f"k{i}" for i in range(20)}
    assert {r["content"] for r in rows} == {f"payload-{i}" for i in range(20)}
    committed, aborted = server.stats
    assert aborted == 0 and committed >= 1  # ≤1 transaction per partition


def test_abort_lands_nothing_then_redeliver(spark, tls_pair, server):
    """BAD_CHECKSUM must discard the staged batch atomically; the
    redelivery then lands every row exactly once."""
    cert, _ = tls_pair
    df = spark.range(7).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("content"),
    ).coalesce(1)
    bad = s2s_send(
        df, "127.0.0.1", server.port, cert, "in", ["key"], "content",
        _corrupt_crc=True,
    )
    assert bad.filter(F.col("delivered")).count() == 0  # all marked failed
    assert _landed(server) == []  # nothing landed on abort
    assert server.stats[1] == 1  # one aborted transaction
    good = s2s_send(df, "127.0.0.1", server.port, cert, "in", ["key"], "content")
    assert good.filter(~F.col("delivered")).count() == 0
    rows = _landed(server)
    assert sorted(r["content"] for r in rows) == [f"v{i}" for i in range(7)]


def test_version_negotiation(tls_pair, server):
    """A client speaking an unknown version gets DIFFERENT_VERSION plus
    the server's highest supported version."""
    cert, _ = tls_pair
    ctx = client_context(cert)
    raw = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    conn = ctx.wrap_socket(raw, server_hostname="localhost")
    try:
        f = conn.makefile("rwb")
        f.write(b"NiFi" + struct.pack(">H", 99))
        f.flush()
        assert f.read(1)[0] == 0x02  # DIFFERENT_VERSION
        (theirs,) = struct.unpack(">H", f.read(2))
        assert theirs == PROTOCOL_VERSION
    finally:
        conn.close()


def test_empty_partitions_send_nothing(spark, tls_pair, server):
    cert, _ = tls_pair
    df = spark.range(0).select(
        F.col("id").cast("string").alias("key"),
        F.col("id").cast("string").alias("content"),
    )
    sent = s2s_send(df, "127.0.0.1", server.port, cert, "in", ["key"], "content")
    assert sent.count() == 0
    assert server.stats == (0, 0)  # no transaction opened for empty input
