"""STOMP 1.2 wire: framing, header escaping, NUL-safe bodies, receipts,
version negotiation, Spark publish path."""

from __future__ import annotations

import json
import os
import socket

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark.streaming.stomp import (
    MiniStompBroker,
    _escape_header,
    _frame,
    _read_frame,
    _StompClient,
    _unescape_header,
    publish_stomp,
)


@pytest.fixture
def broker(tmp_path):
    landing = str(tmp_path)
    with MiniStompBroker(landing) as b:
        yield b


def _landed(broker):
    rows = []
    for fname in sorted(os.listdir(broker.landing_dir)):
        with open(os.path.join(broker.landing_dir, fname)) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def test_header_escape_roundtrip():
    evil = "a:b\\c\nd\re"
    assert _unescape_header(_escape_header(evil)) == evil
    with pytest.raises(ValueError, match="escape"):
        _unescape_header("bad\\t")


def test_send_with_evil_headers_and_nul_body(broker):
    c = _StompClient("127.0.0.1", broker.port)
    try:
        c.send("/queue/q", {"k:ey\n1": "v\\al:ue"}, b"nul\x00inside")
        c.disconnect_confirmed()
    finally:
        c.close()
    rows = _landed(broker)
    assert len(rows) == 1
    assert rows[0]["headers"] == {"k:ey\n1": "v\\al:ue"}
    assert rows[0]["body"] == "nul\x00inside"
    assert rows[0]["destination"] == "/queue/q"


def test_receipt_confirms_prior_sends(broker):
    c = _StompClient("127.0.0.1", broker.port)
    try:
        for i in range(50):
            c.send("/queue/q", {"i": str(i)}, f"m{i}".encode())
        c.disconnect_confirmed()
        # receipt seen → everything durably landed already
        rows = _landed(broker)
        assert sorted(int(r["headers"]["i"]) for r in rows) == list(range(50))
    finally:
        c.close()


def test_version_negotiation_rejected(broker):
    s = socket.create_connection(("127.0.0.1", broker.port), timeout=5)
    f = s.makefile("rwb")
    try:
        f.write(_frame("CONNECT", {"accept-version": "1.0,1.1", "host": "x"}))
        f.flush()
        frame = _read_frame(f)
        assert frame is not None and frame[0] == "ERROR"
        assert "1.2" in frame[1]["message"]
    finally:
        f.close()
        s.close()


def test_spark_publish_partitioned(spark, broker):
    df = spark.range(40).select(
        F.lit("/queue/events").alias("dest"),
        F.col("id").cast("string").alias("k"),
        F.concat(F.lit("body-"), F.col("id")).alias("body"),
    ).repartition(4)
    out = publish_stomp(
        df, "127.0.0.1", broker.port, "dest", "body", header_cols=["k"]
    )
    assert out.filter(~F.col("published")).count() == 0
    rows = _landed(broker)
    assert len(rows) == 40
    assert {r["body"] for r in rows} == {f"body-{i}" for i in range(40)}
    assert {int(r["headers"]["k"]) for r in rows} == set(range(40))
