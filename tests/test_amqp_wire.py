"""AMQP 0-9-1 wire tests: handshake sequence, publisher confirms,
content framing (empty body, multi-frame-sized), landing escaping."""

from __future__ import annotations

import glob
import pathlib
import socket

import pytest

from apache_nifi_spark.streaming.amqp_wire import (
    MiniAmqpBroker,
    _AmqpClient,
    publish_amqp,
)


def _landed_lines(broker, n):
    broker.landing.wait(n, timeout=10)
    return [
        ln
        for p in glob.glob(f"{broker.landing_dir}/*")
        for ln in pathlib.Path(p).read_bytes().split(b"\n")
        if ln
    ]


def test_handshake_publish_confirm_and_landing(tmp_path):
    landing = str(tmp_path)
    with MiniAmqpBroker(landing) as broker:
        c = _AmqpClient("127.0.0.1", broker.port)
        c.publish("ex", "a.b.c", b"hello")
        c.publish("ex", "x.y", b"tab\tnl\nslash\\")
        c.publish("ex", "empty", b"")
        c.publish("ex", "big", b"z" * 1000)
        c.close()  # Connection.Close/CloseOk flushes the landing batch
        lines = _landed_lines(broker, 4)
        by_key = {
            ln.split(b"\t", 2)[1]: ln.split(b"\t", 2)[2] for ln in lines
        }
        assert by_key[b"a.b.c"] == b"hello"
        assert by_key[b"x.y"] == b"tab\\tnl\\nslash\\\\"
        assert by_key[b"empty"] == b""
        assert by_key[b"big"] == b"z" * 1000


def test_wrong_protocol_header_rejected(tmp_path):
    landing = str(tmp_path)
    with MiniAmqpBroker(landing) as broker:
        with socket.create_connection(("127.0.0.1", broker.port), timeout=5) as s:
            s.sendall(b"HTTP/1.1 GET /\r\n")
            # spec: the server answers with ITS protocol header and closes
            resp = s.recv(16)
            assert resp == b"AMQP\x00\x00\x09\x01"
            assert s.recv(1) == b""  # closed


def test_publish_amqp_partitioned(spark, tmp_path):
    landing = str(tmp_path)
    with MiniAmqpBroker(landing) as broker:
        df = spark.range(150).selectExpr(
            "concat('k.', cast(id % 5 as string)) as rk",
            "concat('p', cast(id as string)) as payload",
        ).repartition(3)
        out = publish_amqp(df, "127.0.0.1", broker.port, "ex", "rk", "payload")
        assert out.filter("published").count() == 150
        lines = _landed_lines(broker, 150)
        assert len(lines) == 150
        assert {ln.split(b"\t", 2)[2] for ln in lines} == {
            f"p{i}".encode() for i in range(150)
        }
