"""MQTT 3.1.1 wire tests: framing varints, CONNACK verification, QoS1
PUBACK echo, payload escaping, landing batch flush."""

from __future__ import annotations

import glob
import pathlib
import socket
import struct

import pytest

from apache_nifi_spark.streaming.mqtt import (
    MiniMqttBroker,
    _encode_varint,
    _MqttClient,
    _mqtt_str,
    _packet,
)


def test_varint_encoding_boundaries():
    assert _encode_varint(0) == b"\x00"
    assert _encode_varint(127) == b"\x7f"
    assert _encode_varint(128) == b"\x80\x01"
    assert _encode_varint(16383) == b"\xff\x7f"
    assert _encode_varint(16384) == b"\x80\x80\x01"


def _wait_landed(broker, n):
    broker.landing.wait(n, timeout=10)
    return [
        ln
        for p in glob.glob(f"{broker.landing_dir}/*")
        for ln in pathlib.Path(p).read_bytes().split(b"\n")
        if ln
    ]


def test_publish_qos1_roundtrip_and_escaping(tmp_path):
    landing = str(tmp_path)
    with MiniMqttBroker(landing) as broker:
        c = _MqttClient("127.0.0.1", broker.port, "t1")
        c.publish_qos1("a/b", b"plain")
        c.publish_qos1("a/c", b"tab\there\nand newline \\ backslash")
        # a >127-byte payload exercises the multi-byte remaining length
        c.publish_qos1("big/one", b"x" * 300)
        c.close()  # DISCONNECT flushes the landing batch
        lines = _wait_landed(broker, 3)
        by_topic = {ln.split(b"\t", 1)[0]: ln.split(b"\t", 1)[1] for ln in lines}
        assert by_topic[b"a/b"] == b"plain"
        assert by_topic[b"a/c"] == b"tab\\there\\nand newline \\\\ backslash"
        assert by_topic[b"big/one"] == b"x" * 300


def test_connack_refuses_wrong_protocol(tmp_path):
    landing = str(tmp_path)
    with MiniMqttBroker(landing) as broker:
        with socket.create_connection(("127.0.0.1", broker.port), timeout=5) as s:
            body = (
                _mqtt_str("MQIsdp") + bytes([3]) + bytes([0x02])
                + struct.pack(">H", 30) + _mqtt_str("old")
            )
            s.sendall(_packet(1, 0, body))
            resp = s.recv(4)
            assert resp[0] >> 4 == 2 and resp[3] == 1  # CONNACK, refused
        with pytest.raises(ConnectionError, match="CONNACK"):

            class _Bad(_MqttClient):
                pass

            # client-side check: a refused CONNACK raises
            import apache_nifi_spark.streaming.mqtt as m

            orig = m._mqtt_str
            try:
                m._mqtt_str = lambda s: orig("MQIsdp" if s == "MQTT" else s)
                _Bad("127.0.0.1", broker.port, "x")
            finally:
                m._mqtt_str = orig


def test_publish_mqtt_partitioned(spark, tmp_path):
    from apache_nifi_spark.streaming.mqtt import publish_mqtt

    landing = str(tmp_path)
    with MiniMqttBroker(landing) as broker:
        df = spark.range(200).selectExpr(
            "concat('t/', cast(id % 3 as string)) as topic",
            "concat('m', cast(id as string)) as payload",
        ).repartition(4)
        out = publish_mqtt(df, "127.0.0.1", broker.port, "topic", "payload")
        assert out.filter("published").count() == 200
        lines = _wait_landed(broker, 200)
        assert len(lines) == 200
        payloads = {ln.split(b"\t", 1)[1] for ln in lines}
        assert payloads == {f"m{i}".encode() for i in range(200)}
