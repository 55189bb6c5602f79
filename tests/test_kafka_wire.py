"""Kafka wire protocol v0: framing, CRC verification, offsets,
metadata bootstrap, distributed produce/fetch."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark.streaming.kafka_wire import (
    MiniKafkaBroker,
    _KafkaClient,
    _message_set,
    consume_kafka_wire,
    publish_kafka_wire,
)


@pytest.fixture
def broker():
    with MiniKafkaBroker(num_partitions=3) as b:
        yield b


def test_metadata_bootstrap(broker):
    c = _KafkaClient("127.0.0.1", broker.port, "t")
    try:
        md = c.metadata(["events"])
        assert md["brokers"][0][2] == broker.port
        assert md["topics"]["events"] == [(0, 0), (1, 0), (2, 0)]
    finally:
        c.close()


def test_produce_fetch_roundtrip_offsets_contiguous(broker):
    c = _KafkaClient("127.0.0.1", broker.port, "t")
    try:
        base1 = c.produce("t1", {0: [(b"k1", b"v1"), (b"k2", b"v2")]})
        assert base1 == {0: 0}
        base2 = c.produce("t1", {0: [(b"k3", b"v3")]})
        assert base2 == {0: 2}  # log-end offset continues
        hw, records = c.fetch("t1", 0, 0)
        assert hw == 3
        assert records == [(0, b"k1", b"v1"), (1, b"k2", b"v2"), (2, b"k3", b"v3")]
        # resume from a committed position
        hw, tail = c.fetch("t1", 0, 2)
        assert tail == [(2, b"k3", b"v3")]
        # null key/value survive the wire
        c.produce("t1", {1: [(None, b"only-value"), (b"only-key", None)]})
        _, recs = c.fetch("t1", 1, 0)
        assert recs == [(0, None, b"only-value"), (1, b"only-key", None)]
    finally:
        c.close()


def test_corrupt_message_rejected(broker):
    c = _KafkaClient("127.0.0.1", broker.port, "t")
    try:
        mset = bytearray(_message_set([(0, b"k", b"v")]))
        mset[-1] ^= 0xFF  # flip a value byte → CRC mismatch
        body = bytearray(struct.pack(">hi", 1, 10000))
        body += struct.pack(">i", 1) + struct.pack(">h", 2) + b"tc"
        body += struct.pack(">i", 1) + struct.pack(">i", 0)
        body += struct.pack(">i", len(mset)) + bytes(mset)
        resp = c._call(0, bytes(body))
        assert resp.i32() == 1  # one topic
        assert resp.string() == "tc"
        assert resp.i32() == 1  # one partition
        partition, err, base = resp.i32(), resp.i16(), resp.i64()
        assert (partition, err, base) == (0, 2, -1)  # CORRUPT_MESSAGE
        assert broker.log_end_offset("tc", 0) == 0  # nothing appended
    finally:
        c.close()


def test_fetch_beyond_high_watermark_errors(broker):
    c = _KafkaClient("127.0.0.1", broker.port, "t")
    try:
        c.produce("t2", {0: [(b"k", b"v")]})
        with pytest.raises(ConnectionError, match="fetch error 1"):
            c.fetch("t2", 0, 5)  # OFFSET_OUT_OF_RANGE
    finally:
        c.close()


def test_spark_publish_consume_distributed(spark, broker):
    df = spark.range(60).select(
        F.concat(F.lit("user"), (F.col("id") % 7).cast("string")).alias("k"),
        F.concat(F.lit("payload-"), F.col("id")).alias("v"),
    ).repartition(5)
    out = publish_kafka_wire(
        df, "127.0.0.1", broker.port, "events", "k", "v", num_partitions=3
    )
    assert out.filter(~F.col("published")).count() == 0
    consumed = consume_kafka_wire(
        spark, "127.0.0.1", broker.port, "events", num_partitions=3
    )
    rows = consumed.collect()
    assert len(rows) == 60
    assert {bytes(r["value"]).decode() for r in rows} == {
        f"payload-{i}" for i in range(60)
    }
    # offsets contiguous per partition
    by_part = {}
    for r in rows:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_crc32c_and_zigzag_reference_vectors():
    """CRC-32C must match the public check value ('123456789' →
    0xE3069283); zigzag varints round-trip the edge cases."""
    from apache_nifi_spark.streaming.kafka_wire import _crc32c, _vz, _vz_read

    assert _crc32c(b"123456789") == 0xE3069283
    assert _crc32c(b"") == 0
    for n in (0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31, -(2**31), 2**62):
        v, off = _vz_read(_vz(n), 0)
        assert (v, off) == (n, len(_vz(n)))


def test_v2_record_batches_negotiated_gzip_roundtrip(broker):
    """The modern wire end to end: ApiVersions advertises Produce v3 /
    Fetch v4, a gzip-compressed v2 RecordBatch produces, the broker
    decompresses + CRC32C-verifies, and the fetch re-encodes with the
    producer's codec — offsets and null key/value intact."""
    from apache_nifi_spark.streaming.kafka_wire import _parse_record_batches

    c = _KafkaClient("127.0.0.1", broker.port, "t")
    try:
        vers = c.api_versions()
        assert vers[0][1] >= 3 and vers[1][1] >= 4
        base = c.produce(
            "tz", {0: [(b"k1", b"v1" * 200), (None, b"v2"), (b"k3", None)]},
            compression="gzip",
        )
        assert base == {0: 0}
        hw, records = c.fetch("tz", 0, 0)
        assert hw == 3
        assert records == [(0, b"k1", b"v1" * 200), (1, None, b"v2"),
                           (2, b"k3", None)]
        # the fetched wire bytes really were a gzip v2 batch: the broker
        # remembered the producer codec (attributes bits 0-2 == 1)
        raw = c.fetch("tz", 0, 1)
        assert raw[1] == [(1, None, b"v2"), (2, b"k3", None)]
        # legacy pinning still speaks v0 MessageSets on the same broker
        base = c.produce("tz0", {0: [(b"a", b"b")]}, force_v0=True)
        assert base == {0: 0}
        hw, recs = c.fetch("tz0", 0, 0, force_v0=True)
        assert (hw, recs) == (1, [(0, b"a", b"b")])
        # mixed-codec partition (ADVICE r11): a gzip produce followed by
        # an uncompressed produce must be re-served per-batch in kind —
        # the fetch carries one batch per codec run, each CRC-valid,
        # and the PER-RECORD codecs come back as produced
        c.produce("tm", {0: [(b"g", b"gz" * 100)]}, compression="gzip")
        c.produce("tm", {0: [(b"p", b"plain")]})
        hw, records = c.fetch("tm", 0, 0)
        assert hw == 2
        assert records == [(0, b"g", b"gz" * 100), (1, b"p", b"plain")]
        from apache_nifi_spark.streaming.kafka_wire import _record_batch_v2

        wire = (
            _record_batch_v2(0, [(0, b"g", b"gz" * 100)], 1)
            + _record_batch_v2(1, [(0, b"p", b"plain")], 0)
        )
        assert [(o, k, v, cc) for (o, k, v, cc) in
                _parse_record_batches(wire)] == [
            (0, b"g", b"gz" * 100, 1), (1, b"p", b"plain", 0)
        ]
    finally:
        c.close()


def test_v2_corrupt_batch_rejected(broker):
    """A v2 batch whose CRC32C does not cover its body answers
    CORRUPT_MESSAGE (error 2) — the broker verifies, never appends."""
    from apache_nifi_spark.streaming.kafka_wire import (
        _kstr,
        _record_batch_v2,
    )

    c = _KafkaClient("127.0.0.1", broker.port, "t")
    try:
        rb = bytearray(_record_batch_v2(0, [(0, b"k", b"v")]))
        rb[-1] ^= 0xFF  # flip a record byte after the CRC was computed
        body = bytearray(_kstr(None) + struct.pack(">hi", 1, 10000))
        body += struct.pack(">i", 1) + _kstr("bad")
        body += struct.pack(">i", 1) + struct.pack(">i", 0)
        body += struct.pack(">i", len(rb)) + bytes(rb)
        resp = c._call(0, bytes(body), version=3)
        assert resp.i32() == 1  # one topic
        assert resp.string() == "bad"
        assert resp.i32() == 1  # one partition
        partition, err, base = resp.i32(), resp.i16(), resp.i64()
        assert (partition, err, base) == (0, 2, -1)
        assert broker.log_end_offset("bad", 0) == 0
    finally:
        c.close()
