"""CBOR codec (sources/cbor_codec.py) pinned against the RFC 8949
Appendix A test vectors (the spec's own examples), plus round-trip
properties for the typed values the record path carries."""

from __future__ import annotations

import datetime

import pytest

from apache_nifi_spark.sources.cbor_codec import (
    cbor_decode,
    cbor_decode_sequence,
    cbor_encode,
)

# (value, hex) straight from RFC 8949 Appendix A
VECTORS = [
    (0, "00"),
    (1, "01"),
    (10, "0a"),
    (23, "17"),
    (24, "1818"),
    (25, "1819"),
    (100, "1864"),
    (1000, "1903e8"),
    (1000000, "1a000f4240"),
    (1000000000000, "1b000000e8d4a51000"),
    (-1, "20"),
    (-10, "29"),
    (-100, "3863"),
    (-1000, "3903e7"),
    (1.1, "fb3ff199999999999a"),
    (-4.1, "fbc010666666666666"),
    (False, "f4"),
    (True, "f5"),
    (None, "f6"),
    (b"\x01\x02\x03\x04", "4401020304"),
    ("", "60"),
    ("IETF", "6449455446"),
    ("ü", "62c3bc"),
    ([], "80"),
    ([1, 2, 3], "83010203"),
    (
        [1, [2, 3], [4, 5]],
        "8301820203820405",
    ),
    ({}, "a0"),
    ({"a": 1, "b": [2, 3]}, "a26161016162820203"),
    (["a", {"b": "c"}], "826161a161626163"),
]


@pytest.mark.parametrize("value,hx", VECTORS)
def test_rfc8949_appendix_a_encode(value, hx):
    assert cbor_encode(value).hex() == hx


@pytest.mark.parametrize("value,hx", VECTORS)
def test_rfc8949_appendix_a_decode(value, hx):
    got, end = cbor_decode(bytes.fromhex(hx))
    assert got == value and end == len(bytes.fromhex(hx))


def test_float16_decode_only():
    # RFC 8949 Appendix A half-precision rows (we decode, never emit)
    assert cbor_decode(bytes.fromhex("f90001"))[0] == pytest.approx(
        5.960464477539063e-08
    )
    assert cbor_decode(bytes.fromhex("f93c00"))[0] == 1.0
    assert cbor_decode(bytes.fromhex("f9c400"))[0] == -4.0


def test_timestamp_micros_roundtrip():
    ts = datetime.datetime(2024, 2, 29, 23, 59, 59, 123456)
    v, _ = cbor_decode(cbor_encode(ts))
    assert v == ts
    # pre-epoch too (negative seconds)
    ts2 = datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)
    v2, _ = cbor_decode(cbor_encode(ts2))
    assert v2 == ts2


def test_date_tag100_roundtrip():
    d = datetime.date(1999, 12, 31)
    v, _ = cbor_decode(cbor_encode(d))
    assert v == d


def test_sequence_streams_back_to_back_items():
    buf = b"".join(cbor_encode(x) for x in [1, "two", [3], {"k": None}])
    assert list(cbor_decode_sequence(buf)) == [1, "two", [3], {"k": None}]


def test_minimal_width_integers_at_boundaries():
    # preferred serialization: the argument uses the smallest width
    for n, width in [(23, 1), (24, 2), (255, 2), (256, 3), (65535, 3),
                     (65536, 5), (4294967295, 5), (4294967296, 9)]:
        assert len(cbor_encode(n)) == width
        assert cbor_decode(cbor_encode(n))[0] == n


def test_write_cbor_keeps_bigint_above_2_53_next_to_null(spark, tmp_path):
    """The writer reads Arrow batches: a nullable bigint is never a
    float64 on its way to the encoder."""
    from pyspark.sql import types as T

    from apache_nifi_spark.sources.cbor_codec import read_cbor, write_cbor

    schema = T.StructType([T.StructField("v", T.LongType())])
    df = spark.createDataFrame([(2**60 + 1,), (None,)], schema).coalesce(1)
    write_cbor(df, str(tmp_path / "out"))
    got = [r.v for r in read_cbor(spark, str(tmp_path / "out"), schema).collect()]
    assert sorted(got, key=lambda v: v is None) == [2**60 + 1, None]
