"""Avro: the block-level codec's spec bytes + the record-set path.

The block codec (sources/avro_codec.py) is a dependency-free
implementation of the public Avro 1.11 spec — NiFi's default record wire
format (SURVEY.md §2.2); record sets go through Spark's Avro file format
behind sources/formats.  These tests pin (a) the binary encoding against
hand-computed spec bytes, (b) lossless round-trips through
write_records/read_records incl. nulls / nested types / both block
codecs, (c) schema inference from a container header, and (d) that the
block codec reads every container the engine writes.
"""

from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from apache_nifi_spark.sources import read_records, write_records
from apache_nifi_spark.sources.avro_codec import (
    avro_to_spark_schema,
    decode_container,
    encode_container,
    read_header,
    spark_to_avro_schema,
)


def test_zigzag_varint_spec_bytes():
    """Spec examples: 0→00, -1→01, 1→02, -64→7f, 64→80 01."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "n", "type": "long"}]}
    for value, expected in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        data = b"".join(encode_container(iter([(value,)]), schema, codec="null"))
        _, rows = decode_container(data)
        assert rows == [(value,)]
        # the encoded long is the first payload byte(s) of the data block:
        # block = count(=1: 0x02) size data sync — find after header
        assert expected in data

def test_string_and_bool_encoding_spec_bytes():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "s", "type": "string"}, {"name": "b", "type": "boolean"}],
    }
    data = b"".join(encode_container(iter([("foo", True)]), schema, codec="null"))
    # "foo" encodes as len 3 (zigzag 0x06) + bytes; True as 0x01
    assert b"\x06foo\x01" in data
    _, rows = decode_container(data)
    assert rows == [("foo", True)]


def test_union_null_branch_indexes():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["null", "long"], "default": None}],
    }
    data = b"".join(encode_container(iter([(None,), (5,)]), schema, codec="null"))
    _, rows = decode_container(data)
    assert rows == [(None,), (5,)]


def test_union_null_second_branch_indexes():
    """Spark writes nullable fields as ``[T, "null"]``: null is branch 1
    (zigzag 0x02) and the value branch 0 (0x00)."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["long", "null"]}],
    }
    data = b"".join(encode_container(iter([(None,), (5,)]), schema, codec="null"))
    assert b"\x02\x00\x0a" in data  # null → 02; 5 → branch 00 + zigzag(5)
    _, rows = decode_container(data)
    assert rows == [(None,), (5,)]


def test_container_magic_and_sync():
    schema = {"type": "record", "name": "r", "fields": [{"name": "n", "type": "int"}]}
    data = b"".join(encode_container(iter([(1,)]), schema, codec="deflate"))
    assert data[:4] == b"Obj\x01"
    with pytest.raises(ValueError, match="magic"):
        decode_container(b"NOPE" + data[4:])
    # corrupt the trailing sync → detected
    with pytest.raises(ValueError, match="sync"):
        decode_container(data[:-16] + b"\x00" * 16)


def test_block_boundaries_multiple_blocks():
    schema = {"type": "record", "name": "r", "fields": [{"name": "n", "type": "long"}]}
    rows = [(i,) for i in range(10_000)]
    data = b"".join(encode_container(iter(rows), schema, codec="deflate", block_rows=512))
    _, out = decode_container(data)
    assert out == rows


def test_schema_conversion_roundtrip_all_types():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("f32", T.FloatType(), True),
            T.StructField("small", T.IntegerType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("raw", T.BinaryType(), True),
            T.StructField("d", T.DateType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("dec", T.DecimalType(12, 3), True),
            T.StructField("tags", T.ArrayType(T.StringType(), True), True),
            T.StructField("kv", T.MapType(T.StringType(), T.LongType(), True), True),
            T.StructField(
                "nested", T.StructType([T.StructField("a", T.IntegerType(), True)]), True
            ),
        ]
    )
    avro = spark_to_avro_schema(schema)
    dt, _ = avro_to_spark_schema(avro)
    assert [f.name for f in dt.fields] == [f.name for f in schema.fields]
    assert dict((f.name, f.dataType) for f in dt.fields)["dec"] == T.DecimalType(12, 3)
    assert dict((f.name, f.dataType) for f in dt.fields)["ts"] == T.TimestampNTZType()


def test_pure_python_roundtrip_logicals_and_nulls():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("d", T.DateType(), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("dec", T.DecimalType(10, 2), True),
        ]
    )
    avro = spark_to_avro_schema(schema)
    rows = [
        (1, date(2026, 8, 14), datetime(2026, 8, 14, 12, 0, 0, 123456), Decimal("12.34")),
        (2, None, None, None),
        (3, date(1969, 12, 31), datetime(1900, 1, 1), Decimal("-0.01")),
    ]
    data = b"".join(encode_container(iter(rows), avro, codec="deflate"))
    _, out = decode_container(data)
    assert out == rows


def _part_files(path):
    import glob

    return sorted(glob.glob(f"{path}/part-*.avro"))


#: Avro block codec → Spark's ``compression`` option naming it
_SPARK_COMPRESSION = {"null": "uncompressed", "deflate": "deflate"}


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_spark_roundtrip_orders(spark, tmp_path, codec):
    from apache_nifi_spark.io import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / f"orders_{codec}")
    write_records(orders, out, "avro", options={"compression": _SPARK_COMPRESSION[codec]})
    for part in _part_files(out):
        with open(part, "rb") as fh:
            assert read_header(fh.read(65536))[1] == codec
    back = read_records(spark, out, "avro")
    assert back.schema.fieldNames() == orders.schema.fieldNames()
    a = orders.orderBy("o_orderkey").collect()
    b = back.orderBy("o_orderkey").collect()
    assert a == b


def test_spark_roundtrip_nested_array(spark, tmp_path):
    from apache_nifi_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = str(tmp_path / "emb")
    write_records(emb, out, "avro")
    back = read_records(spark, out, "avro")
    assert emb.orderBy("vec_id").collect() == back.orderBy("vec_id").collect()


def test_spark_roundtrip_nulls_structs_maps(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("kv", T.MapType(T.StringType(), T.LongType(), True), True),
            T.StructField(
                "nested",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType(), True),
                        T.StructField("b", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, "x", {"k": 7}, Row(a=3, b="y")),
            (2, None, None, None),
            (3, "", {}, Row(a=None, b=None)),
        ],
        schema,
    )
    out = str(tmp_path / "mixed")
    write_records(df, out, "avro")
    back = read_records(spark, out, "avro")
    assert sorted(df.collect(), key=lambda r: r.id) == sorted(back.collect(), key=lambda r: r.id)


def test_read_avro_infers_schema_from_header(spark, tmp_path):
    from apache_nifi_spark.io import load_table

    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    out = str(tmp_path / "sup")
    write_records(sup, out, "avro")
    back = read_records(spark, out, "avro")  # no schema given — header inference
    assert set(back.columns) == set(sup.columns)
    assert back.count() == sup.count()


def test_default_write_is_deflate_readable_by_block_codec(spark, tmp_path):
    """write_records' Avro default is the deflate codec, which the
    engine's own container readers decode (they refuse Spark's default
    snappy): every part file decodes with decode_container and together
    they give back the written rows."""
    from apache_nifi_spark.io import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    out = str(tmp_path / "deflate")
    write_records(orders.repartition(3), out, "avro")
    parts = _part_files(out)
    assert len(parts) == 3
    rows = []
    for part in parts:
        with open(part, "rb") as fh:
            data = fh.read()
        assert read_header(data)[1] == "deflate"
        rows.extend(decode_container(data)[1])
    assert sorted(rows) == sorted(tuple(r) for r in orders.collect())


def test_schema_resolution_paths():
    """Spec resolution paths beyond the registry query: string<->bytes
    promotion, array/map recursion, reader-only without default raising,
    and union branch matching."""
    import io as _io

    import pytest

    from apache_nifi_spark.sources.avro_codec import (
        _Reader,
        decode_container_resolved,
        encode_container,
        resolve_decoder,
    )

    writer = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "nums", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "gone", "type": "string"},
        ],
    }
    rows = [("hi", [1, 2, 3], {"a": 7}, "drop-me"), ("yo", [], {}, "x")]
    blob = b"".join(encode_container(iter(rows), writer, codec="null"))

    reader = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "s", "type": "bytes"},                       # string→bytes
            {"name": "nums", "type": {"type": "array", "items": "double"}},
            {"name": "m", "type": {"type": "map", "values": "double"}},
            {"name": "added", "type": "long", "default": 42},
        ],
    }
    got = decode_container_resolved(blob, reader)
    assert got[0] == (b"hi", [1.0, 2.0, 3.0], {"a": 7.0}, 42)
    assert got[1] == (b"yo", [], {}, 42)

    bad = {
        "type": "record", "name": "r",
        "fields": [{"name": "brand_new", "type": "string"}],  # no default
    }
    with pytest.raises(TypeError, match="no default"):
        decode_container_resolved(blob, bad)

    with pytest.raises(TypeError):
        resolve_decoder("double", "int")  # demotion is not promotion


def test_fingerprint_spec_vector_and_canonical_rules():
    """CRC-64-AVRO pinned to the spec's published value for '"int"';
    canonical form must ignore docs/aliases/defaults but not field
    order."""
    from apache_nifi_spark.sources.avro_codec import (
        canonical_form,
        rabin_fingerprint,
    )

    assert rabin_fingerprint(b'"int"') == 0x7275D51A3F395C8F

    base = {
        "type": "record", "name": "r",
        "fields": [{"name": "a", "type": "int"}, {"name": "b", "type": "string"}],
    }
    noisy = {
        "type": "record", "name": "r", "doc": "ignored", "namespace-free": 1,
        "fields": [
            {"name": "a", "type": "int", "doc": "x", "aliases": ["old_a"],
             "default": 0},
            {"name": "b", "type": "string"},
        ],
    }
    reordered = {
        "type": "record", "name": "r",
        "fields": [{"name": "b", "type": "string"}, {"name": "a", "type": "int"}],
    }
    fp = lambda s: rabin_fingerprint(canonical_form(s).encode())  # noqa: E731
    assert fp(base) == fp(noisy)
    assert fp(base) != fp(reordered)
