"""Pure-Python Avro Object Container File codec, block level.

NiFi's default wire format is Avro — every RecordReader/RecordSetWriter
pairing defaults to it (SURVEY.md §2.2).  Reading and writing Avro
record sets is Spark's own ``AvroFileFormat``, reached through
``sources/formats.read_records``/``write_records``.  This module serves
the processors that need container *bytes*: SplitAvro, ExtractAvroMetadata,
schema-registry framing, reader-vs-writer schema resolution, and the Hudi
and Iceberg metadata files.  It follows the public Avro 1.11
specification (https://avro.apache.org/docs/1.11.1/specification/) with
no third-party dependencies:

- binary encoding: zigzag-varint ints/longs, LE IEEE floats, length-
  prefixed bytes/strings, block-encoded arrays/maps, index-prefixed
  unions, field-ordered records, ``null``/``deflate`` block codecs;
- the Object Container File layout: ``Obj\\x01`` magic, file-metadata map
  (``avro.schema``/``avro.codec``), 16-byte sync marker, sync-delimited
  data blocks;
- Spark ⇄ Avro schema conversion following the spark-avro public
  conventions (nullable → ``["null", T]``, DateType → ``date`` logical
  int, timestamps → ``timestamp-micros``/``local-timestamp-micros``
  longs, DecimalType → ``decimal`` logical bytes).

The per-value encode/decode is compiled once per schema into a closure
tree (no per-value dispatch on schema dicts), which keeps the pure-Python
path at ~1M values/sec/core.  The Spark-facing processors (SplitAvro,
ExtractAvroMetadata) are per-container generators run by
:func:`apache_nifi_spark.io.flat_map`.
"""

from __future__ import annotations

import io
import json
import struct
import uuid
import zlib
from collections.abc import Callable, Iterator, Mapping
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from apache_nifi_spark.io import flat_map

__all__ = [
    "spark_to_avro_schema",
    "infer_avro_schema",
    "avro_to_spark_schema",
    "encode_container",
    "decode_container",
    "split_avro_column",
    "resolve_decoder",
    "decode_container_resolved",
    "canonical_form",
    "rabin_fingerprint",
    "extract_avro_metadata",
]

_MAGIC = b"Obj\x01"
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_NAIVE = datetime(1970, 1, 1)
_EPOCH_UTC = datetime(1970, 1, 1, tzinfo=timezone.utc)


# ---------------------------------------------------------------------------
# Schema conversion (spark-avro public conventions)
# ---------------------------------------------------------------------------


def spark_to_avro_schema(dt: T.DataType, name: str = "topLevelRecord", *, _path: str = "") -> Any:
    """Spark DataType → Avro schema (JSON-able dict/str)."""
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.ArrayType):
        items = spark_to_avro_schema(dt.elementType, name, _path=_path + ".item")
        if dt.containsNull:
            items = ["null", items]
        return {"type": "array", "items": items}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise TypeError("Avro maps require string keys")
        values = spark_to_avro_schema(dt.valueType, name, _path=_path + ".value")
        if dt.valueContainsNull:
            values = ["null", values]
        return {"type": "map", "values": values}
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fs = spark_to_avro_schema(f.dataType, f.name, _path=_path + "." + f.name)
            if f.nullable:
                fs = ["null", fs]
                fields.append({"name": f.name, "type": fs, "default": None})
            else:
                fields.append({"name": f.name, "type": fs})
        rec_name = name if not _path else name + _path.replace(".", "_")
        return {"type": "record", "name": rec_name, "fields": fields}
    raise TypeError(f"no Avro mapping for Spark type {dt}")


def avro_to_spark_schema(schema: Any) -> tuple[T.DataType, bool]:
    """Avro schema → (Spark DataType, nullable)."""
    if isinstance(schema, str):
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if schema in prim:
            return prim[schema], False
        raise TypeError(f"unknown Avro type {schema!r}")
    if isinstance(schema, list):  # union
        branches = [b for b in schema if b != "null"]
        nullable = len(branches) != len(schema)
        if len(branches) != 1:
            raise TypeError("only unions of null + one type are supported")
        dt, _ = avro_to_spark_schema(branches[0])
        return dt, nullable
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "date" and t == "int":
        return T.DateType(), False
    if logical == "timestamp-micros" and t == "long":
        return T.TimestampType(), False
    if logical == "timestamp-millis" and t == "long":
        return T.TimestampType(), False
    if logical == "local-timestamp-micros" and t == "long":
        return T.TimestampNTZType(), False
    if logical == "decimal" and t in ("bytes", "fixed"):
        return T.DecimalType(schema["precision"], schema["scale"]), False
    if t == "array":
        edt, enull = avro_to_spark_schema(schema["items"])
        return T.ArrayType(edt, enull), False
    if t == "map":
        vdt, vnull = avro_to_spark_schema(schema["values"])
        return T.MapType(T.StringType(), vdt, vnull), False
    if t == "record":
        fields = []
        for f in schema["fields"]:
            fdt, fnull = avro_to_spark_schema(f["type"])
            fields.append(T.StructField(f["name"], fdt, fnull))
        return T.StructType(fields), False
    if t == "enum":
        return T.StringType(), False
    if t == "fixed":
        return T.BinaryType(), False
    if isinstance(t, (str, dict, list)) and not logical:
        return avro_to_spark_schema(t)  # wrapped primitive e.g. {"type":"string"}
    raise TypeError(f"unsupported Avro schema {schema!r}")


# ---------------------------------------------------------------------------
# Binary encoding — compiled encoder/decoder closures
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _write_long(buf: io.BytesIO, n: int) -> None:
    n = _zigzag(n)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read_long(self) -> int:
        data, pos = self.data, self.pos
        shift = acc = 0
        while True:
            b = data[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_fixed(self, n: int) -> bytes:
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


def _compile_encoder(schema: Any) -> Callable[[io.BytesIO, Any], None]:
    """Avro schema → ``f(buf, value)`` closure."""
    if isinstance(schema, str):
        if schema == "null":
            return lambda buf, v: None
        if schema == "boolean":
            return lambda buf, v: buf.write(b"\x01" if v else b"\x00")
        if schema in ("int", "long"):
            return lambda buf, v: _write_long(buf, int(v))
        if schema == "float":
            pack_f = struct.Struct("<f").pack
            return lambda buf, v: buf.write(pack_f(float(v)))
        if schema == "double":
            pack_d = struct.Struct("<d").pack
            return lambda buf, v: buf.write(pack_d(float(v)))
        if schema == "string":

            def enc_str(buf: io.BytesIO, v: Any) -> None:
                raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                _write_long(buf, len(raw))
                buf.write(raw)

            return enc_str
        if schema == "bytes":

            def enc_bytes(buf: io.BytesIO, v: Any) -> None:
                raw = bytes(v)
                _write_long(buf, len(raw))
                buf.write(raw)

            return enc_bytes
        raise TypeError(f"unknown Avro type {schema!r}")
    if isinstance(schema, list):  # union — runtime branch on None
        if len(schema) == 2 and "null" in schema:
            # branch index as a zigzag long: 0 → 0x00, 1 → 0x02
            null_ix = schema.index("null")
            null_tag, value_tag = (b"\x00", b"\x02") if null_ix == 0 else (b"\x02", b"\x00")
            inner = _compile_encoder(schema[1 - null_ix])

            def enc_union(buf: io.BytesIO, v: Any) -> None:
                if v is None:
                    buf.write(null_tag)
                else:
                    buf.write(value_tag)
                    inner(buf, v)

            return enc_union
        raise TypeError("only [null, T] and [T, null] unions are supported")
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "date":
        def enc_date(buf: io.BytesIO, v: Any) -> None:
            days = (v - _EPOCH_DATE).days if isinstance(v, date) else int(v)
            _write_long(buf, days)

        return enc_date
    if logical in ("timestamp-micros", "local-timestamp-micros"):
        def enc_ts(buf: io.BytesIO, v: Any) -> None:
            if isinstance(v, datetime):
                epoch = _EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE
                micros = (v - epoch) // timedelta(microseconds=1)
            else:  # pandas.Timestamp or integer micros
                micros = int(v.value // 1000) if hasattr(v, "value") else int(v)
            _write_long(buf, micros)

        return enc_ts
    if logical == "timestamp-millis":
        def enc_ts_ms(buf: io.BytesIO, v: Any) -> None:
            epoch = _EPOCH_UTC if getattr(v, "tzinfo", None) is not None else _EPOCH_NAIVE
            _write_long(buf, (v - epoch) // timedelta(milliseconds=1))

        return enc_ts_ms
    if logical == "decimal":
        scale = schema["scale"]

        def enc_dec(buf: io.BytesIO, v: Any) -> None:
            unscaled = int(Decimal(v).scaleb(scale).to_integral_value())
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            raw = unscaled.to_bytes(nbytes, "big", signed=True)
            _write_long(buf, len(raw))
            buf.write(raw)

        return enc_dec
    if t == "array":
        item = _compile_encoder(schema["items"])

        def enc_array(buf: io.BytesIO, v: Any) -> None:
            vals = list(v)
            if vals:
                _write_long(buf, len(vals))
                for x in vals:
                    item(buf, x)
            buf.write(b"\x00")

        return enc_array
    if t == "map":
        val = _compile_encoder(schema["values"])

        def enc_map(buf: io.BytesIO, v: Any) -> None:
            items = list(v.items())
            if items:
                _write_long(buf, len(items))
                for k, x in items:
                    raw = k.encode("utf-8")
                    _write_long(buf, len(raw))
                    buf.write(raw)
                    val(buf, x)
            buf.write(b"\x00")

        return enc_map
    if t == "record":
        fields = [(f["name"], _compile_encoder(f["type"])) for f in schema["fields"]]

        def enc_record(buf: io.BytesIO, v: Any) -> None:
            get = v.get if isinstance(v, Mapping) else None
            if get is not None:
                for name, enc in fields:
                    enc(buf, get(name))
            else:  # sequence in field order (Row/tuple)
                for (name, enc), x in zip(fields, v):
                    enc(buf, x)

        return enc_record
    if t == "enum":
        symbols = {s: i for i, s in enumerate(schema["symbols"])}
        return lambda buf, v: _write_long(buf, symbols[v])
    if t == "fixed":
        size = schema["size"]

        def enc_fixed(buf: io.BytesIO, v: Any) -> None:
            raw = bytes(v)
            if len(raw) != size:
                raise ValueError(f"fixed({size}) got {len(raw)} bytes")
            buf.write(raw)

        return enc_fixed
    if not logical:
        return _compile_encoder(t)
    raise TypeError(f"unsupported Avro schema {schema!r}")


def _compile_decoder(schema: Any) -> Callable[[_Reader], Any]:
    if isinstance(schema, str):
        if schema == "null":
            return lambda r: None
        if schema == "boolean":
            def dec_bool(r: _Reader) -> bool:
                b = r.data[r.pos]
                r.pos += 1
                return b != 0

            return dec_bool
        if schema in ("int", "long"):
            return _Reader.read_long
        if schema == "float":
            unpack_f = struct.Struct("<f").unpack_from

            def dec_float(r: _Reader) -> float:
                (v,) = unpack_f(r.data, r.pos)
                r.pos += 4
                return v

            return dec_float
        if schema == "double":
            unpack_d = struct.Struct("<d").unpack_from

            def dec_double(r: _Reader) -> float:
                (v,) = unpack_d(r.data, r.pos)
                r.pos += 8
                return v

            return dec_double
        if schema == "string":
            def dec_str(r: _Reader) -> str:
                return r.read_bytes().decode("utf-8")

            return dec_str
        if schema == "bytes":
            return lambda r: bytes(r.read_bytes())
        raise TypeError(f"unknown Avro type {schema!r}")
    if isinstance(schema, list):
        decoders = [_compile_decoder(b) for b in schema]

        def dec_union(r: _Reader) -> Any:
            return decoders[r.read_long()](r)

        return dec_union
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "date":
        def dec_date(r: _Reader) -> date:
            return _EPOCH_DATE + timedelta(days=r.read_long())

        return dec_date
    if logical == "timestamp-micros":
        def dec_ts(r: _Reader) -> datetime:
            return _EPOCH_UTC + timedelta(microseconds=r.read_long())

        return dec_ts
    if logical == "timestamp-millis":
        def dec_ts_ms(r: _Reader) -> datetime:
            return _EPOCH_UTC + timedelta(milliseconds=r.read_long())

        return dec_ts_ms
    if logical == "local-timestamp-micros":
        def dec_lts(r: _Reader) -> datetime:
            return _EPOCH_NAIVE + timedelta(microseconds=r.read_long())

        return dec_lts
    if logical == "decimal":
        scale = schema["scale"]
        read_raw = (
            (lambda r: r.read_fixed(schema["size"])) if t == "fixed" else _Reader.read_bytes
        )

        def dec_dec(r: _Reader) -> Decimal:
            raw = read_raw(r)
            return Decimal(int.from_bytes(raw, "big", signed=True)).scaleb(-scale)

        return dec_dec
    if t == "array":
        item = _compile_decoder(schema["items"])

        def dec_array(r: _Reader) -> list:
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.read_long()  # block byte size — unused, we scan serially
                for _ in range(n):
                    out.append(item(r))

        return dec_array
    if t == "map":
        val = _compile_decoder(schema["values"])

        def dec_map(r: _Reader) -> dict:
            out: dict[str, Any] = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read_bytes().decode("utf-8")
                    out[k] = val(r)

        return dec_map
    if t == "record":
        # nested records decode to dicts (what Arrow wants for a struct
        # column); decode_container unpacks the TOP-level record to a tuple
        named = [(f["name"], _compile_decoder(f["type"])) for f in schema["fields"]]

        def dec_record(r: _Reader) -> dict:
            return {name: d(r) for name, d in named}

        return dec_record
    if t == "enum":
        symbols = schema["symbols"]
        return lambda r: symbols[r.read_long()]
    if t == "fixed":
        size = schema["size"]
        return lambda r: bytes(r.read_fixed(size))
    if not logical:
        return _compile_decoder(t)
    raise TypeError(f"unsupported Avro schema {schema!r}")


# ---------------------------------------------------------------------------
# Object Container File
# ---------------------------------------------------------------------------


def encode_container(
    rows: Iterator[Any],
    schema: Any,
    codec: str = "deflate",
    block_rows: int = 4096,
    sync: bytes | None = None,
) -> Iterator[bytes]:
    """Stream ``rows`` (dicts or field-ordered sequences) into container
    bytes — header first, then one chunk per data block."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = sync or uuid.uuid4().bytes
    enc = _compile_encoder(schema)

    header = io.BytesIO()
    header.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(header, len(meta))
    for k, v in meta.items():
        kraw = k.encode()
        _write_long(header, len(kraw))
        header.write(kraw)
        _write_long(header, len(v))
        header.write(v)
    header.write(b"\x00")
    header.write(sync)
    yield header.getvalue()

    buf = io.BytesIO()
    count = 0

    def flush() -> bytes:
        nonlocal buf, count
        data = buf.getvalue()
        if codec == "deflate":
            data = zlib.compress(data)[2:-4]  # raw deflate per spec
        out = io.BytesIO()
        _write_long(out, count)
        _write_long(out, len(data))
        out.write(data)
        out.write(sync)
        buf = io.BytesIO()
        count = 0
        return out.getvalue()

    for row in rows:
        enc(buf, row)
        count += 1
        if count >= block_rows:
            yield flush()
    if count:
        yield flush()


def read_header(data: bytes) -> tuple[Any, str, bytes, int]:
    """Parse a container header → (schema, codec, sync, body_offset)."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    r = _Reader(data)
    r.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode()
            meta[k] = bytes(r.read_bytes())
    sync = r.read_fixed(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    return schema, codec, sync, r.pos


def decode_container(data: bytes) -> tuple[Any, list[tuple]]:
    """Container bytes → (schema, rows as field tuples)."""
    schema, codec, sync, pos = read_header(data)
    field_decs = [_compile_decoder(f["type"]) for f in schema["fields"]]

    def dec(r: _Reader) -> tuple:
        return tuple(d(r) for d in field_decs)
    rows: list[tuple] = []
    r = _Reader(data)
    r.pos = pos
    total = len(data)
    while r.pos < total:
        n = r.read_long()
        size = r.read_long()
        block = r.read_fixed(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec {codec!r}")
        if r.read_fixed(16) != sync:
            raise ValueError("sync marker mismatch (corrupt container)")
        br = _Reader(block)
        for _ in range(n):
            rows.append(dec(br))
    return schema, rows


def infer_avro_schema(
    spark, df, json_col: str, record_name: str = "inferred", sample: int = 1000
) -> str:
    """InferAvroSchema (SURVEY.md §2.4): derive an Avro record schema
    from a column of JSON documents — Spark's JSON schema inference over
    a bounded sample, mapped through :func:`spark_to_avro_schema`.

    Sampling mirrors the NiFi processor (it reads N records to infer);
    the sample collect is control-plane by size contract — O(sample)
    strings, never the table.  Inference is deterministic: Spark orders
    inferred JSON fields alphabetically, and the sample is taken in a
    deterministic id-free ``limit`` over the input as given (pass a
    sorted input for full determinism across engines).
    """
    rows = [
        r[0]
        for r in df.select(json_col).limit(sample).collect()  # control-plane: bounded O(sample) schema-inference strings
        if r[0] is not None
    ]
    inferred = spark.read.json(spark.sparkContext.parallelize(rows or ["{}"]))
    return json.dumps(spark_to_avro_schema(inferred.schema, record_name))


def split_avro_column(
    df: DataFrame, content_col: str = "content", out_col: str = "datum_container"
) -> DataFrame:
    """SplitAvro [2.7.2-surface] in its Record-split mode: each input
    Object Container File explodes into one VALID single-datum container
    per record (same writer schema, null codec — the smallest standalone
    Avro file), exactly NiFi's one-FlowFile-per-datum fan-out.

    Row-mapped over binary content: per-file state is one decode + N
    small re-encodes, fanned out across executors by the binaryFile
    scan's file-per-task split."""

    def split(blob):
        schema, rows = decode_container(blob)
        for r in rows:
            yield (b"".join(encode_container(iter([r]), schema, codec="null")),)

    return flat_map(df, [content_col], split, f"{out_col} binary")


# ---------------------------------------------------------------------------
# Schema resolution (Avro spec "Schema Resolution": reader vs writer)
# ---------------------------------------------------------------------------

#: writer primitive → reader primitives it may promote to (Avro spec).
_PROMOTIONS = {
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def resolve_decoder(writer: Any, reader: Any) -> Callable[[_Reader], Any]:
    """A decoder for data WRITTEN with ``writer`` but READ as ``reader``
    (Avro spec schema resolution): record fields match by name with
    reader ``aliases``; writer-only fields decode and drop; reader-only
    fields take their ``default``; primitives follow the promotion
    table; a writer union decodes its branch then resolves it against
    the reader (or the reader union's matching branch)."""
    # unions first: writer union → per-branch resolution
    if isinstance(writer, list):
        branch_decs = []
        for b in writer:
            branch_decs.append(_resolve_branch(b, reader))

        def dec_wunion(r: _Reader) -> Any:
            return branch_decs[r.read_long()](r)

        return dec_wunion
    if isinstance(reader, list):
        return _resolve_branch(writer, reader)

    wt, rt = _type_name(writer), _type_name(reader)
    if wt == rt and isinstance(writer, str):
        return _compile_decoder(writer)
    if isinstance(writer, str) and isinstance(reader, str):
        if rt in _PROMOTIONS.get(wt, ()):
            base = _compile_decoder(writer)
            if rt in ("float", "double"):
                return lambda r: float(base(r))
            if rt == "long":
                return base
            if rt == "bytes":
                return lambda r: base(r).encode("utf-8")
            if rt == "string":
                return lambda r: bytes(base(r)).decode("utf-8")
        raise TypeError(f"cannot resolve writer {writer!r} as reader {reader!r}")

    if wt != rt:
        raise TypeError(f"cannot resolve writer {wt!r} as reader {rt!r}")
    if wt == "array":
        item = resolve_decoder(writer["items"], reader["items"])

        def dec_array(r: _Reader) -> list:
            out: list = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    r.read_long()  # block byte size, unused
                    n = -n
                for _ in range(n):
                    out.append(item(r))

        return dec_array
    if wt == "map":
        val = resolve_decoder(writer["values"], reader["values"])

        def dec_map(r: _Reader) -> dict:
            out: dict = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    r.read_long()
                    n = -n
                for _ in range(n):
                    k = r.read_bytes().decode("utf-8")
                    out[k] = val(r)

        return dec_map
    if wt == "record":
        reader_fields = reader["fields"]
        by_name: dict[str, int] = {}
        for idx, f in enumerate(reader_fields):
            by_name[f["name"]] = idx
            for alias in f.get("aliases", ()):
                by_name.setdefault(alias, idx)
        slots: list[tuple[int | None, Callable[[_Reader], Any]]] = []
        matched: set[int] = set()
        for wf in writer["fields"]:
            idx = by_name.get(wf["name"])
            if idx is None:
                skipper = _compile_decoder(wf["type"])
                slots.append((None, skipper))  # decode & drop
            else:
                matched.add(idx)
                slots.append(
                    (idx, resolve_decoder(wf["type"], reader_fields[idx]["type"]))
                )
        defaults: list[tuple[int, Any]] = []
        for idx, rf in enumerate(reader_fields):
            if idx not in matched:
                if "default" not in rf:
                    raise TypeError(
                        f"reader field {rf['name']!r} absent from writer and has"
                        " no default"
                    )
                defaults.append((idx, rf["default"]))

        def dec_record(r: _Reader) -> tuple:
            out: list = [None] * len(reader_fields)
            for idx, dec in slots:
                v = dec(r)
                if idx is not None:
                    out[idx] = v
            for idx, dv in defaults:
                out[idx] = dv
            return tuple(out)

        return dec_record
    raise TypeError(f"unsupported resolution for writer type {wt!r}")


def _resolve_branch(writer_branch: Any, reader: Any) -> Callable[[_Reader], Any]:
    """Resolve one writer branch against a reader that may be a union:
    first reader branch that resolves wins (spec behavior)."""
    if isinstance(reader, list):
        for rb in reader:
            try:
                return resolve_decoder(writer_branch, rb)
            except TypeError:
                continue
        raise TypeError(
            f"no reader union branch accepts writer branch {writer_branch!r}"
        )
    return resolve_decoder(writer_branch, reader)


def decode_container_resolved(data: bytes, reader_schema: Any) -> list[tuple]:
    """Container bytes decoded under ``reader_schema`` resolution rules."""
    writer_schema, codec, sync, pos = read_header(data)
    dec = resolve_decoder(writer_schema, reader_schema)
    rows: list[tuple] = []
    r = _Reader(data)
    r.pos = pos
    total = len(data)
    while r.pos < total:
        n = r.read_long()
        size = r.read_long()
        block = r.read_fixed(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec {codec!r}")
        if r.read_fixed(16) != sync:
            raise ValueError("sync marker mismatch (corrupt container)")
        br = _Reader(block)
        for _ in range(n):
            rows.append(dec(br))
    return rows


# ---------------------------------------------------------------------------
# ExtractAvroMetadata: Parsing Canonical Form + CRC-64-AVRO fingerprint
# ---------------------------------------------------------------------------

_CRC64_EMPTY = 0xC15D213AA4D7A795
_CRC64_TABLE: list[int] = []


def _crc64_table() -> list[int]:
    if not _CRC64_TABLE:
        for i in range(256):
            fp = i
            for _ in range(8):
                fp = (fp >> 1) ^ (_CRC64_EMPTY & -(fp & 1))
            _CRC64_TABLE.append(fp)
    return _CRC64_TABLE


def rabin_fingerprint(data: bytes) -> int:
    """CRC-64-AVRO (the Avro spec's 64-bit schema fingerprint)."""
    table = _crc64_table()
    fp = _CRC64_EMPTY
    for b in data:
        fp = (fp >> 8) ^ table[(fp ^ b) & 0xFF]
    return fp


def canonical_form(schema: Any) -> str:
    """Avro Parsing Canonical Form (spec): strip everything but the
    parsing-relevant attributes, fullnames, minimal JSON with fields in
    the prescribed order, no whitespace."""
    if isinstance(schema, str):
        return f'"{schema}"'
    if isinstance(schema, list):
        return "[" + ",".join(canonical_form(b) for b in schema) + "]"
    t = schema["type"]
    if t in ("record", "error"):
        fields = ",".join(
            '{"name":"%s","type":%s}' % (f["name"], canonical_form(f["type"]))
            for f in schema["fields"]
        )
        return '{"name":"%s","type":"record","fields":[%s]}' % (
            schema["name"], fields,
        )
    if t == "enum":
        syms = ",".join(f'"{s}"' for s in schema["symbols"])
        return '{"name":"%s","type":"enum","symbols":[%s]}' % (schema["name"], syms)
    if t == "fixed":
        return '{"name":"%s","type":"fixed","size":%d}' % (
            schema["name"], schema["size"],
        )
    if t == "array":
        return '{"type":"array","items":%s}' % canonical_form(schema["items"])
    if t == "map":
        return '{"type":"map","values":%s}' % canonical_form(schema["values"])
    # logical types etc. reduce to their underlying primitive
    return canonical_form(t)


def extract_avro_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """ExtractAvroMetadata [2.7.2-surface]: per container — the record
    schema's fullname, its CRC-64-AVRO fingerprint (hex), the compression
    codec, and the datum count (decoded block headers, not a full datum
    decode)."""

    def row(data):
        schema, codec, sync, pos = read_header(data)
        fp = rabin_fingerprint(canonical_form(schema).encode())
        r = _Reader(data)
        r.pos = pos
        count = 0
        while r.pos < len(data):
            n = r.read_long()
            size = r.read_long()
            r.read_fixed(size)
            r.read_fixed(16)
            count += n
        yield schema.get("name", "?"), f"{fp:016x}", codec, count

    return flat_map(
        df,
        [content_col],
        row,
        "schema_name string, schema_fingerprint string, codec string,"
        " n_records bigint",
    )
