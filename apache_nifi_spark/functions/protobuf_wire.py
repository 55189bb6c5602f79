"""Protocol Buffers wire-format codec (the public proto3 encoding —
varint/zigzag, 64-bit, length-delimited, 32-bit wire types), schema
driven by a plain field-spec dict instead of generated classes: the
shape NiFi-adjacent record readers use when a Kafka topic carries
protobuf instead of Avro/JSON (pairs with ``sources/schema_registry``
— Confluent registries serve protobuf schemas through the same REST).

No protoc, no google.protobuf dependency — the wire format is fully
specified publicly:

- key = ``(field_number << 3) | wire_type``; wire types 0 (varint),
  1 (fixed64), 2 (length-delimited), 5 (fixed32),
- ``int32/int64/uint/bool/enum`` are plain varints; ``sint32/sint64``
  zigzag; ``string/bytes`` length-delimited; ``double`` fixed64 LE,
  ``float`` fixed32 LE,
- unknown fields skip by wire type (forward compatibility, as the spec
  requires); truncated payloads raise.

Spark shape: decode is a per-row generator (:func:`io.flat_map`,
Arrow-batched) over the binary
column with the field spec broadcast as a plain closure constant —
map-only, one pass per record.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from apache_nifi_spark.io import flat_map

__all__ = ["pb_encode", "pb_decode", "decode_protobuf_records"]

_WT_VARINT, _WT_F64, _WT_LEN, _WT_F32 = 0, 1, 2, 5

_WIRE_TYPE = {
    "int32": _WT_VARINT, "int64": _WT_VARINT, "uint32": _WT_VARINT,
    "uint64": _WT_VARINT, "bool": _WT_VARINT, "enum": _WT_VARINT,
    "sint32": _WT_VARINT, "sint64": _WT_VARINT,
    "double": _WT_F64, "fixed64": _WT_F64, "sfixed64": _WT_F64,
    "string": _WT_LEN, "bytes": _WT_LEN,
    "float": _WT_F32, "fixed32": _WT_F32, "sfixed32": _WT_F32,
}


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(buf: bytes, off: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        if off >= len(buf):
            raise ValueError("truncated protobuf varint")
        b = buf[off]
        off += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, off
        shift += 7
        if shift > 70:
            raise ValueError("protobuf varint too long")


def pb_encode(spec: dict[int, tuple[str, str]], values: dict) -> bytes:
    """Encode ``values`` (by field name) under ``spec``
    ``{field_number: (name, type)}`` — ascending field order, proto3
    scalar rules (None/absent fields are omitted)."""
    out = bytearray()
    for fno in sorted(spec):
        name, ftype = spec[fno]
        v = values.get(name)
        if v is None:
            continue
        wt = _WIRE_TYPE[ftype]
        out += _uvarint((fno << 3) | wt)
        if wt == _WT_VARINT:
            if ftype in ("sint32", "sint64"):
                bits = 31 if ftype == "sint32" else 63
                out += _uvarint(((v << 1) ^ (v >> bits)) & ((1 << 64) - 1))
            elif ftype == "bool":
                out += _uvarint(1 if v else 0)
            else:
                out += _uvarint(v & ((1 << 64) - 1))
        elif wt == _WT_F64:
            out += struct.pack(
                "<d" if ftype == "double" else "<q", v
            ) if ftype != "fixed64" else struct.pack("<Q", v)
        elif wt == _WT_F32:
            out += struct.pack(
                "<f" if ftype == "float" else "<i", v
            ) if ftype != "fixed32" else struct.pack("<I", v)
        else:
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            out += _uvarint(len(raw)) + raw
    return bytes(out)


def pb_decode(spec: dict[int, tuple[str, str]], buf: bytes) -> dict:
    """Decode one message; unknown fields skip by wire type, truncation
    raises.  Last-one-wins for repeated scalars (the proto3 rule)."""
    out: dict = {}
    off = 0
    while off < len(buf):
        key, off = _read_uvarint(buf, off)
        fno, wt = key >> 3, key & 0x07
        if wt == _WT_VARINT:
            raw, off = _read_uvarint(buf, off)
        elif wt == _WT_F64:
            if off + 8 > len(buf):
                raise ValueError("truncated fixed64 field")
            raw = buf[off : off + 8]
            off += 8
        elif wt == _WT_F32:
            if off + 4 > len(buf):
                raise ValueError("truncated fixed32 field")
            raw = buf[off : off + 4]
            off += 4
        elif wt == _WT_LEN:
            n, off = _read_uvarint(buf, off)
            if off + n > len(buf):
                raise ValueError("truncated length-delimited field")
            raw = buf[off : off + n]
            off += n
        else:
            raise ValueError(f"unsupported protobuf wire type {wt}")
        if fno not in spec:
            continue  # unknown field: skipped, forward-compatible
        name, ftype = spec[fno]
        if _WIRE_TYPE[ftype] != wt:
            raise ValueError(
                f"field {fno} ({name}): wire type {wt} != {ftype}"
            )
        if ftype in ("sint32", "sint64"):
            out[name] = (raw >> 1) ^ -(raw & 1)
        elif ftype == "bool":
            out[name] = bool(raw)
        elif ftype in ("int32", "int64"):
            out[name] = raw - (1 << 64) if raw >= (1 << 63) else raw
        elif ftype in ("uint32", "uint64", "enum"):
            out[name] = raw
        elif ftype == "double":
            out[name] = struct.unpack("<d", raw)[0]
        elif ftype == "float":
            out[name] = struct.unpack("<f", raw)[0]
        elif ftype == "fixed64":
            out[name] = struct.unpack("<Q", raw)[0]
        elif ftype == "sfixed64":
            out[name] = struct.unpack("<q", raw)[0]
        elif ftype == "fixed32":
            out[name] = struct.unpack("<I", raw)[0]
        elif ftype == "sfixed32":
            out[name] = struct.unpack("<i", raw)[0]
        elif ftype == "string":
            out[name] = raw.decode("utf-8")
        else:  # bytes
            out[name] = raw
    return out


def decode_protobuf_records(
    df: DataFrame,
    spec: dict[int, tuple[str, str]],
    out_schema: str,
    id_col: str = "rec_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode a binary protobuf column into typed fields
    (Arrow-batched; ``out_schema`` is the Spark DDL of ``id_col`` +
    decoded fields, matched by name)."""
    schema = StructType.fromDDL(out_schema)
    names = schema.fieldNames()

    def row(rid, blob):
        msg = pb_decode(spec, blob)
        # a spec field sharing the id column's name rides as the id itself
        yield tuple(rid if n == id_col else msg.get(n) for n in names)

    return flat_map(df, [id_col, content_col], row, schema)
