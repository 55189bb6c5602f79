"""CBOR record codec (RFC 8949), dependency-free — a binary
self-describing record format (reference parity:
NiFi ships a CBOR-capable Jackson reader/writer among its record
serdes; here it's implemented from the public spec, no jar, no pip).

Layout: one ``.cbors`` file per Spark partition, each a CBOR SEQUENCE
(RFC 8742) of definite-length maps — one map per record, text keys =
column names.  No file header; the format is self-delimiting, so
readers stream records without an index (the property that makes CBOR
sequences a log-shipping format).

Executor topology: write = ``mapInArrow``
(one open file per partition, driver sees only a manifest row per
partition); read = ``binaryFile`` scan + ``io.flat_map`` decode (N
files decode on N cores).

Supported types: null, bool, int (majors 0/1 with minimal-width
arguments as the spec's preferred serialization requires), float64
(0xfb), UTF-8 text (major 3), bytes (major 2), arrays (major 4),
string-keyed maps (major 5).  Timestamps/dates ride RFC 8949 §3.4.2
tag 1 (epoch seconds) EXTENDED to integer microseconds under tag 1001
(RFC 9581 extended-time: map {1: seconds, -6: microseconds}) so the
round trip is exact to Spark's micros resolution.
"""

from __future__ import annotations

import datetime
import math
import os
import struct
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from apache_nifi_spark.io import flat_map

__all__ = [
    "cbor_encode",
    "cbor_decode",
    "cbor_decode_sequence",
    "write_cbor",
    "read_cbor",
]

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def _head(major: int, arg: int) -> bytes:
    """Initial byte + minimal-width argument (preferred serialization)."""
    if arg < 24:
        return bytes([(major << 5) | arg])
    if arg <= 0xFF:
        return bytes([(major << 5) | 24, arg])
    if arg <= 0xFFFF:
        return bytes([(major << 5) | 25]) + arg.to_bytes(2, "big")
    if arg <= 0xFFFFFFFF:
        return bytes([(major << 5) | 26]) + arg.to_bytes(4, "big")
    return bytes([(major << 5) | 27]) + arg.to_bytes(8, "big")


def cbor_encode(v: Any) -> bytes:
    """One data item, definite-length, preferred-serialization ints."""
    if v is None:
        return b"\xf6"
    if isinstance(v, bool):
        return b"\xf5" if v else b"\xf4"
    if isinstance(v, int):
        return _head(0, v) if v >= 0 else _head(1, -1 - v)
    if isinstance(v, float):
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode("utf-8")
        return _head(3, len(b)) + b
    if isinstance(v, (bytes, bytearray)):
        return _head(2, len(v)) + bytes(v)
    if isinstance(v, datetime.datetime):
        # tag 1001 extended-time: {1: epoch seconds, -6: microseconds}
        if v.tzinfo is not None:  # an instant: its UTC wall time
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        micros = (v - _EPOCH) // datetime.timedelta(microseconds=1)
        sec, us = divmod(micros, 1_000_000)
        return (
            _head(6, 1001)
            + _head(5, 2)
            + cbor_encode(1)
            + cbor_encode(sec)
            + cbor_encode(-6)
            + cbor_encode(us)
        )
    if isinstance(v, datetime.date):
        # tag 100 (RFC 8943): days since the epoch
        return _head(6, 100) + cbor_encode((v - _EPOCH_DATE).days)
    if isinstance(v, (list, tuple)):
        return _head(4, len(v)) + b"".join(cbor_encode(x) for x in v)
    if isinstance(v, dict):
        out = [_head(5, len(v))]
        for k, x in v.items():
            out.append(cbor_encode(k))
            out.append(cbor_encode(x))
        return b"".join(out)
    raise TypeError(f"cbor: unsupported type {type(v).__name__}")


def _read_arg(buf: bytes, pos: int, info: int) -> tuple[int, int]:
    if info < 24:
        return info, pos
    if info == 24:
        return buf[pos], pos + 1
    if info == 25:
        return int.from_bytes(buf[pos : pos + 2], "big"), pos + 2
    if info == 26:
        return int.from_bytes(buf[pos : pos + 4], "big"), pos + 4
    if info == 27:
        return int.from_bytes(buf[pos : pos + 8], "big"), pos + 8
    raise ValueError(f"cbor: indefinite/reserved additional info {info}")


def cbor_decode(buf: bytes, pos: int = 0) -> tuple[Any, int]:
    """Decode one item at ``pos`` → (value, next_pos)."""
    ib = buf[pos]
    major, info = ib >> 5, ib & 0x1F
    pos += 1
    if major == 0:
        return _read_arg(buf, pos, info)
    if major == 1:
        n, pos = _read_arg(buf, pos, info)
        return -1 - n, pos
    if major == 2:
        n, pos = _read_arg(buf, pos, info)
        return bytes(buf[pos : pos + n]), pos + n
    if major == 3:
        n, pos = _read_arg(buf, pos, info)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if major == 4:
        n, pos = _read_arg(buf, pos, info)
        out = []
        for _ in range(n):
            v, pos = cbor_decode(buf, pos)
            out.append(v)
        return out, pos
    if major == 5:
        n, pos = _read_arg(buf, pos, info)
        d = {}
        for _ in range(n):
            k, pos = cbor_decode(buf, pos)
            v, pos = cbor_decode(buf, pos)
            d[k] = v
        return d, pos
    if major == 6:
        tag, pos = _read_arg(buf, pos, info)
        v, pos = cbor_decode(buf, pos)
        if tag == 1001:  # extended-time map
            micros = v.get(1, 0) * 1_000_000 + v.get(-6, 0)
            return _EPOCH + datetime.timedelta(microseconds=micros), pos
        if tag == 100:  # days since epoch
            return _EPOCH_DATE + datetime.timedelta(days=v), pos
        if tag == 1:  # epoch seconds
            return _EPOCH + datetime.timedelta(seconds=v), pos
        return v, pos  # unknown tag: pass the content through
    # major 7 — simple values / floats
    if info == 20:
        return False, pos
    if info == 21:
        return True, pos
    if info == 22:
        return None, pos
    if info == 25:  # float16 (decode-only; we never emit it)
        h = int.from_bytes(buf[pos : pos + 2], "big")
        sign = -1.0 if h >> 15 else 1.0
        exp, frac = (h >> 10) & 0x1F, h & 0x3FF
        if exp == 0:
            val = sign * frac * 2.0**-24
        elif exp == 31:
            val = sign * (math.inf if frac == 0 else math.nan)
        else:
            val = sign * (1 + frac / 1024.0) * 2.0 ** (exp - 15)
        return val, pos + 2
    if info == 26:
        return struct.unpack(">f", buf[pos : pos + 4])[0], pos + 4
    if info == 27:
        return struct.unpack(">d", buf[pos : pos + 8])[0], pos + 8
    raise ValueError(f"cbor: unsupported simple value {info}")


def cbor_decode_sequence(buf: bytes) -> Iterator[Any]:
    """RFC 8742: back-to-back data items until the buffer ends."""
    pos = 0
    while pos < len(buf):
        v, pos = cbor_decode(buf, pos)
        yield v


def write_cbor(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """RecordSetWriter: one ``.cbors`` CBOR-sequence file per partition
    (``mapInArrow`` — executors stream records into their own open file;
    the driver collects only a one-row-per-partition manifest)."""
    if os.path.isdir(path):
        if mode == "ignore":
            return
        if mode in ("error", "errorifexists"):
            raise FileExistsError(path)
        if mode == "overwrite":
            for name in os.listdir(path):
                if name.endswith(".cbors"):
                    os.unlink(os.path.join(path, name))
    os.makedirs(path, exist_ok=True)
    names = df.columns

    def values(col) -> list:
        import pyarrow as pa

        vals = col.to_pylist()
        if pa.types.is_map(col.type):  # Arrow lists a map's (key, value) pairs
            return [None if v is None else dict(v) for v in vals]
        return vals

    def write_partition(batches):
        import pyarrow as pa

        fname = os.path.join(path, f"part-{uuid.uuid4().hex}.cbors")
        tmp = fname + ".inprogress"
        n = 0
        with open(tmp, "wb") as fh:
            for b in batches:
                for row in zip(*map(values, b.columns)):
                    n += 1
                    fh.write(cbor_encode(dict(zip(names, row))))
        if n:
            os.replace(tmp, fname)  # atomic publish
        else:
            os.unlink(tmp)
        yield pa.record_batch({"file": [fname], "rows": pa.array([n], pa.int64())})

    manifest = df.mapInArrow(write_partition, schema="file string, rows long")
    manifest.collect()  # control-plane: one manifest row per partition


def read_cbor(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """RecordReader: distributed decode of a ``.cbors`` directory —
    ``binaryFile`` scan fans one decode task out per file; records
    project through the EXPLICIT schema (absent keys → null, extra
    keys dropped — the reader-service contract)."""
    names = [f.name for f in schema.fields]

    def decode_file(content):
        for rec in cbor_decode_sequence(content):
            yield tuple(rec.get(c) for c in names)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.cbors")
        .load(path)
        .select("content")
    )
    return flat_map(files, ["content"], decode_file, schema)
