"""GetMongo / PutMongoRecord over the REAL MongoDB wire protocol
(§2.1/§2.2): a dependency-free BSON codec + OP_MSG client and an
in-process server, so the Mongo hop is proven over actual wire bytes —
the same pattern as the FTP/IMAP/SMTP/RELP tiers here.

What is real:

- **BSON** (public spec, bsonspec.org): document encode/decode for the
  record-bearing types — double (0x01), string (0x02), embedded
  document (0x03), array (0x04), ObjectId (0x07), boolean (0x08),
  UTC datetime (0x09), null (0x0A), int32 (0x10), int64 (0x12).
- **OP_MSG** (opcode 2013, the modern command protocol): standard
  message header (length/requestID/responseTo/opCode), flagBits, one
  kind-0 body section.  ``insert``/``find``/``count``/``ping`` commands
  with the standard reply shapes (``{ok: 1, n}``,
  ``{cursor: {firstBatch: [...], id: 0}}``).
- **MiniMongoServer**: threaded TCP server speaking the above; inserts
  LAND each document as one JSON file (the landing contract in
  ``streaming/listen.py`` — the read-back is a distributed scan, never
  a driver-side dump), with an in-memory index for ``find``/``count``.

Spark-first shape: executor partitions each open one wire connection
and batch their inserts (PutMongoRecord's batching); ``find`` filters
compile to Catalyst predicates separately (functions/selectors'
``compile_mongo_query``) so at scale the query pushes into the scan —
the wire ``find`` here serves protocol parity and smoke reads.  Swap
host/port for a real deployment and the client is unchanged.
"""

from __future__ import annotations

import datetime as _dt
import json
import socket
import struct
import threading
from typing import Any

from apache_nifi_spark import net

__all__ = ["bson_encode", "bson_decode", "MiniMongoServer", "MongoWireClient"]


# ----------------------------------------------------------- BSON codec ---


def _enc_cstring(s: str) -> bytes:
    b = s.encode("utf-8")
    if b"\x00" in b:
        raise ValueError("BSON cstring cannot contain NUL")
    return b + b"\x00"


def _enc_element(name: str, v: Any) -> bytes:
    n = _enc_cstring(name)
    if isinstance(v, bool):  # before int (bool is int in Python)
        return b"\x08" + n + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + n + struct.pack("<d", v)
    if isinstance(v, str):
        sb = v.encode("utf-8") + b"\x00"
        return b"\x02" + n + struct.pack("<i", len(sb)) + sb
    if isinstance(v, dict):
        return b"\x03" + n + bson_encode(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + n + bson_encode(
            {str(i): x for i, x in enumerate(v)}
        )
    if isinstance(v, bytes) and len(v) == 12:  # ObjectId convention
        return b"\x07" + n + v
    if isinstance(v, _dt.datetime):
        ms = int(v.timestamp() * 1000)
        return b"\x09" + n + struct.pack("<q", ms)
    if v is None:
        return b"\x0a" + n
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + n + struct.pack("<i", v)
        return b"\x12" + n + struct.pack("<q", v)
    raise TypeError(f"unsupported BSON type for {name!r}: {type(v).__name__}")


def bson_encode(doc: dict) -> bytes:
    body = b"".join(_enc_element(k, v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def _dec_cstring(buf: bytes, pos: int) -> tuple[str, int]:
    end = buf.index(b"\x00", pos)
    return buf[pos:end].decode("utf-8"), end + 1


def _dec_element(t: int, buf: bytes, pos: int) -> tuple[Any, int]:
    if t == 0x01:
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == 0x02:
        (ln,) = struct.unpack_from("<i", buf, pos)
        return buf[pos + 4 : pos + 3 + ln].decode("utf-8"), pos + 4 + ln
    if t == 0x03:
        doc, used = _bson_decode_at(buf, pos)
        return doc, pos + used
    if t == 0x04:
        doc, used = _bson_decode_at(buf, pos)
        return [doc[k] for k in sorted(doc, key=int)], pos + used
    if t == 0x07:
        return buf[pos : pos + 12], pos + 12
    if t == 0x08:
        return buf[pos] == 1, pos + 1
    if t == 0x09:
        (ms,) = struct.unpack_from("<q", buf, pos)
        return _dt.datetime.fromtimestamp(ms / 1000.0, _dt.timezone.utc), pos + 8
    if t == 0x0A:
        return None, pos
    if t == 0x10:
        return struct.unpack_from("<i", buf, pos)[0], pos + 4
    if t == 0x12:
        return struct.unpack_from("<q", buf, pos)[0], pos + 8
    raise ValueError(f"unsupported BSON element type 0x{t:02x}")


def _bson_decode_at(buf: bytes, start: int) -> tuple[dict, int]:
    (total,) = struct.unpack_from("<i", buf, start)
    pos = start + 4
    out: dict = {}
    while buf[pos] != 0:
        t = buf[pos]
        name, pos = _dec_cstring(buf, pos + 1)
        out[name], pos = _dec_element(t, buf, pos)
    if pos + 1 - start != total:
        raise ValueError("BSON document length mismatch")
    return out, total


def bson_decode(buf: bytes) -> dict:
    doc, _ = _bson_decode_at(buf, 0)
    return doc


# --------------------------------------------------------------- OP_MSG ---

_OP_MSG = 2013


def _op_msg(request_id: int, response_to: int, body: dict) -> bytes:
    payload = struct.pack("<I", 0) + b"\x00" + bson_encode(body)
    header = struct.pack(
        "<iiii", 16 + len(payload), request_id, response_to, _OP_MSG
    )
    return header + payload


def _read_op_msg(sock_file) -> tuple[int, dict]:
    header = net.read_exact(sock_file.read, 16)
    length, request_id, _resp_to, opcode = struct.unpack("<iiii", header)
    rest = net.read_exact(sock_file.read, length - 16)
    if opcode != _OP_MSG:
        raise ValueError(f"unsupported opcode {opcode}")
    # flagBits (4) + section kind byte (1) + body document
    if rest[4] != 0:
        raise ValueError("only kind-0 sections supported")
    return request_id, bson_decode(rest[5:])


# ---------------------------------------------------------------- server ---


class MiniMongoServer(net.Server):
    """Threaded OP_MSG server: insert/find/count/ping.  Inserted
    documents land durably (one JSON file each) AND index in memory for
    the wire reads."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        # imported here: executors unpickling the client never need the
        # streaming package
        from apache_nifi_spark.streaming.listen import Landing

        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".json")
        self._store: dict[str, list[dict]] = {}
        self._lock = threading.Lock()
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")
        try:
            while True:
                req_id, cmd = _read_op_msg(f)
                reply = self._dispatch(cmd)
                f.write(_op_msg(req_id + 1000, req_id, reply))
                f.flush()
        except (ConnectionError, ValueError, OSError):
            pass
        finally:
            try:
                f.close()
            except OSError:
                pass
            conn.close()

    def _dispatch(self, cmd: dict) -> dict:
        kind = next(iter(cmd), None)
        if kind == "insert":
            coll = cmd["insert"]
            docs = cmd.get("documents", [])
            with self._lock:
                self._store.setdefault(coll, []).extend(docs)
            for d in docs:
                rec = {
                    k: (v.hex() if isinstance(v, bytes) else v)
                    for k, v in d.items()
                }
                self.landing.publish(
                    json.dumps(rec, separators=(",", ":"), default=str).encode(),
                    prefix=f"{coll}__",
                )
            return {"n": len(docs), "ok": 1.0}
        if kind == "find":
            coll = cmd["find"]
            flt = cmd.get("filter", {})
            limit = int(cmd.get("limit", 0)) or 10**9
            with self._lock:
                rows = [
                    d for d in self._store.get(coll, ())
                    if all(d.get(k) == v for k, v in flt.items())
                ][:limit]
            return {
                "cursor": {"firstBatch": rows, "id": 0,
                           "ns": f"db.{coll}"},
                "ok": 1.0,
            }
        if kind == "count":
            coll = cmd["count"]
            flt = cmd.get("query", {})
            with self._lock:
                n = sum(
                    1 for d in self._store.get(coll, ())
                    if all(d.get(k) == v for k, v in flt.items())
                )
            return {"n": n, "ok": 1.0}
        if kind in ("ping", "hello", "isMaster"):
            return {"ok": 1.0}
        return {"ok": 0.0, "errmsg": f"unsupported command {kind!r}"}


# ---------------------------------------------------------------- client ---


class MongoWireClient:
    """One wire connection (the per-partition client)."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self._sock = net.connect(host, port, timeout)
        self._f = self._sock.makefile("rwb")
        self._req = 0

    def command(self, body: dict) -> dict:
        self._req += 1
        self._f.write(_op_msg(self._req, 0, body))
        self._f.flush()
        _, reply = _read_op_msg(self._f)
        return reply

    def insert(self, collection: str, docs: list[dict]) -> int:
        r = self.command({"insert": collection, "documents": docs, "$db": "db"})
        if r.get("ok") != 1.0:
            raise RuntimeError(f"insert failed: {r}")
        return int(r["n"])

    def find(self, collection: str, flt: dict | None = None, limit: int = 0) -> list[dict]:
        r = self.command(
            {"find": collection, "filter": flt or {}, "limit": limit, "$db": "db"}
        )
        if r.get("ok") != 1.0:
            raise RuntimeError(f"find failed: {r}")
        return r["cursor"]["firstBatch"]

    def count(self, collection: str, flt: dict | None = None) -> int:
        r = self.command({"count": collection, "query": flt or {}, "$db": "db"})
        return int(r["n"])

    def close(self) -> None:
        try:
            self._f.close()
        finally:
            self._sock.close()


def put_mongo_records(df, host: str, port: int, collection: str, columns=None):
    """PutMongoRecord delivery: each partition opens ONE wire connection
    and inserts its rows in batches of 500 (the driver-style batching);
    appends ``inserted`` per row, transport failures route instead of
    failing the task."""
    from apache_nifi_spark.io import with_columns

    cols = columns or list(df.columns)

    def run(batches):
        client = None
        try:
            for values in batches:
                docs = [dict(zip(cols, rec)) for rec in zip(*values)]
                try:
                    if client is None:
                        client = MongoWireClient(host, port)
                    for i in range(0, len(docs), 500):
                        client.insert(collection, docs[i : i + 500])
                    ok = True
                except (OSError, RuntimeError, ConnectionError):
                    client = None
                    ok = False
                yield [ok] * len(values[0]),
        finally:
            if client is not None:
                client.close()

    return with_columns(df, cols, run, "inserted boolean")
