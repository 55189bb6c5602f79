"""DistributedMapCacheServer + PutDistributedMapCache /
FetchDistributedMapCache (§2.6 [2.7.2-surface,
nifi-distributed-cache-services bundle]).

NiFi's map-cache protocol rides Java ``DataInput/OutputStream`` framing:
operations are ``writeUTF`` strings (2-byte big-endian length + UTF-8
bytes) and cache keys/values are 4-byte-length-prefixed byte arrays.
This module speaks exactly that framing over a real TCP socket — a
threaded in-memory server plus executor-side clients — with the core
operation set (``put``, ``get``, ``containsKey``, ``remove``,
``keySet``) and a version handshake.

Spark shape (the Put/Fetch processors):

- ``put_map_cache`` — each PARTITION opens one connection and streams
  its (key, value) pairs; the cache is the deployment's shared state
  tier (at scale: Redis/Hazelcast behind the same processor contract —
  the protocol seam is this module's server class).
- ``fetch_map_cache`` — per-partition connection, one ``get`` per
  record, appending the fetched value (NULL on miss) — LookupRecord
  against live out-of-band state rather than a static table.

Distributed caveat (documented, same as NiFi's): the cache is a
LOOKUP/SIGNAL tier, not a bulk join — a 100 TB join belongs in a
broadcast/shuffle join; Put/Fetch is for cross-flow correlation state
(Wait/Notify release signals, dedup markers, counters) whose
cardinality is bounded.
"""

from __future__ import annotations

import socket
import struct
import threading

from pyspark.sql import DataFrame

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns

__all__ = ["MapCacheServer", "MapCacheClient", "put_map_cache", "fetch_map_cache"]

_PROTOCOL_VERSION = 1


def _write_utf(sock: socket.socket, s: str) -> None:
    b = s.encode("utf-8")
    sock.sendall(struct.pack(">H", len(b)) + b)


def _write_bytes(sock: socket.socket, b: bytes) -> None:
    sock.sendall(struct.pack(">I", len(b)) + b)


def _read_utf(sock: socket.socket) -> str:
    (n,) = struct.unpack(">H", net.read_exact(sock.recv, 2))
    return net.read_exact(sock.recv, n).decode("utf-8")


def _read_bytes(sock: socket.socket) -> bytes:
    (n,) = struct.unpack(">I", net.read_exact(sock.recv, 4))
    return net.read_exact(sock.recv, n)


class MapCacheServer(net.Server):
    """Threaded in-memory map cache speaking the DataStream framing."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._data: dict[bytes, bytes] = {}
        self._lock = threading.Lock()
        super().__init__(self._serve, host, port)

    def snapshot(self) -> dict[bytes, bytes]:
        with self._lock:
            return dict(self._data)

    def _serve(self, conn: socket.socket) -> None:
        try:
            # handshake: client sends its protocol version, server ACKs.
            (ver,) = struct.unpack(">I", net.read_exact(conn.recv, 4))
            if ver != _PROTOCOL_VERSION:
                conn.sendall(struct.pack(">b", 0))
                return
            conn.sendall(struct.pack(">b", 1))
            while True:
                op = _read_utf(conn)
                if op == "put":
                    k, v = _read_bytes(conn), _read_bytes(conn)
                    with self._lock:
                        self._data[k] = v
                    conn.sendall(struct.pack(">b", 1))
                elif op == "get":
                    k = _read_bytes(conn)
                    with self._lock:
                        v = self._data.get(k)
                    if v is None:
                        conn.sendall(struct.pack(">b", 0))
                    else:
                        conn.sendall(struct.pack(">b", 1))
                        _write_bytes(conn, v)
                elif op == "containsKey":
                    k = _read_bytes(conn)
                    with self._lock:
                        hit = k in self._data
                    conn.sendall(struct.pack(">b", 1 if hit else 0))
                elif op == "remove":
                    k = _read_bytes(conn)
                    with self._lock:
                        hit = self._data.pop(k, None) is not None
                    conn.sendall(struct.pack(">b", 1 if hit else 0))
                elif op == "keySet":
                    with self._lock:
                        keys = sorted(self._data)
                    conn.sendall(struct.pack(">I", len(keys)))
                    for k in keys:
                        _write_bytes(conn, k)
                elif op == "close":
                    return
                else:
                    return  # unknown op: drop the connection
        except (ConnectionError, OSError, struct.error):
            return
        finally:
            conn.close()


class MapCacheClient:
    """One connection, many operations (the per-partition client)."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self._sock = net.connect(host, port, timeout)
        self._sock.sendall(struct.pack(">I", _PROTOCOL_VERSION))
        (ok,) = struct.unpack(">b", net.read_exact(self._sock.recv, 1))
        if ok != 1:
            raise ConnectionError("cache protocol version rejected")

    def put(self, key: bytes, value: bytes) -> None:
        _write_utf(self._sock, "put")
        _write_bytes(self._sock, key)
        _write_bytes(self._sock, value)
        net.read_exact(self._sock.recv, 1)

    def get(self, key: bytes) -> bytes | None:
        _write_utf(self._sock, "get")
        _write_bytes(self._sock, key)
        (hit,) = struct.unpack(">b", net.read_exact(self._sock.recv, 1))
        return _read_bytes(self._sock) if hit else None

    def contains_key(self, key: bytes) -> bool:
        _write_utf(self._sock, "containsKey")
        _write_bytes(self._sock, key)
        return net.read_exact(self._sock.recv, 1) == b"\x01"

    def remove(self, key: bytes) -> bool:
        _write_utf(self._sock, "remove")
        _write_bytes(self._sock, key)
        return net.read_exact(self._sock.recv, 1) == b"\x01"

    def key_set(self) -> list[bytes]:
        _write_utf(self._sock, "keySet")
        (n,) = struct.unpack(">I", net.read_exact(self._sock.recv, 4))
        return [_read_bytes(self._sock) for _ in range(n)]

    def close(self) -> None:
        try:
            _write_utf(self._sock, "close")
        except OSError:
            pass
        self._sock.close()


def put_map_cache(
    df: DataFrame, host: str, port: int, key_col: str, value_col: str
) -> DataFrame:
    """PutDistributedMapCache: one connection per partition, one ``put``
    per record; appends ``cached`` (local ack)."""

    def run(batches):
        client = MapCacheClient(host, port)
        try:
            for keys, values in batches:
                ok = []
                for k, v in zip(keys, values):
                    if k is None:
                        ok.append(False)
                        continue
                    client.put(str(k).encode(), (b"" if v is None else str(v).encode()))
                    ok.append(True)
                yield ok,
        finally:
            client.close()

    return with_columns(df, [key_col, value_col], run, "cached boolean")


def fetch_map_cache(
    df: DataFrame, host: str, port: int, key_col: str, out_col: str = "cache_value"
) -> DataFrame:
    """FetchDistributedMapCache: per-partition connection, ``get`` per
    record, fetched value (or NULL on miss) appended as ``out_col``."""

    def run(batches):
        client = MapCacheClient(host, port)
        try:
            for (keys,) in batches:
                vals = []
                for k in keys:
                    v = None if k is None else client.get(str(k).encode())
                    vals.append(None if v is None else v.decode())
                yield vals,
        finally:
            client.close()

    return with_columns(df, [key_col], run, f"`{out_col}` string")
