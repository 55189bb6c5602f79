"""RedisDistributedMapCacheClientService analog (§2.6 [2.7.2-surface,
nifi-redis bundle]): the Redis-backed variant of NiFi's distributed map
cache, spoken over the REAL wire protocol — RESP2 (REdis Serialization
Protocol, the published protocol of every Redis server ≥1.2):

- requests are arrays of bulk strings
  (``*<n>\\r\\n$<len>\\r\\n<bytes>\\r\\n``…),
- replies are simple strings (``+OK``), errors (``-ERR …``), integers
  (``:n``), bulk strings (``$len`` / ``$-1`` for null), or arrays.

``MiniRedisServer`` implements the server subset the cache-client
contract needs (PING, SET, GET, DEL, EXISTS, HSET/HGET/HGETALL, KEYS,
DBSIZE, FLUSHDB) over a threaded TCP listener; ``RedisClient`` is a
from-scratch RESP codec (no redis-py in this environment — and the
point is the protocol seam: against a real Redis deployment only the
host/port change).

Spark shape mirrors ``streaming/map_cache``: ``put_redis_cache`` opens
one connection per PARTITION and pipelines one SET per record (write →
read replies in order — RESP is strictly request-order, so a partition
pipelines without waiting per command); ``fetch_redis_cache`` enriches
per record with GET.  Same distributed caveat as the DataStream cache:
this is the bounded correlation-state tier (Wait/Notify signals, dedup
markers), never a bulk-join transport.
"""

from __future__ import annotations

import socket
import threading

from pyspark.sql import DataFrame

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns

__all__ = [
    "MiniRedisServer",
    "RedisClient",
    "resp_encode",
    "put_redis_cache",
    "fetch_redis_cache",
]


def resp_encode(parts: list[bytes]) -> bytes:
    """Encode one command as a RESP2 array of bulk strings."""
    out = [b"*%d\r\n" % len(parts)]
    for p in parts:
        out.append(b"$%d\r\n%s\r\n" % (len(p), p))
    return b"".join(out)


class _Reader:
    """Buffered RESP2 reply parser over a socket."""

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""

    def _line(self) -> bytes:
        while True:
            i = self._buf.find(b"\r\n")
            if i >= 0:
                line, self._buf = self._buf[:i], self._buf[i + 2:]
                return line
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("peer closed mid-reply")
            self._buf += chunk

    def _exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("peer closed mid-bulk")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def reply(self):
        """One parsed reply: bytes | int | None | list | raises on -ERR."""
        line = self._line()
        t, rest = line[:1], line[1:]
        if t == b"+":
            return rest
        if t == b"-":
            raise ValueError(f"redis error: {rest.decode('utf-8', 'replace')}")
        if t == b":":
            return int(rest)
        if t == b"$":
            n = int(rest)
            if n < 0:
                return None
            body = self._exact(n)
            self._exact(2)  # trailing \r\n
            return body
        if t == b"*":
            n = int(rest)
            if n < 0:
                return None
            return [self.reply() for _ in range(n)]
        raise ValueError(f"bad RESP type byte {t!r}")


class MiniRedisServer(net.Server):
    """Threaded in-memory RESP2 server (cache-client command subset)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._data: dict[bytes, bytes] = {}
        self._hashes: dict[bytes, dict[bytes, bytes]] = {}
        self._lock = threading.Lock()
        super().__init__(self._serve, host, port)

    def snapshot(self) -> dict[bytes, bytes]:
        with self._lock:
            return dict(self._data)

    def _serve(self, conn: socket.socket) -> None:
        rd = _Reader(conn)
        try:
            while True:
                try:
                    cmd = rd.reply()
                except (ConnectionError, OSError):
                    return
                if not isinstance(cmd, list) or not cmd:
                    conn.sendall(b"-ERR protocol: expected command array\r\n")
                    continue
                conn.sendall(self._dispatch([bytes(c) for c in cmd]))
        finally:
            conn.close()

    def _dispatch(self, cmd: list[bytes]) -> bytes:
        verb = cmd[0].upper()
        with self._lock:
            if verb == b"PING":
                return b"+PONG\r\n"
            if verb == b"SET" and len(cmd) == 3:
                self._data[cmd[1]] = cmd[2]
                return b"+OK\r\n"
            if verb == b"GET" and len(cmd) == 2:
                v = self._data.get(cmd[1])
                if v is None:
                    return b"$-1\r\n"
                return b"$%d\r\n%s\r\n" % (len(v), v)
            if verb == b"DEL" and len(cmd) >= 2:
                n = 0
                for k in cmd[1:]:
                    n += 1 if self._data.pop(k, None) is not None else 0
                    n += 1 if self._hashes.pop(k, None) is not None else 0
                return b":%d\r\n" % n
            if verb == b"EXISTS" and len(cmd) >= 2:
                n = sum(
                    1 for k in cmd[1:] if k in self._data or k in self._hashes
                )
                return b":%d\r\n" % n
            if verb == b"HSET" and len(cmd) >= 4 and len(cmd) % 2 == 0:
                h = self._hashes.setdefault(cmd[1], {})
                added = 0
                for i in range(2, len(cmd), 2):
                    added += 0 if cmd[i] in h else 1
                    h[cmd[i]] = cmd[i + 1]
                return b":%d\r\n" % added
            if verb == b"HGET" and len(cmd) == 3:
                v = self._hashes.get(cmd[1], {}).get(cmd[2])
                if v is None:
                    return b"$-1\r\n"
                return b"$%d\r\n%s\r\n" % (len(v), v)
            if verb == b"HGETALL" and len(cmd) == 2:
                h = self._hashes.get(cmd[1], {})
                parts = [b"*%d\r\n" % (2 * len(h))]
                for k, v in h.items():
                    parts.append(b"$%d\r\n%s\r\n" % (len(k), k))
                    parts.append(b"$%d\r\n%s\r\n" % (len(v), v))
                return b"".join(parts)
            if verb == b"KEYS" and len(cmd) == 2 and cmd[1] == b"*":
                # real Redis leaves KEYS order unspecified; sorting makes
                # this server deterministic for tests and oracles
                ks = sorted(set(self._data) | set(self._hashes))
                return b"*%d\r\n" % len(ks) + b"".join(
                    b"$%d\r\n%s\r\n" % (len(k), k) for k in ks
                )
            if verb == b"DBSIZE":
                return b":%d\r\n" % (len(self._data) + len(self._hashes))
            if verb == b"FLUSHDB":
                self._data.clear()
                self._hashes.clear()
                return b"+OK\r\n"
        return b"-ERR unknown command '%s'\r\n" % verb


class RedisClient:
    """Minimal RESP2 client with request pipelining."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self._sock = net.connect(host, port, timeout)
        self._rd = _Reader(self._sock)

    def command(self, *parts: bytes):
        self._sock.sendall(resp_encode(list(parts)))
        return self._rd.reply()

    def pipeline(self, commands: list[list[bytes]]) -> list:
        """Send every command, then read every reply — RESP replies come
        back strictly in request order, so a partition's whole batch
        rides one write/read cycle."""
        if not commands:
            return []
        self._sock.sendall(b"".join(resp_encode(c) for c in commands))
        return [self._rd.reply() for _ in commands]

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


def put_redis_cache(
    df: DataFrame, host: str, port: int, key_col: str, value_col: str
) -> DataFrame:
    """PutDistributedMapCache (Redis service): one connection per
    partition, one pipelined SET per record.  Returns the key and value
    columns plus ``cached`` (reply was +OK)."""

    def run(batches):
        client = None
        try:
            for keys, values in batches:
                if client is None:
                    client = RedisClient(host, port)
                replies = client.pipeline(
                    [[b"SET", str(k).encode(), str(v).encode()] for k, v in zip(keys, values)]
                )
                yield [r == b"OK" for r in replies],
        finally:
            if client is not None:
                client.close()

    pairs = df.select(key_col, value_col)
    return with_columns(pairs, [key_col, value_col], run, "cached boolean")


def fetch_redis_cache(
    df: DataFrame, host: str, port: int, key_col: str, out_col: str = "cache_value"
) -> DataFrame:
    """FetchDistributedMapCache (Redis service): per-partition
    connection, pipelined GET per record; misses yield NULL.  Input
    columns pass through with their types."""

    def run(batches):
        client = None
        try:
            for (keys,) in batches:
                if client is None:
                    client = RedisClient(host, port)
                replies = client.pipeline([[b"GET", str(k).encode()] for k in keys])
                yield [None if r is None else bytes(r).decode("utf-8") for r in replies],
        finally:
            if client is not None:
                client.close()

    return with_columns(df, [key_col], run, f"`{out_col}` string")
