"""ListenHTTP / HandleHttpRequest analog (SURVEY.md §2.1): an HTTP
endpoint whose POST bodies land as files in a landing-zone directory,
drained by a Structured Streaming file source.

This is the reference system's most-exercised entry point (the demo flow
ingests via ``curl -X POST http://NODE:30075/...`` —
/root/reference/updated.sh:241-243, ListenHTTP on a NodePort).  The
Spark-first shape splits it in two, which is exactly how a NiFi →
landing-zone → engine deployment works at scale:

- **Listener (this module)**: a tiny HTTP front end that appends each
  POST body as one durable file.  In production this tier is nginx /
  an object-store gateway / Kafka REST — anything that turns requests
  into durable landed objects; it is intentionally NOT a Spark concern,
  so losing an executor never loses an in-flight request.
- **Drain (`stream_json_landing`)**: ``readStream.format("json")`` over
  the landing dir — exactly-once via checkpoint + the file source's
  seen-files log, back-pressure via ``maxFilesPerTrigger``.

The listener here is stdlib ``http.server`` (threaded) — enough to make
the pattern REAL and e2e-testable in-process; swap the front end
freely, the landing-dir contract is the interface.

**The landing contract.**  Every listener in the engine (HTTP, TCP, UDP,
RELP, SMTP, WebSocket, the MQTT/AMQP/STOMP brokers, the Elasticsearch and
Mongo stores, the site-to-site receiver) publishes through one
:class:`Landing`:

- each file appears whole: it is written under a hidden temp name
  (``.tmp_<name>``, which Spark's file sources and ``glob`` skip) and
  published with one ``rename``;
- files are named ``<prefix><seq:08d>_<hex8><suffix>``, the sequence
  taken under a lock, so names are distinct and sort in publish order
  within a prefix;
- a payload that may carry newlines or backslashes lands one line per
  message through the injective :meth:`Landing.escape`, inverted by
  :func:`unescape_landed`;
- the landing counts the records it has published, and
  :meth:`Landing.wait` blocks until a sender's count has landed.
"""

from __future__ import annotations

import os
import ssl
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark import net

__all__ = [
    "HttpLandingListener",
    "Landing",
    "TcpLandingListener",
    "UdpLandingListener",
    "stream_json_landing",
    "unescape_landed",
]


def unescape_landed(line: str) -> str:
    """Invert :meth:`Landing.escape`: one landed line = one wire
    message, with any embedded newlines/backslashes recoverable.
    Splitting on the escaped backslash keeps a literal ``\\n`` byte
    pair distinct from an escaped newline.  Spark-side equivalent of
    this helper: ``F.replace(F.replace(col, lit('\\\\n'), lit('\\n')), ...)``
    is NOT injective — use this in a batch-parse UDF only if payloads
    may embed newlines; plain syslog lines never do."""
    return "\\".join(p.replace("\\n", "\n") for p in line.split("\\\\"))


class Landing:
    """One landing directory: publishes whole files into it, counts the
    records it has published and waits for a count (the contract in the
    module docstring)."""

    def __init__(self, landing_dir: str, suffix: str):
        os.makedirs(landing_dir, exist_ok=True)
        self.dir = landing_dir
        self.suffix = suffix
        self._seq = 0
        self._records = 0
        self._cond = threading.Condition()

    @staticmethod
    def escape(payload: bytes) -> bytes:
        """The injective line escape: ``\\`` → ``\\\\`` first, then
        newline → ``\\n``."""
        return payload.replace(b"\\", b"\\\\").replace(b"\n", b"\\n")

    @property
    def count(self) -> int:
        """Records published so far."""
        with self._cond:
            return self._records

    def publish(self, body: bytes, records: int = 1, prefix: str = "") -> None:
        """Land ``body`` as one file holding ``records`` records."""
        with self._cond:
            self._seq += 1
            seq = self._seq
        name = f"{prefix}{seq:08d}_{uuid.uuid4().hex[:8]}{self.suffix}"
        tmp = os.path.join(self.dir, f".tmp_{name}")
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(self.dir, name))
        with self._cond:
            self._records += records
            self._cond.notify_all()

    def publish_lines(self, lines: list[bytes], prefix: str = "") -> None:
        """Land ``lines`` newline-terminated as one file, one record each."""
        self.publish(b"\n".join(lines) + b"\n", len(lines), prefix)

    def wait(self, n: int, timeout: float = 15.0) -> None:
        """Block until ``n`` records have landed; ``TimeoutError`` after
        ``timeout`` seconds."""
        with self._cond:
            if not self._cond.wait_for(lambda: self._records >= n, timeout):
                raise TimeoutError(
                    f"landing zone has {self._records} of {n} records"
                )


class HttpLandingListener(net.Server):
    """Threaded HTTP server landing one ``.json`` file per POST body."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        tls: ssl.SSLContext | None = None,
    ):
        self.landing_dir = landing_dir
        self.landing = landing = Landing(landing_dir, ".json")

        class Handler(net.HttpHandler):
            def do_POST(self):  # noqa: N802 (stdlib API name)
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                landing.publish(body)
                self.send_response(200)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"ok")

        super().__init__(Handler, host, port, tls=tls)

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}/"


def stream_json_landing(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a JSON landing zone as a stream (the ListenHTTP consumer
    half).  Explicit schema — a streaming source must not infer — and
    ``maxFilesPerTrigger`` as the ControlRate/back-pressure knob."""
    reader = spark.readStream.schema(schema).format("json")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


class TcpLandingListener(net.Server):
    """ListenTCP / ListenSyslog transport half: a threaded TCP server
    landing each connection's payload as one ``.log`` file.

    ``framing`` selects the syslog-over-TCP transport mode (RFC 6587):
    ``"newline"`` (non-transparent framing, the default) lands the byte
    stream as-is; ``"octet"`` (octet-counting, ``"<len> <msg>"``) parses
    each length-prefixed frame and lands the messages newline-joined, so
    downstream parsing is framing-agnostic — messages may then contain
    embedded newlines on the wire without splitting."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        framing: str = "newline",
        tls: ssl.SSLContext | None = None,
    ):
        if framing not in ("newline", "octet"):
            raise ValueError(f"unknown framing {framing!r}")
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".log")

        def handle(conn) -> None:
            with conn.makefile("rb") as f:
                data = f.read()
            if framing == "octet":
                # Frames parsed before a malformed tail still land —
                # a garbage length prefix must not discard valid frames.
                msgs, pos = [], 0
                while pos < len(data):
                    try:
                        sp = data.index(b" ", pos)
                        n = int(data[pos:sp])
                        if n < 0:
                            break
                    except ValueError:
                        break
                    if sp + 1 + n > len(data):
                        # truncated final frame: the declared length
                        # runs past the received bytes — never land a
                        # silently-partial message
                        break
                    msgs.append(data[sp + 1 : sp + 1 + n])
                    pos = sp + 1 + n
                data = b"\n".join(map(Landing.escape, msgs))
            if data.strip():
                self.landing.publish(
                    data if data.endswith(b"\n") else data + b"\n",
                    sum(1 for ln in data.splitlines() if ln.strip()),
                )

        super().__init__(handle, host, port, tls=tls)


class UdpLandingListener(net.UdpServer):
    """ListenUDP transport half [2.7.2-surface; SURVEY.md §2.1]: a
    threaded UDP server landing datagrams as durable files.

    NiFi's ListenUDP batches datagrams into FlowFiles via Max Batch Size;
    ``batch_size`` mirrors that — datagrams buffer in arrival order and
    flush to ONE newline-delimited ``.log`` landing file per batch.
    ``flush()`` drains a partial batch (NiFi's batching window close);
    ``stop()`` flushes implicitly so no datagram is ever dropped.

    Datagrams are unordered/unreliable by nature — the landing filename
    carries an arrival sequence so downstream EnforceOrder-style
    operators can reconstruct order where the payload allows.

    The receive path is :class:`net.UdpServer`'s single ``recvfrom``
    loop — a thread-per-datagram server stalls under a datagram burst
    and the kernel silently drops once the receive buffer fills; syslog
    senders burst by nature, so the listener drains at line rate and
    flushes batches on the same thread between reads (file I/O
    amortized over ``batch_size`` datagrams).
    """

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        batch_size: int = 1,
    ):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".log")
        self.batch_size = max(1, batch_size)
        self._buf: list[bytes] = []
        self._lock = threading.Lock()
        super().__init__(self._datagram, host, port)

    def _datagram(self, data: bytes, _addr) -> None:
        if not data.strip():
            return
        with self._lock:
            self._buf.append(data.rstrip(b"\n"))
            if len(self._buf) >= self.batch_size:
                self._flush_locked()

    def _flush_locked(self) -> None:
        if self._buf:
            self.landing.publish_lines(self._buf)
            self._buf = []

    def flush(self) -> None:
        with self._lock:
            self._flush_locked()

    def stop(self) -> None:
        super().stop()
        self.flush()
