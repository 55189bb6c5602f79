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
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark import net

__all__ = [
    "HttpLandingListener",
    "TcpLandingListener",
    "UdpLandingListener",
    "stream_json_landing",
    "unescape_landed",
]


def unescape_landed(line: str) -> str:
    """Invert the injective landing escape shared by the octet-framing
    TCP listener and the RELP listener (``\\`` → ``\\\\`` first, then
    newline → ``\\n``): one landed line = one wire message, with any
    embedded newlines/backslashes recoverable.  Splitting on the escaped
    backslash keeps a literal ``\\n`` byte pair distinct from an escaped
    newline.  Spark-side equivalent of this helper:
    ``F.replace(F.replace(col, lit('\\\\n'), lit('\\n')), ...)`` is NOT
    injective — use this in a batch-parse UDF only if payloads may embed
    newlines; plain syslog lines never do."""
    return "\\".join(p.replace("\\n", "\n") for p in line.split("\\\\"))


class HttpLandingListener:
    """Threaded HTTP server writing one landing file per POST body.

    Files are written to ``<landing_dir>/<seq>_<uuid>.json`` via a
    temp-name + ``os.rename`` so the streaming file source never sees a
    half-written file (the landing-zone atomicity contract).
    """

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        os.makedirs(landing_dir, exist_ok=True)
        listener = self

        class Handler(net.HttpHandler):
            def do_POST(self):  # noqa: N802 (stdlib API name)
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                listener._land(body)
                self.send_response(200)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"ok")

        self._server = net.Server(Handler, host, port)
        self._seq = 0
        self._lock = threading.Lock()

    def _land(self, body: bytes) -> None:
        with self._lock:
            self._seq += 1
            seq = self._seq
        name = f"{seq:08d}_{uuid.uuid4().hex[:8]}.json"
        tmp = os.path.join(self.landing_dir, f".tmp_{name}")
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(self.landing_dir, name))

    @property
    def url(self) -> str:
        host, port = self._server.address
        return f"http://{host}:{port}/"

    def __enter__(self) -> "HttpLandingListener":
        self._server.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.stop()


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


class TcpLandingListener:
    """ListenTCP / ListenSyslog transport half: a threaded TCP server
    appending each record batch as one landing file — the same durable
    landing-zone contract as `HttpLandingListener` (atomic temp-name +
    rename per connection's payload).

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
    ):
        if framing not in ("newline", "octet"):
            raise ValueError(f"unknown framing {framing!r}")
        self.landing_dir = landing_dir
        os.makedirs(landing_dir, exist_ok=True)

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
                # Injective landing encoding: escape the escape char
                # first so payloads containing literal "\n" sequences
                # remain losslessly recoverable.
                data = b"\n".join(
                    m.replace(b"\\", b"\\\\").replace(b"\n", b"\\n")
                    for m in msgs
                )
            if data.strip():
                self._land(data)

        self._seq = 0
        self._srv = net.Server(handle, host, port).start()

    @property
    def port(self) -> int:
        return self._srv.port

    def _land(self, body: bytes) -> None:
        self._seq += 1
        name = f"{self._seq:06d}_{uuid.uuid4().hex}.log"
        tmp = os.path.join(self.landing_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(body if body.endswith(b"\n") else body + b"\n")
        os.rename(tmp, os.path.join(self.landing_dir, name))

    def stop(self) -> None:
        self._srv.stop()


class UdpLandingListener:
    """ListenUDP transport half [2.7.2-surface; SURVEY.md §2.1]: a
    threaded UDP server landing datagrams as durable files.

    NiFi's ListenUDP batches datagrams into FlowFiles via Max Batch Size;
    ``batch_size`` mirrors that — datagrams buffer in arrival order and
    flush to ONE newline-delimited landing file per batch (atomic
    temp-name + rename, same contract as the TCP/HTTP listeners).
    ``flush()`` drains a partial batch (NiFi's batching window close);
    ``stop()`` flushes implicitly so no datagram is ever dropped.

    Datagrams are unordered/unreliable by nature — the landing filename
    carries an arrival sequence so downstream EnforceOrder-style
    operators can reconstruct order where the payload allows.

    Receive path is a single tight ``recvfrom`` loop on a socket with an
    8 MB SO_RCVBUF — a thread-per-datagram server (socketserver's
    ThreadingUDPServer) stalls the drain under a datagram burst and the
    kernel silently drops once the receive buffer fills; syslog senders
    burst by nature, so the listener must drain at line rate and defer
    everything else (batch flushing happens on the same thread between
    reads, file I/O amortized over ``batch_size`` datagrams).
    """

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        batch_size: int = 1,
    ):
        import socket as _socket

        self.landing_dir = landing_dir
        os.makedirs(landing_dir, exist_ok=True)
        self.batch_size = max(1, batch_size)
        self._buf: list[bytes] = []
        self._seq = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
        try:
            self._sock.setsockopt(
                _socket.SOL_SOCKET, _socket.SO_RCVBUF, 8 * 1024 * 1024
            )
        except OSError:
            pass  # platform cap; the drain loop still keeps up
        self._sock.bind((host, port))
        self._sock.settimeout(0.2)  # wake periodically to observe _stop
        self._thread = threading.Thread(target=self._recv_loop, daemon=True)
        self._thread.start()

    def _recv_loop(self) -> None:
        import socket as _socket

        while not self._stop.is_set():
            try:
                data, _ = self._sock.recvfrom(65535)
            except _socket.timeout:
                continue
            except OSError:
                break  # socket closed under us during stop()
            if data.strip():
                self._datagram(data)

    @property
    def port(self) -> int:
        return self._sock.getsockname()[1]

    def _datagram(self, data: bytes) -> None:
        with self._lock:
            self._buf.append(data.rstrip(b"\n"))
            if len(self._buf) >= self.batch_size:
                self._flush_locked()

    def _flush_locked(self) -> None:
        if not self._buf:
            return
        self._seq += 1
        body = b"\n".join(self._buf) + b"\n"
        self._buf = []
        name = f"{self._seq:06d}_{uuid.uuid4().hex}.log"
        tmp = os.path.join(self.landing_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(self.landing_dir, name))

    def flush(self) -> None:
        with self._lock:
            self._flush_locked()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._sock.close()
        self.flush()
