"""ConsumeJMS / PublishJMS over the STOMP 1.2 wire (§2.1/§2.2).

JMS itself is a Java API, not a wire protocol — every open JMS broker
(ActiveMQ, Artemis, RabbitMQ) exposes its interoperable text protocol,
STOMP, and NiFi deployments that bridge out of JVM land speak exactly
this.  ``functions/selectors.jms_selector`` already compiles JMS message
selectors (the SQL-92 conditional subset) to Catalyst predicates; this
module adds the missing transport so the ConsumeJMS/PublishJMS hop is
real protocol bytes — the same broker pattern as the MQTT/AMQP tiers:

- **MiniStompBroker**: threaded TCP server speaking STOMP 1.2 framing —
  ``CONNECT``→``CONNECTED`` (accept-version negotiated), ``SEND`` with
  full 1.2 header escaping (``\\n`` ``\\r`` ``\\c`` ``\\\\``) and
  ``content-length`` bodies (NUL-safe), ``RECEIPT`` on request, and
  receipt-confirmed ``DISCONNECT``.  Messages land as JSON-lines batch
  files ``{"destination", "headers", "body"}`` per connection (the
  landing contract in ``streaming/listen.py``) — ConsumeJMS's drain is a distributed JSON scan with
  the compiled selector applied Spark-side, exactly where a broker
  evaluates it.
- **publish_stomp**: the per-partition client — one CONNECT per
  partition, pipelined SENDs carrying the JMS properties as STOMP
  headers, then ONE receipt awaited at DISCONNECT.  STOMP processes
  frames in order, so the final receipt confirms every prior SEND
  (at-least-once with batch-amortized confirmation — NiFi's PublishJMS
  delivery guarantee without a per-row round trip).

Scale: publishing fans out one connection per partition across
executors; consumption is a splittable scan of the landing files.
"""

from __future__ import annotations

import contextlib
import json
import socket
import uuid

from apache_nifi_spark import net
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["MiniStompBroker", "publish_stomp"]

_HDR_ESCAPE = {"\\": "\\\\", "\r": "\\r", "\n": "\\n", ":": "\\c"}
_HDR_UNESCAPE = {"\\\\": "\\", "\\r": "\r", "\\n": "\n", "\\c": ":"}


def _escape_header(s: str) -> str:
    out = []
    for ch in s:
        out.append(_HDR_ESCAPE.get(ch, ch))
    return "".join(out)


def _unescape_header(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        if s[i] == "\\":
            tok = s[i : i + 2]
            if tok not in _HDR_UNESCAPE:
                raise ValueError(f"invalid STOMP header escape {tok!r}")
            out.append(_HDR_UNESCAPE[tok])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _frame(command: str, headers: dict[str, str], body: bytes = b"") -> bytes:
    """Serialize one STOMP 1.2 frame (headers escaped except on
    CONNECT/CONNECTED, per the spec)."""
    esc = command not in ("CONNECT", "CONNECTED")
    lines = [command]
    for k, v in headers.items():
        if esc:
            lines.append(f"{_escape_header(str(k))}:{_escape_header(str(v))}")
        else:
            lines.append(f"{k}:{v}")
    if body and "content-length" not in headers:
        lines.append(f"content-length:{len(body)}")
    head = ("\n".join(lines) + "\n\n").encode("utf-8")
    return head + body + b"\x00"


def _read_frame(f) -> tuple[str, dict[str, str], bytes] | None:
    """Parse one frame from a buffered reader; None at EOF.  Skips
    heart-beat newlines between frames."""
    while True:
        line = f.readline()
        if not line:
            return None
        stripped = line.rstrip(b"\r\n")
        if stripped:
            command = stripped.decode("utf-8")
            break
    headers: dict[str, str] = {}
    esc = command not in ("CONNECT", "CONNECTED")
    while True:
        line = f.readline()
        if not line:
            raise ConnectionError("EOF in STOMP headers")
        line = line.rstrip(b"\r\n")
        if not line:
            break
        k, sep, v = line.decode("utf-8").partition(":")
        if not sep:
            raise ValueError(f"malformed STOMP header line {line!r}")
        if esc:
            k, v = _unescape_header(k), _unescape_header(v)
        headers.setdefault(k, v)  # spec: first occurrence wins
    if "content-length" in headers:
        n = int(headers["content-length"])
        body = b""
        while len(body) < n:
            chunk = f.read(n - len(body))
            if not chunk:
                raise ConnectionError("EOF in STOMP body")
            body += chunk
        if f.read(1) != b"\x00":
            raise ValueError("missing NUL after sized STOMP body")
    else:
        chunks = []
        while True:
            ch = f.read(1)
            if not ch:
                raise ConnectionError("EOF in STOMP body")
            if ch == b"\x00":
                break
            chunks.append(ch)
        body = b"".join(chunks)
    return command, headers, body


class MiniStompBroker(net.Server):
    """STOMP 1.2 broker landing SENDs durably per connection."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".jsonl")
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb", buffering=1 << 16)
        batch: list[bytes] = []
        try:
            frame = _read_frame(f)
            if frame is None:
                return
            command, headers, _ = frame
            if command not in ("CONNECT", "STOMP"):
                f.write(_frame("ERROR", {"message": "expected CONNECT"}))
                f.flush()
                return
            versions = (headers.get("accept-version") or "1.0").split(",")
            if "1.2" not in versions:
                f.write(_frame("ERROR", {"message": "only STOMP 1.2 spoken here"}))
                f.flush()
                return
            f.write(_frame("CONNECTED", {"version": "1.2", "heart-beat": "0,0"}))
            f.flush()
            while True:
                frame = _read_frame(f)
                if frame is None:
                    break
                command, headers, body = frame
                receipt = headers.pop("receipt", None)
                if command == "SEND":
                    dest = headers.pop("destination", None)
                    if dest is None:
                        f.write(_frame("ERROR", {"message": "SEND needs destination"}))
                        f.flush()
                        break
                    headers.pop("content-length", None)
                    batch.append(
                        json.dumps(
                            {
                                "destination": dest,
                                "headers": headers,
                                "body": body.decode("utf-8"),
                            },
                            sort_keys=True,
                        ).encode("utf-8")
                    )
                    if receipt is not None:
                        f.write(_frame("RECEIPT", {"receipt-id": receipt}))
                        f.flush()
                elif command == "DISCONNECT":
                    # land BEFORE the receipt: once the client sees it,
                    # every prior SEND is durably on disk
                    if batch:
                        self.landing.publish_lines(batch)
                        batch = []
                    if receipt is not None:
                        f.write(_frame("RECEIPT", {"receipt-id": receipt}))
                        f.flush()
                    break
                else:
                    f.write(
                        _frame("ERROR", {"message": f"unsupported frame {command}"})
                    )
                    f.flush()
                    break
        except (ConnectionError, ValueError, OSError):
            pass
        finally:
            if batch:
                self.landing.publish_lines(batch)
            try:
                f.close()
            except OSError:
                pass
            conn.close()


class _StompClient:
    def __init__(self, host: str, port: int, timeout: float = 10.0):
        with contextlib.ExitStack() as on_error:  # close both if refused
            self._sock = on_error.enter_context(net.connect(host, port, timeout))
            self._f = on_error.enter_context(self._sock.makefile("rwb", buffering=1 << 16))
            self._f.write(
                _frame("CONNECT", {"accept-version": "1.2", "host": host})
            )
            self._f.flush()
            frame = _read_frame(self._f)
            if frame is None or frame[0] != "CONNECTED":
                raise ConnectionError(f"STOMP CONNECT refused: {frame!r}")
            if frame[1].get("version") != "1.2":
                raise ConnectionError(f"negotiated version {frame[1].get('version')!r}")
            on_error.pop_all()

    def send(self, destination: str, headers: dict[str, str], body: bytes) -> None:
        """Pipelined (no per-frame receipt; DISCONNECT confirms all)."""
        self._f.write(
            _frame("SEND", {"destination": destination, **headers}, body)
        )

    def disconnect_confirmed(self, timeout_receipt: str | None = None) -> None:
        """DISCONNECT with a receipt: STOMP processes frames in order,
        so the RECEIPT confirms every prior SEND was processed."""
        rid = timeout_receipt or uuid.uuid4().hex[:12]
        self._f.write(_frame("DISCONNECT", {"receipt": rid}))
        self._f.flush()
        frame = _read_frame(self._f)
        if frame is None or frame[0] != "RECEIPT" or frame[1].get("receipt-id") != rid:
            raise ConnectionError(f"DISCONNECT receipt mismatch: {frame!r}")

    def close(self) -> None:
        try:
            self._f.close()
        finally:
            self._sock.close()


def publish_stomp(
    df,
    host: str,
    port: int,
    destination_col: str,
    body_col: str,
    header_cols: list[str] | None = None,
    timeout: float = 30.0,
):
    """One STOMP connection per partition; pipelined SENDs (JMS
    properties from ``header_cols`` become STOMP headers) with ONE
    receipt-confirmed DISCONNECT; appends ``published``."""
    from apache_nifi_spark.io import with_columns

    header_cols = list(header_cols or [])

    def run(batches):
        batches = list(batches)
        ok = False
        if any(dests for dests, *_ in batches):
            client = None
            try:
                client = _StompClient(host, port, timeout=timeout)
                for dests, bodies, *hdr_lists in batches:
                    for i, (dest, body) in enumerate(zip(dests, bodies)):
                        headers = {
                            c: str(vals[i])
                            for c, vals in zip(header_cols, hdr_lists)
                        }
                        client.send(str(dest), headers, str(body).encode("utf-8"))
                client.disconnect_confirmed()
                ok = True
            except (ConnectionError, ValueError, OSError):
                ok = False
            finally:
                if client is not None:
                    client.close()
        for dests, *_ in batches:
            yield [ok] * len(dests),

    return with_columns(
        df, [destination_col, body_col, *header_cols], run, "published boolean"
    )
