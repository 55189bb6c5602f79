"""ListenWebSocket / PutWebSocket (§2.1/§2.2 [2.7.2-surface,
nifi-websocket bundle]) over the REAL wire protocol.

RFC 6455 is small enough to carry in the stdlib: the HTTP/1.1 Upgrade
handshake (Sec-WebSocket-Key + the fixed GUID → SHA-1 → base64 accept
token) followed by length-prefixed frames (7/16/64-bit payload lengths,
4-byte XOR masking client→server, fragmentation via continuation
frames, ping/pong/close control frames).  Both halves here speak those
exact bytes:

- ``WebSocketLandingServer`` — the ListenWebSocket analog: accepts
  connections, performs the server handshake, reassembles fragmented
  messages, answers ping with pong, enforces the RFC's client-masking
  rule (unmasked client frame → close 1002), and lands each complete
  message as one file (the landing contract in ``streaming/listen.py``).
- ``put_websocket`` — the PutWebSocket analog: ``io.with_columns`` with ONE
  client connection per PARTITION (handshake amortized across the
  batch, partitions fan out across executors — the PutTCP/InvokeHTTP
  shape), each row shipped as one masked text frame, a proper close
  handshake at the end, and a ``sent`` status column so delivery
  failures route like any other relationship.

At scale the landing tier is the deployment seam (swap in a real WS
gateway); the landing dir is the interface the Spark drain consumes.
"""

from __future__ import annotations

import base64
import hashlib
import os
import socket
import struct
from pyspark.sql import DataFrame

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns
from apache_nifi_spark.streaming.listen import Landing

__all__ = [
    "ws_accept_key",
    "encode_frame",
    "decode_frame",
    "WebSocketLandingServer",
    "put_websocket",
]

#: RFC 6455 §1.3 — the fixed handshake GUID (public constant).
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def ws_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a client's Sec-WebSocket-Key (RFC 6455
    §4.2.2 step 5.4: base64(SHA-1(key || GUID)))."""
    digest = hashlib.sha1((client_key + _WS_GUID).encode("ascii")).digest()
    return base64.b64encode(digest).decode("ascii")


def encode_frame(
    payload: bytes,
    opcode: int = 0x1,
    fin: bool = True,
    mask: bytes | None = None,
) -> bytes:
    """One frame: FIN/opcode byte, mask bit + 7/16/64-bit length, the
    optional 4-byte masking key, then the (masked) payload."""
    head = bytes([(0x80 if fin else 0) | opcode])
    mask_bit = 0x80 if mask is not None else 0
    n = len(payload)
    if n < 126:
        head += bytes([mask_bit | n])
    elif n < 1 << 16:
        head += bytes([mask_bit | 126]) + struct.pack(">H", n)
    else:
        head += bytes([mask_bit | 127]) + struct.pack(">Q", n)
    if mask is not None:
        if len(mask) != 4:
            raise ValueError("mask key must be 4 bytes")
        payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        return head + mask + payload
    return head + payload


def decode_frame(sock: socket.socket) -> tuple[bool, int, bool, bytes]:
    """Read one frame off a socket → (fin, opcode, was_masked, payload),
    unmasking if needed."""
    b0, b1 = net.read_exact(sock.recv, 2)
    fin, opcode = bool(b0 & 0x80), b0 & 0x0F
    masked, n = bool(b1 & 0x80), b1 & 0x7F
    if n == 126:
        (n,) = struct.unpack(">H", net.read_exact(sock.recv, 2))
    elif n == 127:
        (n,) = struct.unpack(">Q", net.read_exact(sock.recv, 8))
    key = net.read_exact(sock.recv, 4) if masked else b""
    payload = net.read_exact(sock.recv, n)
    if masked:
        payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
    return fin, opcode, masked, payload


class WebSocketLandingServer(net.Server):
    """ListenWebSocket: real handshake + frame reassembly, one durable
    landing file per complete message."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".msg")
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        try:
            self._handshake(conn)
            parts: list[bytes] = []
            while True:
                fin, opcode, masked, payload = decode_frame(conn)
                if opcode in (0x1, 0x2, 0x0):
                    if not masked:  # RFC 6455 §5.1: client MUST mask
                        conn.sendall(
                            encode_frame(struct.pack(">H", 1002), opcode=0x8)
                        )
                        return
                    parts.append(payload)
                    if fin:
                        self.landing.publish(b"".join(parts) + b"\n")
                        parts = []
                elif opcode == 0x9:  # ping → pong, same payload
                    conn.sendall(encode_frame(payload, opcode=0xA))
                elif opcode == 0x8:  # close → echo close, done
                    conn.sendall(encode_frame(payload, opcode=0x8))
                    return
        except (ConnectionError, OSError, ValueError):
            return
        finally:
            conn.close()

    def _handshake(self, conn: socket.socket) -> None:
        data = b""
        while b"\r\n\r\n" not in data:
            chunk = conn.recv(4096)
            if not chunk:
                raise ConnectionError("client closed during handshake")
            data += chunk
        headers = {}
        for line in data.split(b"\r\n")[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().lower()] = v.strip()
        key = headers.get(b"sec-websocket-key")
        if key is None or b"websocket" not in headers.get(b"upgrade", b"").lower():
            conn.sendall(b"HTTP/1.1 400 Bad Request\r\n\r\n")
            raise ValueError("not a websocket upgrade")
        accept = ws_accept_key(key.decode("ascii"))
        conn.sendall(
            b"HTTP/1.1 101 Switching Protocols\r\n"
            b"Upgrade: websocket\r\n"
            b"Connection: Upgrade\r\n"
            b"Sec-WebSocket-Accept: " + accept.encode("ascii") + b"\r\n\r\n"
        )


def _client_handshake(sock: socket.socket, host: str, port: int) -> None:
    key = base64.b64encode(os.urandom(16)).decode("ascii")
    sock.sendall(
        (
            f"GET / HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode("ascii")
    )
    resp = b""
    while b"\r\n\r\n" not in resp:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("server closed during handshake")
        resp += chunk
    status = resp.split(b"\r\n", 1)[0]
    if b"101" not in status:
        raise ConnectionError(f"upgrade refused: {status!r}")
    expect = ws_accept_key(key).encode("ascii")
    if expect not in resp:
        raise ConnectionError("Sec-WebSocket-Accept mismatch")


def put_websocket(
    df: DataFrame,
    host: str,
    port: int,
    content_col: str = "content",
    timeout: float = 10.0,
) -> DataFrame:
    """One masked text frame per record, one connection + handshake per
    partition, close handshake on drain; appends ``sent``."""

    def run(batches):
        sock = net.connect(host, port, timeout)
        ok = True
        try:
            _client_handshake(sock, host, port)
        except (OSError, ConnectionError):
            ok = False
        try:
            for (content,) in batches:
                sent = []
                for v in content:
                    if v is None or not ok:
                        sent.append(False)
                        continue
                    data = v if isinstance(v, bytes) else str(v).encode()
                    try:
                        sock.sendall(
                            encode_frame(data, opcode=0x1, mask=os.urandom(4))
                        )
                        sent.append(True)
                    except OSError:
                        ok = False
                        sent.append(False)
                yield sent,
            if ok:
                try:
                    sock.sendall(
                        encode_frame(struct.pack(">H", 1000), opcode=0x8, mask=os.urandom(4))
                    )
                    decode_frame(sock)  # server's close echo
                except (OSError, ConnectionError):
                    pass
        finally:
            sock.close()

    return with_columns(df, [content_col], run, "sent boolean")
