"""Transport kernel for the in-process wire servers.

Every server in the engine (the HTTP endpoints, the landing listeners,
the protocol brokers and the UDP agents) *is* a :class:`Server` or a
:class:`UdpServer`: its class subclasses the kernel and calls
``super().__init__(handler, host, port, ...)`` as the last step of its
own ``__init__``.  Every raw TCP client opens its socket with
:func:`connect`.  This module is the one place that binds a server
socket and knows the transport policy:

- **One lifecycle.**  Construction binds the socket and starts serving;
  :meth:`Server.stop` (or leaving a ``with`` block) stops it.  There is
  no separate start, and no other shutdown verb: a subclass that owns
  more (a worker pool, a partial batch) overrides ``stop()`` and calls
  ``super().stop()``.  ``stop()`` wakes the blocked serving thread with
  ``shutdown(SHUT_RDWR)``, joins it and closes the socket, so a TCP
  connect after ``stop()`` is refused at once and a UDP port is free to
  rebind.  Live TCP connections finish on their own threads (or on the
  idle timeout).
- **TLS at construction**: ``tls=`` (an ``ssl.SSLContext``) wraps each
  accepted connection server-side before the handler runs.  The
  handshake happens on the connection's own thread at its first read,
  so concurrent clients never queue their handshakes behind
  ``accept()``.
- **NODELAY** on every accepted and every connected socket.  The wire
  protocols here are small alternating writes (headers then body, a
  frame then its ACK); under Nagle the second segment waits for the
  first one's ACK while the peer's delayed ACK waits for more data —
  a ~40 ms stall per request on a persistent connection.
- **HTTP/1.1 keep-alive** for the stdlib HTTP handlers
  (:class:`HttpHandler`): a pooled client reuses one connection and one
  server thread instead of paying a connect per request.  Every response
  must then carry ``Content-Length``.
- **Backlog** :data:`BACKLOG` on every listening socket (:func:`listen`):
  executor partitions connect in bursts, one per partition at once; the
  stdlib default of 5 refuses part of a 32-way burst.
- **Idle timeout** :data:`IDLE_TIMEOUT` on every accepted connection, so
  a client that holds an idle connection (a keep-alive HTTP client, a
  leaked broker session) releases its server thread.  It counts only
  while the server waits on the peer (a read, or a write into a full
  send buffer), never while a handler computes its reply, and it is
  above the 30 s the engine's own HTTP clients give a reply.
- **UDP** (:class:`UdpServer`): one thread reads datagrams in a tight
  ``recvfrom`` loop on a socket with a :data:`UDP_RCVBUF` receive
  buffer (senders burst; a full buffer drops silently) and hands each
  to the handler, which returns the reply datagram or ``None``.

Fixed-length reads off a connection (a frame header, a length-prefixed
body) go through :func:`read_exact`, whatever the protocol.

A TCP handler is either a callable taking the accepted socket (a raw
protocol loop) or a ``socketserver.BaseRequestHandler`` subclass (the
stdlib ``BaseHTTPRequestHandler``/``StreamRequestHandler`` families,
which see the server as ``self.server``).  Each connection gets its own
daemon thread; the kernel closes the socket when the handler returns.
"""

from __future__ import annotations

import contextlib
import http.server
import select
import socket
import socketserver
import ssl
import threading
from collections.abc import Callable
from typing import Any, Self

__all__ = [
    "BACKLOG",
    "IDLE_TIMEOUT",
    "UDP_RCVBUF",
    "HttpHandler",
    "Server",
    "UdpServer",
    "connect",
    "listen",
    "nodelay",
    "read_exact",
]

BACKLOG = 128
IDLE_TIMEOUT = 60.0  # seconds a connection may sit without traffic
UDP_RCVBUF = 8 * 1024 * 1024  # bytes; the OS caps it at its own maximum


def nodelay(sock: socket.socket) -> socket.socket:
    """Turn Nagle off on a connected TCP socket (also for the sockets
    stdlib clients such as ``smtplib`` open themselves)."""
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


def connect(host: str, port: int, timeout: float) -> socket.socket:
    """A connected client socket with NODELAY set."""
    return nodelay(socket.create_connection((host, port), timeout=timeout))


def listen(host: str = "127.0.0.1", port: int = 0) -> socket.socket:
    """A bound TCP socket listening with :data:`BACKLOG` (a server's own
    socket, or a protocol's secondary data channel such as FTP's passive
    port)."""
    return socket.create_server((host, port), backlog=BACKLOG)


def read_exact(read: Callable[[int], bytes], n: int) -> bytes:
    """Exactly ``n`` bytes from ``read`` (a socket's ``recv`` or a
    file's ``read``), looping over short reads; ``ConnectionError`` when
    the peer closes first."""
    buf = b""
    while len(buf) < n:
        chunk = read(n - len(buf))
        if not chunk:
            raise ConnectionError(f"peer closed after {len(buf)} of {n} bytes")
        buf += chunk
    return buf


class HttpHandler(http.server.BaseHTTPRequestHandler):
    """Base for the HTTP endpoints: keep-alive and no per-request stderr.
    Every response path must send ``Content-Length``.  NODELAY needs no
    ``disable_nagle_algorithm`` here: :class:`Server` sets it on every
    connection it accepts."""

    protocol_version = "HTTP/1.1"

    def log_message(self, *args: Any) -> None:
        pass


class _Endpoint:
    """The lifecycle both kernels share: serving on a daemon thread from
    construction until :meth:`stop` (also by leaving a ``with`` block)."""

    def __init__(self, sock: socket.socket, loop: Callable[[], None]):
        self._sock = sock
        self.address = sock.getsockname()[:2]
        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    @property
    def port(self) -> int:
        return self.address[1]

    def stop(self) -> None:
        with contextlib.suppress(OSError):
            # TCP: fails the pending accept(); UDP: raises ENOTCONN but
            # still wakes the blocked recvfrom(), which returns no peer
            self._sock.shutdown(socket.SHUT_RDWR)
        if self._thread.is_alive():
            self._thread.join(timeout=2)
        self._sock.close()

    def __enter__(self) -> Self:
        return self

    def __exit__(self, *exc: object) -> None:
        self.stop()


class Server(_Endpoint):
    """A TCP server, listening and accepting from construction.

    ``tls`` (an ``ssl.SSLContext``), when set, wraps each accepted
    connection server-side before the handler runs.
    """

    def __init__(
        self,
        handler: Callable[[socket.socket], None] | type[socketserver.BaseRequestHandler],
        host: str = "127.0.0.1",
        port: int = 0,
        tls: ssl.SSLContext | None = None,
    ):
        self._handler = handler
        self.tls = tls
        super().__init__(listen(host, port), self._accept_loop)

    def _accept_loop(self) -> None:
        # Block in poll(), then accept() a connection that is already
        # there: each accept() call starts after its connection arrived,
        # so a wrapper patched onto socket.accept meanwhile (the
        # perfbench socket tracer) sees every connection from then on.
        # stop()'s shutdown wakes poll() and fails the accept().
        ready = select.poll()
        ready.register(self._sock, select.POLLIN)
        while True:
            ready.poll()
            try:
                conn, addr = self._sock.accept()
            except OSError:
                return  # stop() shut the socket down
            nodelay(conn)
            conn.settimeout(IDLE_TIMEOUT)
            threading.Thread(target=self._connection, args=(conn, addr), daemon=True).start()

    def _connection(self, conn: socket.socket, addr: Any) -> None:
        try:
            if self.tls is not None:
                conn = self.tls.wrap_socket(
                    conn, server_side=True, do_handshake_on_connect=False
                )
            if isinstance(self._handler, type):
                self._handler(conn, addr, self)
            else:
                self._handler(conn)
        except OSError:
            pass  # peer reset, idle timeout or failed TLS handshake
        finally:
            with contextlib.suppress(OSError):
                conn.shutdown(socket.SHUT_WR)
            conn.close()


class UdpServer(_Endpoint):
    """A UDP server, receiving from construction.  ``handler(data, addr)``
    returns the reply datagram for ``addr``, or ``None``; a datagram
    whose handler raises is dropped and the server keeps serving."""

    def __init__(
        self,
        handler: Callable[[bytes, Any], bytes | None],
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self._handler = handler
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        with contextlib.suppress(OSError):
            sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, UDP_RCVBUF)
        sock.bind((host, port))
        super().__init__(sock, self._recv_loop)

    def _recv_loop(self) -> None:
        while True:
            try:
                data, addr = self._sock.recvfrom(65535)
            except OSError:
                return  # the socket was closed under the read
            if addr is None:
                return  # stop()'s shutdown woke the read
            try:
                reply = self._handler(data, addr)
                if reply is not None:
                    self._sock.sendto(reply, addr)
            except Exception:  # noqa: BLE001 — a malformed datagram
                pass
