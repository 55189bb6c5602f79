"""Transport kernel for the in-process wire servers.

Every TCP server in the engine (the HTTP endpoints, the landing
listeners and the protocol brokers) runs on :class:`Server`, and every
raw TCP client opens its socket with :func:`connect`.  This module is the
one place that knows the transport policy:

- **NODELAY** on every accepted and every connected socket.  The wire
  protocols here are small alternating writes (headers then body, a
  frame then its ACK); under Nagle the second segment waits for the
  first one's ACK while the peer's delayed ACK waits for more data —
  a ~40 ms stall per request on a persistent connection.
- **HTTP/1.1 keep-alive** for the stdlib HTTP handlers
  (:class:`HttpHandler`): a pooled client reuses one connection and one
  server thread instead of paying a connect per request.  Every response
  must then carry ``Content-Length``.
- **Backlog** :data:`BACKLOG`: executor partitions connect in bursts,
  one per partition at once; the stdlib default of 5 refuses part of a
  32-way burst.
- **Idle timeout** :data:`IDLE_TIMEOUT` on every accepted connection, so
  a client that holds an idle connection (a keep-alive HTTP client, a
  leaked broker session) releases its server thread.  It counts only
  while the server waits on the peer (a read, or a write into a full
  send buffer), never while a handler computes its reply, and it is
  above the 30 s the engine's own HTTP clients give a reply.
- **Shutdown**: :meth:`Server.stop` wakes the blocked accept loop with
  ``shutdown(SHUT_RDWR)`` and closes the socket, so a connect after
  ``stop()`` is refused at once.  Live connections finish on their own
  threads (or on the idle timeout).

Fixed-length reads off a connection (a frame header, a length-prefixed
body) go through :func:`read_exact`, whatever the protocol.

A handler is either a callable taking the accepted socket (a raw
protocol loop) or a ``socketserver.BaseRequestHandler`` subclass (the
stdlib ``BaseHTTPRequestHandler``/``StreamRequestHandler`` families).
Each connection gets its own daemon thread; the kernel closes the socket
when the handler returns.
"""

from __future__ import annotations

import contextlib
import http.server
import select
import socket
import socketserver
import threading
from collections.abc import Callable
from typing import Any

__all__ = [
    "BACKLOG", "IDLE_TIMEOUT", "HttpHandler", "Server", "connect", "nodelay", "read_exact"
]

BACKLOG = 128
IDLE_TIMEOUT = 60.0  # seconds a connection may sit without traffic


def nodelay(sock: socket.socket) -> socket.socket:
    """Turn Nagle off on a connected TCP socket (also for the sockets
    stdlib clients such as ``smtplib`` open themselves)."""
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


def connect(host: str, port: int, timeout: float) -> socket.socket:
    """A connected client socket with NODELAY set."""
    return nodelay(socket.create_connection((host, port), timeout=timeout))


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


class Server:
    """A bound, listening TCP server; :meth:`start` runs its accept loop.

    ``tls`` (an ``ssl.SSLContext``), when set, wraps each accepted
    connection server-side before the handler runs.  The handshake
    happens on the connection's own thread at its first read, so
    concurrent clients never queue their handshakes behind ``accept()``.
    """

    def __init__(
        self,
        handler: Callable[[socket.socket], None] | type[socketserver.BaseRequestHandler],
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self._handler = handler
        self.tls = None
        self._sock = socket.create_server((host, port), backlog=BACKLOG)
        self.address = self._sock.getsockname()[:2]
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)

    @property
    def port(self) -> int:
        return self.address[1]

    def start(self) -> Server:
        self._thread.start()
        return self

    def stop(self) -> None:
        with contextlib.suppress(OSError):
            self._sock.shutdown(socket.SHUT_RDWR)
        if self._thread.is_alive():
            self._thread.join(timeout=2)
        self._sock.close()

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
            threading.Thread(target=self._serve, args=(conn, addr), daemon=True).start()

    def _serve(self, conn: socket.socket, addr: Any) -> None:
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
