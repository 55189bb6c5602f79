"""ConsumeIMAP (§2.1 [2.7.2-surface, nifi-email bundle]) over the real
IMAP4rev1 wire protocol.

The CLIENT side is stdlib ``imaplib`` — the same tagged-command /
untagged-response / literal framing a production mailbox speaks.  The
environment has no mail server, so ``MiniImapServer`` implements the
subset a consume cycle needs (RFC 3501: greeting with CAPABILITY,
LOGIN, SELECT, SEARCH ALL, FETCH (RFC822) with literal responses,
APPEND with the ``+`` continuation for client literals, NOOP, LOGOUT)
over a threaded socket server.  Tests and the registry query therefore
exercise genuine protocol bytes end to end.

Spark shape (the FetchFTP/ListFTP split):

- **staging is data-plane**: ``append_imap`` APPENDs each partition's
  messages over one authenticated connection (executor-side, the
  PutEmail delivery seam);
- **listing is control-plane**: one driver-side SEARCH returns message
  sequence numbers (O(messages) metadata);
- **fetching is data-plane and DISTRIBUTED**: ``consume_imap`` maps the
  id listing through ``io.with_columns`` — each PARTITION opens one
  imaplib connection and FETCHes its ids, so aggregate throughput scales with
  the cluster, bounded by the server's connection limit.
"""

from __future__ import annotations

import socket
import threading

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns

__all__ = ["MiniImapServer", "append_imap", "list_imap_ids", "consume_imap",
           "MiniPop3Server", "consume_pop3"]


class MiniImapServer(net.Server):
    """Threaded RFC 3501 subset server with one shared INBOX."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 user: str = "engine", password: str = "secret"):
        self.user, self.password = user, password
        self._mailbox: list[bytes] = []
        self._lock = threading.Lock()
        super().__init__(self._serve, host, port)

    def message_count(self) -> int:
        with self._lock:
            return len(self._mailbox)

    # -- protocol ----------------------------------------------------------

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")
        authed = False

        def send(line: str) -> None:
            f.write(line.encode() + b"\r\n")
            f.flush()

        try:
            send("* OK [CAPABILITY IMAP4rev1] MiniImapServer ready")
            while True:
                line = f.readline()
                if not line:
                    return
                line = line.rstrip(b"\r\n")
                # APPEND carries a trailing literal: {n}\r\n + n bytes + CRLF
                literal = None
                if line.endswith(b"}") and b"{" in line:
                    n = int(line[line.rindex(b"{") + 1 : -1])
                    send("+ Ready for literal data")
                    literal = f.read(n)
                    f.readline()  # trailing CRLF after the literal
                parts = line.decode("utf-8", "replace").split(" ")
                tag, cmd = parts[0], (parts[1].upper() if len(parts) > 1 else "")
                if cmd == "CAPABILITY":
                    send("* CAPABILITY IMAP4rev1")
                    send(f"{tag} OK CAPABILITY completed")
                elif cmd == "LOGIN":
                    u = parts[2].strip('"')
                    p = parts[3].strip('"') if len(parts) > 3 else ""
                    if (u, p) == (self.user, self.password):
                        authed = True
                        send(f"{tag} OK LOGIN completed")
                    else:
                        send(f"{tag} NO LOGIN failed")
                elif not authed:
                    send(f"{tag} NO not authenticated")
                elif cmd in ("SELECT", "EXAMINE"):
                    with self._lock:
                        n = len(self._mailbox)
                    send(f"* {n} EXISTS")
                    send("* OK [UIDVALIDITY 1] UIDs valid")
                    send(f"{tag} OK [READ-WRITE] SELECT completed")
                elif cmd == "SEARCH":
                    with self._lock:
                        ids = " ".join(str(i + 1) for i in range(len(self._mailbox)))
                    send(f"* SEARCH {ids}".rstrip())
                    send(f"{tag} OK SEARCH completed")
                elif cmd == "FETCH":
                    seq = parts[2]
                    with self._lock:
                        msg = self._mailbox[int(seq) - 1]
                    f.write(f"* {seq} FETCH (RFC822 {{{len(msg)}}}\r\n".encode())
                    f.write(msg)
                    f.write(b")\r\n")
                    f.flush()
                    send(f"{tag} OK FETCH completed")
                elif cmd == "APPEND":
                    if literal is None:
                        send(f"{tag} BAD APPEND needs a literal")
                    else:
                        with self._lock:
                            self._mailbox.append(literal)
                        send(f"{tag} OK APPEND completed")
                elif cmd == "NOOP":
                    send(f"{tag} OK NOOP completed")
                elif cmd == "LOGOUT":
                    send("* BYE MiniImapServer logging out")
                    send(f"{tag} OK LOGOUT completed")
                    return
                else:
                    send(f"{tag} BAD unknown command {cmd}")
        except (ConnectionError, OSError, ValueError, IndexError):
            return
        finally:
            try:
                f.close()
            except OSError:
                pass
            conn.close()


def _connect(host: str, port: int, user: str, password: str):
    import imaplib

    client = imaplib.IMAP4(host, port)
    # imaplib never sets NODELAY; per-message round-trips would
    # otherwise stall ~40 ms each under Nagle + delayed ACK.
    net.nodelay(client.sock)
    client.login(user, password)
    client.select("INBOX")
    return client


def append_imap(
    df: DataFrame,
    host: str,
    port: int,
    content_col: str = "message",
    user: str = "engine",
    password: str = "secret",
) -> DataFrame:
    """Deliver each record's message bytes via IMAP APPEND — one
    authenticated connection per partition; appends ``delivered``."""

    def run(batches):
        import imaplib

        client = imaplib.IMAP4(host, port)
        net.nodelay(client.sock)
        client.login(user, password)
        try:
            for (raws,) in batches:
                ok = []
                for raw in raws:
                    if raw is None:
                        ok.append(False)
                        continue
                    b = raw if isinstance(raw, bytes) else str(raw).encode()
                    typ, _ = client.append("INBOX", None, None, bytes(b))
                    ok.append(typ == "OK")
                yield ok,
        finally:
            client.logout()

    return with_columns(df, [content_col], run, "delivered boolean")


def list_imap_ids(
    spark: SparkSession,
    host: str,
    port: int,
    user: str = "engine",
    password: str = "secret",
    partitions: int = 4,
) -> DataFrame:
    """Driver-side SEARCH → DataFrame of message sequence numbers (the
    control-plane listing, like ListFTP's manifest)."""
    client = _connect(host, port, user, password)
    try:
        _, data = client.search(None, "ALL")
    finally:
        client.logout()
    ids = [int(x) for x in data[0].split()]
    return spark.createDataFrame(
        [(i,) for i in ids], "msg_id int"
    ).repartition(partitions)


def consume_imap(
    ids: DataFrame,
    host: str,
    port: int,
    user: str = "engine",
    password: str = "secret",
) -> DataFrame:
    """Distributed FETCH: each partition opens one connection and pulls
    its ids → (msg_id, message bytes)."""

    def run(batches):
        client = _connect(host, port, user, password)
        try:
            for (mids,) in batches:
                msgs = []
                for mid in mids:
                    _, data = client.fetch(str(mid), "(RFC822)")
                    msgs.append(data[0][1])
                yield msgs,
        finally:
            client.logout()

    return with_columns(ids.select("msg_id"), ["msg_id"], run, "message binary")


class MiniPop3Server(net.Server):
    """ConsumePOP3's counterpart [2.7.2-surface]: the RFC 1939 subset a
    consume cycle needs — USER/PASS, STAT, LIST, RETR with byte-stuffed
    multiline termination, DELE, QUIT — sharing the IMAP server's
    mailbox model (one shared store, thread per connection).  The client
    side is stdlib ``poplib``, so the wire bytes are genuine."""

    def __init__(self, messages: "MiniImapServer | None" = None,
                 host: str = "127.0.0.1", port: int = 0,
                 user: str = "engine", password: str = "secret"):
        self.user, self.password = user, password
        self._store = messages  # share an IMAP server's mailbox if given
        self._local: list[bytes] = []
        self._lock = threading.Lock()
        super().__init__(self._serve, host, port)

    def load(self, message: bytes) -> None:
        with self._lock:
            self._local.append(message)

    def _messages(self) -> list[bytes]:
        if self._store is not None:
            return self._store._mailbox
        return self._local

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")

        def send(line: str) -> None:
            f.write(line.encode() + b"\r\n")
            f.flush()

        user_seen, authed = None, False
        deleted: set[int] = set()
        try:
            send("+OK MiniPop3Server ready")
            while True:
                line = f.readline()
                if not line:
                    return
                parts = line.rstrip(b"\r\n").decode("utf-8", "replace").split(" ")
                cmd = parts[0].upper()
                if cmd == "USER":
                    user_seen = parts[1] if len(parts) > 1 else None
                    send("+OK user accepted")
                elif cmd == "PASS":
                    if user_seen == self.user and len(parts) > 1 \
                            and parts[1] == self.password:
                        authed = True
                        send("+OK mailbox open")
                    else:
                        send("-ERR authentication failed")
                elif not authed:
                    send("-ERR not authenticated")
                elif cmd == "STAT":
                    with self._lock:
                        msgs = [m for i, m in enumerate(self._messages())
                                if i not in deleted]
                    send(f"+OK {len(msgs)} {sum(len(m) for m in msgs)}")
                elif cmd == "LIST":
                    with self._lock:
                        msgs = list(enumerate(self._messages()))
                    send("+OK scan listing follows")
                    for i, m in msgs:
                        if i not in deleted:
                            send(f"{i + 1} {len(m)}")
                    send(".")
                elif cmd == "RETR":
                    idx = int(parts[1]) - 1
                    with self._lock:
                        msgs = self._messages()
                        if idx < 0 or idx >= len(msgs) or idx in deleted:
                            send("-ERR no such message")
                            continue
                        m = msgs[idx]
                    send(f"+OK {len(m)} octets")
                    for ln in m.split(b"\r\n"):
                        if ln.startswith(b"."):
                            ln = b"." + ln  # byte-stuffing
                        f.write(ln + b"\r\n")
                    f.write(b".\r\n")
                    f.flush()
                elif cmd == "DELE":
                    deleted.add(int(parts[1]) - 1)
                    send("+OK marked for deletion")
                elif cmd == "NOOP":
                    send("+OK")
                elif cmd == "QUIT":
                    send("+OK bye")
                    return
                else:
                    send(f"-ERR unknown command {cmd}")
        except (ConnectionError, OSError, ValueError, IndexError):
            return
        finally:
            try:
                f.close()
            except OSError:
                pass
            conn.close()


def consume_pop3(
    ids: DataFrame,
    host: str,
    port: int,
    user: str = "engine",
    password: str = "secret",
) -> DataFrame:
    """ConsumePOP3: distributed RETR — each partition opens one poplib
    connection and pulls its message numbers → (msg_id, message)."""

    def run(batches):
        import poplib

        client = poplib.POP3(host, port, timeout=10)
        net.nodelay(client.sock)
        client.user(user)
        client.pass_(password)
        try:
            for (mids,) in batches:
                msgs = []
                for mid in mids:
                    _, lines, _ = client.retr(mid)
                    msgs.append(b"\r\n".join(lines) + b"\r\n")
                yield msgs,
        finally:
            client.quit()

    return with_columns(ids.select("msg_id"), ["msg_id"], run, "message binary")
