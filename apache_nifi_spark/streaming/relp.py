"""ListenRELP (§2.1 [2.7.2-surface, nifi-standard ListenRELP]): the
RELP (Reliable Event Logging Protocol) transport rsyslog uses when UDP
loss and bare-TCP truncation are unacceptable.

RELP frames are ``TXNR COMMAND DATALEN DATA\\n`` with a handshake
(``open`` offer listing capabilities → server ``rsp`` echo), one
``syslog`` command per message, a server ``rsp`` ACK per transaction
number (the at-least-once contract — senders retry unACKed txnrs), and
a ``close`` exchange.  Both halves here speak those exact bytes:

- ``RelpLandingListener`` — parses frames off a threaded TCP server,
  ACKs each ``syslog`` txnr with ``rsp ... 200 OK``, and lands messages
  as newline-joined batch files, one escaped message per line (the
  landing contract in ``streaming/listen.py``).
- ``put_relp`` — one connection + handshake per partition, one framed
  ``syslog`` command per record, ACK awaited per transaction (the
  reliability the protocol exists for); ``sent`` reflects the ACK, not
  the write.

Scale: the listener is the deployment seam (swap rsyslog/relp-capable
collectors in front); the landing dir feeds the streaming drain.
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["RelpLandingListener", "put_relp"]


def _frame(txnr: int, command: str, data: bytes = b"") -> bytes:
    head = f"{txnr} {command} {len(data)}".encode()
    return head + (b" " + data if data else b"") + b"\n"


def _read_frame(f) -> tuple[int, str, bytes]:
    """Parse one RELP frame off a buffered reader."""
    head = b""
    while not head.endswith(b" ") or head.count(b" ") < 2:
        c = f.read(1)
        if not c:
            raise ConnectionError("peer closed mid-frame")
        head += c
        if head.count(b" ") == 2 and head.endswith(b" "):
            break
    txnr_b, cmd_b, _ = head.split(b" ", 2)
    # datalen digits follow; read until the separator (space or the
    # trailer newline when datalen is 0)
    n_b = b""
    while True:
        c = f.read(1)
        if c in (b" ", b"\n"):
            break
        n_b += c
    n = int(n_b)
    data = f.read(n) if n else b""
    if c != b"\n":
        f.read(1)  # trailing newline after data
    return int(txnr_b), cmd_b.decode(), data


class RelpLandingListener(net.Server):
    """ListenRELP: handshake + framed messages, ACK per txnr, durable
    newline-joined landing batches."""

    def __init__(
        self,
        landing_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        batch_size: int = 64,
    ):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".log")
        self.batch_size = max(1, batch_size)
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")
        buf: list[bytes] = []
        try:
            while True:
                txnr, cmd, data = _read_frame(f)
                if cmd == "open":
                    # echo the offer back (capability agreement)
                    f.write(_frame(txnr, "rsp", b"200 OK\n" + data))
                    f.flush()
                elif cmd == "syslog":
                    buf.append(Landing.escape(data))
                    if len(buf) >= self.batch_size:
                        self.landing.publish_lines(buf)
                        buf = []
                    f.write(_frame(txnr, "rsp", b"200 OK"))
                    f.flush()
                elif cmd == "close":
                    f.write(_frame(txnr, "rsp", b""))
                    f.flush()
                    return
                else:
                    f.write(_frame(txnr, "rsp", b"500 unknown command"))
                    f.flush()
        except (ConnectionError, OSError, ValueError):
            return
        finally:
            if buf:
                self.landing.publish_lines(buf)
            try:
                f.close()
            except OSError:
                pass
            conn.close()


def put_relp(
    df: DataFrame,
    host: str,
    port: int,
    content_col: str = "content",
    timeout: float = 10.0,
) -> DataFrame:
    """RELP sender: handshake + one framed ``syslog`` command per record
    with the ACK awaited (at-least-once); one connection per partition;
    ``sent`` reflects the server's 200 response."""

    def run(batches):
        sock = net.connect(host, port, timeout)
        f = sock.makefile("rwb")
        txnr = 1
        ok = True
        try:
            offer = b"relp_version=0\nrelp_software=anspark\ncommands=syslog"
            f.write(_frame(txnr, "open", offer))
            f.flush()
            rtx, rcmd, rdata = _read_frame(f)
            ok = rcmd == "rsp" and rdata.startswith(b"200")
            for (content,) in batches:
                sent = []
                for v in content:
                    if v is None or not ok:
                        sent.append(False)
                        continue
                    txnr += 1
                    data = v if isinstance(v, bytes) else str(v).encode()
                    try:
                        f.write(_frame(txnr, "syslog", data))
                        f.flush()
                        atx, acmd, adata = _read_frame(f)
                        sent.append(
                            atx == txnr and acmd == "rsp"
                            and adata.startswith(b"200")
                        )
                    except (OSError, ConnectionError):
                        ok = False
                        sent.append(False)
                yield sent,
            if ok:
                try:
                    txnr += 1
                    f.write(_frame(txnr, "close"))
                    f.flush()
                    _read_frame(f)
                except (OSError, ConnectionError):
                    pass
        finally:
            try:
                f.close()
            except OSError:
                pass
            sock.close()

    return with_columns(df, [content_col], run, "sent boolean")
