"""ListenSMTP (§2.1 [2.7.2-surface, nifi-email bundle]): an SMTP
ingestion endpoint whose delivered messages land durably for the
streaming drain — the mail half of the landing-zone pattern.

The CLIENT side is stdlib ``smtplib`` (real RFC 5321 dialogue); the
environment has no MTA, so ``MiniSmtpServer`` implements the server
subset a delivery needs: greeting, EHLO/HELO (capability list), MAIL
FROM / RCPT TO envelope, DATA with dot-stuffing termination and
transparency decoding, RSET/NOOP/QUIT.  Each completed DATA lands as
one ``.eml`` file (the landing contract in ``streaming/listen.py``)
with an ``X-Envelope-From`` / ``X-Envelope-To`` prefix so the envelope
survives alongside the headers, as the NiFi processor exposes it.

Spark shape: ``put_smtp`` delivers each partition's rendered messages
over one smtplib connection (the PutEmail delivery seam); the landing
dir is the interface the drain consumes.
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["MiniSmtpServer", "put_smtp"]


class MiniSmtpServer(net.Server):
    """Threaded RFC 5321 subset server landing one file per message."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".eml")
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")

        def send(code: int, text: str) -> None:
            f.write(f"{code} {text}\r\n".encode())
            f.flush()

        mail_from, rcpt_to = None, []
        try:
            send(220, "MiniSmtpServer ESMTP ready")
            while True:
                line = f.readline()
                if not line:
                    return
                cmd = line.rstrip(b"\r\n").decode("utf-8", "replace")
                verb = cmd.split(" ", 1)[0].upper()
                if verb in ("EHLO", "HELO"):
                    if verb == "EHLO":
                        f.write(b"250-MiniSmtpServer\r\n250 8BITMIME\r\n")
                        f.flush()
                    else:
                        send(250, "MiniSmtpServer")
                elif verb == "MAIL":
                    mail_from = cmd.split(":", 1)[1].strip().strip("<>")
                    rcpt_to = []
                    send(250, "OK")
                elif verb == "RCPT":
                    rcpt_to.append(cmd.split(":", 1)[1].strip().strip("<>"))
                    send(250, "OK")
                elif verb == "DATA":
                    if mail_from is None or not rcpt_to:
                        send(503, "need MAIL FROM and RCPT TO first")
                        continue
                    send(354, "End data with <CR><LF>.<CR><LF>")
                    body: list[bytes] = []
                    while True:
                        dl = f.readline()
                        if not dl:
                            return
                        if dl == b".\r\n":
                            break
                        if dl.startswith(b".."):
                            dl = dl[1:]  # dot-stuffing transparency
                        body.append(dl)
                    envelope = (
                        f"X-Envelope-From: {mail_from}\r\n"
                        f"X-Envelope-To: {', '.join(rcpt_to)}\r\n"
                    ).encode()
                    self.landing.publish(envelope + b"".join(body))
                    mail_from, rcpt_to = None, []
                    send(250, "OK message accepted")
                elif verb == "RSET":
                    mail_from, rcpt_to = None, []
                    send(250, "OK")
                elif verb == "NOOP":
                    send(250, "OK")
                elif verb == "QUIT":
                    send(221, "bye")
                    return
                else:
                    send(502, f"command not implemented: {verb}")
        except (ConnectionError, OSError):
            return
        finally:
            try:
                f.close()
            except OSError:
                pass
            conn.close()


def put_smtp(
    df: DataFrame,
    host: str,
    port: int,
    from_col: str = "from_addr",
    to_col: str = "to_addr",
    content_col: str = "message",
) -> DataFrame:
    """PutEmail's delivery half over real SMTP: one smtplib connection
    per partition, one transaction per record; appends ``delivered``."""

    def run(batches):
        import smtplib

        client = smtplib.SMTP(host, port, timeout=10)
        net.nodelay(client.sock)
        try:
            for frms, tos, raws in batches:
                ok = []
                for frm, to, raw in zip(frms, tos, raws):
                    if raw is None:
                        ok.append(False)
                        continue
                    msg = raw if isinstance(raw, bytes) else str(raw).encode()
                    try:
                        client.sendmail(str(frm), [str(to)], bytes(msg))
                        ok.append(True)
                    except smtplib.SMTPException:
                        ok.append(False)
                yield ok,
        finally:
            try:
                client.quit()
            except smtplib.SMTPException:
                pass

    return with_columns(df, [from_col, to_col, content_col], run, "delivered boolean")
