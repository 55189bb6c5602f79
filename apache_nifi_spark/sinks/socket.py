"""PutTCP / PutUDP (SURVEY.md §2.2): per-record socket delivery.

NiFi writes each FlowFile's content to a TCP endpoint (newline-framed)
or as one UDP datagram.  Spark-first shape: :func:`io.with_columns`
with ONE socket per PARTITION — connection setup amortizes across the
batch, partitions fan out across executors (the InvokeHTTP/FetchFTP
pattern), and the transform appends a ``sent`` status column instead of
failing the task, so delivery failures route like any other
relationship.

The receiving half already exists: ``streaming/listen.TcpLandingListener``
and ``UdpLandingListener`` land payloads durably for the streaming drain
— together they close the loop the registry query proves end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from apache_nifi_spark.io import with_columns

__all__ = ["put_tcp", "put_udp", "put_tcp_octet_counted"]


def put_tcp(
    df: DataFrame,
    host: str,
    port: int,
    content_col: str = "content",
    timeout: float = 10.0,
    tls_cert: str | None = None,
) -> DataFrame:
    """Newline-framed TCP delivery: one connection per partition, every
    row's content + ``\\n``.  The whole partition's batch ships on one
    stream — the framing NiFi's PutTCP uses with the default delimiter.

    ``tls_cert``: path to a PEM the executor trusts (truststore
    semantics — ONLY this cert, hostname verified); the connection then
    completes a real TLS handshake before any byte ships, mirroring the
    reference's secured listeners (streaming/tls.py).  On a multi-node
    cluster distribute the PEM via ``spark.files``."""

    def run(batches):
        import ssl

        from apache_nifi_spark import net

        ctx = None
        if tls_cert is not None:
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.load_verify_locations(tls_cert)
        for (content,) in batches:
            try:
                s = net.connect(host, port, timeout)
                try:
                    if ctx is not None:
                        # wrap_socket DETACHES the raw socket — the
                        # SSLSocket must be closed explicitly (closing
                        # the detached original is a no-op; relying on
                        # GC leaves the server's EOF-read hanging)
                        s = ctx.wrap_socket(s, server_hostname=host)
                    payload = b"".join(
                        (v if isinstance(v, bytes) else str(v).encode()) + b"\n"
                        for v in content
                        if v is not None
                    )
                    s.sendall(payload)
                    # no unwrap(): the landing server reads to EOF and
                    # closes without answering close_notify; its
                    # wrap_socket keeps suppress_ragged_eofs, so a plain
                    # close after sendall is the clean shutdown here
                finally:
                    s.close()
                ok = True
            except (OSError, ssl.SSLError):
                ok = False
            yield [ok and v is not None for v in content],

    return with_columns(df, [content_col], run, "sent boolean")


def put_udp(
    df: DataFrame, host: str, port: int, content_col: str = "content"
) -> DataFrame:
    """One datagram per record (UDP has no framing to share), one socket
    per partition.  Delivery is fire-and-forget — ``sent`` reflects the
    local send() only, exactly UDP's contract."""

    def run(batches):
        import socket

        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            for (content,) in batches:
                sent = []
                for v in content:
                    if v is None:
                        sent.append(False)
                        continue
                    try:
                        sock.sendto(
                            v if isinstance(v, bytes) else str(v).encode(),
                            (host, port),
                        )
                        sent.append(True)
                    except OSError:
                        sent.append(False)
                yield sent,
        finally:
            sock.close()

    return with_columns(df, [content_col], run, "sent boolean")


def put_tcp_octet_counted(
    df: DataFrame,
    host: str,
    port: int,
    content_col: str = "content",
    timeout: float = 10.0,
) -> DataFrame:
    """Syslog-over-TCP octet-counting transport (RFC 6587 §3.4.1): each
    record ships as ``"<len> <msg>"`` on one connection per partition —
    the framing that lets messages carry embedded newlines, which
    non-transparent (newline) framing cannot."""

    def run(batches):
        from apache_nifi_spark import net

        for (content,) in batches:
            try:
                with net.connect(host, port, timeout) as s:
                    frames = []
                    sent = []
                    for v in content:
                        if v is None:
                            sent.append(False)
                            continue
                        b = v if isinstance(v, bytes) else str(v).encode()
                        frames.append(str(len(b)).encode() + b" " + b)
                        sent.append(True)
                    s.sendall(b"".join(frames))
                ok = True
            except OSError:
                ok = False
                sent = [False] * len(content)
            yield [a and ok for a in sent],

    return with_columns(df, [content_col], run, "sent boolean")
