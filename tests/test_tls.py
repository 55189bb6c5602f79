"""TLS landing-listener tests: real handshakes, truststore semantics,
plaintext rejection (the reference deployment's secured-ingest contract,
kustomization.yaml:21-26)."""

from __future__ import annotations

import glob
import pathlib
import socket
import time
import urllib.parse
import urllib.request

import pytest

from apache_nifi_spark.streaming.tls import (
    client_context,
    generate_self_signed,
    server_context,
)


@pytest.fixture(scope="module")
def certs():
    return generate_self_signed()


def _landed(landing: str) -> bytes:
    return b"".join(pathlib.Path(p).read_bytes() for p in sorted(glob.glob(f"{landing}/*")))


def test_tls_tcp_listener_roundtrip_and_plaintext_rejected(spark, certs, tmp_path):
    from apache_nifi_spark.sinks.socket import put_tcp
    from apache_nifi_spark.streaming.listen import TcpLandingListener

    cert, key = certs
    landing = str(tmp_path)
    with TcpLandingListener(landing, tls=server_context(cert, key)) as lst:
        df = spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",)], "content string"
        ).coalesce(1)
        sent = put_tcp(df, "127.0.0.1", lst.port, "content", tls_cert=cert)
        assert sent.filter("sent").count() == 3

        lst.landing.wait(3, timeout=10)
        assert sorted(_landed(landing).split()) == [b"alpha", b"beta", b"gamma"]

        # a plaintext client must fail the handshake and land nothing
        try:
            with socket.create_connection(("127.0.0.1", lst.port), timeout=5) as s:
                s.sendall(b"intruder\n")
        except OSError:
            pass
        time.sleep(0.3)
        assert b"intruder" not in _landed(landing)


def test_tls_large_payload_not_truncated_by_ticket_rst(certs, tmp_path):
    """Regression: TLS 1.3 session tickets left unread by a send-only
    client turn its close() into an RST, which discards the in-flight
    payload tail server-side (observed as a silent ~64 KB truncation).
    server_context disables tickets; a >200 KB single-connection payload
    must land byte-complete."""
    import ssl
    import socket as socketmod

    from apache_nifi_spark.streaming.listen import TcpLandingListener

    cert, key = certs
    landing = str(tmp_path)
    with TcpLandingListener(landing, tls=server_context(cert, key)) as lst:
        lines = [f"line-{i:06d}".encode() for i in range(20000)]
        payload = b"\n".join(lines) + b"\n"
        assert len(payload) > 200_000
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        ctx.load_verify_locations(cert)
        s = ctx.wrap_socket(
            socketmod.create_connection(("127.0.0.1", lst.port), timeout=10),
            server_hostname="127.0.0.1",
        )
        s.sendall(payload)
        s.close()
        lst.landing.wait(1, timeout=10)
        got = [ln for ln in _landed(landing).split(b"\n") if ln]
        assert len(got) == 20000, f"landed only {len(got)} of 20000 lines"
        assert got[0] == b"line-000000" and got[-1] == b"line-019999"


def test_tls_http_listener_roundtrip_and_untrusted_rejected(certs, tmp_path):
    from apache_nifi_spark.streaming.listen import HttpLandingListener

    cert, key = certs
    landing = str(tmp_path)
    with HttpLandingListener(landing, tls=server_context(cert, key)) as lst:
        port = urllib.parse.urlsplit(lst.url).port
        url = f"https://localhost:{port}/ingest"

        # trusted client: real HTTPS POST lands
        req = urllib.request.Request(url, data=b'{"k": 1}', method="POST")
        with urllib.request.urlopen(req, context=client_context(cert), timeout=10) as r:
            assert r.status == 200
        assert _landed(landing) == b'{"k": 1}'

        # a client with an EMPTY truststore must refuse the server cert
        import ssl

        empty = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        with pytest.raises((ssl.SSLError, urllib.error.URLError)):
            urllib.request.urlopen(req, context=empty, timeout=5)
