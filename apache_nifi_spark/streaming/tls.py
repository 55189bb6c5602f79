"""TLS for the landing listeners (§2.1 secured ingest).

The reference deployment is TLS-first — its kustomization generates a
keystore/truststore secret and the engine config mounts them
(/root/reference/kustomization.yaml:21-26,
base/nifi/configmap.yaml:25-32); every Listen* ingest endpoint there is
secured.  This module is the Spark-side analog of that keystore mount:

- ``generate_self_signed(dir)`` — dev/test convenience producing a
  localhost cert+key via the system ``openssl`` (the reference's
  kustomize secretGenerator does exactly this job); production deploys
  mount real PEMs and skip this.
- ``server_context(cert, key)`` / ``client_context(cert)`` — stdlib
  ``ssl`` contexts; the client context TRUSTS ONLY the given CA/cert
  (no system-store fallback) and verifies hostname, mirroring the
  truststore semantics.  A listener takes the server context at
  construction (``tls=`` on the transport kernel,
  ``apache_nifi_spark.net``), which wraps each accepted connection
  before its handler runs.  The landing-file contract is unchanged, so
  every downstream drain works identically over the secured transport.

Scale note: TLS terminates at the listener tier (exactly as in the
reference, where the pod's server keystore terminates it) — nothing in
the Spark plan changes; executors keep reading the landed files.
"""

from __future__ import annotations

import os
import ssl
import subprocess

from apache_nifi_spark.io import scratch

__all__ = [
    "client_context",
    "generate_self_signed",
    "server_context",
]


def generate_self_signed(directory: str | None = None) -> tuple[str, str]:
    """(cert_path, key_path) for CN=localhost with 127.0.0.1 SAN."""
    directory = directory or scratch("anspark_tls_")
    os.makedirs(directory, exist_ok=True)
    cert = os.path.join(directory, "server.crt")
    key = os.path.join(directory, "server.key")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-days", "2", "-subj", "/CN=localhost",
            "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1",
            "-keyout", key, "-out", cert,
        ],
        check=True,
        capture_output=True,
    )
    return cert, key


def server_context(cert_path: str, key_path: str) -> ssl.SSLContext:
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(cert_path, key_path)
    # TLS 1.3 servers push NewSessionTicket messages after the
    # handshake.  A send-only client (PutTCP) never reads them, so its
    # close() fires an RST (unread data in the receive queue) instead
    # of FIN — and the RST DISCARDS the in-flight tail of the payload
    # on the server, surfacing as a silent ragged-EOF truncation.
    # Landing listeners don't need resumption; turn tickets off.
    ctx.num_tickets = 0
    return ctx


def client_context(cert_path: str) -> ssl.SSLContext:
    """Trusts ONLY ``cert_path`` (truststore semantics) and verifies
    the peer hostname."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    ctx.load_verify_locations(cert_path)
    ctx.check_hostname = True
    ctx.verify_mode = ssl.CERT_REQUIRED
    return ctx

