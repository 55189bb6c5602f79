"""SSH-2 + SFTP wire: RFC test vectors for the primitives, transport
handshake/auth/host-key pinning, MAC tamper detection, and the Spark
list/fetch/put operators."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark.sources.sftp import (
    MiniSftpServer,
    SftpClient,
    fetch_sftp,
    list_sftp,
    put_sftp,
)
from apache_nifi_spark.sources.ssh_crypto import (
    AesCtr,
    X25519_BASE,
    _Aes128,
    ed25519_publickey,
    ed25519_sign,
    ed25519_verify,
    x25519,
)


# ------------------------------------------------------- RFC vectors ---


def test_x25519_rfc7748_vectors():
    k = bytes.fromhex(
        "a546e36bf0527c9d3b16154b82465edd62144c0ac1fc5a18506a2244ba449ac4"
    )
    u = bytes.fromhex(
        "e6db6867583030db3594c1a424b15f7c726624ec26b3353b10a903a6d0ab1c4c"
    )
    assert x25519(k, u) == bytes.fromhex(
        "c3da55379de9c6908e94ea4df28d084f32eccf03491c71f754b4075577a28552"
    )
    # Diffie-Hellman agreement (RFC 7748 §6.1)
    ap = bytes.fromhex(
        "77076d0a7318a57d3c16c17251b26645df4c2f87ebc0992ab177fba51db92c2a"
    )
    bp = bytes.fromhex(
        "5dab087e624a8a4b79e17f8b83800ee66f3bb1292618b6fd1c2f8b27ff88e0eb"
    )
    a_pub, b_pub = x25519(ap, X25519_BASE), x25519(bp, X25519_BASE)
    shared = bytes.fromhex(
        "4a5d9d5ba4ce2de1728e3bf480350f25e07e21c947d19e3376f09b3c1e161742"
    )
    assert x25519(ap, b_pub) == x25519(bp, a_pub) == shared


def test_ed25519_rfc8032_vectors():
    seed = bytes.fromhex(
        "9d61b19deffd5a60ba844af492ec2cc44449c5697b326919703bac031cae7f60"
    )
    pub = ed25519_publickey(seed)
    assert pub == bytes.fromhex(
        "d75a980182b10ab7d54bfed3c964073a0ee172f3daa62325af021a68f707511a"
    )
    sig = ed25519_sign(seed, b"")
    assert sig.hex() == (
        "e5564300c360ac729086e2cc806e828a84877f1eb8e5d974d873e06522490155"
        "5fb8821590a33bacc61e39701cf9b46bd25bf5f0595bbe24655141438e7a100b"
    )
    assert ed25519_verify(pub, b"", sig)
    assert not ed25519_verify(pub, b"tampered", sig)
    bad = bytearray(sig)
    bad[0] ^= 1
    assert not ed25519_verify(pub, b"", bytes(bad))


def test_aes128_fips197_and_ctr_sp80038a():
    aes = _Aes128(bytes.fromhex("000102030405060708090a0b0c0d0e0f"))
    assert aes.encrypt_block(
        bytes.fromhex("00112233445566778899aabbccddeeff")
    ) == bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    ctr = AesCtr(
        bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"),
        bytes.fromhex("f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff"),
    )
    pt = bytes.fromhex(
        "6bc1bee22e409f96e93d7e117393172aae2d8a571e03ac9c9eb76fac45af8e51"
    )
    assert ctr.crypt(pt) == bytes.fromhex(
        "874d6191b620e3261bef6864990db6ce9806f66b7970fdff8617187bb9fffdff"
    )
    # CTR is an involution under the same start counter
    ctr2 = AesCtr(
        bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"),
        bytes.fromhex("f0f1f2f3f4f5f6f7f8f9fafbfcfdfeff"),
    )
    assert ctr2.crypt(ctr2.crypt(b"round trip across blocks" * 10)) != b""  # smoke
    ctr3 = AesCtr(b"k" * 16, b"\x00" * 16)
    ctr4 = AesCtr(b"k" * 16, b"\x00" * 16)
    msg = b"round trip across blocks" * 10
    assert ctr4.crypt(ctr3.crypt(msg)) == msg


# ---------------------------------------------------- transport + SFTP ---


@pytest.fixture(scope="module")
def sftp_server(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("anspark_sftp_test"))
    with open(os.path.join(root, "hello.txt"), "wb") as f:
        f.write(b"hello over ssh")
    with open(os.path.join(root, "big.bin"), "wb") as f:
        f.write(os.urandom(70000))
    with MiniSftpServer(root) as srv:
        yield srv


def _client(srv):
    return SftpClient("127.0.0.1", srv.port, "spark", "graft", srv.host_pub)


def test_sftp_list_read_write_roundtrip(sftp_server):
    c = _client(sftp_server)
    try:
        names = dict(c.listdir("/"))
        assert names["hello.txt"] == 14
        assert names["big.bin"] == 70000
        assert c.read_file("/hello.txt") == b"hello over ssh"
        with open(os.path.join(sftp_server.root, "big.bin"), "rb") as f:
            assert c.read_file("/big.bin") == f.read()  # multi-READ loop
        payload = b"written over the wire" * 3000  # multi-WRITE loop
        c.write_file("/out.bin", payload)
        assert c.read_file("/out.bin") == payload
        assert c.stat_size("/out.bin") == len(payload)
        with pytest.raises(FileNotFoundError):
            c.read_file("/missing.txt")
    finally:
        c.close()


def test_auth_and_host_key_pinning(sftp_server):
    with pytest.raises(ConnectionError, match="authentication failed"):
        SftpClient("127.0.0.1", sftp_server.port, "spark", "wrong",
                   sftp_server.host_pub)
    with pytest.raises(ConnectionError, match="pinned"):
        SftpClient("127.0.0.1", sftp_server.port, "spark", "graft",
                   os.urandom(32))


def test_path_escape_refused(sftp_server):
    c = _client(sftp_server)
    try:
        with pytest.raises((ConnectionError, FileNotFoundError)):
            c.read_file("/../../../etc/hostname")
    finally:
        c.close()


def test_spark_operators_roundtrip(spark, sftp_server):
    srv = sftp_server
    df = spark.range(12).select(
        F.concat(F.lit("rec_"), F.col("id"), F.lit(".csv")).alias("filename"),
        F.concat(F.col("id").cast("string"), F.lit(",payload")).cast("binary")
        .alias("content"),
    ).repartition(3)
    stored = put_sftp(
        df, "127.0.0.1", srv.port, "spark", "graft", srv.host_pub
    )
    assert stored.filter(~F.col("stored")).count() == 0
    listing = list_sftp(
        spark, "127.0.0.1", srv.port, "spark", "graft", srv.host_pub
    ).filter(F.col("filename").startswith("rec_"))
    assert listing.count() == 12
    back = fetch_sftp(
        listing, "127.0.0.1", srv.port, "spark", "graft", srv.host_pub
    )
    rows = back.collect()
    assert all(r["content"] is not None for r in rows)
    got = {
        r["filename"]: bytes(r["content"]).decode() for r in rows
    }
    assert got == {f"rec_{i}.csv": f"{i},payload" for i in range(12)}


def test_sftp_random_access_write_honors_offset(sftp_server):
    """SFTP v3 WRITE is random-access at the packet's 64-bit offset even
    WITHOUT TRUNC (round-8 advice: the server's append-mode open pinned
    every write to EOF)."""
    import struct as _struct

    from apache_nifi_spark.sources.sftp import (
        _CLOSE, _FLAG_CREAT, _FLAG_WRITE, _HANDLE, _OPEN, _R, _WRITE, _string,
    )

    c = _client(sftp_server)
    try:
        c.write_file("/rw.bin", b"AAAAAAAAAA")  # 10 bytes
        # re-open WRITE|CREAT (no TRUNC) and overwrite the middle
        rtype, body = c._call(
            _OPEN,
            _string(b"/rw.bin")
            + _struct.pack(">I", _FLAG_WRITE | _FLAG_CREAT)
            + b"\x00" * 4,
        )
        assert rtype == _HANDLE
        handle = _R(body).s()
        rtype, body = c._call(
            _WRITE, _string(handle) + _struct.pack(">Q", 3) + _string(b"XY")
        )
        c._expect_status_ok(rtype, body)
        rtype, body = c._call(_CLOSE, _string(handle))
        c._expect_status_ok(rtype, body)
        assert c.read_file("/rw.bin") == b"AAAXYAAAAA"  # not AAAAAAAAAAXY
    finally:
        c.close()
