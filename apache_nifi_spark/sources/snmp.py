"""SNMP v2c wire (GetSNMP analog — reference surface: the nifi-snmp
bundle's GetSNMP/SetSNMP processors poll device MIBs): ASN.1 BER
encode/decode and the RFC 3416 GetRequest/Response PDUs over UDP,
implemented from the public specs — no SNMP library, same from-scratch
wire policy as the SSH/Kafka/AMQP/MQTT stacks.

Spark-first shape: the polled OID list is a DataFrame; requests run
executor-side in ``io.with_columns`` (one UDP socket per partition, one
request per row — SNMP's native transaction grain), so a 10⁶-device
poll is partition-parallel.  The mini agent exists for loopback tests
and value-oracled queries; against real devices only the host/port
change.
"""

from __future__ import annotations

import socket
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns

__all__ = [
    "ber_encode_int",
    "ber_encode_oid",
    "ber_decode",
    "snmp_get_request",
    "snmp_parse_response",
    "MiniSnmpAgent",
    "snmp_get",
]

# ---------------------------------------------------------------- BER

_INT, _OCTET, _NULL, _OID, _SEQ = 0x02, 0x04, 0x05, 0x06, 0x30
_GET_REQUEST, _RESPONSE = 0xA0, 0xA2
_COUNTER32, _GAUGE32, _TIMETICKS = 0x41, 0x42, 0x43
_NO_SUCH_OBJECT = 0x80


def _ber_len(n: int) -> bytes:
    """Definite-length encoding (X.690 §8.1.3): short form < 128, else
    long form with a length-of-length octet."""
    if n < 0x80:
        return bytes([n])
    body = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(body)]) + body


def _tlv(tag: int, body: bytes) -> bytes:
    return bytes([tag]) + _ber_len(len(body)) + body


def ber_encode_int(v: int, tag: int = _INT) -> bytes:
    """Two's-complement INTEGER (X.690 §8.3: minimal octets, sign-safe);
    application tags (Counter32 …) encode non-negative the same way."""
    if v == 0:
        return _tlv(tag, b"\x00")
    out = v.to_bytes((v.bit_length() + 8) // 8, "big", signed=True)
    # strip redundant leading 0x00 while the sign bit stays clear
    while len(out) > 1 and out[0] == 0 and out[1] < 0x80:
        out = out[1:]
    return _tlv(tag, out)


def ber_encode_oid(oid: str) -> bytes:
    """OBJECT IDENTIFIER (X.690 §8.19): first two arcs fold into one
    octet (40·a+b), the rest base-128 with continuation bits."""
    arcs = [int(a) for a in oid.split(".")]
    body = bytearray([40 * arcs[0] + arcs[1]])
    for a in arcs[2:]:
        chunk = [a & 0x7F]
        a >>= 7
        while a:
            chunk.append(0x80 | (a & 0x7F))
            a >>= 7
        body += bytes(reversed(chunk))
    return _tlv(_OID, bytes(body))


def ber_decode(buf: bytes, pos: int = 0):
    """One TLV → (tag, decoded value, next pos).  Constructed tags
    (SEQUENCE, PDUs) decode to a list of child TLVs; INTEGER-family to
    int, OID to dotted string, OCTET STRING to bytes, NULL/noSuchObject
    to None."""
    tag = buf[pos]
    ln = buf[pos + 1]
    pos += 2
    if ln & 0x80:
        n = ln & 0x7F
        ln = int.from_bytes(buf[pos : pos + n], "big")
        pos += n
    body = buf[pos : pos + ln]
    end = pos + ln
    if tag in (_SEQ, _GET_REQUEST, _RESPONSE) or (tag & 0xE0) == 0xA0:
        kids, p = [], 0
        while p < len(body):
            t, v, p = ber_decode(body, p)
            kids.append((t, v))
        return tag, kids, end
    if tag in (_INT, _COUNTER32, _GAUGE32, _TIMETICKS):
        signed = tag == _INT
        return tag, int.from_bytes(body, "big", signed=signed), end
    if tag == _OID:
        arcs = [body[0] // 40, body[0] % 40]
        a = 0
        for byte in body[1:]:
            a = (a << 7) | (byte & 0x7F)
            if not byte & 0x80:
                arcs.append(a)
                a = 0
        return tag, ".".join(map(str, arcs)), end
    if tag == _OCTET:
        return tag, bytes(body), end
    return tag, None, end  # NULL, noSuchObject, unhandled


def snmp_get_request(request_id: int, community: str, oid: str) -> bytes:
    """RFC 3416 GetRequest-PDU inside the v2c message wrapper."""
    varbind = _tlv(_SEQ, ber_encode_oid(oid) + _tlv(_NULL, b""))
    pdu = _tlv(
        _GET_REQUEST,
        ber_encode_int(request_id)
        + ber_encode_int(0)  # error-status
        + ber_encode_int(0)  # error-index
        + _tlv(_SEQ, varbind),
    )
    return _tlv(
        _SEQ,
        ber_encode_int(1)  # version: v2c
        + _tlv(_OCTET, community.encode())
        + pdu,
    )


def snmp_parse_response(datagram: bytes):
    """Response datagram → (request_id, error_status,
    [(oid, tag, value), …])."""
    _t, msg, _ = ber_decode(datagram)
    _ver, community_pdu = msg[0], msg[2]
    if community_pdu[0] != _RESPONSE:
        raise ValueError(f"not a Response-PDU (tag {community_pdu[0]:#x})")
    rid, err, _idx, binds = community_pdu[1]
    out = []
    for _t2, vb in binds[1]:
        (_, oid), (vtag, val) = vb
        out.append((oid, vtag, val))
    return rid[1], err[1], out


class MiniSnmpAgent(net.UdpServer):
    """Loopback v2c agent: answers GetRequest from an in-memory MIB
    ``{oid: (tag, value)}``; wrong community → error-status 16
    (authorizationError shape), unknown OID → noSuchObject varbind (the
    v2c exception marker).  One datagram per transaction, concurrent by
    nature of UDP."""

    def __init__(self, mib: dict, community: str = "public"):
        self.mib = dict(mib)
        self.community = community
        super().__init__(self._answer)

    def _answer(self, data: bytes, _addr) -> bytes:
        _t, msg, _ = ber_decode(data)
        community = msg[1][1].decode()
        rid, _e, _i, binds = msg[2][1]
        oid = binds[1][0][1][0][1]
        if community != self.community:
            err, vb = 16, ber_encode_oid(oid) + _tlv(_NULL, b"")
        elif oid in self.mib:
            tag, val = self.mib[oid]
            err = 0
            vb = ber_encode_oid(oid) + ber_encode_int(val, tag)
        else:
            err = 0
            vb = ber_encode_oid(oid) + _tlv(_NO_SUCH_OBJECT, b"")
        pdu = _tlv(
            _RESPONSE,
            ber_encode_int(rid[1])
            + ber_encode_int(err)
            + ber_encode_int(0)
            + _tlv(_SEQ, _tlv(_SEQ, vb)),
        )
        return _tlv(
            _SEQ,
            ber_encode_int(1) + _tlv(_OCTET, community.encode()) + pdu,
        )


def snmp_get(
    df: DataFrame,
    host: str,
    port: int,
    community: str = "public",
    oid_col: str = "oid",
) -> DataFrame:
    """GetSNMP over the wire: one GetRequest per row, executor-side
    (``io.with_columns``, one socket + monotonically increasing
    request-ids per partition, response matched by request-id).  Returns (oid,
    value_tag, value) — Counter32/Gauge32/TimeTicks/INTEGER values as
    longs, missing OIDs as null."""

    def run(batches):
        rid = 0
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            sock.settimeout(10)
            for (requested,) in batches:
                oids, tags, vals = [], [], []
                for oid in requested:
                    rid += 1
                    sock.sendto(
                        snmp_get_request(rid, community, str(oid)),
                        (host, port),
                    )
                    while True:
                        data, _ = sock.recvfrom(65535)
                        got_rid, _err, binds = snmp_parse_response(data)
                        if got_rid == rid:
                            break
                    o, t, v = binds[0]
                    oids.append(o)
                    tags.append(int(t))
                    vals.append(None if v is None else int(v))
                yield oids, tags, vals

    # the response's oid replaces the requested one in place
    oids = df.select(F.col(oid_col).alias("oid"))
    return with_columns(oids, ["oid"], run, "oid string, value_tag int, value long")
