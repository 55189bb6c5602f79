"""DNS wire (QueryDNS analog — reference surface: the nifi-enrich
bundle's QueryDNS processor resolves attributes against a DNS server):
RFC 1035 message encode/decode — header, QNAME label encoding, A-record
answers with name-compression pointers — over UDP, from the public
spec, no resolver library (the repo's from-scratch wire policy).

Spark-first shape: lookups run executor-side in ``io.with_columns`` with
a per-partition LRU so each distinct name resolves once per partition —
the enrichment join stays map-only and partition-parallel.  The mini
server exists for loopback tests and value-oracled queries.
"""

from __future__ import annotations

import socket
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark import net
from apache_nifi_spark.io import with_columns

__all__ = [
    "dns_encode_query",
    "dns_decode_message",
    "MiniDnsServer",
    "dns_lookup",
]

_QTYPE_A, _QCLASS_IN = 1, 1


def _encode_name(name: str) -> bytes:
    out = bytearray()
    for label in name.rstrip(".").split("."):
        raw = label.encode()
        if not 0 < len(raw) < 64:
            raise ValueError(f"bad DNS label {label!r}")
        out += bytes([len(raw)]) + raw
    return bytes(out + b"\x00")


def _decode_name(buf: bytes, pos: int) -> tuple[str, int]:
    """Labels + RFC 1035 §4.1.4 compression pointers (0b11 prefix)."""
    labels, jumped, end = [], False, pos
    hops = 0
    while True:
        ln = buf[pos]
        if ln & 0xC0 == 0xC0:  # pointer
            if not jumped:
                end = pos + 2
            pos = ((ln & 0x3F) << 8) | buf[pos + 1]
            jumped = True
            hops += 1
            if hops > 32:
                raise ValueError("compression pointer loop")
            continue
        if ln == 0:
            if not jumped:
                end = pos + 1
            return ".".join(labels), end
        labels.append(buf[pos + 1 : pos + 1 + ln].decode())
        pos += 1 + ln


def dns_encode_query(txn_id: int, name: str) -> bytes:
    """Standard query: RD set, one A/IN question."""
    hdr = struct.pack(">HHHHHH", txn_id, 0x0100, 1, 0, 0, 0)
    return hdr + _encode_name(name) + struct.pack(">HH", _QTYPE_A, _QCLASS_IN)


def dns_decode_message(buf: bytes):
    """Message → (txn_id, rcode, question_name, [(name, ttl, ipv4), …])."""
    txn_id, flags, qd, an, _ns, _ar = struct.unpack_from(">HHHHHH", buf, 0)
    pos = 12
    qname = ""
    for _ in range(qd):
        qname, pos = _decode_name(buf, pos)
        pos += 4  # qtype + qclass
    answers = []
    for _ in range(an):
        name, pos = _decode_name(buf, pos)
        rtype, rclass, ttl, rdlen = struct.unpack_from(">HHIH", buf, pos)
        pos += 10
        rdata = buf[pos : pos + rdlen]
        pos += rdlen
        if rtype == _QTYPE_A and rdlen == 4:
            answers.append((name, ttl, ".".join(map(str, rdata))))
    return txn_id, flags & 0xF, qname, answers


class MiniDnsServer(net.UdpServer):
    """Loopback authoritative server: A records from ``{name: ipv4}``,
    NXDOMAIN (rcode 3) otherwise.  Answers carry a compression pointer
    to the question name (offset 12) — so the client's decoder proves
    real §4.1.4 pointer handling on every response."""

    def __init__(self, zone: dict[str, str], ttl: int = 300):
        self.zone = {k.lower(): v for k, v in zone.items()}
        self.ttl = ttl
        super().__init__(self._answer)

    def _answer(self, data: bytes, _addr) -> bytes:
        txn_id, _rc, qname, _ = dns_decode_message(data)
        question = data[12:]  # echo the question section
        ip = self.zone.get(qname.lower())
        if ip is None:
            # QR+RD+RA, rcode 3
            return struct.pack(">HHHHHH", txn_id, 0x8183, 1, 0, 0, 0) + question
        hdr = struct.pack(">HHHHHH", txn_id, 0x8180, 1, 1, 0, 0)
        rr = (
            b"\xc0\x0c"  # compression pointer to the qname
            + struct.pack(">HHIH", _QTYPE_A, _QCLASS_IN, self.ttl, 4)
            + bytes(int(o) for o in ip.split("."))
        )
        return hdr + question + rr


def dns_lookup(
    df: DataFrame, host: str, port: int, name_col: str = "hostname"
) -> DataFrame:
    """QueryDNS enrichment: per-partition UDP resolver with a local
    cache (each DISTINCT name resolves once per partition — the shape
    that keeps a 10⁹-row enrich bounded by the name cardinality), txn
    ids matched per request.  Returns (hostname, ip, ttl) with null ip
    on NXDOMAIN."""

    def run(batches):
        cache: dict[str, tuple] = {}
        txn = 0
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            sock.settimeout(10)
            for (names,) in batches:
                ips, ttls = [], []
                for name in names:
                    key = str(name).lower()
                    if key not in cache:
                        txn = (txn + 1) & 0xFFFF
                        sock.sendto(dns_encode_query(txn, key), (host, port))
                        while True:
                            data, _ = sock.recvfrom(4096)
                            got, rcode, _q, answers = dns_decode_message(data)
                            if got == txn:
                                break
                        cache[key] = (
                            (answers[0][2], answers[0][1])
                            if rcode == 0 and answers
                            else (None, None)
                        )
                    ip, ttl = cache[key]
                    ips.append(ip)
                    ttls.append(ttl)
                yield ips, ttls

    hosts = df.select(F.col(name_col).alias("hostname"))
    return with_columns(hosts, ["hostname"], run, "ip string, ttl long")
