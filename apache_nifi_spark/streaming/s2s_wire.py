"""Site-to-site WIRE protocol: peer list + two-phase transactions on TLS.

The reference deployment exchanges FlowFiles between two clusters with
NiFi's site-to-site protocol on TLS port 10000
(/root/reference/scripts.sh:72-98; SURVEY.md §3.3).  The shared-bus
mapping (``site_to_site.py``) carries the SEMANTICS (lossless hand-off,
independent checkpoints); this module carries the TRANSPORT — a real
socket protocol modeled on the public NiFi raw site-to-site exchange:

- **magic + version negotiation**: the client opens with ``NiFi`` magic
  and its protocol version; the server answers RESOLUTION_OK or counters
  with the highest version it speaks (the client may retry lower).
- **peer list**: clients ask the bootstrap peer for the cluster's peer
  set ``(host, port, secure, flowFileCount)`` and pick the
  least-loaded peer — NiFi's site-to-site load-balancing contract.
- **two-phase transaction** (the part that makes the hop exactly-once
  in effect): the sender streams FlowFiles (attributes + content,
  length-framed), then the RECEIVER announces the CRC-32 of everything
  it read (CONFIRM_TRANSACTION); the sender compares against its own
  running CRC and either confirms — the receiver then atomically
  commits the staged batch and answers TRANSACTION_FINISHED — or
  replies BAD_CHECKSUM, which discards the stage (nothing lands) so the
  sender can redeliver.  Commit publishes one landing file (the landing
  contract in ``streaming/listen.py``), so a crash anywhere before
  TRANSACTION_FINISHED leaves no partial batch.

Spark-first shape: the sender is a per-partition ``io.with_columns``
client (one TLS connection + ONE transaction per partition — connection and
confirmation cost amortize across the batch; partitions fan out across
executors, exactly how a 1000-executor cluster would feed a peer
cluster's input ports in parallel).  Landed transactions are JSON-lines
files — splittable input for the receiving cluster's distributed scan.
"""

from __future__ import annotations

import json
import os
import ssl
import struct
import threading
import zlib

from apache_nifi_spark import net
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["SiteToSiteServer", "s2s_peers", "s2s_send", "PROTOCOL_VERSION"]

_MAGIC = b"NiFi"
PROTOCOL_VERSION = 1

# request codes
_REQ_PEER_LIST = 0x01
_REQ_SEND_FLOWFILES = 0x02
# response / phase codes (two-phase confirm)
_RESOLUTION_OK = 0x01
_DIFFERENT_VERSION = 0x02
_MORE_DATA = 0x01
_END_OF_DATA = 0x00
_CONFIRM_TRANSACTION = 0x12
_TRANSACTION_FINISHED = 0x13
_TRANSACTION_CANCELED = 0x15
_BAD_CHECKSUM = 0x19


def _write_utf(f, s: str) -> bytes:
    b = s.encode("utf-8")
    data = struct.pack(">H", len(b)) + b
    f.write(data)
    return data


def _read_utf(f) -> tuple[str, bytes]:
    raw = net.read_exact(f.read, 2)
    (n,) = struct.unpack(">H", raw)
    body = net.read_exact(f.read, n)
    return body.decode("utf-8"), raw + body


class _ChunkReader:
    """Buffered transaction reader: pulls 64 KiB network chunks, CRCs
    each chunk once, and serves field-sized slices from the buffer —
    O(chunks) CRC/syscall cost instead of O(fields)."""

    __slots__ = ("f", "buf", "pos", "crc")

    def __init__(self, f):
        self.f = f
        self.buf = b""
        self.pos = 0
        self.crc = 0

    def take(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            chunk = self.f.read1(1 << 16)
            if not chunk:
                raise ConnectionError("short read in transaction")
            self.crc = zlib.crc32(chunk, self.crc)
            self.buf = (self.buf[self.pos:] if self.pos else self.buf) + chunk
            self.pos = 0
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def remaining(self) -> int:
        return len(self.buf) - self.pos


class SiteToSiteServer(net.Server):
    """The peer cluster's input-port endpoint (TLS 'port 10000' analog).

    Committed transactions land as JSON-lines files (one object per
    FlowFile: ``{"attributes": {...}, "content": "..."}``) under
    ``landing_dir`` — the receiving flow's distributed source.
    """

    def __init__(
        self,
        landing_dir: str,
        cert_path: str,
        key_path: str,
        host: str = "127.0.0.1",
        port: int = 0,
        peers: list[tuple[str, int]] | None = None,
    ):
        from apache_nifi_spark.streaming.tls import server_context

        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".jsonl")
        self._extra_peers = list(peers or [])
        self._committed = 0
        self._aborted = 0
        self._lock = threading.Lock()
        super().__init__(self._serve, host, port, tls=server_context(cert_path, key_path))

    @property
    def stats(self) -> tuple[int, int]:
        """(committed transactions, aborted transactions)."""
        with self._lock:
            return self._committed, self._aborted

    def _serve(self, conn: ssl.SSLSocket) -> None:
        f = conn.makefile("rwb")
        try:
            if net.read_exact(f.read, 4) != _MAGIC:
                return
            (version,) = struct.unpack(">H", net.read_exact(f.read, 2))
            if version != PROTOCOL_VERSION:
                f.write(bytes([_DIFFERENT_VERSION]))
                f.write(struct.pack(">H", PROTOCOL_VERSION))
                f.flush()
                return
            f.write(bytes([_RESOLUTION_OK]))
            f.flush()
            (req,) = net.read_exact(f.read, 1)
            if req == _REQ_PEER_LIST:
                self._answer_peer_list(f)
            elif req == _REQ_SEND_FLOWFILES:
                self._receive_transaction(f)
        except (ConnectionError, ValueError, OSError, ssl.SSLError):
            pass
        finally:
            try:
                f.close()
            except OSError:
                pass
            conn.close()

    def _answer_peer_list(self, f) -> None:
        """Self + configured peers, each with its queued-FlowFile count
        (clients send to the least-loaded peer — NiFi's S2S balancing)."""
        host, port = self.address
        own_count = len(os.listdir(self.landing_dir))
        peers = [(host, port, own_count)] + [
            (h, p, 0) for (h, p) in self._extra_peers
        ]
        f.write(struct.pack(">I", len(peers)))
        for h, p, n in peers:
            _write_utf(f, h)
            f.write(struct.pack(">H", p))
            f.write(bytes([1]))  # secure=true: this endpoint IS TLS
            f.write(struct.pack(">I", n))
        f.flush()

    def _receive_transaction(self, f) -> None:
        port_name, _ = _read_utf(f)
        # Chunked parse: CRC-32 is computed per NETWORK chunk, not per
        # field (the sender is silent between END_OF_DATA and our
        # confirmation, so every byte that arrives during the streaming
        # phase is part of the checksummed transaction).
        reader = _ChunkReader(f)
        records: list[bytes] = []
        while True:
            marker = reader.take(1)[0]
            if marker == _END_OF_DATA:
                break
            if marker != _MORE_DATA:
                raise ValueError(f"bad frame marker {marker:#x}")
            (n_attrs,) = struct.unpack(">I", reader.take(4))
            attrs: dict[str, str] = {}
            for _ in range(n_attrs):
                (klen,) = struct.unpack(">H", reader.take(2))
                k = reader.take(klen).decode("utf-8")
                (vlen,) = struct.unpack(">H", reader.take(2))
                attrs[k] = reader.take(vlen).decode("utf-8")
            (clen,) = struct.unpack(">Q", reader.take(8))
            content = reader.take(clen)
            records.append(
                json.dumps(
                    {"attributes": attrs, "content": content.decode("utf-8")},
                    sort_keys=True,
                ).encode("utf-8")
            )
        if reader.remaining():
            raise ValueError("bytes after END_OF_DATA inside transaction")
        crc = reader.crc
        # phase 1: receiver announces its checksum of everything read
        f.write(bytes([_CONFIRM_TRANSACTION]))
        _write_utf(f, str(crc & 0xFFFFFFFF))
        f.flush()
        # phase 2: sender verdict
        (verdict,) = net.read_exact(f.read, 1)
        if verdict == _CONFIRM_TRANSACTION:
            self._commit(port_name, records)
            f.write(bytes([_TRANSACTION_FINISHED]))
            f.flush()
        else:  # BAD_CHECKSUM or anything else: discard the stage
            with self._lock:
                self._aborted += 1
            f.write(bytes([_TRANSACTION_CANCELED]))
            f.flush()

    def _commit(self, port_name: str, records: list[bytes]) -> None:
        with self._lock:
            self._committed += 1
        if records:
            self.landing.publish_lines(records, prefix=f"{port_name or 'input'}_")


# --------------------------------------------------------------- client ---


def _open(host: str, port: int, cert_path: str, timeout: float):
    from apache_nifi_spark.streaming.tls import client_context

    ctx = client_context(cert_path)
    raw = net.connect(host, port, timeout)
    conn = ctx.wrap_socket(raw, server_hostname="localhost")
    f = conn.makefile("rwb")
    f.write(_MAGIC)
    f.write(struct.pack(">H", PROTOCOL_VERSION))
    f.flush()
    (resolution,) = net.read_exact(f.read, 1)
    if resolution != _RESOLUTION_OK:
        (theirs,) = struct.unpack(">H", net.read_exact(f.read, 2))
        conn.close()
        raise ConnectionError(
            f"peer speaks protocol version {theirs}, not {PROTOCOL_VERSION}"
        )
    return conn, f


def s2s_peers(
    host: str, port: int, cert_path: str, timeout: float = 10.0
) -> list[dict]:
    """Fetch the peer list from a bootstrap peer."""
    conn, f = _open(host, port, cert_path, timeout)
    try:
        f.write(bytes([_REQ_PEER_LIST]))
        f.flush()
        (n,) = struct.unpack(">I", net.read_exact(f.read, 4))
        peers = []
        for _ in range(n):
            h, _raw = _read_utf(f)
            (p,) = struct.unpack(">H", net.read_exact(f.read, 2))
            (secure,) = net.read_exact(f.read, 1)
            (count,) = struct.unpack(">I", net.read_exact(f.read, 4))
            peers.append(
                {"host": h, "port": p, "secure": bool(secure), "flowFileCount": count}
            )
        return peers
    finally:
        f.close()
        conn.close()


class _TransactionAborted(ConnectionError):
    """Receiver-announced checksum mismatched — batch was discarded."""


def _send_transaction(
    host: str,
    port: int,
    cert_path: str,
    port_name: str,
    flowfiles: list[tuple[dict, bytes]],
    timeout: float,
    _corrupt_crc: bool = False,
) -> None:
    """One two-phase transaction.  ``_corrupt_crc`` is a test hook that
    deliberately rejects the receiver's checksum, proving the abort path
    lands nothing."""
    conn, f = _open(host, port, cert_path, timeout)
    try:
        f.write(bytes([_REQ_SEND_FLOWFILES]))
        _write_utf(f, port_name)
        crc = 0
        buf = bytearray()

        def flush_buf() -> None:
            nonlocal crc
            crc = zlib.crc32(buf, crc)  # one CRC + one write per ~64 KiB
            f.write(buf)
            buf.clear()

        pack_i, pack_h, pack_q = struct.Struct(">I"), struct.Struct(">H"), struct.Struct(">Q")
        for attrs, content in flowfiles:
            buf += b"\x01"  # MORE_DATA
            buf += pack_i.pack(len(attrs))
            for k, v in attrs.items():
                kb = str(k).encode("utf-8")
                vb = str(v).encode("utf-8")
                buf += pack_h.pack(len(kb))
                buf += kb
                buf += pack_h.pack(len(vb))
                buf += vb
            buf += pack_q.pack(len(content))
            buf += content
            if len(buf) >= 1 << 16:
                flush_buf()
        buf += b"\x00"  # END_OF_DATA
        flush_buf()
        f.flush()
        (code,) = net.read_exact(f.read, 1)
        if code != _CONFIRM_TRANSACTION:
            raise ConnectionError(f"expected CONFIRM_TRANSACTION, got {code:#x}")
        theirs, _ = _read_utf(f)
        ok = (not _corrupt_crc) and theirs == str(crc & 0xFFFFFFFF)
        f.write(bytes([_CONFIRM_TRANSACTION if ok else _BAD_CHECKSUM]))
        f.flush()
        (final,) = net.read_exact(f.read, 1)
        if not ok:
            raise _TransactionAborted(
                f"checksum mismatch (ours {crc & 0xFFFFFFFF}, theirs {theirs})"
            )
        if final != _TRANSACTION_FINISHED:
            raise ConnectionError(f"expected TRANSACTION_FINISHED, got {final:#x}")
    finally:
        f.close()
        conn.close()


def s2s_send(
    df,
    host: str,
    port: int,
    cert_path: str,
    port_name: str,
    attr_cols: list[str],
    content_col: str,
    timeout: float = 30.0,
    summary: bool = False,
    _corrupt_crc: bool = False,
):
    """Push a DataFrame to a peer's input port: ONE TLS connection and
    ONE two-phase transaction per partition (confirmation amortizes over
    the batch); appends ``delivered``.  An aborted transaction marks its
    whole partition undelivered — the redelivery unit, exactly NiFi's
    transaction granularity.

    ``summary=True`` returns one ``(n_rows, delivered)`` row per
    partition instead of echoing the data — the cheap Arrow return path
    when the caller only audits delivery (the data never needs to come
    back from the executors).
    """
    from apache_nifi_spark.io import with_columns

    cols = [content_col, *attr_cols]

    def deliver(batches) -> tuple[int, bool]:
        """Send a partition's ``cols`` value lists as ONE transaction:
        ``(flowfiles, delivered)``."""
        flowfiles = [
            (dict(zip(attr_cols, attrs)), str(content).encode("utf-8"))
            for contents, *attr_lists in batches
            for content, *attrs in zip(contents, *attr_lists)
        ]
        if not flowfiles:
            return 0, False
        try:
            _send_transaction(
                host, port, cert_path, port_name, flowfiles, timeout,
                _corrupt_crc=_corrupt_crc,
            )
            return len(flowfiles), True
        except (ConnectionError, OSError):
            return len(flowfiles), False

    if summary:
        def audit(batches):
            import pyarrow as pa

            n, ok = deliver([b.column(c).to_pylist() for c in cols] for b in batches)
            if n:
                yield pa.record_batch({"n_rows": pa.array([n], pa.int64()), "delivered": [ok]})

        return df.mapInArrow(audit, "n_rows long, delivered boolean")

    def run(batches):
        batches = list(batches)
        _, ok = deliver(batches)
        for contents, *_ in batches:
            yield [ok] * len(contents),

    return with_columns(df, cols, run, "delivered boolean")
