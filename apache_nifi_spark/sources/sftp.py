"""ListSFTP / FetchSFTP / PutSFTP over a REAL SSH-2 + SFTP v3 wire.

Closes §2.1 row 2's last partial: the SFTP subsystem (version 3, the
draft-ietf-secsh-filexfer-02 dialect every server speaks) riding the
``ssh_transport`` stack — curve25519-sha256 kex, ssh-ed25519 host key
verified against a pinned public key, aes128-ctr + hmac-sha2-256
packets.  Packet subset: INIT/VERSION, OPENDIR/READDIR (listing with
longname + size attrs), OPEN/READ/WRITE/CLOSE (64-bit offsets), STAT,
with STATUS answers (OK/EOF/NO_SUCH_FILE/FAILURE) per the spec.

Spark-first shape — identical to the FTP tier (``sources/ftp.py``):

- ``list_sftp``: one control-plane session manifests the remote
  directory into a (filename, size) DataFrame (ListSFTP's primary-node
  listing).
- ``fetch_sftp``: one SSH connection per PARTITION; each file reads in
  32 KiB READ loops until EOF (FetchSFTP; failures → NULL content for
  route-on-null downstream).
- ``put_sftp``: OPEN(CREAT|TRUNC|WRITE) + chunked WRITEs per record,
  one connection per partition (PutSFTP; failures → ``stored=false``).

Scale: handshake + auth amortize per partition; partitions fan out
across executors; the server streams from/to the filesystem without
buffering whole files.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark.io import with_columns
from apache_nifi_spark.sources.ssh_transport import (
    SshClientConnection,
    SshServer,
    make_host_key,
)

__all__ = ["MiniSftpServer", "SftpClient", "list_sftp", "fetch_sftp", "put_sftp"]

# packet types (draft-ietf-secsh-filexfer-02)
_INIT, _VERSION = 1, 2
_OPEN, _CLOSE, _READ, _WRITE = 3, 4, 5, 6
_OPENDIR, _READDIR = 11, 12
_STAT = 17
_STATUS, _HANDLE, _DATA, _NAME, _ATTRS = 101, 102, 103, 104, 105

_OK, _EOF, _NO_SUCH_FILE, _PERMISSION_DENIED, _FAILURE = 0, 1, 2, 3, 4

_FLAG_READ, _FLAG_WRITE, _FLAG_CREAT, _FLAG_TRUNC = 0x1, 0x2, 0x8, 0x10
_ATTR_SIZE = 0x1


def _string(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


class _R:
    __slots__ = ("b", "p")

    def __init__(self, b: bytes):
        self.b = b
        self.p = 0

    def u8(self) -> int:
        v = self.b[self.p]
        self.p += 1
        return v

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.b, self.p)
        self.p += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.b, self.p)
        self.p += 8
        return v

    def s(self) -> bytes:
        n = self.u32()
        v = self.b[self.p : self.p + n]
        self.p += n
        return v


def _attrs_size(size: int) -> bytes:
    return struct.pack(">IQ", _ATTR_SIZE, size)


def _skip_attrs(r: _R) -> int | None:
    flags = r.u32()
    size = None
    if flags & _ATTR_SIZE:
        size = r.u64()
    # no other attr flags are sent by this client/server pair
    return size


class _SftpServerHandler:
    """One subsystem instance per channel: parses SFTP packets from the
    channel byte stream and answers through ``send``."""

    def __init__(self, root: str, send) -> None:
        self.root = os.path.abspath(root)
        self.send = send
        self.buf = b""
        self.handles: dict[bytes, object] = {}
        self.dir_state: dict[bytes, list[str] | None] = {}
        self.next_handle = 0

    # -- plumbing ---------------------------------------------------------

    def __call__(self, data: bytes) -> None:
        self.buf += data
        while len(self.buf) >= 4:
            (n,) = struct.unpack(">I", self.buf[:4])
            if len(self.buf) < 4 + n:
                return
            packet, self.buf = self.buf[4 : 4 + n], self.buf[4 + n :]
            self._handle(packet)

    def _reply(self, body: bytes) -> None:
        self.send(_string(body))

    def _status(self, rid: int, code: int, msg: str = "") -> None:
        self._reply(
            bytes([_STATUS])
            + struct.pack(">II", rid, code)
            + _string(msg.encode())
            + _string(b"")
        )

    def _resolve(self, path: bytes) -> str:
        p = os.path.normpath(
            os.path.join(self.root, path.decode("utf-8").lstrip("/"))
        )
        if not (p == self.root or p.startswith(self.root + os.sep)):
            raise PermissionError(path)
        return p

    # -- dispatch ---------------------------------------------------------

    def _handle(self, packet: bytes) -> None:
        r = _R(packet)
        ptype = r.u8()
        if ptype == _INIT:
            self._reply(bytes([_VERSION]) + struct.pack(">I", 3))
            return
        rid = r.u32()
        try:
            if ptype == _OPENDIR:
                path = self._resolve(r.s())
                if not os.path.isdir(path):
                    self._status(rid, _NO_SUCH_FILE, "not a directory")
                    return
                h = struct.pack(">I", self.next_handle)
                self.next_handle += 1
                self.dir_state[h] = sorted(os.listdir(path))
                self.handles[h] = path
                self._reply(bytes([_HANDLE]) + struct.pack(">I", rid) + _string(h))
            elif ptype == _READDIR:
                h = r.s()
                names = self.dir_state.get(h)
                if names is None:
                    self._status(rid, _EOF)
                    return
                self.dir_state[h] = None  # one batch, then EOF
                base = self.handles[h]  # type: ignore[index]
                out = bytes([_NAME]) + struct.pack(">II", rid, len(names))
                for name in names:
                    full = os.path.join(base, name)  # type: ignore[arg-type]
                    size = os.path.getsize(full) if os.path.isfile(full) else 0
                    out += _string(name.encode())
                    out += _string(f"{size:>12} {name}".encode())  # longname
                    out += _attrs_size(size)
                self._reply(out)
            elif ptype == _OPEN:
                path = self._resolve(r.s())
                flags = r.u32()
                _skip_attrs(r)
                if flags & _FLAG_WRITE:
                    if flags & _FLAG_TRUNC:
                        f = open(path, "wb")
                    else:
                        # SFTP v3 writes are random-access at the packet's
                        # 64-bit offset; POSIX append mode would silently
                        # pin every write to EOF, so open read-write
                        # (creating first if the file is absent).
                        if not os.path.isfile(path):
                            if not flags & _FLAG_CREAT:
                                self._status(rid, _NO_SUCH_FILE, "no such file")
                                return
                            open(path, "wb").close()
                        f = open(path, "r+b")
                elif os.path.isfile(path):
                    f = open(path, "rb")
                else:
                    self._status(rid, _NO_SUCH_FILE, "no such file")
                    return
                h = struct.pack(">I", self.next_handle)
                self.next_handle += 1
                self.handles[h] = f
                self._reply(bytes([_HANDLE]) + struct.pack(">I", rid) + _string(h))
            elif ptype == _READ:
                h = r.s()
                offset = r.u64()
                length = r.u32()
                f = self.handles.get(h)
                if f is None:
                    self._status(rid, _FAILURE, "bad handle")
                    return
                f.seek(offset)  # type: ignore[union-attr]
                data = f.read(min(length, 1 << 20))  # type: ignore[union-attr]
                if not data:
                    self._status(rid, _EOF)
                else:
                    self._reply(
                        bytes([_DATA]) + struct.pack(">I", rid) + _string(data)
                    )
            elif ptype == _WRITE:
                h = r.s()
                offset = r.u64()
                data = r.s()
                f = self.handles.get(h)
                if f is None:
                    self._status(rid, _FAILURE, "bad handle")
                    return
                f.seek(offset)  # type: ignore[union-attr]
                f.write(data)  # type: ignore[union-attr]
                self._status(rid, _OK)
            elif ptype == _CLOSE:
                h = r.s()
                f = self.handles.pop(h, None)
                self.dir_state.pop(h, None)
                if hasattr(f, "close"):
                    f.close()  # type: ignore[union-attr]
                self._status(rid, _OK)
            elif ptype == _STAT:
                path = self._resolve(r.s())
                if not os.path.exists(path):
                    self._status(rid, _NO_SUCH_FILE, "no such file")
                    return
                size = os.path.getsize(path) if os.path.isfile(path) else 0
                self._reply(
                    bytes([_ATTRS]) + struct.pack(">I", rid) + _attrs_size(size)
                )
            else:
                self._status(rid, _FAILURE, f"unsupported packet {ptype}")
        except PermissionError:
            self._status(rid, _PERMISSION_DENIED, "outside root")
        except OSError as e:
            self._status(rid, _FAILURE, str(e))


class MiniSftpServer(SshServer):
    """SSH server with an ``sftp`` subsystem rooted at a directory."""

    def __init__(
        self,
        root: str,
        user: str = "spark",
        password: str = "graft",
        host_key_seed: bytes | None = None,
    ):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self.user, self.password = user, password
        super().__init__(
            make_host_key(host_key_seed)[0],
            {user: password},
            {"sftp": lambda send: _SftpServerHandler(self.root, send)},
        )


class SftpClient:
    """Blocking SFTP v3 client over one SSH connection."""

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        password: str,
        pinned_host_pub: bytes,
        timeout: float = 30.0,
    ):
        self.conn = SshClientConnection(
            host, port, user, password, pinned_host_pub, "sftp", timeout
        )
        self._buf = b""
        self._rid = 0
        try:
            self.conn.send(_string(bytes([_INIT]) + struct.pack(">I", 3)))
            ptype, body = self._next_packet()
            if ptype != _VERSION or _R(body).u32() != 3:
                raise ConnectionError("SFTP version negotiation failed")
        except BaseException:
            self.conn.close()
            raise

    def _next_packet(self) -> tuple[int, bytes]:
        while True:
            if len(self._buf) >= 4:
                (n,) = struct.unpack(">I", self._buf[:4])
                if len(self._buf) >= 4 + n:
                    pkt, self._buf = self._buf[4 : 4 + n], self._buf[4 + n :]
                    return pkt[0], pkt[1:]
            self._buf += self.conn.recv_some()

    def _call(self, ptype: int, body: bytes) -> tuple[int, bytes]:
        self._rid += 1
        self.conn.send(_string(bytes([ptype]) + struct.pack(">I", self._rid) + body))
        rtype, rbody = self._next_packet()
        r = _R(rbody)
        rid = r.u32()
        if rid != self._rid:
            raise ConnectionError(f"SFTP request id mismatch {rid} != {self._rid}")
        return rtype, rbody[4:]

    @staticmethod
    def _expect_status_ok(rtype: int, body: bytes) -> None:
        if rtype != _STATUS:
            raise ConnectionError(f"expected STATUS, got {rtype}")
        code = _R(body).u32()
        if code != _OK:
            raise ConnectionError(f"SFTP status {code}")

    def listdir(self, path: str) -> list[tuple[str, int]]:
        rtype, body = self._call(_OPENDIR, _string(path.encode()))
        if rtype != _HANDLE:
            raise FileNotFoundError(path)
        handle = _R(body).s()
        out: list[tuple[str, int]] = []
        while True:
            rtype, body = self._call(_READDIR, _string(handle))
            if rtype == _STATUS:
                code = _R(body).u32()
                if code == _EOF:
                    break
                raise ConnectionError(f"READDIR status {code}")
            r = _R(body)
            for _ in range(r.u32()):
                name = r.s().decode()
                r.s()  # longname
                size = _skip_attrs(r) or 0
                out.append((name, size))
        rtype, body = self._call(_CLOSE, _string(handle))
        self._expect_status_ok(rtype, body)
        return out

    def read_file(self, path: str, chunk: int = 1 << 15) -> bytes:
        rtype, body = self._call(
            _OPEN, _string(path.encode()) + struct.pack(">I", _FLAG_READ) + b"\x00" * 4
        )
        if rtype != _HANDLE:
            raise FileNotFoundError(path)
        handle = _R(body).s()
        data = bytearray()
        while True:
            rtype, body = self._call(
                _READ,
                _string(handle) + struct.pack(">QI", len(data), chunk),
            )
            if rtype == _STATUS:
                code = _R(body).u32()
                if code == _EOF:
                    break
                raise ConnectionError(f"READ status {code}")
            data += _R(body).s()
        rtype, body = self._call(_CLOSE, _string(handle))
        self._expect_status_ok(rtype, body)
        return bytes(data)

    def write_file(self, path: str, data: bytes, chunk: int = 1 << 15) -> None:
        rtype, body = self._call(
            _OPEN,
            _string(path.encode())
            + struct.pack(">I", _FLAG_WRITE | _FLAG_CREAT | _FLAG_TRUNC)
            + b"\x00" * 4,
        )
        if rtype != _HANDLE:
            raise ConnectionError(f"cannot open {path!r} for write")
        handle = _R(body).s()
        for off in range(0, len(data), chunk):
            rtype, body = self._call(
                _WRITE,
                _string(handle)
                + struct.pack(">Q", off)
                + _string(data[off : off + chunk]),
            )
            self._expect_status_ok(rtype, body)
        rtype, body = self._call(_CLOSE, _string(handle))
        self._expect_status_ok(rtype, body)

    def stat_size(self, path: str) -> int:
        rtype, body = self._call(_STAT, _string(path.encode()))
        if rtype != _ATTRS:
            raise FileNotFoundError(path)
        return _skip_attrs(_R(body)) or 0

    def close(self) -> None:
        self.conn.close()


# ----------------------------------------------------------- operators ---


def list_sftp(
    spark: SparkSession,
    host: str,
    port: int,
    user: str,
    password: str,
    pinned_host_pub: bytes,
    path: str = "/",
) -> DataFrame:
    """ListSFTP: one control-plane session lists the remote dir into a
    (filename, size) DataFrame — the primary-node listing manifest."""
    c = SftpClient(host, port, user, password, pinned_host_pub)
    try:
        rows = c.listdir(path)
    finally:
        c.close()
    return spark.createDataFrame(rows, "filename string, size long")


def fetch_sftp(
    listing: DataFrame,
    host: str,
    port: int,
    user: str,
    password: str,
    pinned_host_pub: bytes,
    path: str = "/",
    out_col: str = "content",
) -> DataFrame:
    """FetchSFTP: one SSH connection per PARTITION (handshake amortized;
    partitions fan out across executors); appends ``content: binary``,
    transport failures surface as NULL content."""
    prefix = path.rstrip("/")

    def run(batches):
        client = None
        try:
            for (names,) in batches:
                out = []
                for name in names:
                    try:
                        if client is None:
                            client = SftpClient(
                                host, port, user, password, pinned_host_pub
                            )
                        out.append(client.read_file(f"{prefix}/{name}"))
                    except (ConnectionError, FileNotFoundError, OSError):
                        out.append(None)
                yield out,
        finally:
            if client is not None:
                client.close()

    return with_columns(listing, ["filename"], run, f"`{out_col}` binary")


def put_sftp(
    df: DataFrame,
    host: str,
    port: int,
    user: str,
    password: str,
    pinned_host_pub: bytes,
    path: str = "/",
    name_col: str = "filename",
    content_col: str = "content",
) -> DataFrame:
    """PutSFTP: WRITE each record's bytes as one remote file, one SSH
    connection per partition; appends ``stored``."""
    prefix = path.rstrip("/")

    def run(batches):
        client = None
        try:
            for names, blobs in batches:
                ok = []
                for name, blob in zip(names, blobs):
                    if name is None or blob is None:
                        ok.append(False)
                        continue
                    data = blob if isinstance(blob, bytes) else str(blob).encode()
                    try:
                        if client is None:
                            client = SftpClient(
                                host, port, user, password, pinned_host_pub
                            )
                        client.write_file(f"{prefix}/{name}", bytes(data))
                        ok.append(True)
                    except (ConnectionError, OSError):
                        ok.append(False)
                yield ok,
        finally:
            if client is not None:
                client.close()

    return with_columns(df, [name_col, content_col], run, "stored boolean")
