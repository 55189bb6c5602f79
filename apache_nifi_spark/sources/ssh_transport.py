"""SSH-2 transport + userauth + connection protocol (RFC 4253/4252/4254).

The missing half of ListSFTP/FetchSFTP/PutSFTP (§2.1 row 2 — the last
partial in the operator inventory): a real SSH-2 stack whose X25519,
Ed25519 and AES come from the ``cryptography`` package (OpenSSL):

- **algorithm suite** (one of each — both ends are in this repo, and a
  single modern suite is what the reference's hardened deployments pin
  anyway): kex ``curve25519-sha256`` (RFC 8731), host key
  ``ssh-ed25519`` (RFC 8709), cipher ``aes128-ctr`` (RFC 4344), MAC
  ``hmac-sha2-256`` (RFC 6668), compression ``none``.
- **binary packet protocol** (RFC 4253 §6): uint32 length + padding +
  payload, whole packet encrypted, MAC = HMAC(key, uint32(seq) ||
  plaintext packet) appended — the classic (non-ETM) construction.
- **key exchange**: KEXINIT negotiation, ECDH_INIT/REPLY, the exchange
  hash H signed by the host key; the CLIENT verifies the signature
  against a PINNED host public key (known_hosts semantics — same
  trust-only-this-key model as the TLS tier's truststore).  Session
  keys derive per RFC 4253 §7.2.
- **userauth** (RFC 4252): password method against the server's
  credential table; failures answer USERAUTH_FAILURE.
- **connection** (RFC 4254): ``session`` channels + ``subsystem``
  requests; channel DATA is the byte stream the SFTP layer rides.
  Window accounting uses large windows with WINDOW_ADJUST replenish.

Scale notes: the transport is used one-connection-per-partition by the
SFTP operators (the FTP tier's shape) — handshake cost amortizes over
each partition's batch and connections fan out across executors.
"""

from __future__ import annotations

import hashlib
import hmac as _hmac
import os
import socket
import struct

from cryptography.exceptions import InvalidSignature
from cryptography.hazmat.primitives.asymmetric.ed25519 import (
    Ed25519PrivateKey,
    Ed25519PublicKey,
)
from cryptography.hazmat.primitives.asymmetric.x25519 import (
    X25519PrivateKey,
    X25519PublicKey,
)
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from apache_nifi_spark import net

__all__ = ["SshServer", "SshClientConnection", "make_host_key"]

_VERSION = "SSH-2.0-anspark_nifi_engine"

# message numbers (RFC 4250 §4.1)
_MSG_DISCONNECT = 1
_MSG_SERVICE_REQUEST = 5
_MSG_SERVICE_ACCEPT = 6
_MSG_KEXINIT = 20
_MSG_NEWKEYS = 21
_MSG_KEX_ECDH_INIT = 30
_MSG_KEX_ECDH_REPLY = 31
_MSG_USERAUTH_REQUEST = 50
_MSG_USERAUTH_FAILURE = 51
_MSG_USERAUTH_SUCCESS = 52
_MSG_CHANNEL_OPEN = 90
_MSG_CHANNEL_OPEN_CONFIRMATION = 91
_MSG_CHANNEL_OPEN_FAILURE = 92
_MSG_CHANNEL_WINDOW_ADJUST = 93
_MSG_CHANNEL_DATA = 94
_MSG_CHANNEL_EOF = 96
_MSG_CHANNEL_CLOSE = 97
_MSG_CHANNEL_REQUEST = 98
_MSG_CHANNEL_SUCCESS = 99
_MSG_CHANNEL_FAILURE = 100

_KEX_ALGS = "curve25519-sha256"
_HOSTKEY_ALGS = "ssh-ed25519"
_CIPHERS = "aes128-ctr"
_MACS = "hmac-sha2-256"
_COMP = "none"

_WINDOW = 1 << 24
_MAX_PACKET = 1 << 15


def _string(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


def _name_list(s: str) -> bytes:
    return _string(s.encode("ascii"))


def _mpint(n: int) -> bytes:
    if n == 0:
        return _string(b"")
    b = n.to_bytes((n.bit_length() + 8) // 8, "big")  # leading 0 if high bit
    return _string(b)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def string(self) -> bytes:
        n = self.u32()
        v = self.buf[self.pos : self.pos + n]
        if len(v) < n:
            raise ValueError("truncated SSH string")
        self.pos += n
        return v

    def rest(self) -> bytes:
        return self.buf[self.pos :]


def host_key_blob(pub: bytes) -> bytes:
    return _string(b"ssh-ed25519") + _string(pub)


def make_host_key(seed: bytes | None = None) -> tuple[bytes, bytes]:
    """(seed, public) ssh-ed25519 host key pair."""
    seed = seed or os.urandom(32)
    key = Ed25519PrivateKey.from_private_bytes(seed)
    return seed, key.public_key().public_bytes_raw()


def _shared_secret(priv: X25519PrivateKey, peer_q: bytes) -> int:
    """The exchange's K: the X25519 shared secret read as an mpint."""
    try:
        shared = priv.exchange(X25519PublicKey.from_public_bytes(peer_q))
    except ValueError:
        # a key that is not 32 bytes, or a low-order one whose all-zero
        # shared secret RFC 8731 §3.1 says MUST abort the exchange
        raise ConnectionError(
            "invalid X25519 public key or all-zero shared secret"
        ) from None
    return int.from_bytes(shared, "big")


def _aes128_ctr(key: bytes, iv: bytes):
    """One direction's aes128-ctr keystream, applied across packets."""
    return Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor().update


def _require_suite(kexinit: bytes) -> None:
    """Parse the peer's KEXINIT and require our single suite present."""
    r = _Reader(kexinit[17:])  # skip msg byte + 16-byte cookie
    for want in [_KEX_ALGS, _HOSTKEY_ALGS, _CIPHERS, _CIPHERS, _MACS, _MACS]:
        offered = r.string().decode("ascii").split(",")
        if want not in offered:
            raise ConnectionError(f"no common algorithm for {want}")
    # compression + languages + first_kex_packet_follows ignored


class _Transport:
    """Shared packet engine: framing, sequence numbers, crypto state."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.f = sock.makefile("rwb", buffering=1 << 16)
        self.seq_out = 0
        self.seq_in = 0
        self.enc_out = None  # aes128-ctr update functions once keyed
        self.enc_in = None
        self.mac_out: bytes | None = None
        self.mac_in: bytes | None = None

    # -- version exchange -------------------------------------------------

    def exchange_versions(self) -> bytes:
        self.f.write((_VERSION + "\r\n").encode())
        self.f.flush()
        while True:
            line = self.f.readline(1024)
            if not line:
                raise ConnectionError("EOF before SSH version")
            if line.startswith(b"SSH-"):
                return line.rstrip(b"\r\n")

    # -- binary packets ---------------------------------------------------

    def send_packet(self, payload: bytes) -> None:
        block = 16 if self.enc_out else 8
        pad = block - ((len(payload) + 5) % block)
        if pad < 4:
            pad += block
        packet = struct.pack(">IB", len(payload) + pad + 1, pad) + payload + bytes(pad)
        mac = b""
        if self.enc_out is not None:
            mac = _hmac.new(
                self.mac_out, struct.pack(">I", self.seq_out) + packet, hashlib.sha256
            ).digest()
            packet = self.enc_out(packet)
        self.f.write(packet + mac)
        self.f.flush()
        self.seq_out += 1

    def recv_packet(self) -> bytes:
        block = 16 if self.enc_in else 8
        head = net.read_exact(self.f.read, block)
        if self.enc_in is not None:
            head = self.enc_in(head)
        (plen,) = struct.unpack(">I", head[:4])
        if not 1 <= plen <= (1 << 20):
            raise ValueError(f"bad SSH packet length {plen}")
        rest = net.read_exact(self.f.read, plen - (block - 4))
        if self.enc_in is not None:
            rest = self.enc_in(rest)
        packet = head + rest
        if self.enc_in is not None:
            mac = net.read_exact(self.f.read, 32)
            want = _hmac.new(
                self.mac_in, struct.pack(">I", self.seq_in) + packet, hashlib.sha256
            ).digest()
            if not _hmac.compare_digest(mac, want):
                raise ValueError("SSH MAC verification failed")
        pad = packet[4]
        payload = packet[5 : 5 + plen - pad - 1]
        self.seq_in += 1
        return payload

    # -- kex helpers ------------------------------------------------------

    def kexinit_payload(self) -> bytes:
        return (
            bytes([_MSG_KEXINIT])
            + os.urandom(16)
            + _name_list(_KEX_ALGS)
            + _name_list(_HOSTKEY_ALGS)
            + _name_list(_CIPHERS)
            + _name_list(_CIPHERS)
            + _name_list(_MACS)
            + _name_list(_MACS)
            + _name_list(_COMP)
            + _name_list(_COMP)
            + _name_list("")
            + _name_list("")
            + b"\x00"
            + struct.pack(">I", 0)
        )

    def activate_keys(
        self, k: int, h: bytes, session_id: bytes, client_side: bool
    ) -> None:
        def derive(x: bytes, length: int) -> bytes:
            out = hashlib.sha256(_mpint(k) + h + x + session_id).digest()
            while len(out) < length:
                out += hashlib.sha256(_mpint(k) + h + out).digest()
            return out[:length]

        iv_c2s = derive(b"A", 16)
        iv_s2c = derive(b"B", 16)
        key_c2s = derive(b"C", 16)
        key_s2c = derive(b"D", 16)
        mac_c2s = derive(b"E", 32)
        mac_s2c = derive(b"F", 32)
        if client_side:
            self.enc_out = _aes128_ctr(key_c2s, iv_c2s)
            self.enc_in = _aes128_ctr(key_s2c, iv_s2c)
            self.mac_out, self.mac_in = mac_c2s, mac_s2c
        else:
            self.enc_out = _aes128_ctr(key_s2c, iv_s2c)
            self.enc_in = _aes128_ctr(key_c2s, iv_c2s)
            self.mac_out, self.mac_in = mac_s2c, mac_c2s

    def close(self) -> None:
        try:
            self.f.close()
        except OSError:
            pass
        self.sock.close()


class SshServer(net.Server):
    """Threaded SSH server hosting named subsystems.

    ``subsystems``: name → factory(channel_send: Callable[bytes, None])
    → handler(data: bytes) — the SFTP layer plugs in here.
    """

    def __init__(
        self,
        host_key_seed: bytes,
        users: dict[str, str],
        subsystems: dict,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self.host_key = Ed25519PrivateKey.from_private_bytes(host_key_seed)
        self.host_pub = self.host_key.public_key().public_bytes_raw()
        self.users = users
        self.subsystems = subsystems
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        t = _Transport(conn)
        try:
            v_c = t.exchange_versions()
            i_s = t.kexinit_payload()
            t.send_packet(i_s)
            i_c = t.recv_packet()
            if i_c[0] != _MSG_KEXINIT:
                raise ValueError("expected KEXINIT")
            _require_suite(i_c)
            # ECDH
            pkt = t.recv_packet()
            if pkt[0] != _MSG_KEX_ECDH_INIT:
                raise ValueError("expected KEX_ECDH_INIT")
            q_c = _Reader(pkt[1:]).string()
            eph_priv = X25519PrivateKey.generate()
            q_s = eph_priv.public_key().public_bytes_raw()
            k = _shared_secret(eph_priv, q_c)
            k_s = host_key_blob(self.host_pub)
            h = hashlib.sha256(
                _string(v_c)
                + _string(_VERSION.encode())
                + _string(i_c)
                + _string(i_s)
                + _string(k_s)
                + _string(q_c)
                + _string(q_s)
                + _mpint(k)
            ).digest()
            sig = _string(b"ssh-ed25519") + _string(self.host_key.sign(h))
            t.send_packet(
                bytes([_MSG_KEX_ECDH_REPLY]) + _string(k_s) + _string(q_s) + _string(sig)
            )
            t.send_packet(bytes([_MSG_NEWKEYS]))
            if t.recv_packet()[0] != _MSG_NEWKEYS:
                raise ValueError("expected NEWKEYS")
            t.activate_keys(k, h, h, client_side=False)
            # userauth
            pkt = t.recv_packet()
            if pkt[0] != _MSG_SERVICE_REQUEST:
                raise ValueError("expected SERVICE_REQUEST")
            t.send_packet(bytes([_MSG_SERVICE_ACCEPT]) + _string(b"ssh-userauth"))
            authed = False
            while not authed:
                pkt = t.recv_packet()
                if pkt[0] != _MSG_USERAUTH_REQUEST:
                    raise ValueError("expected USERAUTH_REQUEST")
                r = _Reader(pkt[1:])
                user = r.string().decode()
                _svc = r.string()
                method = r.string().decode()
                if method == "password":
                    r.byte()
                    password = r.string().decode()
                    if self.users.get(user) == password:
                        t.send_packet(bytes([_MSG_USERAUTH_SUCCESS]))
                        authed = True
                        continue
                t.send_packet(
                    bytes([_MSG_USERAUTH_FAILURE]) + _name_list("password") + b"\x00"
                )
            self._connection_loop(t)
        except (ConnectionError, ValueError, OSError):
            pass
        finally:
            t.close()

    def _connection_loop(self, t: _Transport) -> None:
        handlers: dict[int, object] = {}  # local channel id → subsystem handler
        peer_ids: dict[int, int] = {}
        windows: dict[int, int] = {}

        def sender(local_id: int):
            def send(data: bytes) -> None:
                # chunk to the peer's max packet size
                peer = peer_ids[local_id]
                for i in range(0, len(data), _MAX_PACKET - 1024):
                    chunk = data[i : i + _MAX_PACKET - 1024]
                    t.send_packet(
                        bytes([_MSG_CHANNEL_DATA])
                        + struct.pack(">I", peer)
                        + _string(chunk)
                    )

            return send

        next_id = 0
        while True:
            pkt = t.recv_packet()
            msg = pkt[0]
            if msg == _MSG_CHANNEL_OPEN:
                r = _Reader(pkt[1:])
                ctype = r.string()
                peer_id = r.u32()
                _win = r.u32()
                _maxp = r.u32()
                if ctype != b"session":
                    t.send_packet(
                        bytes([_MSG_CHANNEL_OPEN_FAILURE])
                        + struct.pack(">II", peer_id, 3)
                        + _string(b"unknown channel type")
                        + _string(b"")
                    )
                    continue
                local_id = next_id
                next_id += 1
                peer_ids[local_id] = peer_id
                windows[local_id] = _win
                t.send_packet(
                    bytes([_MSG_CHANNEL_OPEN_CONFIRMATION])
                    + struct.pack(">IIII", peer_id, local_id, _WINDOW, _MAX_PACKET)
                )
            elif msg == _MSG_CHANNEL_REQUEST:
                r = _Reader(pkt[1:])
                local_id = r.u32()
                rtype = r.string()
                want_reply = r.byte()
                if local_id not in peer_ids:
                    continue  # request on a channel that was never opened
                if rtype == b"subsystem":
                    name = r.string().decode()
                    factory = self.subsystems.get(name)
                    if factory is not None:
                        handlers[local_id] = factory(sender(local_id))
                        if want_reply:
                            t.send_packet(
                                bytes([_MSG_CHANNEL_SUCCESS])
                                + struct.pack(">I", peer_ids[local_id])
                            )
                        continue
                if want_reply:
                    t.send_packet(
                        bytes([_MSG_CHANNEL_FAILURE])
                        + struct.pack(">I", peer_ids[local_id])
                    )
            elif msg == _MSG_CHANNEL_DATA:
                r = _Reader(pkt[1:])
                local_id = r.u32()
                data = r.string()
                if local_id not in peer_ids:
                    continue  # data on a channel that was never opened
                handler = handlers.get(local_id)
                if handler is not None:
                    handler(data)  # type: ignore[operator]
                # replenish our receive window
                t.send_packet(
                    bytes([_MSG_CHANNEL_WINDOW_ADJUST])
                    + struct.pack(">II", peer_ids[local_id], len(data))
                )
            elif msg == _MSG_CHANNEL_WINDOW_ADJUST:
                pass  # large windows; fixture transfers never exhaust them
            elif msg in (_MSG_CHANNEL_EOF, _MSG_CHANNEL_CLOSE):
                r = _Reader(pkt[1:])
                local_id = r.u32()
                if msg == _MSG_CHANNEL_CLOSE:
                    t.send_packet(
                        bytes([_MSG_CHANNEL_CLOSE])
                        + struct.pack(">I", peer_ids.get(local_id, 0))
                    )
                    handlers.pop(local_id, None)
            elif msg == _MSG_DISCONNECT:
                return
            # ignore anything else (debug/ignore messages)


class SshClientConnection:
    """Client: connect, verify the pinned host key, authenticate, open a
    session channel and request a subsystem; then a blocking
    request/response byte pipe (``send``/``recv_available``)."""

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        password: str,
        pinned_host_pub: bytes,
        subsystem: str,
        timeout: float = 30.0,
    ):
        self.t = _Transport(net.connect(host, port, timeout))
        try:
            self._handshake(user, password, pinned_host_pub, subsystem)
        except BaseException:
            self.t.close()
            raise

    def _handshake(
        self, user: str, password: str, pinned_host_pub: bytes, subsystem: str
    ) -> None:
        t = self.t
        v_s = t.exchange_versions()
        i_c = t.kexinit_payload()
        t.send_packet(i_c)
        i_s = t.recv_packet()
        if i_s[0] != _MSG_KEXINIT:
            raise ConnectionError("expected KEXINIT")
        _require_suite(i_s)
        eph_priv = X25519PrivateKey.generate()
        q_c = eph_priv.public_key().public_bytes_raw()
        t.send_packet(bytes([_MSG_KEX_ECDH_INIT]) + _string(q_c))
        pkt = t.recv_packet()
        if pkt[0] != _MSG_KEX_ECDH_REPLY:
            raise ConnectionError("expected KEX_ECDH_REPLY")
        r = _Reader(pkt[1:])
        k_s = r.string()
        q_s = r.string()
        sig_blob = r.string()
        kr = _Reader(k_s)
        if kr.string() != b"ssh-ed25519":
            raise ConnectionError("unexpected host key type")
        host_pub = kr.string()
        if host_pub != pinned_host_pub:
            raise ConnectionError("host key does not match the pinned key")
        k = _shared_secret(eph_priv, q_s)
        h = hashlib.sha256(
            _string(_VERSION.encode())
            + _string(v_s)
            + _string(i_c)
            + _string(i_s)
            + _string(k_s)
            + _string(q_c)
            + _string(q_s)
            + _mpint(k)
        ).digest()
        sr = _Reader(sig_blob)
        if sr.string() != b"ssh-ed25519":
            raise ConnectionError("unexpected signature type")
        try:
            Ed25519PublicKey.from_public_bytes(host_pub).verify(sr.string(), h)
        except InvalidSignature:
            raise ConnectionError(
                "host key signature verification failed"
            ) from None
        t.send_packet(bytes([_MSG_NEWKEYS]))
        if t.recv_packet()[0] != _MSG_NEWKEYS:
            raise ConnectionError("expected NEWKEYS")
        t.activate_keys(k, h, h, client_side=True)
        # auth
        t.send_packet(bytes([_MSG_SERVICE_REQUEST]) + _string(b"ssh-userauth"))
        if t.recv_packet()[0] != _MSG_SERVICE_ACCEPT:
            raise ConnectionError("service request refused")
        t.send_packet(
            bytes([_MSG_USERAUTH_REQUEST])
            + _string(user.encode())
            + _string(b"ssh-connection")
            + _string(b"password")
            + b"\x00"
            + _string(password.encode())
        )
        resp = t.recv_packet()
        if resp[0] != _MSG_USERAUTH_SUCCESS:
            raise ConnectionError("authentication failed")
        # channel + subsystem
        self.local_id = 0
        t.send_packet(
            bytes([_MSG_CHANNEL_OPEN])
            + _string(b"session")
            + struct.pack(">III", self.local_id, _WINDOW, _MAX_PACKET)
        )
        resp = t.recv_packet()
        if resp[0] != _MSG_CHANNEL_OPEN_CONFIRMATION:
            raise ConnectionError("channel open refused")
        self.peer_id = _Reader(resp[5:]).u32()
        t.send_packet(
            bytes([_MSG_CHANNEL_REQUEST])
            + struct.pack(">I", self.peer_id)
            + _string(b"subsystem")
            + b"\x01"
            + _string(subsystem.encode())
        )
        while True:
            resp = t.recv_packet()
            if resp[0] == _MSG_CHANNEL_SUCCESS:
                break
            if resp[0] == _MSG_CHANNEL_FAILURE:
                raise ConnectionError(f"subsystem {subsystem!r} refused")
            if resp[0] == _MSG_CHANNEL_WINDOW_ADJUST:
                continue
            raise ConnectionError(f"unexpected message {resp[0]} awaiting subsystem")

    def send(self, data: bytes) -> None:
        for i in range(0, len(data), _MAX_PACKET - 1024):
            chunk = data[i : i + _MAX_PACKET - 1024]
            self.t.send_packet(
                bytes([_MSG_CHANNEL_DATA])
                + struct.pack(">I", self.peer_id)
                + _string(chunk)
            )

    def recv_some(self) -> bytes:
        """Block until the next CHANNEL_DATA arrives (window adjusts and
        ignorable messages are skipped)."""
        while True:
            pkt = self.t.recv_packet()
            msg = pkt[0]
            if msg == _MSG_CHANNEL_DATA:
                return _Reader(pkt[5:]).string()
            if msg in (_MSG_CHANNEL_WINDOW_ADJUST,):
                continue
            if msg in (_MSG_CHANNEL_EOF, _MSG_CHANNEL_CLOSE, _MSG_DISCONNECT):
                raise ConnectionError("channel closed")

    def close(self) -> None:
        try:
            self.t.send_packet(
                bytes([_MSG_CHANNEL_CLOSE]) + struct.pack(">I", self.peer_id)
            )
        except (OSError, ValueError):
            pass
        self.t.close()
