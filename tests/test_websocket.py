"""RFC 6455 wire tests: handshake vector, frame lengths, fragmentation,
ping/pong, and the client-masking rule — the byte-level invariants the
registry roundtrip can't isolate.
"""

from __future__ import annotations

import glob
import pathlib
import socket
import struct
import time

from apache_nifi_spark.streaming.websocket import (
    WebSocketLandingServer,
    decode_frame,
    encode_frame,
    ws_accept_key,
)


def test_accept_key_rfc_vector():
    # RFC 6455 §1.3 worked example.
    assert (
        ws_accept_key("dGhlIHNhbXBsZSBub25jZQ==")
        == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


def _connect(server):
    s = socket.create_connection(("127.0.0.1", server.port), timeout=5)
    key = "dGhlIHNhbXBsZSBub25jZQ=="
    s.sendall(
        (
            f"GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    resp = b""
    while b"\r\n\r\n" not in resp:
        resp += s.recv(4096)
    assert b"101" in resp.split(b"\r\n", 1)[0]
    assert ws_accept_key(key).encode() in resp
    return s


def _landed(server, n):
    server.landing.wait(n, timeout=10)
    msgs = sorted(glob.glob(f"{server.landing_dir}/*"))
    return [pathlib.Path(p).read_bytes().rstrip(b"\n") for p in msgs]


def test_frame_lengths_fragmentation_and_ping(tmp_path):
    landing = str(tmp_path)
    with WebSocketLandingServer(landing) as server:
        s = _connect(server)
        # 7-bit, 16-bit, 64-bit payload length classes
        s.sendall(encode_frame(b"tiny", mask=b"abcd"))
        s.sendall(encode_frame(b"x" * 300, mask=b"\x01\x02\x03\x04"))
        s.sendall(encode_frame(b"y" * 70000, mask=b"\xff\x00\xff\x00"))
        # fragmented message: text start + continuation + fin
        s.sendall(encode_frame(b"frag-", opcode=0x1, fin=False, mask=b"aaaa"))
        s.sendall(encode_frame(b"mid-", opcode=0x0, fin=False, mask=b"bbbb"))
        s.sendall(encode_frame(b"end", opcode=0x0, fin=True, mask=b"cccc"))
        # ping must come back as pong with the same payload
        s.sendall(encode_frame(b"hb", opcode=0x9, mask=b"dddd"))
        fin, opcode, _, payload = decode_frame(s)
        assert (fin, opcode, payload) == (True, 0xA, b"hb")
        msgs = _landed(server, 4)
        assert msgs[0] == b"tiny"
        assert msgs[1] == b"x" * 300
        assert msgs[2] == b"y" * 70000
        assert msgs[3] == b"frag-mid-end"
        # close handshake echoes
        s.sendall(encode_frame(struct.pack(">H", 1000), opcode=0x8, mask=b"eeee"))
        fin, opcode, _, _ = decode_frame(s)
        assert opcode == 0x8
        s.close()


def test_unmasked_client_frame_closes_1002(tmp_path):
    landing = str(tmp_path)
    with WebSocketLandingServer(landing) as server:
        s = _connect(server)
        s.sendall(encode_frame(b"naked"))  # no mask: protocol error
        fin, opcode, _, payload = decode_frame(s)
        assert opcode == 0x8
        assert struct.unpack(">H", payload[:2])[0] == 1002
        s.close()
        time.sleep(0.1)
        assert glob.glob(f"{landing}/*") == []
