"""ConsumeMQTT / PublishMQTT over the REAL MQTT 3.1.1 wire (§2.1/§2.2).

``functions/selectors.mqtt_topic_matches`` already compiles the
consumer's ``+``/``#`` topic filters to Catalyst predicates; this module
adds the transport so the hop is actual protocol bytes — the same
pattern as the FTP/IMAP/SMTP/RELP/Mongo tiers:

- **MiniMqttBroker**: threaded TCP server speaking the 3.1.1 framing —
  CONNECT→CONNACK (protocol name/level verified), PUBLISH QoS0/QoS1
  (QoS1 answers PUBACK with the packet id — the at-least-once contract
  NiFi's PublishMQTT uses), PINGREQ→PINGRESP, DISCONNECT.  Messages
  land per connection as batch files of ``topic<TAB>payload`` lines
  (the landing contract in ``streaming/listen.py``, flushed on
  DISCONNECT/close), so ConsumeMQTT's drain is a distributed text scan
  with the topic-filter predicate applied Spark-side.
- **publish_mqtt**: the per-partition client — one CONNECT per
  partition, one PUBLISH per row with the PUBACK awaited; appends
  ``published``.

Remaining-length varints, length-prefixed UTF-8 strings, and packet-id
echo are all real framing, unit-tested against adversarial payloads.
"""

from __future__ import annotations

import contextlib
import socket
import struct
import uuid

from apache_nifi_spark import net
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["MiniMqttBroker", "publish_mqtt"]

_CONNECT, _CONNACK = 1, 2
_PUBLISH, _PUBACK = 3, 4
_PINGREQ, _PINGRESP = 12, 13
_DISCONNECT = 14


def _encode_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n % 128
        n //= 128
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _read_varint(f) -> int:
    mult, value = 1, 0
    for _ in range(4):
        data = f.read(1)
        if not data:
            raise ConnectionError("EOF in varint")
        b = data[0]
        value += (b & 0x7F) * mult
        if not b & 0x80:
            return value
        mult *= 128
    raise ValueError("malformed remaining length")


def _mqtt_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _packet(ptype: int, flags: int, body: bytes) -> bytes:
    return bytes([(ptype << 4) | flags]) + _encode_varint(len(body)) + body


class MiniMqttBroker(net.Server):
    """3.1.1 broker: lands published messages durably per connection."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".log")
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")
        batch: list[bytes] = []
        try:
            while True:
                head = f.read(1)
                if not head:
                    break
                ptype, flags = head[0] >> 4, head[0] & 0x0F
                body = net.read_exact(f.read, _read_varint(f))
                if ptype == _CONNECT:
                    (nlen,) = struct.unpack_from(">H", body, 0)
                    proto = body[2 : 2 + nlen].decode()
                    level = body[2 + nlen]
                    rc = 0 if (proto == "MQTT" and level == 4) else 1
                    f.write(_packet(_CONNACK, 0, bytes([0, rc])))
                    f.flush()
                    if rc:
                        break
                elif ptype == _PUBLISH:
                    qos = (flags >> 1) & 0x03
                    (tlen,) = struct.unpack_from(">H", body, 0)
                    topic = body[2 : 2 + tlen].decode("utf-8")
                    pos = 2 + tlen
                    pid = None
                    if qos:
                        (pid,) = struct.unpack_from(">H", body, pos)
                        pos += 2
                    payload = body[pos:]
                    esc = Landing.escape(payload).replace(b"\t", b"\\t")
                    batch.append(topic.encode("utf-8") + b"\t" + esc)
                    if qos == 1 and pid is not None:
                        f.write(_packet(_PUBACK, 0, struct.pack(">H", pid)))
                        f.flush()
                elif ptype == _PINGREQ:
                    f.write(_packet(_PINGRESP, 0, b""))
                    f.flush()
                elif ptype == _DISCONNECT:
                    break
        except (ConnectionError, ValueError, OSError):
            pass
        finally:
            if batch:
                self.landing.publish_lines(batch)
            try:
                f.close()
            except OSError:
                pass
            conn.close()


class _MqttClient:
    def __init__(self, host: str, port: int, client_id: str, timeout: float = 10.0):
        self._pid = 0
        body = (
            _mqtt_str("MQTT")
            + bytes([4])          # protocol level 3.1.1
            + bytes([0x02])       # clean session
            + struct.pack(">H", 30)
            + _mqtt_str(client_id)
        )
        with contextlib.ExitStack() as on_error:  # close both if refused
            self._sock = on_error.enter_context(net.connect(host, port, timeout))
            self._f = on_error.enter_context(self._sock.makefile("rwb"))
            self._f.write(_packet(_CONNECT, 0, body))
            self._f.flush()
            head = net.read_exact(self._f.read, 1)
            rest = net.read_exact(self._f.read, _read_varint(self._f))
            if head[0] >> 4 != _CONNACK or rest[1] != 0:
                raise ConnectionError(f"CONNACK refused: {rest!r}")
            on_error.pop_all()

    def publish_qos1(self, topic: str, payload: bytes) -> None:
        self._pid = (self._pid % 65535) + 1
        body = _mqtt_str(topic) + struct.pack(">H", self._pid) + payload
        self._f.write(_packet(_PUBLISH, 0x02, body))  # QoS1
        self._f.flush()
        head = net.read_exact(self._f.read, 1)
        rest = net.read_exact(self._f.read, _read_varint(self._f))
        if head[0] >> 4 != _PUBACK or struct.unpack(">H", rest[:2])[0] != self._pid:
            raise ConnectionError("PUBACK mismatch")

    def close(self) -> None:
        try:
            self._f.write(_packet(_DISCONNECT, 0, b""))
            self._f.flush()
        except OSError:
            pass
        finally:
            try:
                self._f.close()
            finally:
                self._sock.close()


def publish_mqtt(df, host: str, port: int, topic_col: str, payload_col: str):
    """One wire connection per partition; one QoS1 PUBLISH per row with
    the PUBACK awaited (at-least-once, NiFi's PublishMQTT contract);
    appends ``published``."""
    from apache_nifi_spark.io import with_columns

    def run(batches):
        client = None
        try:
            for topics, payloads in batches:
                oks = []
                for topic, payload in zip(topics, payloads):
                    try:
                        if client is None:
                            client = _MqttClient(
                                host, port, f"pub-{uuid.uuid4().hex[:8]}"
                            )
                        body = (
                            payload
                            if isinstance(payload, bytes)
                            else str(payload).encode()
                        )
                        client.publish_qos1(str(topic), body)
                        oks.append(True)
                    except (OSError, ConnectionError):
                        client = None
                        oks.append(False)
                yield oks,
        finally:
            if client is not None:
                client.close()

    return with_columns(df, [topic_col, payload_col], run, "published boolean")
