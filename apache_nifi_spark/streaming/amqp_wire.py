"""PublishAMQP / ConsumeAMQP over the REAL AMQP 0-9-1 wire (§2.1/§2.2).

``streaming/amqp_bus`` already implements the exchange ROUTING semantics
(direct/fanout/topic bindings as Catalyst predicates on the file bus);
this module adds the protocol layer so the hop is actual 0-9-1 frames —
completing the connector-tier pattern (FTP, IMAP, SMTP, RELP, Mongo,
MQTT, …):

- **Framing** (public spec, amqp.org 0-9-1): frames are
  ``type(1) channel(2) size(4) payload frame-end(0xCE)`` with method
  payloads ``class-id(2) method-id(2) args``; content = method frame +
  content-HEADER frame (class, weight, body size, property flags) +
  BODY frame(s).
- **Handshake**: protocol header ``AMQP\\x00\\x00\\x09\\x01`` →
  Connection.Start/StartOk (PLAIN) → Tune/TuneOk → Open/OpenOk →
  Channel.Open/OpenOk → Confirm.Select/SelectOk.
- **Publisher confirms**: every Basic.Publish is answered with
  Basic.Ack (delivery-tag echo) — the at-least-once contract
  PublishAMQP relies on, mirroring the MQTT QoS1 tier.
- **MiniAmqpBroker**: threaded server speaking the above; published
  messages land per connection as ``exchange<TAB>routing_key<TAB>payload``
  batches (the landing contract in ``streaming/listen.py``), so ConsumeAMQP's
  drain is a distributed scan with ``amqp_bus.binding_matches`` applied
  Spark-side — identical routing semantics, real transport.

Scale: one connection per executor partition, confirms awaited; the
broker tier is swappable for a real deployment, the frames are not.
"""

from __future__ import annotations

import contextlib
import socket
import struct

from apache_nifi_spark import net
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["MiniAmqpBroker", "publish_amqp"]

_PROTO_HEADER = b"AMQP\x00\x00\x09\x01"
_FRAME_METHOD, _FRAME_HEADER, _FRAME_BODY, _FRAME_END = 1, 2, 3, 0xCE


def _shortstr(s: str) -> bytes:
    b = s.encode("utf-8")
    if len(b) > 255:
        raise ValueError("shortstr too long")
    return bytes([len(b)]) + b


def _longstr(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


def _frame(ftype: int, channel: int, payload: bytes) -> bytes:
    return (
        struct.pack(">BHI", ftype, channel, len(payload))
        + payload
        + bytes([_FRAME_END])
    )


def _method(channel: int, cls: int, meth: int, args: bytes = b"") -> bytes:
    return _frame(_FRAME_METHOD, channel, struct.pack(">HH", cls, meth) + args)


def _read_frame(f) -> tuple[int, int, bytes]:
    ftype, channel, size = struct.unpack(">BHI", net.read_exact(f.read, 7))
    payload = net.read_exact(f.read, size)
    if net.read_exact(f.read, 1)[0] != _FRAME_END:
        raise ValueError("missing frame-end octet")
    return ftype, channel, payload


def _parse_shortstr(buf: bytes, pos: int) -> tuple[str, int]:
    n = buf[pos]
    return buf[pos + 1 : pos + 1 + n].decode("utf-8"), pos + 1 + n


class MiniAmqpBroker(net.Server):
    """0-9-1 server: handshake, channel, publisher confirms, durable
    landing of published content."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".log")
        super().__init__(self._serve, host, port)

    def _serve(self, conn: socket.socket) -> None:
        f = conn.makefile("rwb")
        batch: list[bytes] = []
        pending: dict | None = None  # publish awaiting header/body
        delivery_tag = 0
        try:
            if net.read_exact(f.read, 8) != _PROTO_HEADER:
                f.write(_PROTO_HEADER)  # spec: answer with supported version
                return
            # Connection.Start: ver 0.9, empty server-properties table,
            # PLAIN mechanism, en_US locale
            f.write(
                _method(
                    0, 10, 10,
                    bytes([0, 9]) + struct.pack(">I", 0)
                    + _longstr(b"PLAIN") + _longstr(b"en_US"),
                )
            )
            f.flush()
            while True:
                ftype, channel, payload = _read_frame(f)
                if ftype == _FRAME_METHOD:
                    cls, meth = struct.unpack_from(">HH", payload, 0)
                    if (cls, meth) == (10, 11):  # StartOk → Tune
                        f.write(
                            _method(
                                0, 10, 30,
                                struct.pack(">HIH", 0, 131072, 0),
                            )
                        )
                        f.flush()
                    elif (cls, meth) == (10, 31):  # TuneOk: no reply
                        pass
                    elif (cls, meth) == (10, 40):  # Open → OpenOk
                        f.write(_method(0, 10, 41, _shortstr("")))
                        f.flush()
                    elif (cls, meth) == (10, 50):  # Connection.Close → CloseOk
                        f.write(_method(0, 10, 51))
                        f.flush()
                        break
                    elif (cls, meth) == (20, 10):  # Channel.Open → OpenOk
                        f.write(_method(channel, 20, 11, _longstr(b"")))
                        f.flush()
                    elif (cls, meth) == (85, 10):  # Confirm.Select → SelectOk
                        f.write(_method(channel, 85, 11))
                        f.flush()
                    elif (cls, meth) == (60, 40):  # Basic.Publish
                        pos = 4 + 2  # skip class/method + reserved short
                        exchange, pos = _parse_shortstr(payload, pos)
                        rkey, pos = _parse_shortstr(payload, pos)
                        pending = {
                            "exchange": exchange, "rkey": rkey,
                            "size": None, "body": b"",
                        }
                    else:
                        raise ValueError(f"unsupported method {cls}.{meth}")
                elif ftype == _FRAME_HEADER and pending is not None:
                    _cls, _weight, size = struct.unpack_from(">HHQ", payload, 0)
                    pending["size"] = size
                    if size == 0:
                        delivery_tag = self._complete(
                            f, channel, pending, batch, delivery_tag
                        )
                        pending = None
                elif ftype == _FRAME_BODY and pending is not None:
                    pending["body"] += payload
                    if len(pending["body"]) >= (pending["size"] or 0):
                        delivery_tag = self._complete(
                            f, channel, pending, batch, delivery_tag
                        )
                        pending = None
                elif ftype == 8:  # heartbeat
                    f.write(_frame(8, 0, b""))
                    f.flush()
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

    def _complete(self, f, channel, pending, batch, delivery_tag) -> int:
        esc = Landing.escape(pending["body"]).replace(b"\t", b"\\t")
        batch.append(
            pending["exchange"].encode() + b"\t"
            + pending["rkey"].encode() + b"\t" + esc
        )
        delivery_tag += 1
        # publisher confirm: Basic.Ack(delivery-tag, multiple=0)
        f.write(_method(channel, 60, 80, struct.pack(">QB", delivery_tag, 0)))
        f.flush()
        return delivery_tag


class _AmqpClient:
    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self._tag = 0
        with contextlib.ExitStack() as on_error:  # close both if refused
            self._sock = on_error.enter_context(net.connect(host, port, timeout))
            self._f = on_error.enter_context(self._sock.makefile("rwb"))
            self._f.write(_PROTO_HEADER)
            self._f.flush()
            self._expect(10, 10)  # Connection.Start
            self._send(
                0, 10, 11,
                struct.pack(">I", 0) + _shortstr("PLAIN")
                + _longstr(b"\x00guest\x00guest") + _shortstr("en_US"),
            )
            self._expect(10, 30)  # Tune
            self._send(0, 10, 31, struct.pack(">HIH", 0, 131072, 0))
            self._send(0, 10, 40, _shortstr("/") + _shortstr("") + b"\x00")
            self._expect(10, 41)  # OpenOk
            self._send(1, 20, 10, _shortstr(""))
            self._expect(20, 11)  # Channel.OpenOk
            self._send(1, 85, 10, b"\x00")  # Confirm.Select (nowait=0)
            self._expect(85, 11)
            on_error.pop_all()

    def _send(self, channel: int, cls: int, meth: int, args: bytes = b"") -> None:
        self._f.write(_method(channel, cls, meth, args))
        self._f.flush()

    def _expect(self, cls: int, meth: int) -> bytes:
        ftype, _ch, payload = _read_frame(self._f)
        got = struct.unpack_from(">HH", payload, 0)
        if ftype != _FRAME_METHOD or got != (cls, meth):
            raise ConnectionError(f"expected {cls}.{meth}, got {got}")
        return payload[4:]

    def publish(self, exchange: str, routing_key: str, body: bytes) -> None:
        args = (
            struct.pack(">H", 0) + _shortstr(exchange)
            + _shortstr(routing_key) + b"\x00"
        )
        self._f.write(_method(1, 60, 40, args))
        # content header: class 60, weight 0, body size, no properties
        self._f.write(
            _frame(_FRAME_HEADER, 1, struct.pack(">HHQH", 60, 0, len(body), 0))
        )
        if body:
            self._f.write(_frame(_FRAME_BODY, 1, body))
        self._f.flush()
        self._tag += 1
        ack = self._expect(60, 80)  # Basic.Ack
        (tag,) = struct.unpack_from(">Q", ack, 0)
        if tag != self._tag:
            raise ConnectionError(f"confirm tag mismatch {tag} != {self._tag}")

    def close(self) -> None:
        try:
            self._send(0, 10, 50, struct.pack(">H", 0) + _shortstr("") + struct.pack(">HH", 0, 0))
            self._expect(10, 51)
        except (OSError, ConnectionError):
            pass
        finally:
            try:
                self._f.close()
            finally:
                self._sock.close()


def publish_amqp(df, host: str, port: int, exchange: str,
                 routing_key_col: str, payload_col: str):
    """One 0-9-1 connection per partition; every publish waits for its
    Basic.Ack confirm (at-least-once); appends ``published``."""
    from apache_nifi_spark.io import with_columns

    def run(batches):
        client = None
        try:
            for keys, payloads in batches:
                oks = []
                for rk, payload in zip(keys, payloads):
                    try:
                        if client is None:
                            client = _AmqpClient(host, port)
                        body = (
                            payload if isinstance(payload, bytes)
                            else str(payload).encode()
                        )
                        client.publish(exchange, str(rk), body)
                        oks.append(True)
                    except (OSError, ConnectionError, ValueError):
                        client = None
                        oks.append(False)
                yield oks,
        finally:
            if client is not None:
                client.close()

    return with_columns(df, [routing_key_col, payload_col], run, "published boolean")
