"""Transport kernel (``apache_nifi_spark.net``): every in-process server
is a ``net.Server`` or ``net.UdpServer`` that serves from construction
until ``stop()``/``with``, reaps idle connections and refuses new ones
once it is stopped; registry queries own their servers for exactly one
run; wire clients close their socket when a handshake is refused."""

from __future__ import annotations

import ast
import http.client
import pathlib
import socket
import struct
import threading
import time
import urllib.parse

import pytest

import apache_nifi_spark
from apache_nifi_spark import net
from apache_nifi_spark.plans.prometheus import MetricsEndpoint
from apache_nifi_spark.plans.rest_api import NiFiApiServer
from apache_nifi_spark.sources.dns_wire import MiniDnsServer
from apache_nifi_spark.sources.ftp import MiniFtpServer
from apache_nifi_spark.sources.imap import MiniImapServer, MiniPop3Server
from apache_nifi_spark.sources.mongo_wire import MiniMongoServer
from apache_nifi_spark.sources.schema_registry import MiniSchemaRegistry
from apache_nifi_spark.sources.sftp import MiniSftpServer
from apache_nifi_spark.sources.snmp import MiniSnmpAgent
from apache_nifi_spark.sources.ssh_transport import SshServer
from apache_nifi_spark.streaming import amqp_wire, mqtt, stomp
from apache_nifi_spark.streaming.amqp_wire import MiniAmqpBroker
from apache_nifi_spark.streaming.elastic_store import MiniElasticServer
from apache_nifi_spark.streaming.kafka_wire import MiniKafkaBroker
from apache_nifi_spark.streaming.listen import (
    HttpLandingListener,
    TcpLandingListener,
    UdpLandingListener,
)
from apache_nifi_spark.streaming.map_cache import MapCacheServer
from apache_nifi_spark.streaming.mqtt import MiniMqttBroker
from apache_nifi_spark.streaming.redis_wire import MiniRedisServer
from apache_nifi_spark.streaming.relp import RelpLandingListener
from apache_nifi_spark.streaming.s2s_wire import SiteToSiteServer
from apache_nifi_spark.streaming.smtp import MiniSmtpServer
from apache_nifi_spark.streaming.stomp import MiniStompBroker
from apache_nifi_spark.streaming.tls import generate_self_signed
from apache_nifi_spark.streaming.web_service import HttpRequestResponseService
from apache_nifi_spark.streaming.websocket import WebSocketLandingServer


@pytest.fixture(scope="module")
def certs():
    return generate_self_signed()


# kind → build(landing_dir, certs)
SERVERS = {
    "imap": lambda d, c: MiniImapServer(),
    "pop3": lambda d, c: MiniPop3Server(),
    "mongo": lambda d, c: MiniMongoServer(d),
    "ssh": lambda d, c: SshServer(b"\x01" * 32, {"u": "p"}, {}),
    "sftp": lambda d, c: MiniSftpServer(d),
    "amqp": lambda d, c: MiniAmqpBroker(d),
    "kafka": lambda d, c: MiniKafkaBroker(),
    "map_cache": lambda d, c: MapCacheServer(),
    "mqtt": lambda d, c: MiniMqttBroker(d),
    "redis": lambda d, c: MiniRedisServer(),
    "relp": lambda d, c: RelpLandingListener(d),
    "s2s": lambda d, c: SiteToSiteServer(d, *c),
    "smtp": lambda d, c: MiniSmtpServer(d),
    "stomp": lambda d, c: MiniStompBroker(d),
    "websocket": lambda d, c: WebSocketLandingServer(d),
    "ftp": lambda d, c: MiniFtpServer(d),
    "tcp_landing": lambda d, c: TcpLandingListener(d),
    "http_landing": lambda d, c: HttpLandingListener(d),
    "web_service": lambda d, c: HttpRequestResponseService(None, lambda df: df, "v string"),
    "elastic": lambda d, c: MiniElasticServer(d),
    "prometheus": lambda d, c: MetricsEndpoint(),
    "schema_registry": lambda d, c: MiniSchemaRegistry(),
    "rest_api": lambda d, c: NiFiApiServer(None, d),
}

# kind → (build(landing_dir), a request datagram)
UDP_SERVERS = {
    "udp_landing": (lambda d: UdpLandingListener(d), b"<14>hello"),
    "dns": (lambda d: MiniDnsServer({"a.example": "10.0.0.1"}), b"\x00\x01"),
    "snmp": (lambda d: MiniSnmpAgent({}), b"\x30\x00"),
}


@pytest.mark.parametrize("kind", sorted(SERVERS))
def test_stopped_server_refuses_new_connections(kind, tmp_path, certs):
    with SERVERS[kind](str(tmp_path), certs) as srv:
        assert isinstance(srv, net.Server)
        socket.create_connection(("127.0.0.1", srv.port), timeout=2).close()
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", srv.port), timeout=2).close()


@pytest.mark.parametrize("kind", sorted(UDP_SERVERS))
def test_stopped_udp_server_ends_its_thread_and_frees_its_port(kind, tmp_path):
    build, datagram = UDP_SERVERS[kind]
    with build(str(tmp_path)) as srv:
        assert isinstance(srv, net.UdpServer)
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as c:
            c.sendto(datagram, ("127.0.0.1", srv.port))
        receiver = srv._thread
        assert receiver.is_alive()
    left = time.monotonic()
    receiver.join(timeout=1)
    assert not receiver.is_alive() and time.monotonic() - left < 1
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.bind(("127.0.0.1", srv.port))


def test_idle_connections_are_reaped(monkeypatch):
    monkeypatch.setattr(net, "IDLE_TIMEOUT", 0.5)
    with MetricsEndpoint() as web, MiniRedisServer() as raw:
        # one keep-alive HTTP exchange, then the connection idles
        u = urllib.parse.urlsplit(web.url)
        conn = http.client.HTTPConnection(u.hostname, u.port, timeout=5)
        conn.request("GET", "/metrics")
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 200 and not resp.will_close
        # a raw TCP client that never sends a byte
        idle = socket.create_connection(("127.0.0.1", raw.port), timeout=5)
        # the server closes both: recv sees EOF before the 5 s client
        # timeout (without an idle timeout it never closes, and recv
        # raises TimeoutError)
        assert conn.sock.recv(1) == b""
        assert idle.recv(1) == b""
        conn.close()
        idle.close()


# client → (connect(port), the refusing peer's answer to its hello)
CLIENTS = {
    "mqtt": (
        lambda port: mqtt._MqttClient("127.0.0.1", port, "c"),
        bytes([mqtt._CONNACK << 4, 2, 0, 1]),  # CONNACK, refused
    ),
    "amqp": (
        lambda port: amqp_wire._AmqpClient("127.0.0.1", port),
        amqp_wire._method(0, 10, 50),  # Connection.Close, not Start
    ),
    "stomp": (
        lambda port: stomp._StompClient("127.0.0.1", port),
        stomp._frame("ERROR", {"message": "refused"}),
    ),
}


@pytest.mark.parametrize("kind", sorted(CLIENTS))
def test_client_closes_its_socket_on_a_refused_handshake(kind, monkeypatch):
    connect, answer = CLIENTS[kind]

    def refuse(conn: socket.socket) -> None:
        conn.recv(4096)  # the client's hello
        conn.sendall(answer)

    opened = []

    def recording_connect(*args):
        opened.append(real_connect(*args))
        return opened[-1]

    real_connect = net.connect
    monkeypatch.setattr(net, "connect", recording_connect)
    with net.Server(refuse) as peer, pytest.raises(ConnectionError):
        connect(peer.port)
    assert len(opened) == 1 and opened[0].fileno() == -1


def _settled_thread_count(target: int, timeout: float = 5.0) -> int:
    """The live thread count once it drops to ``target`` (a connection's
    thread ends just after its handler returns), or after ``timeout``."""
    deadline = time.monotonic() + timeout
    while threading.active_count() > target and time.monotonic() < deadline:
        time.sleep(0.05)
    return threading.active_count()


def test_listener_queries_stop_their_servers(spark, sf_dir, monkeypatch):
    """Two runs each of a TCP and a UDP listener query leave no thread
    behind, and every run's port is closed again."""
    from apache_nifi_spark.registry import QUERIES
    from apache_nifi_spark.streaming import listen

    built = []

    def recording(cls):
        class Recording(cls):
            def __init__(self, *args, **kwargs):
                super().__init__(*args, **kwargs)
                built.append(self)

        return Recording

    for cls in (listen.TcpLandingListener, listen.UdpLandingListener):
        monkeypatch.setattr(listen, cls.__name__, recording(cls))
    before = threading.active_count()
    for _ in range(2):
        for name in ("put_tcp_listen_roundtrip", "put_syslog_udp_roundtrip"):
            assert QUERIES[name](spark, sf_dir).count() > 0
    assert _settled_thread_count(before) == before
    assert len(built) == 4
    for srv in built:
        if isinstance(srv, net.UdpServer):
            with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
                s.bind(("127.0.0.1", srv.port))
        else:
            with pytest.raises(ConnectionRefusedError):
                socket.create_connection(("127.0.0.1", srv.port), timeout=2).close()


# process-lifetime stagings a registry query may build outside a `with`
STAGINGS = {"_staged_echo_server", "_staged_dns", "_staged_snmp", "_staged_ftp", "_staged_sftp"}


def _name(node: ast.expr) -> str | None:
    return node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)


def _datagram_binds(scope: ast.AST) -> list[int]:
    """Lines in ``scope`` that ``bind`` a socket made with ``SOCK_DGRAM``."""
    dgram = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Assign):
            pairs = [(node.value, target) for target in node.targets]
        elif isinstance(node, ast.withitem) and node.optional_vars is not None:
            pairs = [(node.context_expr, node.optional_vars)]
        else:
            continue
        dgram |= {
            ast.unparse(target)
            for value, target in pairs
            if any(_name(n) == "SOCK_DGRAM" for n in ast.walk(value))
        }
    return [
        node.lineno
        for node in ast.walk(scope)
        if isinstance(node, ast.Call)
        and _name(node.func) == "bind"
        and ast.unparse(node.func.value) in dgram
    ]


def test_one_server_kernel():
    """Only ``net.py`` binds a server socket; no class wraps a server in
    an attribute (it subclasses the kernel instead); and every server a
    registry query builds is a ``with`` item, but for the named
    process-lifetime stagings."""
    root = pathlib.Path(apache_nifi_spark.__file__).parent
    trees = {p.relative_to(root): ast.parse(p.read_text()) for p in sorted(root.rglob("*.py"))}
    servers = {"Server", "UdpServer"}
    grew = True
    while grew:
        grew = False
        for tree in trees.values():
            for cls in ast.walk(tree):
                if isinstance(cls, ast.ClassDef) and cls.name not in servers:
                    if any(_name(b) in servers for b in cls.bases):
                        servers.add(cls.name)
                        grew = True
    assert len(servers) > 20, sorted(servers)

    def builds_server(node: ast.AST) -> bool:
        return isinstance(node, ast.Call) and _name(node.func) in servers

    offenders = []
    for rel, tree in trees.items():
        if rel.name != "net.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and _name(node.func) == "create_server":
                    offenders.append(f"{rel}:{node.lineno}: create_server")
            binds = {
                line
                for scope in ast.walk(tree)
                if isinstance(scope, (ast.FunctionDef, ast.ClassDef))
                for line in _datagram_binds(scope)
            }
            offenders += [f"{rel}:{line}: binds a datagram socket" for line in sorted(binds)]
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef):
                offenders += [
                    f"{rel}:{node.lineno}: {cls.name} stores a server in an attribute"
                    for node in ast.walk(cls)
                    if isinstance(node, ast.Assign)
                    and builds_server(node.value)
                    and any(isinstance(t, ast.Attribute) for t in node.targets)
                ]
        if rel.name.startswith("registry"):
            for fn in tree.body:
                if not isinstance(fn, ast.FunctionDef) or fn.name in STAGINGS:
                    continue
                items = {
                    id(item.context_expr)
                    for node in ast.walk(fn)
                    if isinstance(node, ast.With)
                    for item in node.items
                }
                offenders += [
                    f"{rel}:{node.lineno}: {fn.name} builds {_name(node.func)} outside a with"
                    for node in ast.walk(fn)
                    if builds_server(node) and id(node) not in items
                ]
    assert not offenders, offenders


def test_udp_reply_and_bad_datagram():
    """A handler's return value is the reply; a handler that raises drops
    that datagram and the server keeps serving."""

    def echo(data: bytes, _addr) -> bytes:
        (n,) = struct.unpack(">I", data)
        return struct.pack(">I", n + 1)

    with net.UdpServer(echo) as srv, socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as c:
        c.settimeout(5)
        c.sendto(b"bad", ("127.0.0.1", srv.port))
        c.sendto(struct.pack(">I", 41), ("127.0.0.1", srv.port))
        assert c.recvfrom(16)[0] == struct.pack(">I", 42)
