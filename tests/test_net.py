"""Transport kernel (``apache_nifi_spark.net``): every in-process server
reaps idle connections and refuses new ones once it is stopped."""

from __future__ import annotations

import http.client
import socket
import urllib.parse

import pytest

from apache_nifi_spark import net
from apache_nifi_spark.plans.prometheus import MetricsEndpoint
from apache_nifi_spark.plans.rest_api import NiFiApiServer
from apache_nifi_spark.sources.ftp import MiniFtpServer
from apache_nifi_spark.sources.imap import MiniImapServer, MiniPop3Server
from apache_nifi_spark.sources.mongo_wire import MiniMongoServer
from apache_nifi_spark.sources.schema_registry import MiniSchemaRegistry
from apache_nifi_spark.sources.ssh_transport import SshServer
from apache_nifi_spark.streaming.amqp_wire import MiniAmqpBroker
from apache_nifi_spark.streaming.elastic_store import MiniElasticServer
from apache_nifi_spark.streaming.kafka_wire import MiniKafkaBroker
from apache_nifi_spark.streaming.listen import HttpLandingListener, TcpLandingListener
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


# kind → (build(landing_dir, certs), how the public API shuts it down)
SERVERS = {
    "imap": (lambda d, c: MiniImapServer(), "stop"),
    "pop3": (lambda d, c: MiniPop3Server(), "stop"),
    "mongo": (lambda d, c: MiniMongoServer(d), "stop"),
    "ssh": (lambda d, c: SshServer(b"\x01" * 32, {"u": "p"}, {}), "stop"),
    "amqp": (lambda d, c: MiniAmqpBroker(d), "stop"),
    "kafka": (lambda d, c: MiniKafkaBroker(), "stop"),
    "map_cache": (lambda d, c: MapCacheServer(), "stop"),
    "mqtt": (lambda d, c: MiniMqttBroker(d), "stop"),
    "redis": (lambda d, c: MiniRedisServer(), "stop"),
    "relp": (lambda d, c: RelpLandingListener(d), "stop"),
    "s2s": (lambda d, c: SiteToSiteServer(d, *c), "stop"),
    "smtp": (lambda d, c: MiniSmtpServer(d), "stop"),
    "stomp": (lambda d, c: MiniStompBroker(d), "stop"),
    "websocket": (lambda d, c: WebSocketLandingServer(d), "stop"),
    "ftp": (lambda d, c: MiniFtpServer(d), "close"),
    "tcp_landing": (lambda d, c: TcpLandingListener(d), "stop"),
    "http_landing": (lambda d, c: HttpLandingListener(d).__enter__(), "__exit__"),
    "web_service": (
        lambda d, c: HttpRequestResponseService(None, lambda df: df, "v string").__enter__(),
        "__exit__",
    ),
    "elastic": (lambda d, c: MiniElasticServer(d), "stop"),
    "prometheus": (lambda d, c: MetricsEndpoint(), "stop"),
    "schema_registry": (lambda d, c: MiniSchemaRegistry(), "stop"),
    "rest_api": (lambda d, c: NiFiApiServer(None, d), "stop"),
}


def _port(srv) -> int:
    return srv.port if hasattr(srv, "port") else urllib.parse.urlsplit(srv.url).port


@pytest.mark.parametrize("kind", sorted(SERVERS))
def test_stopped_server_refuses_new_connections(kind, tmp_path, certs):
    build, how = SERVERS[kind]
    srv = build(str(tmp_path), certs)
    port = _port(srv)
    try:
        socket.create_connection(("127.0.0.1", port), timeout=2).close()
    finally:
        getattr(srv, how)(*((None,) * 3 if how == "__exit__" else ()))
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=2).close()


def test_idle_connections_are_reaped(monkeypatch):
    monkeypatch.setattr(net, "IDLE_TIMEOUT", 0.5)
    web = MetricsEndpoint()
    raw = MiniRedisServer()
    try:
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
    finally:
        web.stop()
        raw.stop()
