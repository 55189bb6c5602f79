"""RESP2 wire protocol: codec round-trips (including binary payloads and
CRLF-bearing values the line parser must not split on), server command
semantics, pipelining order, and the Spark put/fetch round-trip."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from apache_nifi_spark.streaming.redis_wire import (
    MiniRedisServer,
    RedisClient,
    fetch_redis_cache,
    put_redis_cache,
    resp_encode,
)


@pytest.fixture(scope="module")
def server():
    with MiniRedisServer() as s:
        yield s


def test_basic_command_semantics(server):
    c = RedisClient("127.0.0.1", server.port)
    try:
        c.command(b"FLUSHDB")
        assert c.command(b"PING") == b"PONG"
        assert c.command(b"SET", b"k1", b"v1") == b"OK"
        assert c.command(b"GET", b"k1") == b"v1"
        assert c.command(b"GET", b"missing") is None
        assert c.command(b"EXISTS", b"k1", b"missing") == 1
        assert c.command(b"HSET", b"h", b"f1", b"a", b"f2", b"b") == 2
        assert c.command(b"HSET", b"h", b"f1", b"a2") == 0  # overwrite
        assert c.command(b"HGET", b"h", b"f1") == b"a2"
        flat = c.command(b"HGETALL", b"h")
        assert dict(zip(flat[::2], flat[1::2])) == {b"f1": b"a2", b"f2": b"b"}
        assert c.command(b"DBSIZE") == 2
        assert c.command(b"KEYS", b"*") == [b"h", b"k1"]
        assert c.command(b"DEL", b"k1", b"h", b"missing") == 2
        assert c.command(b"DBSIZE") == 0
        with pytest.raises(ValueError, match="redis error"):
            c.command(b"BOGUS")
    finally:
        c.close()


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.binary(min_size=1, max_size=40), st.binary(max_size=80)),
        min_size=1,
        max_size=12,
        unique_by=lambda kv: kv[0],
    )
)
def test_resp_roundtrip_binary_safe(server, kvs):
    """SET/GET round-trips arbitrary binary — keys and values containing
    CRLF, RESP type bytes, or NULs must survive (length-prefixed bulk
    framing, never delimiter parsing)."""
    c = RedisClient("127.0.0.1", server.port)
    try:
        c.command(b"FLUSHDB")
        for k, v in kvs:
            assert c.command(b"SET", k, v) == b"OK"
        for k, v in kvs:
            assert c.command(b"GET", k) == v
        assert c.command(b"DBSIZE") == len(kvs)
    finally:
        c.close()


def test_pipeline_preserves_order(server):
    c = RedisClient("127.0.0.1", server.port)
    try:
        c.command(b"FLUSHDB")
        cmds = [[b"SET", b"p%d" % i, b"v%d" % i] for i in range(50)]
        cmds += [[b"GET", b"p%d" % i] for i in range(50)]
        replies = c.pipeline(cmds)
        assert replies[:50] == [b"OK"] * 50
        assert replies[50:] == [b"v%d" % i for i in range(50)]
    finally:
        c.close()


def test_spark_put_fetch_roundtrip(spark, server):
    c = RedisClient("127.0.0.1", server.port)
    c.command(b"FLUSHDB")
    c.close()
    kv = spark.createDataFrame(
        [(str(i), f"val-{i}") for i in range(40)], ["k", "v"]
    )
    put = put_redis_cache(kv.repartition(8), "127.0.0.1", server.port, "k", "v")
    assert put.filter("cached").count() == 40
    probe = spark.createDataFrame(
        [(str(i),) for i in range(45)], ["k"]
    )
    got = {
        r["k"]: r["cache_value"]
        for r in fetch_redis_cache(probe, "127.0.0.1", server.port, "k").collect()
    }
    assert got["7"] == "val-7"
    assert got["44"] is None  # miss -> NULL
    assert sum(v is not None for v in got.values()) == 40
