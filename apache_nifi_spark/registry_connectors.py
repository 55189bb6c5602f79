"""Connector-semantics closure tier (SURVEY.md §2.1/§2.2 final rows):
document-store / notification sinks rendering their exact wire
payloads, and the consumer-side predicate languages.

Split out of ``registry.py`` (round-12 verdict item 8).  Same
``@register`` decorator and ``QUERIES``/``ORACLES`` dicts; imported by
``apache_nifi_spark.registry`` at the end of its body.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_nifi_spark import io
from apache_nifi_spark.registry import (
    ORACLES,
    QUERIES,
    _davg,
    _dsum,
    _t,
    register,
)

# =====================================================================
# Connector-semantics closure (SURVEY.md §2.1/§2.2 final rows): the
# document-store / notification sinks render their exact wire payloads
# (sinks/wire.py), and the consumer-side predicate languages (MQTT topic
# filters, JMS selectors, Mongo query documents) compile to Catalyst
# predicates (functions/selectors.py).  The socket/client half of each
# connector is commodity I/O; the record-level semantics live here and
# are value-oracled.
# =====================================================================

@register(
    "put_elasticsearch_bulk",
    oracle="""
    SELECT o_orderkey AS orderkey,
           concat('{"index":{"_index":"orders","_id":"', CAST(o_orderkey AS VARCHAR), '"}}',
                  chr(10),
                  '{"orderkey":', CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR),
                  ',"status":"', o_orderstatus,
                  '","totalprice":', CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR),
                  ',"priority":"', o_orderpriority, '"}') AS bulk
    FROM orders WHERE o_orderkey < 2000
    """,
)
def put_elasticsearch_bulk_q(spark, sf_dir):
    """PutElasticsearchRecord (§2.2): render the exact ``_bulk`` NDJSON
    entry per record — action-and-metadata line + source line — as one
    codegen'd string expression (sinks/wire.es_bulk).  POSTing the
    concatenated lines is commodity HTTP (operators/http.py); the render
    IS the record-level work, and it is value-oracled byte-for-byte."""
    from apache_nifi_spark.sinks import wire

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        wire.es_bulk(
            "orders",
            F.col("o_orderkey"),
            [
                ("orderkey", wire.json_number(F.col("o_orderkey"))),
                ("status", wire.json_string(F.col("o_orderstatus"))),
                ("totalprice", wire.json_number(F.col("o_totalprice"), 2)),
                ("priority", wire.json_string(F.col("o_orderpriority"))),
            ],
        ).alias("bulk"),
    )


@register(
    "publish_amqp_wire_roundtrip",
    oracle="""
    SELECT event_type AS etype, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    WHERE event_id % 110 = 0 AND user_id % 3 = 1
    GROUP BY event_type
    """,
)
def publish_amqp_wire_q(spark, sf_dir):
    """PublishAMQP → broker → ConsumeAMQP over the REAL 0-9-1 wire
    (§2.1/§2.2): the full handshake (Start/Tune/Open/Channel/
    Confirm.Select), Basic.Publish with content header+body frames and
    every Basic.Ack confirm awaited (streaming/amqp_wire); the broker
    lands exchange/routing-key/payload batches durably; the consumer
    drains the landing dir and applies the ``region.*.u1`` TOPIC BINDING
    exactly as the exchange routes (streaming/amqp_bus.binding_matches),
    aggregating value-exact."""
    from apache_nifi_spark.streaming.amqp_bus import binding_matches
    from apache_nifi_spark.streaming.amqp_wire import MiniAmqpBroker, publish_amqp

    ev = io.widen_if_narrow(
        _t(spark, sf_dir, "events").filter(F.col("event_id") % 110 == 0)
    )
    msgs = ev.select(
        F.concat(
            F.lit("region."),
            F.col("event_type"),
            F.lit(".u"),
            (F.col("user_id") % 3).cast("string"),
        ).alias("rkey"),
        F.concat(
            F.col("event_id").cast("string"), F.lit(","), F.col("event_type")
        ).alias("payload"),
    )
    landing = io.scratch("anspark_amqp_")
    with MiniAmqpBroker(landing) as broker:
        sent = publish_amqp(msgs, "127.0.0.1", broker.port, "events", "rkey", "payload")
        n_sent = sent.filter("published").count()
        assert n_sent == ev.count()
        broker.landing.wait(n_sent)
    back = spark.read.text(landing).select(
        F.split("value", "\t", 3).alias("p")
    ).select(F.col("p")[1].alias("rkey"), F.col("p")[2].alias("payload"))
    consumed = back.filter(binding_matches(F.col("rkey"), "topic", "region.*.u1"))
    parsed = consumed.select(F.split("payload", ",", 2).alias("v")).select(
        F.col("v")[0].cast("bigint").alias("event_id"),
        F.col("v")[1].alias("etype"),
    )
    return parsed.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id")
    )


@register(
    "publish_mqtt_wire_roundtrip",
    oracle="""
    SELECT event_type AS etype, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    WHERE event_id % 120 = 0 AND user_id % 4 = 1
    GROUP BY event_type
    """,
)
def publish_mqtt_wire_q(spark, sf_dir):
    """PublishMQTT → broker → ConsumeMQTT over the REAL 3.1.1 wire
    (§2.1/§2.2): executor partitions each CONNECT once and PUBLISH QoS1
    per record with the PUBACK awaited (streaming/mqtt); the broker
    lands topic+payload batches durably; the consumer side drains the
    landing dir and applies the ``sensors/+/u1`` topic FILTER exactly as
    ConsumeMQTT's subscription does (functions/selectors), aggregating
    value-exact — frame encode → wire → land → filter is lossless."""
    from apache_nifi_spark.functions.selectors import mqtt_topic_matches
    from apache_nifi_spark.streaming.mqtt import MiniMqttBroker, publish_mqtt

    ev = io.widen_if_narrow(
        _t(spark, sf_dir, "events").filter(F.col("event_id") % 120 == 0)
    )
    msgs = ev.select(
        F.concat(
            F.lit("sensors/"),
            F.col("event_type"),
            F.lit("/u"),
            (F.col("user_id") % 4).cast("string"),
        ).alias("topic"),
        F.concat(
            F.col("event_id").cast("string"), F.lit(","), F.col("event_type")
        ).alias("payload"),
    )
    landing = io.scratch("anspark_mqtt_")
    with MiniMqttBroker(landing) as broker:
        sent = publish_mqtt(msgs, "127.0.0.1", broker.port, "topic", "payload")
        n_sent = sent.filter("published").count()
        assert n_sent == ev.count()
        broker.landing.wait(n_sent)
    back = spark.read.text(landing).select(
        F.split("value", "\t", 2).alias("p")
    ).select(
        F.col("p")[0].alias("topic"), F.col("p")[1].alias("payload")
    )
    consumed = back.filter(mqtt_topic_matches(F.col("topic"), "sensors/+/u1"))
    parsed = consumed.select(
        F.split("payload", ",", 2).alias("v")
    ).select(
        F.col("v")[0].cast("bigint").alias("event_id"),
        F.col("v")[1].alias("etype"),
    )
    return parsed.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id")
    )


@register(
    "put_elasticsearch_live",
    oracle="""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 90 = 0
    GROUP BY o_orderstatus
    """,
)
def put_elasticsearch_live_q(spark, sf_dir):
    """PutElasticsearchRecord delivered over the WIRE (§2.2): rendered
    ``_bulk`` NDJSON batches (one batched POST per partition, the real
    processor's batching shape) index into an Elasticsearch-compatible
    endpoint (streaming/elastic_store.MiniElasticServer) which lands
    each document durably; ``_count`` must equal the sent total and the
    landed documents must aggregate value-exact — render + bulk-POST +
    index is lossless end-to-end."""
    import json as _json
    import urllib.request

    from apache_nifi_spark.operators.http import post_http
    from apache_nifi_spark.sinks import wire
    from apache_nifi_spark.streaming.elastic_store import MiniElasticServer

    o = io.widen_if_narrow(
        _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 90 == 0)
    )
    rendered = o.select(
        wire.es_bulk(
            "orders",
            F.col("o_orderkey"),
            [
                ("orderkey", wire.json_number(F.col("o_orderkey"))),
                ("status", wire.json_string(F.col("o_orderstatus"))),
                ("totalprice", wire.json_number(F.col("o_totalprice"), 2)),
            ],
        ).alias("bulk")
    )
    # the processor's batching shape: ONE _bulk body per partition
    bodies = rendered.groupBy(F.spark_partition_id().alias("p")).agg(
        F.concat_ws("\n", F.collect_list("bulk")).alias("payload")
    )
    landing = io.scratch("anspark_es_")
    with MiniElasticServer(landing) as srv:
        sent = post_http(bodies, srv.url + "/_bulk", "payload")
        assert sent.filter(F.col("status") != 200).count() == 0
        n_docs = o.count()
        with urllib.request.urlopen(  # control-plane delivery assertion
            srv.url + "/orders/_count", timeout=10
        ) as r:
            assert _json.load(r)["count"] == n_docs
    back = spark.read.schema(
        "orderkey bigint, status string, totalprice double"
    ).json(landing)
    return back.groupBy(F.col("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("orderkey").alias("sum_key"),
        _dsum("totalprice", "sum_price"),
    )


@register(
    "put_mongo_wire_roundtrip",
    oracle="""
    SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_key
    FROM customer WHERE c_custkey % 25 = 0
    GROUP BY c_mktsegment
    """,
)
def put_mongo_wire_q(spark, sf_dir):
    """PutMongoRecord / GetMongo over the REAL MongoDB wire protocol
    (§2.1/§2.2): executor partitions each open one OP_MSG connection and
    batch-insert BSON documents (sources/mongo_wire — dependency-free
    BSON codec + OP_MSG client against the in-process server); the wire
    ``count`` must equal the sent total, a wire ``find`` smoke-reads,
    and the landed documents aggregate value-exact — the BSON encode →
    wire → decode → land loop is lossless."""
    from apache_nifi_spark.sources.mongo_wire import (
        MiniMongoServer,
        MongoWireClient,
        put_mongo_records,
    )

    c = io.widen_if_narrow(
        _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 25 == 0)
    ).select("c_custkey", "c_mktsegment")
    landing = io.scratch("anspark_mongo_")
    with MiniMongoServer(landing) as srv:
        sent = put_mongo_records(c, "127.0.0.1", srv.port, "customers")
        assert sent.filter(~F.col("inserted")).count() == 0
        probe = MongoWireClient("127.0.0.1", srv.port)  # control-plane
        try:
            assert probe.count("customers") == c.count()
            smoke = probe.find("customers", limit=3)
            assert len(smoke) == 3 and all("c_custkey" in d for d in smoke)
        finally:
            probe.close()
    back = spark.read.schema("c_custkey bigint, c_mktsegment string").json(landing)
    return back.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("c_custkey").alias("sum_key")
    )


@register(
    "put_mongo_extended_json",
    oracle="""
    SELECT c_custkey AS custkey,
           concat('{"_id":{"$numberLong":"', CAST(CAST(c_custkey AS BIGINT) AS VARCHAR), '"}',
                  ',"name":"', c_name,
                  '","nationkey":{"$numberLong":"', CAST(CAST(c_nationkey AS BIGINT) AS VARCHAR), '"}',
                  ',"acctbal":{"$numberDouble":"', CAST(CAST(c_acctbal AS DECIMAL(27,2)) AS VARCHAR), '"}',
                  ',"segment":"', c_mktsegment, '"}') AS doc
    FROM customer
    """,
)
def put_mongo_extended_json_q(spark, sf_dir):
    """PutMongoRecord (§2.2): canonical MongoDB Extended JSON v2 per
    record — the lossless BSON text form a Mongo client ingests —
    rendered columnar (sinks/wire.mongo_extended_json), typed per field
    exactly like a RecordSetWriter schema."""
    from apache_nifi_spark.sinks import wire

    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        wire.mongo_extended_json(
            F.col("c_custkey"),
            [
                ("name", "string", F.col("c_name"), None),
                ("nationkey", "long", F.col("c_nationkey"), None),
                ("acctbal", "double", F.col("c_acctbal"), 2),
                ("segment", "string", F.col("c_mktsegment"), None),
            ],
        ).alias("doc"),
    )


@register(
    "put_email_render",
    oracle="""
    SELECT o_orderkey AS orderkey,
           concat('From: noreply@engine.local', chr(13), chr(10),
                  'To: customer', CAST(o_custkey AS VARCHAR), '@example.com', chr(13), chr(10),
                  'Subject: Order ', CAST(o_orderkey AS VARCHAR), ' ', o_orderstatus, chr(13), chr(10),
                  'Date: ', strftime(o_orderdate, '%a, %-d %b %Y %H:%M:%S +0000'), chr(13), chr(10),
                  'MIME-Version: 1.0', chr(13), chr(10),
                  'Content-Type: text/plain; charset=utf-8', chr(13), chr(10),
                  'Content-Transfer-Encoding: base64', chr(13), chr(10), chr(13), chr(10),
                  -- body stays < 57 bytes so unchunked to_base64 equals Spark's
                  -- MIME encoder (which inserts CRLF every 76 output chars)
                  to_base64(encode(concat('Total ', CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR),
                                          ' priority ', o_orderpriority))),
                  chr(13), chr(10)) AS message
    FROM orders WHERE o_orderkey < 2000
    """,
)
def put_email_render_q(spark, sf_dir):
    """PutEmail (§2.2): the full RFC 5322 message (headers + RFC 2045
    base64 body) per record — what the processor hands its SMTP client —
    as one string expression (sinks/wire.email_mime), value-oracled
    including the RFC 5322 date render and the base64 transfer coding."""
    from apache_nifi_spark.sinks import wire

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    to = F.concat(F.lit("customer"), F.col("o_custkey").cast("string"), F.lit("@example.com"))
    subject = F.concat(
        F.lit("Order "), F.col("o_orderkey").cast("string"), F.lit(" "), F.col("o_orderstatus")
    )
    body = F.concat(
        F.lit("Total "),
        F.col("o_totalprice").cast("decimal(27,2)").cast("string"),
        F.lit(" priority "),
        F.col("o_orderpriority"),
    )
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        wire.email_mime(
            "noreply@engine.local", to, subject, F.col("o_orderdate"), body
        ).alias("message"),
    )


@register(
    "parse_netflow5_flows",
    oracle="""
    SELECT event_id,
           CAST(event_id % 100000 AS BIGINT) AS sys_uptime,
           CAST(1700000000 + event_id AS BIGINT) AS unix_secs,
           CAST(event_id AS BIGINT) AS flow_sequence,
           '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.'
                   || CAST(event_id % 256 AS VARCHAR) AS src_ip,
           '192.168.1.' || CAST(user_id % 200 AS VARCHAR) AS dst_ip,
           CAST(0 AS BIGINT) AS nexthop,
           CAST(1 AS BIGINT) AS input_if,
           CAST(2 AS BIGINT) AS output_if,
           CAST(1 + event_id % 1000 AS BIGINT) AS d_pkts,
           CAST(CAST(floor(abs(value) * 100) AS BIGINT) AS BIGINT) AS d_octets,
           CAST(event_id % 100000 AS BIGINT) AS first_ms,
           CAST(event_id % 100000 + 1000 AS BIGINT) AS last_ms,
           CAST(1024 + event_id % 40000 AS BIGINT) AS srcport,
           CAST(CASE WHEN event_type = 'error' THEN 443 ELSE 80 END AS BIGINT)
             AS dstport,
           CAST(27 AS BIGINT) AS tcp_flags,
           CAST(CASE WHEN event_type = 'click' THEN 17 ELSE 6 END AS BIGINT)
             AS proto,
           CAST(0 AS BIGINT) AS tos,
           CAST(64500 AS BIGINT) AS src_as,
           CAST(64501 AS BIGINT) AS dst_as,
           CAST(24 AS BIGINT) AS src_mask,
           CAST(24 AS BIGINT) AS dst_mask
    FROM events WHERE event_id % 5 = 0
    """,
)
def parse_netflow5_q(spark, sf_dir):
    """ParseNetflowv5 (§2.4 [nifi-network bundle]): v5 packets built
    columnar from events (hex-concat → unhex — no UDF) and parsed back
    columnar (count-driven record explode, conv(hex(substring)) reads,
    dotted-quad IPs).  The oracle states every expected field directly
    from the source rows, proving encode → parse is the identity over
    real big-endian packet bytes (functions/netflow.py)."""
    from apache_nifi_spark.functions.netflow import netflow5_packet, parse_netflow5

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    eid, uid = F.col("event_id"), F.col("user_id")
    fields = {
        "srcaddr": F.lit(10).cast("bigint") * 16777216
        + (uid % 256) * 256 + eid % 256,
        "dstaddr": F.lit(192).cast("bigint") * 16777216
        + F.lit(168) * 65536 + F.lit(1) * 256 + uid % 200,
        "nexthop": F.lit(0),
        "input_if": F.lit(1),
        "output_if": F.lit(2),
        "d_pkts": F.lit(1) + eid % 1000,
        "d_octets": F.floor(F.abs(F.col("value")) * 100).cast("bigint"),
        "first_ms": eid % 100000,
        "last_ms": eid % 100000 + 1000,
        "srcport": F.lit(1024) + eid % 40000,
        "dstport": F.when(F.col("event_type") == "error", 443).otherwise(80),
        "tcp_flags": F.lit(27),
        "proto": F.when(F.col("event_type") == "click", 17).otherwise(6),
        "tos": F.lit(0),
        "src_as": F.lit(64500),
        "dst_as": F.lit(64501),
        "src_mask": F.lit(24),
        "dst_mask": F.lit(24),
    }
    built = ev.select(
        "event_id",
        netflow5_packet(
            fields,
            sys_uptime=eid % 100000,
            unix_secs=F.lit(1700000000) + eid,
            flow_sequence=eid,
        ).alias("packet"),
    )
    return parse_netflow5(built, "packet")


def _parse_cef_oracle() -> str:
    from apache_nifi_spark.functions.cef import cef_oracle_exprs

    return f"""
    WITH built AS (
      SELECT event_id,
             CASE WHEN event_id % 23 = 0 THEN 'not a cef line'
                  ELSE 'CEF:0|Engine\\|Corp|anspark|1.0|' || event_type || '|'
                       || event_type || ' event|'
                       || CAST(CASE WHEN event_type = 'error' THEN 9 ELSE 3 END
                               AS VARCHAR)
                       || '|src=10.0.' || CAST(user_id % 256 AS VARCHAR) || '.5'
                       || ' spt=' || CAST(1024 + event_id % 40000 AS VARCHAR)
                       || CASE WHEN event_id % 3 = 0 THEN ' act=allow' ELSE '' END
                       || ' msg=v=1 ' || event_type || ' observed'
             END AS content
      FROM events
    )
    SELECT event_id,
           {cef_oracle_exprs('content')}
    FROM built
    """


@register("parse_cef_events", oracle=_parse_cef_oracle())
def parse_cef_q(spark, sf_dir):
    """ParseCEF (§2.4): ArcSight CEF lines — escaped-pipe header fields,
    token extensions, trailing free-text msg (which itself contains an
    '=') — parsed columnar; non-CEF lines yield all-NULL fields.  The
    oracle shares the module's regex constants (functions/cef), one
    semantic source for both engines."""
    from apache_nifi_spark.functions.cef import parse_cef

    ev = io.widen_if_narrow(_t(spark, sf_dir, "events"))
    sev = F.when(F.col("event_type") == "error", F.lit("9")).otherwise(F.lit("3"))
    line = F.concat(
        F.lit("CEF:0|Engine\\|Corp|anspark|1.0|"),
        F.col("event_type"),
        F.lit("|"),
        F.col("event_type"),
        F.lit(" event|"),
        sev,
        F.lit("|src=10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit(".5 spt="),
        (F.lit(1024) + F.col("event_id") % 40000).cast("string"),
        F.when(F.col("event_id") % 3 == 0, F.lit(" act=allow")).otherwise(F.lit("")),
        F.lit(" msg=v=1 "),
        F.col("event_type"),
        F.lit(" observed"),
    )
    built = ev.select(
        "event_id",
        F.when(F.col("event_id") % 23 == 0, F.lit("not a cef line"))
        .otherwise(line)
        .alias("content"),
    )
    return parse_cef(built).drop("content")


@register(
    "extract_email_headers",
    oracle="""
    SELECT o_orderkey AS mid,
           'noreply@engine.local' AS from_addr,
           'customer' || CAST(o_custkey AS VARCHAR) || '@example.com' AS to_addr,
           'Order ' || CAST(o_orderkey AS VARCHAR) || ' ' || o_orderstatus AS subject,
           CAST(o_orderdate AS TIMESTAMP) AS date_ts,
           'Total ' || CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR)
             || ' priority ' || o_orderpriority AS body_text,
           CAST(0 AS INT) AS n_attachments
    FROM orders WHERE o_orderkey < 2000
    """,
)
def extract_email_headers_q(spark, sf_dir):
    """ExtractEmailHeaders (§2.4 [nifi-email bundle]): the render half
    (sinks/wire.email_mime, byte-exact RFC 5322) feeds the stdlib MIME
    parser (sources/email_codec) — headers, RFC 5322 date, and the
    base64 transfer-decoded body all recover exactly; oracle states the
    expected values directly from the source rows, proving the
    render → parse cycle is lossless."""
    from apache_nifi_spark.sinks import wire
    from apache_nifi_spark.sources.email_codec import parse_email_headers

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    to = F.concat(
        F.lit("customer"), F.col("o_custkey").cast("string"), F.lit("@example.com")
    )
    subject = F.concat(
        F.lit("Order "), F.col("o_orderkey").cast("string"), F.lit(" "),
        F.col("o_orderstatus"),
    )
    body = F.concat(
        F.lit("Total "),
        F.col("o_totalprice").cast("decimal(27,2)").cast("string"),
        F.lit(" priority "),
        F.col("o_orderpriority"),
    )
    rendered = o.select(
        F.col("o_orderkey").alias("mid"),
        wire.email_mime(
            "noreply@engine.local", to, subject, F.col("o_orderdate"), body
        ).cast("binary").alias("message"),
    )
    return parse_email_headers(rendered, "message", id_col="mid")


@register(
    "put_slack_payload",
    oracle="""
    WITH esc AS (
      SELECT event_id,
             concat('Event ', CAST(event_id AS VARCHAR), ': ', event_type,
                    ' value=', CAST(CAST(value AS DECIMAL(27,2)) AS VARCHAR)) AS txt,
             replace(replace(replace(replace(replace(props,
                     chr(92), chr(92)||chr(92)), '"', chr(92)||'"'),
                     chr(10), chr(92)||'n'), chr(13), chr(92)||'r'),
                     chr(9), chr(92)||'t') AS ctx
      FROM events WHERE event_id < 2000
    )
    SELECT event_id,
           concat('{"channel":"#ops","text":"', txt,
                  '","blocks":[{"type":"section","text":{"type":"mrkdwn","text":"', txt,
                  '"}},{"type":"context","elements":[{"type":"plain_text","text":"', ctx,
                  '"}]}]}') AS payload
    FROM esc
    """,
)
def put_slack_payload_q(spark, sf_dir):
    """PutSlack (§2.2): the ``chat.postMessage`` Block Kit JSON body per
    record (sinks/wire.slack_post_payload) — channel, mrkdwn section,
    context block carrying the raw props JSON (exercises the full
    JSON-string escaping chain, oracled byte-for-byte)."""
    from apache_nifi_spark.sinks import wire

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    text = F.concat(
        F.lit("Event "),
        F.col("event_id").cast("string"),
        F.lit(": "),
        F.col("event_type"),
        F.lit(" value="),
        F.col("value").cast("decimal(27,2)").cast("string"),
    )
    return ev.select(
        "event_id",
        wire.slack_post_payload("#ops", text, F.col("props")).alias("payload"),
    )


@register(
    "put_slack_webhook_post",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           MIN(event_type) AS min_type
    FROM events WHERE event_id % 150 = 0
    """,
)
def put_slack_webhook_post_q(spark, sf_dir):
    """PutSlack delivered over the WIRE (§2.2): rendered chat.postMessage
    bodies POST per partition to a real HTTP webhook endpoint (the
    landing listener standing in for hooks.slack.com), which lands each
    body durably; the landed JSON parses back and must aggregate
    value-exact — the render+transport hop is lossless.  All 200s are
    asserted (operators/http.post_http)."""
    from apache_nifi_spark.operators.http import post_http
    from apache_nifi_spark.sinks import wire
    from apache_nifi_spark.streaming.listen import HttpLandingListener

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 150 == 0)
    text = F.concat(
        F.lit("Event "),
        F.col("event_id").cast("string"),
        F.lit(": "),
        F.col("event_type"),
    )
    # widen: delivery wall is per-request RTT × rows ÷ connections — one
    # keep-alive connection per partition, so spread the single split
    bodies = io.widen_if_narrow(ev).select(
        wire.slack_post_payload("#ops", text).alias("payload")
    )
    landing = io.scratch("anspark_slack_")
    with HttpLandingListener(landing) as lst:
        sent = post_http(bodies, lst.url + "services/hook", "payload")
        n_ok = sent.filter(F.col("status") == 200).count()
        assert n_ok == ev.count()
        lst.landing.wait(n_ok)
    # explicit schema: inference would re-read every landed one-body
    # file a second time
    back = spark.read.schema("channel string, text string").json(landing)
    parsed = back.select(
        F.regexp_extract(
            F.col("text"), r"^Event (\d+): ([a-z_]+)$", 1
        ).cast("bigint").alias("event_id"),
        F.regexp_extract(F.col("text"), r"^Event (\d+): ([a-z_]+)$", 2).alias(
            "event_type"
        ),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.min("event_type").alias("min_type"),
    )


@register(
    "put_splunk_hec",
    oracle="""
    SELECT event_id,
           concat('{"time":', CAST(CAST(CAST(epoch_ms(ts) AS DECIMAL(20,0)) / 1000
                              AS DECIMAL(20,3)) AS VARCHAR),
                  ',"host":"h', CAST(user_id % 5 AS VARCHAR),
                  '","source":"engine","sourcetype":"_json","index":"events",',
                  '"event":{"type":"', event_type,
                  '","value":', CAST(CAST(value AS DECIMAL(27,3)) AS VARCHAR),
                  '}}') AS payload
    FROM events WHERE event_id < 2000
    """,
)
def put_splunk_hec_q(spark, sf_dir):
    """PutSplunkHTTP (§2.2): the HTTP Event Collector envelope per record
    (sinks/wire.splunk_hec_payload) — fractional epoch time at
    millisecond precision via decimal rendering, routing metadata, and
    the event as a nested JSON object; byte-exact oracle like every
    wire sink.  POST = operators/http."""
    from apache_nifi_spark.sinks import wire

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    payload = wire.splunk_hec_payload(
        F.col("ts"),
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")),
        "engine",
        "_json",
        [
            ("type", wire.json_string(F.col("event_type"))),
            ("value", wire.json_number(F.col("value"), 3)),
        ],
        index="events",
    )
    return ev.select("event_id", payload.alias("payload"))


@register(
    "mqtt_topic_filter_route",
    oracle="""
    WITH t AS (
      SELECT event_id,
             CASE WHEN event_type = 'error'
                  THEN concat('$SYS/broker/', CAST(user_id % 10 AS VARCHAR))
                  ELSE concat('telemetry/', event_type, '/', CAST(user_id % 10 AS VARCHAR))
             END AS topic
      FROM events WHERE event_id < 3000
    )
    SELECT event_id, topic,
           regexp_matches(topic, '^telemetry/[^/]*/3$')                AS m_one_level,
           regexp_matches(topic, '^telemetry/purchase(/.*)?$')         AS m_subtree,
           (regexp_matches(topic, '^.*$') AND NOT starts_with(topic, '$')) AS m_all
    FROM t
    """,
)
def mqtt_topic_filter_route_q(spark, sf_dir):
    """ConsumeMQTT (§2.1): MQTT 5.0 topic-filter matching — ``+`` one
    level, trailing ``#`` subtree-with-parent, and the ``$``-prefix guard
    (wildcard-leading filters skip ``$SYS`` topics) — compiled to
    RE2-safe rlike predicates (functions/selectors.mqtt_topic_matches).
    The broker socket is commodity I/O; subscription semantics are the
    engine's job and are value-oracled here."""
    from apache_nifi_spark.functions import mqtt_topic_matches

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    topic = F.when(
        F.col("event_type") == "error",
        F.concat(F.lit("$SYS/broker/"), (F.col("user_id") % 10).cast("string")),
    ).otherwise(
        F.concat(
            F.lit("telemetry/"),
            F.col("event_type"),
            F.lit("/"),
            (F.col("user_id") % 10).cast("string"),
        )
    )
    out = ev.select("event_id", topic.alias("topic"))
    return out.select(
        "event_id",
        "topic",
        mqtt_topic_matches(F.col("topic"), "telemetry/+/3").alias("m_one_level"),
        mqtt_topic_matches(F.col("topic"), "telemetry/purchase/#").alias("m_subtree"),
        mqtt_topic_matches(F.col("topic"), "#").alias("m_all"),
    )


@register(
    "mongo_query_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey < 30000
      AND (o_totalprice > 400000
           OR (o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT', '2-HIGH')))
    """,
)
def mongo_query_filter_q(spark, sf_dir):
    """GetMongo (§2.1): the processor's Query property is a MongoDB query
    document; functions/selectors.compile_mongo_query compiles it to ONE
    Catalyst predicate ($or/$and/$in/$gt/... surface), so the filter is
    pushdown-eligible and codegen'd — no per-row evaluation engine."""
    from apache_nifi_spark.functions import compile_mongo_query

    q = {
        "o_orderkey": {"$lt": 30000},
        "$or": [
            {"o_totalprice": {"$gt": 400000}},
            {
                "o_orderstatus": "F",
                "o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]},
            },
        ],
    }
    return _t(spark, sf_dir, "orders").filter(compile_mongo_query(q))


@register(
    "publish_jms_wire_roundtrip",
    oracle="""
    SELECT event_id, event_type, user_id, value
    FROM events
    WHERE event_id % 10 = 0
      AND event_type IN ('click', 'purchase')
      AND value > 100
      AND NOT (user_id = 7)
    """,
)
def publish_jms_wire_q(spark, sf_dir):
    """PublishJMS → broker → ConsumeJMS closed over the REAL wire
    (§2.1/§2.2): STOMP 1.2 — the interoperable protocol every open JMS
    broker exposes — via streaming/stomp.py.  Executors publish one
    pipelined connection per partition (JMS properties ride as STOMP
    headers, delivery confirmed by ONE receipt at DISCONNECT: in-order
    frame processing makes it cover every prior SEND); the consumer
    side is a distributed JSON scan of the landed batches with the
    functions/selectors JMS message selector compiled onto it — the
    full ConsumeJMS contract, selector included.  Oracle recomputes the
    published-subset + selector directly on the fixture: equality
    proves the wire hop is lossless, duplicate-free, and type-exact
    (double properties round-trip via shortest-repr strings)."""
    from apache_nifi_spark.functions import jms_selector
    from apache_nifi_spark.streaming.stomp import MiniStompBroker, publish_stomp

    landing = io.scratch("anspark_stomp_land_")
    with MiniStompBroker(landing) as broker:
        ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
        rendered = ev.select(
            F.lit("/queue/events").alias("dest"),
            F.col("event_type"),
            F.col("user_id").cast("string").alias("user_id"),
            # shortest-repr double → exact round-trip on re-cast
            F.col("value").cast("string").alias("value"),
            F.to_json(F.struct("event_id")).alias("body"),
        )
        sent = publish_stomp(
            rendered, "127.0.0.1", broker.port, "dest", "body",
            header_cols=["event_type", "user_id", "value"],
        )
        n_failed = sent.filter(~F.col("published")).count()
        if n_failed:
            raise RuntimeError(f"{n_failed} rows failed STOMP publish")
        landed = spark.read.schema(
            "destination string, headers map<string,string>, body string"
        ).json(landing)
        typed = landed.select(
            F.from_json("body", "event_id bigint").getField("event_id").alias("event_id"),
            F.col("headers")["event_type"].alias("event_type"),
            F.col("headers")["user_id"].cast("bigint").alias("user_id"),
            F.col("headers")["value"].cast("double").alias("value"),
        )
        selector = (
            "event_type IN ('click', 'purchase') AND value > 100"
            " AND NOT (user_id = 7)"
        )
        return typed.filter(jms_selector(selector))


@register(
    "jms_selector_consume",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND value BETWEEN 50 AND 300
      AND NOT (user_id = 7)
      AND props IS NOT NULL
    """,
)
def jms_selector_consume_q(spark, sf_dir):
    """ConsumeJMS (§2.1): JMS message selectors are the SQL-92
    conditional subset; functions/selectors.jms_selector validates the
    selector against that grammar (rejecting function calls/SQL
    extensions) and compiles it via Spark's expression parser — a strict
    superset of the selector language, so semantics match the JMS spec
    construct-for-construct."""
    from apache_nifi_spark.functions import jms_selector

    sel = (
        "event_type IN ('click', 'purchase') AND value BETWEEN 50 AND 300"
        " AND NOT (user_id = 7) AND props IS NOT NULL"
    )
    ev = _t(spark, sf_dir, "events")
    return ev.filter(jms_selector(sel)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@functools.cache
def _staged_snmp(spark, sf_dir):
    """Per-session SNMP v2c agent whose MIB is the per-user
    purchase-cents counters (users < 150 — a bounded enterprise-MIB
    slice, the GetSNMP device-poll shape)."""
    from apache_nifi_spark.sources.snmp import MiniSnmpAgent

    totals = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 150))
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long")
            .alias("cents")
        )
        .collect()  # control-plane: bounded MIB slice (< 150 counters)
    )
    mib = {
        f"1.3.6.1.4.1.9999.1.{r['user_id']}": (0x41, int(r["cents"]))
        for r in totals
    }
    agent = MiniSnmpAgent(mib)
    return (agent, sorted(int(r["user_id"]) for r in totals))


@register(
    "get_snmp_poll",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    WHERE event_type = 'purchase' AND user_id < 150
    GROUP BY user_id
    """,
)
def get_snmp_poll_q(spark, sf_dir):
    """GetSNMP over the REAL wire (§2.1 — the nifi-snmp bundle's device
    poll): a v2c agent serves per-user purchase-cents Counter32s from
    its MIB; the poll list is a DataFrame of OIDs and every GetRequest/
    Response round trip runs executor-side (ASN.1 BER encode/decode
    from X.690/RFC 3416 — `sources/snmp.py`, one socket per partition).
    Oracle equality proves OID encode → agent decode → counter encode →
    response parse is lossless for every row.  At fleet scale the poll
    parallelizes by partition; the agent here is loopback, real devices
    are a host:port change."""
    from apache_nifi_spark.sources.snmp import snmp_get

    agent, user_ids = _staged_snmp(spark, sf_dir)
    oids = spark.createDataFrame(
        [(f"1.3.6.1.4.1.9999.1.{u}",) for u in user_ids], "oid string"
    ).repartition(4)
    got = snmp_get(oids, "127.0.0.1", agent.port)
    return got.select(
        F.element_at(F.split(F.col("oid"), r"\."), -1).cast("long")
        .alias("user_id"),
        F.col("value").alias("cents"),
    )


@functools.cache
def _staged_dns(spark, sf_dir):
    """Per-session authoritative DNS server for the synthetic
    ``n<nationkey>.example.com`` zone (25 A records)."""
    from apache_nifi_spark.sources.dns_wire import MiniDnsServer

    zone = {f"n{k}.example.com": f"10.0.{k}.1" for k in range(25)}
    return MiniDnsServer(zone)


@register(
    "query_dns_enrich",
    oracle="""
    SELECT s_suppkey,
           'n' || CAST(s_nationkey AS VARCHAR) || '.example.com' AS hostname,
           '10.0.' || CAST(s_nationkey AS VARCHAR) || '.1' AS ip,
           CAST(300 AS BIGINT) AS ttl
    FROM supplier
    """,
)
def query_dns_enrich_q(spark, sf_dir):
    """QueryDNS enrichment over the REAL wire (§2.6 — the nifi-enrich
    bundle's attribute resolver): supplier hostnames resolve against an
    authoritative loopback server speaking RFC 1035 — label-encoded
    questions, A-record answers behind §4.1.4 COMPRESSION POINTERS the
    client must follow — with the scale-correct shape: DISTINCT
    hostnames resolve once (per-partition cache), then a plain
    equi-join fans the 25-row answer set back to the rows.  Oracle
    equality proves encode → serve → pointer-decode → join is lossless.
    `sources/dns_wire.py`."""
    from apache_nifi_spark.sources.dns_wire import dns_lookup

    srv = _staged_dns(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.concat(
            F.lit("n"), F.col("s_nationkey").cast("string"),
            F.lit(".example.com"),
        ).alias("hostname"),
    )
    resolved = dns_lookup(
        s.select("hostname").distinct(), "127.0.0.1", srv.port
    )
    return s.join(resolved, "hostname").select(
        "s_suppkey", "hostname", "ip", "ttl"
    )

# =====================================================================
# Lakehouse time travel (§2.12 storage tier): version-pinned snapshot
# reads against the SAME staged fixtures the current-snapshot queries
# replay — proving the log/metadata machinery resolves HISTORY, not
# just the head.
# =====================================================================

@register(
    "delta_time_travel_read",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS total_qty
    FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
    GROUP BY 1
    """,
)
def delta_time_travel_q(spark, sf_dir):
    """Delta time travel (PROTOCOL.md "VERSION AS OF"): replay the
    staged three-commit log ONLY through version 0 — quarters 0 and 1,
    BEFORE commit 1 removed quarter 0 and added quarter 2.  The oracle
    computes those quarters straight from the fixture, so equality
    proves the reader's version cutoff excludes later adds AND ignores
    later removes (a reader that applies commit 1's remove to a v0 read
    would drop quarter 0; one that ignores the cutoff double-counts).
    Same control-plane manifest replay as [delta_log_snapshot_read];
    at any scale time travel costs the same as a head read plus the
    skipped tail commits.  sources/deltalog.py."""
    from apache_nifi_spark.registry import _staged_delta
    from apache_nifi_spark.sources.deltalog import read_delta_snapshot

    root = _staged_delta(spark, sf_dir)
    snap = read_delta_snapshot(spark, root, version=0)
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("l_quantity", "total_qty"),
    )


@register(
    "iceberg_time_travel_read",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS total_qty
    FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
    GROUP BY 1
    """,
)
def iceberg_time_travel_q(spark, sf_dir):
    """Iceberg time travel (the spec's snapshot-id read): pin the read
    to snapshot 1 — quarters 0 and 1, BEFORE snapshot 2's manifest
    rewrite deleted quarter 0 and added quarters 2/3.  Structural
    contrast to the Delta variant above: Iceberg snapshots are
    SELF-CONTAINED (the pinned snapshot's own manifest list is the
    whole truth — no cross-commit replay or cutoff), so a correct
    reader never even opens snapshot 2's manifests.  Equality with the
    fixture-level oracle proves the snapshot-log lookup and the
    manifest-list resolution honor the pin.  sources/iceberg.py."""
    from apache_nifi_spark.registry import _staged_iceberg
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root, snapshot_id=1)
    return snap.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("l_quantity", "total_qty"),
    )

@register(
    "convert_record_cbor",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 5
    """,
)
def convert_record_cbor_q(spark, sf_dir):
    """ConvertRecord parquet→CBOR→records (RFC 8949/8742, from the
    public spec — reference parity with NiFi's CBOR-capable record
    serde): one CBOR-sequence file per partition on write (mapInArrow,
    executor-side), binaryFile + per-file decode on read.  The round
    trip must be value-exact through minimal-width ints, IEEE float64,
    UTF-8 text, AND tag-1001 extended-time (integer micros) — a
    timestamp codec bug shows up as an oracle hash break, exactly like
    the Avro container's timestamp-micros logical.  A deterministic
    1-in-10 key subset keeps the pure-Python encode cost proportionate
    in the suite bench (the avro twin uses % 10 = 0; this uses = 5 so
    the two codecs never share a cached scan).  sources/cbor_codec.py."""
    from apache_nifi_spark.sources import convert_record

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 5
    )
    out = io.scratch("anspark_convert_cbor_")
    return convert_record(spark, orders, "cbor", out)


@functools.cache
def _staged_iceberg_spec_evolved(spark, sf_dir):
    """Per-session partition-evolution fixture: commit 1 writes
    quarters 0+1 UNPARTITIONED (spec 0); the default spec then evolves
    to identity(l_returnflag); commit 2 adds quarters 2+3 as one file
    per return flag under spec 1.  A partition-pruned read must keep
    scanning the spec-0 files (no metadata for the new column) while
    pruning spec-1 manifests by flag."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import (
        iceberg_commit,
        iceberg_evolve_partition_spec,
    )

    root = io.scratch("anspark_iceberg_pe_")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )

    def finfo(part_path, partition=""):
        return {
            "file_path": part_path,
            "record_count": 0,
            "file_size_in_bytes": os.path.getsize(part_path),
            "partition": partition,
        }

    old = []
    for q in (0, 1):
        part = write_single_part(
            li.filter(F.col("l_orderkey") % 4 == q).coalesce(1), f"{root}/q{q}"
        )
        old.append(finfo(part))
    iceberg_commit(root, 1, added=old)
    iceberg_evolve_partition_spec(
        root,
        [{"name": "l_returnflag", "transform": "identity", "source-id": 2}],
    )
    late = li.filter((F.col("l_orderkey") % 4).isin(2, 3))
    flags = sorted(
        r["l_returnflag"]
        for r in late.select("l_returnflag").distinct()
        .collect()  # control-plane: one row per flag value
    )
    added = []
    for flag in flags:
        # identity-partitioned data files keep the source column (the
        # spec stores partition VALUES in metadata, not by dropping
        # the column from the file)
        part = write_single_part(
            late.filter(F.col("l_returnflag") == flag)
            .coalesce(1),
            f"{root}/flag_{flag}",
        )
        added.append(finfo(part, partition=flag))
    iceberg_commit(root, 2, added=added)
    return root


@register(
    "iceberg_partition_evolution_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS total_qty
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def iceberg_partition_evolution_q(spark, sf_dir):
    """Iceberg PARTITION-SPEC EVOLUTION read (spec §Partition
    Evolution): the staged table's quarters 0+1 predate the partition
    spec (written unpartitioned under spec 0), quarters 2+3 are
    flag-partitioned under the evolved spec 1.  Reading flag='R' must
    (a) prune spec-1 manifests to the R file only — metadata-level,
    and (b) keep EVERY spec-0 file and apply the predicate row-level
    there, because pre-evolution files carry no value for the new
    partition column.  Equality with the whole-table oracle proves
    both directions: a reader that prunes old-spec manifests by the
    new spec loses the early quarters' R rows; one that skips spec-1
    pruning still matches values but the unit test's
    corrupted-manifest probe catches it.  sources/iceberg.py."""
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg_spec_evolved(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root, partition="R")
    return snap.filter(F.col("l_returnflag") == "R").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("l_quantity", "total_qty"),
    )


@functools.cache
def _staged_iceberg_eqdel(spark, sf_dir):
    """Iceberg v2 table with EQUALITY DELETES (what a Flink CDC writer
    emits): commit 1 (seq 1) lands documents [0,300), commit 2 (seq 2)
    lands [300,400), commit 3 (seq 3) writes ONE equality-delete file
    on (lang) for 'de' and 'fr' PLUS position deletes marking every
    doc_id % 11 == 5 ordinal of the first file, and commit 4 (seq 4)
    lands [400,500) — which the seq-3 equality delete must NOT touch
    (strictly-lower applicability), even though those rows include the
    deleted languages."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import iceberg_commit

    root = io.scratch("anspark_iceeqdel_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    paths = {}
    for k, (lo, hi) in enumerate([(0, 300), (300, 400), (400, 500)]):
        paths[k] = write_single_part(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .sortWithinPartitions("doc_id"),  # ordinal = doc_id - lo
            f"{root}/f{k}",
        )

    def add(k, n):
        return [{
            "file_path": paths[k], "partition": f"p{k}",
            "record_count": n,
            "file_size_in_bytes": os.path.getsize(paths[k]),
        }]

    iceberg_commit(root, 701, added=add(0, 300))
    iceberg_commit(root, 702, added=add(1, 100))
    iceberg_commit(
        root, 703, added=[],
        position_deletes={paths[0]: list(range(5, 300, 11))},
        equality_deletes=(["lang"], [("de",), ("fr",)]),
    )
    iceberg_commit(root, 704, added=add(2, 100))
    return root


@register(
    "iceberg_equality_delete_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE (doc_id < 400
           AND lang NOT IN ('de', 'fr')
           AND NOT (doc_id < 300 AND doc_id % 11 = 5))
       OR (doc_id >= 400 AND doc_id < 500)
    GROUP BY lang
    """,
)
def iceberg_equality_delete_q(spark, sf_dir):
    """Snapshot read through SPEC-V2 EQUALITY DELETES (content=2 — the
    merge-on-read path Flink CDC writers emit; completes the row-level
    DML triptych next to [iceberg_position_delete_read] and
    [delta_deletion_vector_read]): the staged delete commit (seq 3)
    kills every 'de'/'fr' row in the seq-1/seq-2 data files AND
    position-drops doc_id % 11 == 5 ordinals of the first file, in the
    spec's order (positions first, then equality).  The seq-4 data file
    lands AFTER the delete and keeps its 'de'/'fr' rows — the
    strictly-lower sequence rule, which is what makes CDC upsert
    streams (delete-then-reinsert) read correctly.  Equality with the
    arithmetic complement proves commit → manifest → delete-file →
    match-drop is lossless across delete kinds.
    sources/iceberg.py ``iceberg_commit(equality_deletes=…)`` /
    ``read_iceberg_snapshot``."""
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg_eqdel(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_delta_maint(spark, sf_dir):
    """Delta table needing maintenance: four SMALL files of documents
    [0,400) across two commits, a DV delete marking doc_id % 9 == 4
    ordinals of the second file (v2), then OPTIMIZE (v3) compacting all
    four into ONE file with dataChange=false — materializing the DV in
    the rewrite.  The four small files stay on disk (time travel to
    v0–v2 must still work) until :func:`_staged_delta_vacuumed` runs
    retention over them."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.deltalog import (
        delta_delete_rows,
        delta_optimize,
        read_delta_snapshot,
        write_commit,
    )

    root = io.scratch("anspark_deltamaint_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rel = {}
    for k in range(4):
        part = write_single_part(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < k * 100 + 100)
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id"),  # ordinal = doc_id - k*100
            f"{root}/f{k}",
        )
        rel[k] = os.path.relpath(part, root)

    def add(k):
        return {"add": {"path": rel[k], "size": os.path.getsize(
            os.path.join(root, rel[k])), "dataChange": True}}

    write_commit(root, 0, [{"metaData": {"id": "anspark-maint"}},
                           add(0), add(1)])
    write_commit(root, 1, [add(2), add(3)])
    delta_delete_rows(
        spark, root, {rel[1]: [d - 100 for d in range(103, 200) if d % 9 == 4]}
    )
    v = delta_optimize(spark, root)
    assert v == 3
    # pre-OPTIMIZE time travel still resolves the small files
    assert read_delta_snapshot(spark, root, 1).count() == 400
    return root


@functools.cache
def _staged_delta_vacuumed(spark, sf_dir):
    """VACUUM over the maintenance fixture with the retention cutoff at
    the OPTIMIZE version: the four compacted small files become
    unreferenced by every retained snapshot and are physically deleted;
    the compacted file survives; the reader now refuses time travel
    below the cutoff (the documented trade-off)."""
    from apache_nifi_spark.sources.deltalog import (
        delta_vacuum,
        read_delta_snapshot,
    )

    root = _staged_delta_maint(spark, sf_dir)
    doomed = delta_vacuum(spark, root, retain_from_version=3)
    assert len(doomed) == 4 and all(d.startswith("f") for d in doomed), doomed
    assert not any(os.path.exists(os.path.join(root, d)) for d in doomed), doomed
    try:
        read_delta_snapshot(spark, root, 1)
        raise AssertionError("time travel below the VACUUM cutoff succeeded")
    except FileNotFoundError:
        pass
    return root


@register(
    "delta_optimize_compacted_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 9 = 4)
    GROUP BY lang
    """,
)
def delta_optimize_compacted_q(spark, sf_dir):
    """Snapshot read after OPTIMIZE (small-file compaction — the
    nightly operational commit every real lakehouse runs; pairs with
    [delta_vacuum_survivor_read]): four small files + one
    deletion-vector delete compact into ONE dataChange=false file, the
    DV materializing in the rewrite.  Equality with the arithmetic
    complement proves the compaction moved bytes, not rows — and the
    staging asserts time travel BELOW the OPTIMIZE version still reads
    the original small files (physical deletion is VACUUM's job, not
    OPTIMIZE's).  sources/deltalog.py ``delta_optimize``."""
    from apache_nifi_spark.sources.deltalog import read_delta_snapshot

    root = _staged_delta_maint(spark, sf_dir)
    snap = read_delta_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register(
    "delta_vacuum_survivor_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 9 = 4)
    GROUP BY lang
    """,
)
def delta_vacuum_survivor_q(spark, sf_dir):
    """Snapshot read after VACUUM (retention-checked physical deletion
    — OPTIMIZE's operational pair): the four pre-compaction small
    files are provably unreferenced by every retained version
    (replayed per version before deletion, asserted in staging) and
    removed from storage; the retained snapshot reads byte-identically
    through the surviving compacted file, while time travel below the
    cutoff fails loudly (asserted).  Equality with the same arithmetic
    complement as the OPTIMIZE read proves VACUUM deleted only
    unreachable bytes.  sources/deltalog.py ``delta_vacuum``."""
    from apache_nifi_spark.sources.deltalog import read_delta_snapshot

    root = _staged_delta_vacuumed(spark, sf_dir)
    snap = read_delta_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_iceberg_compacted(spark, sf_dir):
    """Iceberg maintenance fixture (the Delta OPTIMIZE/VACUUM twin):
    four small files of documents [0,400) over two commits, a commit
    carrying position deletes (doc_id % 9 == 4 ordinals of file 1) AND
    an equality delete (lang 'zh'), then rewrite_data_files compacting
    the four into ONE file — deletes materialize in the rewrite — and
    finally snapshot expiry of everything below the compaction, which
    must physically reclaim the replaced inputs while the compacted
    read stays byte-identical."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import (
        iceberg_commit,
        iceberg_expire_snapshots,
        iceberg_rewrite_data_files,
        read_iceberg_snapshot,
    )

    root = io.scratch("anspark_icecompact_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    paths = {}
    for k in range(4):
        paths[k] = write_single_part(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < k * 100 + 100)
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id"),  # ordinal = doc_id - k*100
            f"{root}/f{k}",
        )

    def add(ks):
        return [{
            "file_path": paths[k], "partition": f"p{k}",
            "record_count": 100,
            "file_size_in_bytes": os.path.getsize(paths[k]),
        } for k in ks]

    iceberg_commit(root, 901, added=add([0, 1]))
    iceberg_commit(root, 902, added=add([2, 3]))
    iceberg_commit(
        root, 903, added=[],
        position_deletes={paths[1]: [d - 100 for d in range(100, 200)
                                     if d % 9 == 4]},
        equality_deletes=(["lang"], [("zh",)]),
    )
    iceberg_rewrite_data_files(spark, root, 904)
    # pre-compaction time travel still reads the original small files
    assert read_iceberg_snapshot(spark, root, 902).count() == 400
    # expiry below the compaction reclaims the replaced inputs
    res = iceberg_expire_snapshots(root, keep_ids=[904])
    assert all(not os.path.exists(p) for p in paths.values()), res
    return root


@register(
    "iceberg_rewrite_compacted_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND lang <> 'zh'
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 9 = 4)
    GROUP BY lang
    """,
)
def iceberg_rewrite_compacted_q(spark, sf_dir):
    """Snapshot read after rewrite_data_files + snapshot expiry
    (Iceberg's bin-packing compaction action and its storage reclaim —
    the lakehouse-maintenance twin of [delta_optimize_compacted_read] /
    [delta_vacuum_survivor_read]): four small files with live position
    AND equality deletes compact into one file (both delete kinds
    materialize in the rewrite; the compacted file's HIGHER sequence
    number is what stops the old equality delete from re-applying),
    then expiring every pre-compaction snapshot physically deletes the
    replaced inputs — asserted in staging, along with pre-expiry time
    travel to the original layout.  Equality with the arithmetic
    complement proves compaction + expiry moved bytes, not rows.
    sources/iceberg.py ``iceberg_rewrite_data_files``."""
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg_compacted(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_delta_cdf(spark, sf_dir):
    """Delta table with Change Data Feed: v0 adds documents [0,300)
    (plain add — the reader's DERIVED-insert path), v1 is a COW MERGE
    with cdc files (the EXPLICIT path): doc_id % 10 == 0 rows update
    lang to 'xx' (pre+postimage), % 10 == 5 rows delete, [300,350)
    insert."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.deltalog import (
        delta_commit_cdf,
        write_commit,
    )

    root = io.scratch("anspark_deltacdf_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    base = docs.filter(F.col("doc_id") < 300)
    p0 = write_single_part(base.coalesce(1), f"{root}/base")
    rel0 = os.path.relpath(p0, root)
    write_commit(root, 0, [
        {"metaData": {"id": "anspark-cdf"}},
        {"add": {"path": rel0, "size": os.path.getsize(p0),
                 "dataChange": True}},
    ])
    upd = F.col("doc_id") % 10 == 0
    dele = F.col("doc_id") % 10 == 5
    pre = base.filter(upd)
    post = pre.withColumn("lang", F.lit("xx"))
    deleted = base.filter(dele)
    ins = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 350)
    )
    new_snap = (
        base.filter(~upd & ~dele).unionByName(post).unionByName(ins)
    )
    ct = lambda df, t: df.withColumn("_change_type", F.lit(t))
    cdc = (
        ct(pre, "update_preimage")
        .unionByName(ct(post, "update_postimage"))
        .unionByName(ct(deleted, "delete"))
        .unionByName(ct(ins, "insert"))
    )
    delta_commit_cdf(spark, root, 1, [rel0], new_snap, cdc)
    return root


@register(
    "delta_change_feed_read",
    oracle="""
    SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents WHERE doc_id < 300
    UNION ALL
    SELECT 'update_preimage', 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id < 300 AND doc_id % 10 = 0
    UNION ALL
    SELECT 'update_postimage', 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id < 300 AND doc_id % 10 = 0
    UNION ALL
    SELECT 'delete', 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id < 300 AND doc_id % 10 = 5
    UNION ALL
    SELECT 'insert', 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id >= 300 AND doc_id < 350
    """,
)
def delta_change_feed_q(spark, sf_dir):
    """CHANGE DATA FEED read (delta.io PROTOCOL.md "Add CDC File" —
    ``table_changes`` / ``readChangeFeed``, the downstream-incremental
    contract every medallion pipeline consumes): version 0's plain add
    reads through the spec's DERIVATION rule (add→insert rows), while
    version 1's COW MERGE carries explicit ``cdc`` files under
    ``_change_data/`` whose ``_change_type`` rows — update_preimage /
    update_postimage / delete / insert — are the complete change
    statement (nothing derived from its add/remove set, which would
    double-count the rewrite).  Grouped counts + id sums per
    (change_type, version) against the arithmetic oracle prove both
    read paths and the pre/post pairing.  sources/deltalog.py
    ``delta_commit_cdf`` / ``read_delta_changes``."""
    from apache_nifi_spark.sources.deltalog import read_delta_changes

    root = _staged_delta_cdf(spark, sf_dir)
    ch = read_delta_changes(spark, root, 0, 1)
    return ch.groupBy(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("bigint").alias("commit_version"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_iceberg_manifests(spark, sf_dir):
    """Fragmented-metadata fixture for rewrite_manifests: documents
    [0,400) in four files across two partitions, committed with
    PER-ENTRY manifests (the accumulate-per-commit layout a streaming
    writer produces), plus a position-delete commit (doc_id % 13 == 2
    ordinals of file 0), then the metadata compaction — which must
    shrink the manifest list while changing nothing a reader sees."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import (
        iceberg_commit,
        iceberg_rewrite_manifests,
    )

    root = io.scratch("anspark_icemanifests_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    added = []
    for k in range(4):
        p = write_single_part(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < k * 100 + 100)
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id"),  # ordinal = doc_id - k*100
            f"{root}/f{k}",
        )
        added.append({"file_path": p, "partition": f"p{k % 2}",
                      "record_count": 100,
                      "file_size_in_bytes": os.path.getsize(p)})
    iceberg_commit(root, 951, added=added, max_entries_per_manifest=1)
    iceberg_commit(
        root, 952, added=[],
        position_deletes={added[0]["file_path"]:
                          [d for d in range(0, 100) if d % 13 == 2]},
        max_entries_per_manifest=1,
    )
    _v, before, after = iceberg_rewrite_manifests(root, 953)
    assert before == 5 and after == 3, (before, after)
    return root


@register(
    "iceberg_rewrite_manifests_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND NOT (doc_id < 100 AND doc_id % 13 = 2)
    GROUP BY lang
    """,
)
def iceberg_rewrite_manifests_q(spark, sf_dir):
    """Snapshot read after rewrite_manifests (Iceberg's METADATA
    compaction — completing the maintenance trio beside
    [iceberg_rewrite_compacted_read] and [iceberg_snapshot_expiry_read]:
    a streaming writer's per-commit manifests make every planner pass
    open O(commits) Avro files; the action re-commits the live entries
    into one manifest per (partition, content) group): the staged
    fragmented layout (5 per-entry manifests) compacts to 3 — asserted
    in staging — while the read stays byte-identical THROUGH the
    surviving position deletes, whose preserved sequence numbers keep
    applying to the older data files.  Equality with the arithmetic
    complement proves metadata moved, rows did not.
    sources/iceberg.py ``iceberg_rewrite_manifests``."""
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg_manifests(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_delta_colmap(spark, sf_dir):
    """Column-mapped Delta table (``delta.columnMapping.mode=name``)
    exercising the three operations the mode exists for, all WITHOUT
    rewriting a byte of data:

    - v0: schema (doc_id→col-1, lang→col-2, score→col-3), one file of
      documents [0,200) with a doc-derived score, PHYSICAL names in the
      parquet.
    - v1: RENAME ``score``→``quality`` — a metaData-only commit; the
      physicalName col-3 is unchanged.
    - v2: second data file [200,400) written under the renamed schema
      (same physical names — the mapping is stable across renames).
    - v3: DROP ``quality`` and ADD ``bucket`` (fresh physical col-4) +
      a third file [400,500) carrying col-4; the older files null-fill
      it, and col-3's bytes remain on disk but are no longer projected.

    Staging asserts the time-travel contract: at v0 the column reads as
    ``score``, at v1–v2 as ``quality``, at HEAD it is gone."""
    import json as _json

    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.deltalog import (
        read_delta_snapshot_mapped,
        write_commit,
    )

    root = io.scratch("anspark_deltacolmap_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")

    def field(name, phys, typ="long"):
        return {
            "name": name, "type": typ, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": int(phys.split("-")[1]),
                "delta.columnMapping.physicalName": phys,
            },
        }

    def meta(fields):
        return {"metaData": {
            "id": "anspark-colmap",
            "format": {"provider": "parquet"},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }}

    rel = {}
    for k, (lo, hi, with4) in enumerate(
        [(0, 200, False), (200, 400, False), (400, 500, True)]
    ):
        d = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).select(
            F.col("doc_id").alias("col-1"),
            F.col("lang").alias("col-2"),
            *(
                [(F.col("doc_id") % 10).alias("col-4")]
                if with4
                else [(F.col("doc_id") % 7).alias("col-3")]
            ),
        )
        rel[k] = os.path.relpath(write_single_part(d.coalesce(1), f"{root}/f{k}"), root)

    def add(k):
        return {"add": {"path": rel[k], "size": os.path.getsize(
            os.path.join(root, rel[k])), "dataChange": True}}

    v0 = [field("doc_id", "col-1"), field("lang", "col-2", "string"),
          field("score", "col-3")]
    v1 = [field("doc_id", "col-1"), field("lang", "col-2", "string"),
          field("quality", "col-3")]
    v3 = [field("doc_id", "col-1"), field("lang", "col-2", "string"),
          field("bucket", "col-4")]
    write_commit(root, 0, [meta(v0), add(0)])
    write_commit(root, 1, [meta(v1)])           # rename: metadata only
    write_commit(root, 2, [add(1)])
    write_commit(root, 3, [meta(v3), add(2)])   # drop + add + data
    # time-travel contract across the rename/drop
    assert read_delta_snapshot_mapped(spark, root, 0).columns == [
        "doc_id", "lang", "score"]
    assert read_delta_snapshot_mapped(spark, root, 2).columns == [
        "doc_id", "lang", "quality"]
    assert read_delta_snapshot_mapped(spark, root).columns == [
        "doc_id", "lang", "bucket"]
    return root


@register(
    "delta_column_mapping_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(CASE WHEN doc_id >= 400 THEN doc_id % 10 END)
                AS BIGINT) AS bucket_sum,
           CAST(SUM(CASE WHEN doc_id < 400 THEN doc_id % 7 END)
                AS BIGINT) AS old_quality_sum
    FROM documents WHERE doc_id < 500
    GROUP BY lang
    """,
)
def delta_column_mapping_q(spark, sf_dir):
    """Snapshot + time-travel read under ``delta.columnMapping.mode=
    name`` (PROTOCOL.md Column Mapping — rename/drop without rewrite:
    parquet keeps PHYSICAL names like ``col-3`` forever; the effective
    schemaString maps them to logical names per version): the staged
    table renames ``score``→``quality`` (metadata-only), then drops it
    and adds ``bucket`` under a fresh physical column.  The HEAD read
    projects (doc_id, lang, bucket) — old files null-fill bucket — and
    the v2 time travel still surfaces the dropped column's bytes as
    ``quality``; summing both against the arithmetic oracle proves the
    physical→logical projection reads the right bytes at every
    version.  A schema field WITHOUT a physicalName raises (corrupt
    metadata, pytest-gated).  sources/deltalog.py
    ``read_delta_snapshot_mapped``."""
    from apache_nifi_spark.sources.deltalog import (
        read_delta_snapshot_mapped,
    )

    root = _staged_delta_colmap(spark, sf_dir)
    head = read_delta_snapshot_mapped(spark, root)
    old = read_delta_snapshot_mapped(spark, root, 2)
    h = head.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("bucket").cast("long").alias("bucket_sum"),
    )
    o = old.groupBy("lang").agg(
        F.sum("quality").cast("long").alias("old_quality_sum")
    )
    return h.join(o, "lang", "left").select(
        "lang", "n", "id_sum", "bucket_sum", "old_quality_sum"
    )


@functools.cache
def _staged_iceberg_dv(spark, sf_dir):
    """Spec-v3 deletion-vector fixture: documents [0,400) in two files,
    then (1) a DV commit marking doc_id % 11 == 5 ordinals of file 0,
    (2) a SECOND DV commit for file 0 (doc_id % 13 == 1) plus a first
    DV on file 1 (doc_id % 17 == 3 of its local ordinals) — the writer
    must MERGE file 0's vectors into one puffin blob and supersede the
    old container (at most one DV per data file, the v3 invariant) —
    and (3) a third data file [400,500) added AFTER both DV commits,
    untouched by them under the sequence rule.  Staging asserts exactly
    one active puffin remains and that time travel to the first DV
    commit applies only it."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import (
        iceberg_active_files,
        iceberg_commit,
        read_iceberg_snapshot,
    )

    root = io.scratch("anspark_icedv_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    paths = {}
    for k, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 500)]):
        paths[k] = write_single_part(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .sortWithinPartitions("doc_id"),  # ordinal = doc_id - lo
            f"{root}/f{k}",
        )

    def add(k, n):
        return [{"file_path": paths[k], "partition": f"p{k}",
                 "record_count": n,
                 "file_size_in_bytes": os.path.getsize(paths[k])}]

    iceberg_commit(root, 801, added=add(0, 200) + add(1, 200))
    iceberg_commit(root, 802, added=[], dv_deletes={
        paths[0]: [d for d in range(200) if d % 11 == 5]})
    iceberg_commit(root, 803, added=[], dv_deletes={
        paths[0]: [d for d in range(200) if d % 13 == 1],
        paths[1]: [d - 200 for d in range(200, 400) if d % 17 == 3]})
    iceberg_commit(root, 804, added=add(2, 100))
    act = iceberg_active_files(  # control-plane: O(manifests) DV listing
        spark, root, content=1
    ).collect()
    assert len(act) == 1 and act[0]["file_path"].endswith(".puffin"), act
    # time travel to 802 applies ONLY the first DV
    n802 = read_iceberg_snapshot(spark, root, 802).count()
    assert n802 == 400 - len([d for d in range(200) if d % 11 == 5])
    return root


@register(
    "iceberg_dv_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 500
      AND NOT (doc_id < 200 AND (doc_id % 11 = 5 OR doc_id % 13 = 1))
      AND NOT (doc_id >= 200 AND doc_id < 400 AND doc_id % 17 = 3)
    GROUP BY lang
    """,
)
def iceberg_dv_q(spark, sf_dir):
    """Snapshot read through SPEC-V3 DELETION VECTORS (puffin-stored
    roaring bitmaps replacing v2 position-delete parquets — the same
    merge-on-read DML expressed as at-most-ONE vector per data file):
    two DV commits against the same file MERGE into one blob (old ∪
    new) and supersede the older puffin container — asserted in
    staging, along with the sequence rule (a file added after the DV
    commits reads untouched) and first-DV-only time travel.  The
    reader parses the kilobyte puffin footers driver-side (CRC-checked)
    and drops ordinals executor-side next to each file scan, exactly
    the v2 position-delete shape.  Equality with the arithmetic
    complement proves commit → puffin blob → bitmap → positional drop
    is lossless across the merge.  sources/iceberg.py
    ``write_puffin_dvs`` / ``iceberg_commit(dv_deletes=…)``."""
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg_dv(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_hudi_cow(spark, sf_dir):
    """Hudi COW table exercising the full timeline protocol: c1 INSERT
    of four file groups (documents [0,400) in two partitions), c2 COW
    UPSERT rewriting group g1 WITHOUT its doc_id %% 7 == 3 rows (a new
    file slice — the old one stays for time travel), c3 INSERT of
    group g4 ([400,500)), c4 REPLACECOMMIT clustering g0+g2 into one
    g5 slice (Hudi's OPTIMIZE analog — the replaced groups' files stay
    on disk), then a retention-checked CLEAN at c2 deleting exactly
    g1's superseded first slice; staging asserts time travel to c1
    fails loudly afterwards while c2/c3 replays stay byte-identical."""
    from apache_nifi_spark.sources.hudi import (
        hudi_clean,
        hudi_commit,
        hudi_init,
        hudi_write_base_file,
        read_hudi_snapshot,
    )

    root = io.scratch("anspark_hudi_")
    hudi_init(root, "anspark_docs")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    c1, c2, c3, c4 = (
        "20240101080000000", "20240102080000000",
        "20240103080000000", "20240104080000000",
    )

    def rng(lo, hi):
        return docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )

    stats1: dict[str, list] = {"part=0": [], "part=1": []}
    for k in range(4):
        stats1[f"part={k % 2}"].append(
            hudi_write_base_file(
                rng(k * 100, k * 100 + 100), root, f"part={k % 2}",
                f"g{k}", c1, "doc_id",
            )
        )
    hudi_commit(root, c1, stats1, operation="insert")
    # c2: COW upsert — group g1 rewritten WITHOUT doc_id % 7 == 3
    g1_new = rng(100, 200).filter(F.col("doc_id") % 7 != 3)
    hudi_commit(
        root, c2,
        {"part=1": [hudi_write_base_file(
            g1_new, root, "part=1", "g1", c2, "doc_id")]},
    )
    # c3: insert g4
    hudi_commit(
        root, c3,
        {"part=0": [hudi_write_base_file(
            rng(400, 500), root, "part=0", "g4", c3, "doc_id")]},
        operation="insert",
    )
    # c4: clustering — g0 + g2 replaced by one g5 slice
    g5 = rng(0, 100).unionByName(rng(200, 300))
    hudi_commit(
        root, c4,
        {"part=0": [hudi_write_base_file(
            g5, root, "part=0", "g5", c4, "doc_id")]},
        operation="cluster",
        replace_file_ids={"part=0": ["g0", "g2"]},
    )
    # clean retaining from c2: ONLY g1's c1 slice is superseded in
    # every retained snapshot (g0/g2 stay — c2/c3 still read them)
    doomed = hudi_clean(spark, root, retain_from=c2)
    assert doomed == [f"part=1/g1_0-1-0_{c1}.parquet"], doomed
    assert not os.path.exists(os.path.join(root, doomed[0])), doomed
    try:
        read_hudi_snapshot(spark, root, as_of=c1)
        raise AssertionError("hudi time travel below the clean succeeded")
    except FileNotFoundError:
        pass
    # retained replays stay exact: 500 docs minus the 15 upsert-dropped
    # ids (101, 108, ..., 199 — the %7==3 members of [100, 200))
    assert read_hudi_snapshot(spark, root, as_of=c3).count() == 485
    return root


@register(
    "hudi_cow_snapshot_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 500
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 7 = 3)
    GROUP BY lang
    """,
)
def hudi_cow_snapshot_q(spark, sf_dir):
    """Hudi COPY-ON-WRITE snapshot read (the third open lakehouse
    protocol, completing the trio beside Delta log replay and Iceberg
    manifests — hudi.apache.org spec: ``.hoodie/`` instant timeline,
    file groups, file slices): latest-slice resolution across an
    insert → COW upsert → insert → CLUSTERING replacecommit → clean
    timeline, one ``max_by`` at file-group grain plus the replace-set
    anti-join, then a plain parquet scan.  Equality with the
    arithmetic complement proves the upsert rewrote rows, the
    clustering moved bytes only, and the clean deleted nothing
    reachable.  sources/hudi.py."""
    from apache_nifi_spark.sources.hudi import read_hudi_snapshot

    root = _staged_hudi_cow(spark, sf_dir)
    snap = read_hudi_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register(
    "hudi_time_travel_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 7 = 3)
    GROUP BY lang
    """,
)
def hudi_time_travel_q(spark, sf_dir):
    """Hudi timeline time travel: snapshot AS OF the upsert instant —
    the post-upsert g1 slice plus the UNTOUCHED c1 groups (g0/g2/g3),
    with the later insert (g4) and clustering (g5/replace) invisible;
    the retention-checked clean (staged after) provably kept every
    slice this replay needs.  The complement-arithmetic oracle pins
    slice resolution at an interior instant, not just HEAD.
    sources/hudi.py ``read_hudi_snapshot(as_of=…)``."""
    from apache_nifi_spark.sources.hudi import read_hudi_snapshot

    root = _staged_hudi_cow(spark, sf_dir)
    snap = read_hudi_snapshot(spark, root, as_of="20240102080000000")
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register(
    "hudi_clustering_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT CASE WHEN doc_id < 100 OR
                (doc_id >= 200 AND doc_id < 300) THEN doc_id END)
                AS BIGINT) AS clustered_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 500
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 7 = 3)
    """,
)
def hudi_clustering_q(spark, sf_dir):
    """Hudi CLUSTERING audit (replacecommit — the maintenance action
    completing the trio's OPTIMIZE story: Delta OPTIMIZE ↔ Iceberg
    rewrite_data_files ↔ Hudi clustering): the snapshot after the
    replacecommit reads groups g0+g2 through the ONE clustered g5
    slice — ``_hoodie_commit_time`` (the spec's meta column, kept via
    ``with_meta``) proves exactly the clustered rows carry the
    replacecommit's instant while totals stay byte-identical.
    sources/hudi.py ``partitionToReplaceFileIds``."""
    from apache_nifi_spark.sources.hudi import read_hudi_snapshot

    root = _staged_hudi_cow(spark, sf_dir)
    snap = read_hudi_snapshot(spark, root, with_meta=True)
    return snap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct(
            F.when(
                F.col("_hoodie_commit_time") == "20240104080000000",
                F.col("doc_id"),
            )
        ).cast("bigint").alias("clustered_rows"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_iceberg_refs(spark, sf_dir):
    """Iceberg table with named refs: snapshot 901 (docs [0,200)),
    snapshot 902 (+[200,400)); a ``tag`` 'audit-q1' PINNED at 901 and
    a ``branch`` 'dev' at 902, each written as its own metadata
    version (the spec's atomic swap).  Staging asserts an unknown ref
    fails loudly and 'main' resolves to the current snapshot."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import (
        iceberg_commit,
        iceberg_resolve_ref,
        iceberg_set_ref,
    )

    root = io.scratch("anspark_icerefs_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    paths = {}
    for k in range(2):
        paths[k] = write_single_part(
            docs.filter(
                (F.col("doc_id") >= k * 200)
                & (F.col("doc_id") < k * 200 + 200)
            )
            .coalesce(1),
            f"{root}/f{k}",
        )

    def add(k):
        return [{
            "file_path": paths[k], "partition": f"p{k}",
            "record_count": 200,
            "file_size_in_bytes": os.path.getsize(paths[k]),
        }]

    iceberg_commit(root, 901, added=add(0))
    iceberg_commit(root, 902, added=add(1))
    iceberg_set_ref(root, "audit-q1", 901, ref_type="tag")
    iceberg_set_ref(root, "dev", 902, ref_type="branch")
    assert iceberg_resolve_ref(root, "main") == 902
    try:
        iceberg_resolve_ref(root, "prod")
        raise AssertionError("unknown iceberg ref resolved")
    except KeyError:
        pass
    return root


@register(
    "iceberg_ref_read",
    oracle="""
    SELECT 'audit-q1' AS ref, lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents WHERE doc_id < 200 GROUP BY lang
    UNION ALL
    SELECT 'dev' AS ref, lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents WHERE doc_id < 400 GROUP BY lang
    """,
)
def iceberg_ref_read_q(spark, sf_dir):
    """Iceberg NAMED REFS (spec 'Refs' — tags pin a snapshot forever
    for audits/reproducibility, branches are movable heads; the
    time-travel-by-NAME surface every catalog exposes as
    ``VERSION AS OF 'tag'``): reads through a pinned tag and a branch
    resolve to different snapshots of the same table, each ref update
    committed as its own atomic metadata version; unknown refs fail
    loudly (asserted in staging, never a silent HEAD fallback).
    sources/iceberg.py ``iceberg_set_ref``/``iceberg_resolve_ref``."""
    from apache_nifi_spark.sources.iceberg import (
        iceberg_resolve_ref,
        read_iceberg_snapshot,
    )

    root = _staged_iceberg_refs(spark, sf_dir)

    def via(ref):
        snap = read_iceberg_snapshot(
            spark, root, iceberg_resolve_ref(root, ref)
        )
        return snap.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        ).select(F.lit(ref).alias("ref"), "lang", "n", "id_sum")

    return via("audit-q1").unionByName(via("dev"))


@functools.cache
def _staged_hudi_mor(spark, sf_dir):
    """Hudi MERGE-ON-READ table: base commit c1 (two file groups,
    documents [0,400)), then three deltacommits APPENDING log blocks
    instead of rewriting base files — dc2 upserts lang='xx' onto g0's
    doc_id %% 10 == 7 rows, dc3 writes a DELETE block for g1's
    doc_id %% 9 == 4 keys, dc4 re-upserts key 301 (deleted by dc3)
    with lang='yy', proving the per-key instant-ordered merge: a
    delete then a later upsert must resurrect the key."""
    from apache_nifi_spark.sources.hudi import (
        hudi_append_log_block,
        hudi_commit,
        hudi_init,
        hudi_write_base_file,
        read_hudi_mor_snapshot,
    )

    root = io.scratch("anspark_hudimor_")
    hudi_init(root, "anspark_docs_mor")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    c1, dc2, dc3, dc4 = (
        "20240201080000000", "20240202080000000",
        "20240203080000000", "20240204080000000",
    )
    stats1: dict[str, list] = {"part=0": []}
    for k in range(2):
        stats1["part=0"].append(
            hudi_write_base_file(
                docs.filter(
                    (F.col("doc_id") >= k * 200)
                    & (F.col("doc_id") < k * 200 + 200)
                ),
                root, "part=0", f"g{k}", c1, "doc_id",
            )
        )
    hudi_commit(root, c1, stats1, operation="insert")
    up2 = [
        {"doc_id": d, "lang": "xx"}
        for d in range(0, 200) if d % 10 == 7
    ]
    hudi_commit(
        root, dc2,
        {"part=0": [hudi_append_log_block(
            root, "part=0", "g0", c1, dc2, 1, upserts=up2)]},
        action="deltacommit",
    )
    dels = [str(d) for d in range(200, 400) if d % 9 == 4]
    hudi_commit(
        root, dc3,
        {"part=0": [hudi_append_log_block(
            root, "part=0", "g1", c1, dc3, 2, delete_keys=dels)]},
        action="deltacommit",
    )
    hudi_commit(
        root, dc4,
        {"part=0": [hudi_append_log_block(
            root, "part=0", "g1", c1, dc4, 3,
            upserts=[{"doc_id": 301, "lang": "yy"}])]},
        action="deltacommit",
    )
    # interior-instant replay: at dc3 key 301 is GONE (deleted, not
    # yet re-upserted) — 400 - 22 deleted keys
    n_del = len(dels)
    assert read_hudi_mor_snapshot(spark, root, as_of=dc3).count() == \
        400 - n_del
    return root


@register(
    "hudi_mor_snapshot_read",
    oracle="""
    SELECT CASE WHEN doc_id = 301 THEN 'yy'
                WHEN doc_id < 200 AND doc_id % 10 = 7 THEN 'xx'
                ELSE lang END AS lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND NOT (doc_id >= 200 AND doc_id % 9 = 4 AND doc_id != 301)
    GROUP BY 1
    """,
)
def hudi_mor_snapshot_q(spark, sf_dir):
    """Hudi MERGE-ON-READ real-time view (the write-optimized half of
    the protocol: deltacommits APPEND log blocks — hoodie log framing,
    Avro data + delete blocks — instead of rewriting base files; the
    read merges base + log per record key): executor-side block decode
    over binaryFile Arrow batches, one max_by(struct, instant) per
    key, tombstones dropped AFTER the ordering so dc3's delete of key
    301 loses to dc4's re-upsert — the merge-order semantics the
    arithmetic oracle pins exactly (lang='xx' upserts, %%9 deletes,
    the 'yy' resurrection).  sources/hudi.py
    ``hudi_append_log_block`` / ``read_hudi_mor_snapshot``."""
    from apache_nifi_spark.sources.hudi import read_hudi_mor_snapshot

    root = _staged_hudi_mor(spark, sf_dir)
    snap = read_hudi_mor_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("doc_id").cast("long")).cast("long").alias("id_sum"),
    )


@register(
    "hudi_mor_read_optimized",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents WHERE doc_id < 400
    GROUP BY lang
    """,
)
def hudi_mor_read_optimized_q(spark, sf_dir):
    """Hudi MOR READ-OPTIMIZED view (the spec's other read path: base
    files only, columnar-fast but stale — log deltas invisible until
    compaction folds them in): the same table serves both views, and
    the oracle proves this one returns the PRE-delta state while
    [hudi_mor_snapshot_read] returns the merged one — the
    freshness/latency trade the two MOR views exist to offer."""
    from apache_nifi_spark.sources.hudi import read_hudi_snapshot

    root = _staged_hudi_mor(spark, sf_dir)
    snap = read_hudi_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_delta_v2ckpt(spark, sf_dir):
    """Delta table proving the V2 (sidecar) checkpoint path: commits
    v0/v1 add four files of documents [0,400), v2 DV-deletes
    doc_id %% 11 == 5 ordinals of the second file, a V2 checkpoint at
    v2 splits the reconciled adds across two sidecar parquets, v3
    appends [400,500) as a JSON tail commit — then every JSON commit
    AT OR BELOW the checkpoint is DELETED, so the snapshot read can
    only succeed through checkpointMetadata → sidecar actions →
    sidecar scan → tail replay."""
    import glob

    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.deltalog import (
        delta_delete_rows,
        read_delta_snapshot,
        write_checkpoint_v2,
        write_commit,
    )

    root = io.scratch("anspark_deltav2_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rel = {}
    for k in range(5):
        part = write_single_part(
            docs.filter(
                (F.col("doc_id") >= k * 100)
                & (F.col("doc_id") < k * 100 + 100)
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id"),
            f"{root}/f{k}",
        )
        rel[k] = os.path.relpath(part, root)

    def add(k):
        return {"add": {"path": rel[k], "size": os.path.getsize(
            os.path.join(root, rel[k])), "dataChange": True}}

    write_commit(root, 0, [{"metaData": {"id": "anspark-v2ckpt"}},
                           add(0), add(1)])
    write_commit(root, 1, [add(2), add(3)])
    delta_delete_rows(
        spark, root,
        {rel[1]: [d - 100 for d in range(100, 200) if d % 11 == 5]},
    )
    write_checkpoint_v2(spark, root, 2, n_sidecars=2)
    write_commit(root, 3, [add(4)])
    # burn the boats: reads below must come ONLY from the v2 layout
    for j in glob.glob(f"{root}/_delta_log/0000*.json"):
        if int(os.path.basename(j)[:-5]) <= 2:
            os.remove(j)
    assert read_delta_snapshot(spark, root).count() == 500 - len(
        [d for d in range(100, 200) if d % 11 == 5]
    )
    return root


@register(
    "delta_checkpoint_v2_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 500
      AND NOT (doc_id >= 100 AND doc_id < 200 AND doc_id % 11 = 5)
    GROUP BY lang
    """,
)
def delta_checkpoint_v2_q(spark, sf_dir):
    """Delta V2 CHECKPOINT read (PROTOCOL.md 'V2 Checkpoints' — the
    ``v2Checkpoint`` feature: a UUID-named top file carrying ONE
    ``checkpointMetadata`` action plus ``sidecar`` actions, with the
    reconciled adds split across ``_delta_log/_sidecars/`` parquets a
    distributed writer can emit in parallel): the staging DELETES every
    JSON commit at or below the checkpoint, so this snapshot can only
    resolve through top file → sidecar list → sidecar scan → JSON tail
    — and the deletion-vector add carried through the sidecar still
    drops its ordinals.  sources/deltalog.py ``write_checkpoint_v2`` /
    ``_v2_checkpoint_base``."""
    from apache_nifi_spark.sources.deltalog import read_delta_snapshot

    root = _staged_delta_v2ckpt(spark, sf_dir)
    snap = read_delta_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@functools.cache
def _staged_hudi_compacted(spark, sf_dir):
    """The MOR fixture compacted: every log-bearing file group folds
    its deltas into a new base slice at c5; staging asserts the
    read-optimized view now equals the real-time view (the point of
    compaction), while time travel to the pre-compaction instant still
    reads the stale base."""
    from apache_nifi_spark.sources.hudi import (
        hudi_compact,
        read_hudi_mor_snapshot,
        read_hudi_snapshot,
    )

    import shutil

    # compact a COPY: the MOR fixture is shared with the real-time /
    # read-optimized queries whose oracles pin the PRE-compaction
    # state — mutating it would make results depend on query order
    src = _staged_hudi_mor(spark, sf_dir)
    root = io.scratch("anspark_hudicmp_")
    shutil.rmtree(root)
    shutil.copytree(src, root)
    if True:
        compacted = hudi_compact(
            spark, root, "20240205080000000", key_col="doc_id"
        )
        assert compacted == ["g0", "g1"], compacted
        # RO == RT after compaction — and the stale pre-compaction RO
        # state is still reachable by time travel
        n_rt = read_hudi_mor_snapshot(spark, root).count()
        assert read_hudi_snapshot(spark, root).count() == n_rt
        assert read_hudi_snapshot(
            spark, root, as_of="20240204080000000"
        ).count() == 400
    return root


@register(
    "hudi_mor_compacted_read",
    oracle="""
    SELECT CASE WHEN doc_id = 301 THEN 'yy'
                WHEN doc_id < 200 AND doc_id % 10 = 7 THEN 'xx'
                ELSE lang END AS lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400
      AND NOT (doc_id >= 200 AND doc_id % 9 = 4 AND doc_id != 301)
    GROUP BY 1
    """,
)
def hudi_mor_compacted_q(spark, sf_dir):
    """Hudi MOR COMPACTION (the table service completing the MOR
    lifecycle: deltacommit log blocks fold into NEW base slices at the
    compaction instant, so the read-optimized view CONVERGES to the
    real-time view with zero reader changes — slice resolution simply
    prefers the newer base and every log record loses its per-key
    max_by): this READ-OPTIMIZED (base-only) read over the compacted
    table must equal [hudi_mor_snapshot_read]'s merged state — upserts,
    deletes, and the delete-then-reinsert resurrection all baked into
    the new slices; staging also proves the pre-compaction base state
    stays reachable by time travel.  sources/hudi.py
    ``hudi_compact``."""
    from apache_nifi_spark.sources.hudi import read_hudi_snapshot

    root = _staged_hudi_compacted(spark, sf_dir)
    snap = read_hudi_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )
