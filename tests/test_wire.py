"""Wire-format sink renderers + connector predicate compilers
(sinks/wire.py, functions/selectors.py).

The registry queries value-oracle the renders byte-for-byte vs DuckDB;
these tests pin the semantics that the oracle can't see — spec shapes
(valid JSON, decodable base64, header order) and the selector languages'
edge rules (MQTT `$` guard, Mongo $nin-null, JMS grammar rejection).
"""

from __future__ import annotations

import base64
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apache_nifi_spark.functions.selectors import (
    compile_mongo_query,
    jms_selector,
    mqtt_filter_regex,
    mqtt_topic_matches,
)
from apache_nifi_spark.sinks import wire


def test_es_bulk_lines_are_valid_ndjson(spark):
    df = spark.createDataFrame([Row(id=1, s='say "hi"\nok', x=2.5)])
    out = df.select(
        wire.es_bulk(
            "idx",
            F.col("id"),
            [("s", wire.json_string(F.col("s"))), ("x", wire.json_number(F.col("x"), 2))],
        ).alias("bulk")
    ).first()["bulk"]
    action, source = out.split("\n")
    assert json.loads(action) == {"index": {"_index": "idx", "_id": "1"}}
    assert json.loads(source) == {"s": 'say "hi"\nok', "x": 2.50}


def test_mongo_extended_json_shape(spark):
    df = spark.createDataFrame([Row(id=7, name="a\\b", bal=-3.5)])
    doc = df.select(
        wire.mongo_extended_json(
            F.col("id"),
            [("name", "string", F.col("name"), None), ("bal", "double", F.col("bal"), 2)],
        ).alias("d")
    ).first()["d"]
    parsed = json.loads(doc)
    assert parsed["_id"] == {"$numberLong": "7"}
    assert parsed["name"] == "a\\b"
    assert parsed["bal"] == {"$numberDouble": "-3.50"}


def test_email_mime_headers_and_body_decode(spark):
    df = spark.createDataFrame(
        [Row(to="x@y.z", subj="hello", ts="2024-05-06 07:08:09", body="line one")]
    )
    msg = df.select(
        wire.email_mime(
            "noreply@engine.local",
            F.col("to"),
            F.col("subj"),
            F.col("ts").cast("timestamp_ntz"),
            F.col("body"),
        ).alias("m")
    ).first()["m"]
    headers, b64 = msg.split("\r\n\r\n")
    lines = headers.split("\r\n")
    assert lines[0] == "From: noreply@engine.local"
    assert lines[1] == "To: x@y.z"
    assert lines[2] == "Subject: hello"
    assert lines[3] == "Date: Mon, 6 May 2024 07:08:09 +0000"
    assert "Content-Transfer-Encoding: base64" in lines
    assert base64.b64decode(b64.strip()).decode() == "line one"


def test_slack_payload_parses_and_escapes(spark):
    df = spark.createDataFrame([Row(t='alert "x"', c="k\tv")])
    payload = df.select(
        wire.slack_post_payload("#ops", F.col("t"), F.col("c")).alias("p")
    ).first()["p"]
    parsed = json.loads(payload)
    assert parsed["channel"] == "#ops"
    assert parsed["text"] == 'alert "x"'
    assert parsed["blocks"][0]["text"]["text"] == 'alert "x"'
    assert parsed["blocks"][1]["elements"][0]["text"] == "k\tv"


# ---------------------------------------------------------------------
# MQTT topic filters
# ---------------------------------------------------------------------

@pytest.mark.parametrize(
    "flt,topic,expect",
    [
        ("sport/tennis/+", "sport/tennis/player1", True),
        ("sport/tennis/+", "sport/tennis/player1/ranking", False),
        ("sport/+", "sport", False),          # + needs a (possibly empty) level
        ("sport/+", "sport/", True),          # empty level matches +
        ("sport/#", "sport", True),           # parent level matches trailing #
        ("sport/#", "sport/tennis/player1", True),
        ("#", "a/b/c", True),
        ("#", "$SYS/broker", False),          # $-guard on wildcard-leading filter
        ("+/monitor", "$SYS/monitor", False),
        ("$SYS/#", "$SYS/broker", True),      # explicit $ level is fine
    ],
)
def test_mqtt_matching_spec_cases(spark, flt, topic, expect):
    df = spark.createDataFrame([Row(t=topic)])
    got = df.select(mqtt_topic_matches(F.col("t"), flt).alias("m")).first()["m"]
    assert got == expect, (flt, topic)


def test_mqtt_filter_regex_rejects_inner_hash():
    with pytest.raises(ValueError):
        mqtt_filter_regex("a/#/b")
    with pytest.raises(ValueError):
        mqtt_filter_regex("a/b+c")


# ---------------------------------------------------------------------
# Mongo query documents
# ---------------------------------------------------------------------

def test_mongo_query_operators(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x", c=None), Row(a=5, b="y", c="z"), Row(a=9, b="x", c="w")],
        "a int, b string, c string",
    )
    def ids(q):
        return sorted(r["a"] for r in df.filter(compile_mongo_query(q)).collect())

    assert ids({"a": {"$gte": 5}}) == [5, 9]
    assert ids({"b": "x"}) == [1, 9]
    assert ids({"$or": [{"a": 1}, {"b": "y"}]}) == [1, 5]
    assert ids({"$nor": [{"a": 1}, {"b": "y"}]}) == [9]
    assert ids({"c": {"$exists": False}}) == [1]
    assert ids({"a": {"$nin": [1, 5]}}) == [9]
    assert ids({"b": {"$regex": "^x"}}) == [1, 9]
    assert ids({"a": {"$not": {"$lt": 5}}}) == [5, 9]
    with pytest.raises(ValueError):
        compile_mongo_query({"a": {"$near": [0, 0]}})
    # Mongo null semantics (ADVICE r4 #2): $ne and $not match documents
    # where the field is absent/null, consistent with $nin
    def cids(q):
        return sorted(r["a"] for r in df.filter(compile_mongo_query(q)).collect())

    assert cids({"c": {"$ne": "z"}}) == [1, 9]          # null c matches
    assert cids({"c": {"$not": {"$eq": "z"}}}) == [1, 9]
    assert cids({"c": {"$not": {"$regex": "^z"}}}) == [1, 9]
    assert cids({"c": {"$ne": None}}) == [5, 9]          # $ne null = exists


# ---------------------------------------------------------------------
# JMS selectors
# ---------------------------------------------------------------------

def test_jms_selector_grammar(spark):
    df = spark.createDataFrame(
        [Row(kind="click", v=10.0, note=None), Row(kind="view", v=99.0, note="hot")],
        "kind string, v double, note string",
    )
    sel = "kind = 'view' AND v BETWEEN 50 AND 100 AND note IS NOT NULL"
    assert df.filter(jms_selector(sel)).count() == 1
    # LIKE with escape, <>, NOT
    assert df.filter(jms_selector("kind LIKE 'cl%' AND v <> 99")).count() == 1
    # Function application is NOT selector syntax
    with pytest.raises(ValueError):
        jms_selector("upper(kind) = 'VIEW'")
    with pytest.raises(ValueError):
        jms_selector("kind = 'x'; DROP TABLE t")
    # SQL reserved words are not selector syntax (ADVICE r4 #3): no
    # smuggled subqueries or niladic functions
    with pytest.raises(ValueError):
        jms_selector("v IN (SELECT 1)")
    with pytest.raises(ValueError):
        jms_selector("kind = CAST(1 AS STRING)")
    with pytest.raises(ValueError):
        jms_selector("note = current_date")
    with pytest.raises(ValueError):
        jms_selector("CASE WHEN v > 0 THEN true ELSE false END")


def test_extract_email_attachments_multipart(spark):
    """A real multipart message (stdlib-built, base64 attachments) fans
    out one row per attachment with decoded payloads; headers parse
    alongside with the right attachment count."""
    from email.mime.application import MIMEApplication
    from email.mime.multipart import MIMEMultipart
    from email.mime.text import MIMEText

    from apache_nifi_spark.sources.email_codec import (
        extract_email_attachments,
        parse_email_headers,
    )

    def build(mid: int) -> bytes:
        m = MIMEMultipart()
        m["From"] = "a@x"
        m["To"] = "b@y"
        m["Subject"] = f"msg {mid}"
        m["Date"] = "Tue, 1 Jul 2025 12:00:00 +0000"
        m.attach(MIMEText(f"body {mid}", "plain"))
        for j in range(2):
            att = MIMEApplication(bytes([mid, j]) * 10, Name=f"f{mid}_{j}.bin")
            att["Content-Disposition"] = f'attachment; filename="f{mid}_{j}.bin"'
            m.attach(att)
        return m.as_bytes()

    df = spark.createDataFrame(
        [(i, bytearray(build(i))) for i in (1, 2)], "id long, message binary"
    )
    heads = {r["id"]: r for r in parse_email_headers(df, "message", id_col="id").collect()}
    assert heads[1]["subject"] == "msg 1"
    assert heads[1]["body_text"].strip() == "body 1"
    assert heads[1]["n_attachments"] == 2
    atts = extract_email_attachments(df, "message", id_col="id").collect()
    assert len(atts) == 4
    got = {(r["id"], r["filename"]): bytes(r["payload"]) for r in atts}
    assert got[(2, "f2_1.bin")] == bytes([2, 1]) * 10
    assert all(r["mime_type"] == "application/octet-stream" for r in atts)


def test_protobuf_wire_codec_edge_cases():
    """proto3 wire rules: negative int64 costs ten varint bytes,
    zigzag sint64 round-trips negatives compactly, unknown fields skip
    by wire type (all four types), last-one-wins for duplicates,
    truncation raises."""
    import struct

    import pytest

    from apache_nifi_spark.functions.protobuf_wire import (
        pb_decode,
        pb_encode,
    )

    spec = {1: ("a", "int64"), 2: ("s", "sint64"), 3: ("t", "string"),
            4: ("d", "double"), 5: ("f", "fixed32"), 6: ("b", "bool")}
    vals = {"a": -2, "s": -123456789, "t": "héllo", "d": -0.5,
            "f": 4294967295, "b": True}
    buf = pb_encode(spec, vals)
    assert pb_decode(spec, buf) == vals
    # negative int64 varint occupies 10 bytes per the spec
    only_a = pb_encode({1: ("a", "int64")}, {"a": -2})
    assert len(only_a) == 1 + 10
    # zigzag: -1 encodes as a single 0x01 byte
    assert pb_encode({1: ("s", "sint64")}, {"s": -1})[1:] == b"\x01"

    # unknown fields (varint, len, fixed64, fixed32) skip cleanly
    extra = (
        pb_encode({9: ("x", "uint64")}, {"x": 7})
        + pb_encode({10: ("y", "string")}, {"y": "zzz"})
        + pb_encode({11: ("z", "double")}, {"z": 1.5})
        + pb_encode({12: ("w", "fixed32")}, {"w": 9})
    )
    assert pb_decode(spec, buf + extra) == vals
    # duplicate scalar: last one wins
    dup = pb_encode({1: ("a", "int64")}, {"a": 5}) + pb_encode(
        {1: ("a", "int64")}, {"a": 6}
    )
    assert pb_decode({1: ("a", "int64")}, dup) == {"a": 6}
    with pytest.raises(ValueError, match="truncated"):
        pb_decode(spec, buf[:-1])
    # wire-type mismatch between writer and reader spec fails loudly
    with pytest.raises(ValueError, match="wire type"):
        pb_decode({1: ("a", "string")}, only_a)


def test_snmp_ber_and_agent_roundtrip():
    """X.690 BER: OID multi-byte arcs, minimal two's-complement ints;
    RFC 3416: Response matching, noSuchObject for unknown OIDs, error
    16 on a wrong community."""
    import socket

    from apache_nifi_spark.sources.snmp import (
        MiniSnmpAgent,
        ber_decode,
        ber_encode_int,
        ber_encode_oid,
        snmp_get_request,
        snmp_parse_response,
    )

    assert ber_decode(ber_encode_oid("1.3.6.1.4.1.9999.1.200"))[1] == \
        "1.3.6.1.4.1.9999.1.200"
    for v in (0, 1, 127, 128, 255, 65535, -1, -128, 2**31 - 1):
        assert ber_decode(ber_encode_int(v))[1] == v
    with MiniSnmpAgent({"1.3.6.1.2.1.1.3.0": (0x43, 99)}) as agent:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.settimeout(5)
        s.sendto(snmp_get_request(7, "public", "1.3.6.1.2.1.1.3.0"),
                 ("127.0.0.1", agent.port))
        rid, err, binds = snmp_parse_response(s.recvfrom(65535)[0])
        assert (rid, err) == (7, 0)
        assert binds == [("1.3.6.1.2.1.1.3.0", 0x43, 99)]
        s.sendto(snmp_get_request(8, "public", "1.3.6.1.2.1.9.9"),
                 ("127.0.0.1", agent.port))
        assert snmp_parse_response(s.recvfrom(65535)[0])[2][0][2] is None
        s.sendto(snmp_get_request(9, "wrong", "1.3.6.1.2.1.1.3.0"),
                 ("127.0.0.1", agent.port))
        assert snmp_parse_response(s.recvfrom(65535)[0])[1] == 16
        s.close()


def test_dns_wire_compression_and_nxdomain():
    """RFC 1035: label encode, §4.1.4 compression-pointer decode on the
    answer name, NXDOMAIN rcode 3, pointer-loop guard."""
    import socket

    import pytest

    from apache_nifi_spark.sources.dns_wire import (
        MiniDnsServer,
        _decode_name,
        dns_decode_message,
        dns_encode_query,
    )

    with MiniDnsServer({"a.example.com": "10.1.2.3"}, ttl=60) as srv:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.settimeout(5)
        s.sendto(dns_encode_query(1, "a.example.com"),
                 ("127.0.0.1", srv.port))
        txn, rcode, q, ans = dns_decode_message(s.recvfrom(4096)[0])
        assert (txn, rcode, q) == (1, 0, "a.example.com")
        assert ans == [("a.example.com", 60, "10.1.2.3")]
        s.sendto(dns_encode_query(2, "nope.example.com"),
                 ("127.0.0.1", srv.port))
        assert dns_decode_message(s.recvfrom(4096)[0])[1] == 3
        s.close()
    # self-referential pointer must raise, not spin
    with pytest.raises(ValueError, match="pointer loop"):
        _decode_name(b"\xc0\x00", 0)
