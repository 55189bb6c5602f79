"""flow.json import tests: golden fixture, graph validation, plan quality."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark.plans.flow_import import (
    FlowImportError,
    run_flow,
    run_flow_json,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "golden_flow.json")


@pytest.fixture(scope="module")
def golden_outputs(spark, sf_dir):
    with open(GOLDEN) as f:
        return run_flow_json(spark, sf_dir, f.read()), f


def test_golden_flow_outputs(golden_outputs):
    outs, _ = golden_outputs
    assert set(outs) == {
        "DailyAgg.daily",
        "EnrichBig.matched",
        "EnrichBig.unmatched",
        "RouteClicks.unmatched",
    }


def test_golden_flow_matches_handbuilt(spark, sf_dir, golden_outputs):
    from apache_nifi_spark import io

    outs, _ = golden_outputs
    ev = io.load_table(spark, sf_dir, "events")
    hand = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_clicks"),
            F.sum((F.col("value") * 2).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value2"),
        )
    )
    got = {r.day: (r.n_clicks, r.sum_value2) for r in outs["DailyAgg.daily"].collect()}
    want = {r.day: (r.n_clicks, r.sum_value2) for r in hand.collect()}
    assert got == want


def test_route_filter_pushes_into_scan(golden_outputs):
    """The imported flow compiles to ONE Catalyst plan — the route's EL
    predicate must reach the parquet scan as a pushed filter, which NiFi's
    per-processor execution model cannot do."""
    outs, _ = golden_outputs
    plan = outs["EnrichBig.matched"]._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1][:300] or "value" in plan.split(
        "PushedFilters"
    )[1][:300]


def test_lookup_is_broadcast(golden_outputs):
    outs, _ = golden_outputs
    plan = outs["EnrichBig.matched"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_funnel_union_semantics(spark, sf_dir):
    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "a", "name": "A",
                 "type": "x.GetFile", "properties": {"Input Directory": "events"}},
                {"identifier": "b", "name": "B",
                 "type": "x.GetFile", "properties": {"Input Directory": "events"}},
                {"identifier": "r", "name": "R",
                 "type": "x.RouteOnAttribute",
                 "properties": {"clicks": "${event_type:equals('click')}"}},
            ],
            "connections": [
                {"source": {"id": "a"}, "destination": {"id": "r"},
                 "selectedRelationships": ["success"]},
                {"source": {"id": "b"}, "destination": {"id": "r"},
                 "selectedRelationships": ["success"]},
            ],
        }
    }
    outs = run_flow(spark, sf_dir, flow)
    from apache_nifi_spark import io

    n_clicks = (
        io.load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert outs["R.clicks"].count() == 2 * n_clicks  # UNION ALL, not distinct


def test_cycle_detection(spark, sf_dir):
    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "a", "name": "A", "type": "x.UpdateAttribute",
                 "properties": {"z": "${event_type}"}},
                {"identifier": "b", "name": "B", "type": "x.UpdateAttribute",
                 "properties": {"z": "${event_type}"}},
            ],
            "connections": [
                {"source": {"id": "a"}, "destination": {"id": "b"}},
                {"source": {"id": "b"}, "destination": {"id": "a"}},
            ],
        }
    }
    with pytest.raises(FlowImportError, match="cycle"):
        run_flow(spark, sf_dir, flow)


def test_retry_cycle_unrolls(spark, sf_dir):
    """A RetryFlowFile retry back-edge must import (bounded unroll), and
    the unrolled attempts must route exactly: pass rows exit on attempt
    1; fail rows exhaust Maximum Retries and exit retries_exceeded with
    the spent counter."""
    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "retry_flow.json")
    with open(fixture) as f:
        outs = run_flow_json(spark, sf_dir, f.read())
    assert set(outs) == {"OkAgg.agg", "DeadLetter.agg"}
    ok = outs["OkAgg.agg"].first()
    dead = outs["DeadLetter.agg"].first()
    from apache_nifi_spark import io

    ev = io.load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    n_ok = ev.filter("k <= 60").count()
    n_bad = ev.filter("k > 60").count()
    assert (ok["n"], dead["n"]) == (n_ok, n_bad)
    assert dead["attempts"] == 3  # Maximum Retries=2 → 3 attempts total


def test_retry_cycle_unroll_is_order_independent(spark, sf_dir):
    """The DFS back-edge depends on processors[] serialization order;
    when the RetryFlowFile comes FIRST, DFS discovers the body's
    failure edge as the back-edge — the importer must still locate the
    'retry' edge in the cycle and unroll on it."""
    import json as _json

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "retry_flow.json")
    with open(fixture) as f:
        flow = _json.load(f)
    fc = flow["flowContents"]
    fc["processors"].sort(key=lambda p: p["identifier"] != "rty")  # rty first
    assert fc["processors"][0]["identifier"] == "rty"
    outs = run_flow_json(spark, sf_dir, _json.dumps(flow))
    assert set(outs) == {"OkAgg.agg", "DeadLetter.agg"}
    assert outs["DeadLetter.agg"].first()["attempts"] == 3


def test_non_retry_cycle_still_raises(spark, sf_dir):
    """Cycles that aren't RetryFlowFile retry loops are unsupported and
    must error with a diagnostic naming the back-edge."""
    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "g", "name": "G", "type": "x.GetFile",
                 "properties": {"Input Directory": "events"}},
                {"identifier": "a", "name": "A", "type": "x.UpdateAttribute",
                 "properties": {"z": "${event_type}"}},
                {"identifier": "b", "name": "B", "type": "x.UpdateAttribute",
                 "properties": {"z": "${event_type}"}},
            ],
            "connections": [
                {"source": {"id": "g"}, "destination": {"id": "a"},
                 "selectedRelationships": ["success"]},
                {"source": {"id": "a"}, "destination": {"id": "b"},
                 "selectedRelationships": ["success"]},
                {"source": {"id": "b"}, "destination": {"id": "a"},
                 "selectedRelationships": ["success"]},
            ],
        }
    }
    with pytest.raises(FlowImportError, match="not a RetryFlowFile"):
        run_flow(spark, sf_dir, flow)


def test_unsupported_processor_raises(spark, sf_dir):
    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "a", "name": "A", "type": "x.GetFile",
                 "properties": {"Input Directory": "events"}},
                {"identifier": "z", "name": "Z", "type": "x.ConsumeJMS",
                 "properties": {}},
            ],
            "connections": [
                {"source": {"id": "a"}, "destination": {"id": "z"},
                 "selectedRelationships": ["success"]},
            ],
        }
    }
    with pytest.raises(FlowImportError, match="unsupported processor"):
        run_flow(spark, sf_dir, flow)


def test_bad_source_table_raises(spark, sf_dir):
    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "a", "name": "A", "type": "x.GetFile",
                 "properties": {"Input Directory": "/etc/passwd"}},
            ],
            "connections": [],
        }
    }
    with pytest.raises(FlowImportError, match="fixture table"):
        run_flow(spark, sf_dir, flow)


def test_extended_processor_types(spark, sf_dir):
    """The round-5 importer additions: content regex route, text
    extract/replace, weighted distribution, fan-out, and an inline-XSLT
    TransformXml — all composed in one flow graph."""
    from apache_nifi_spark import io

    xsl = (
        '<xsl:stylesheet version="1.0" '
        'xmlns:xsl="http://www.w3.org/1999/XSL/Transform">'
        '<xsl:template match="d"><r id="{i}"/></xsl:template>'
        "</xsl:stylesheet>"
    )
    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "src", "name": "Src", "type": "x.GetFile",
                 "properties": {"Input Directory": "documents"}},
                {"identifier": "route", "name": "Route", "type": "x.RouteText",
                 "properties": {"Column": "lang", "Regular Expression": "^en$"}},
                {"identifier": "ext", "name": "Ext", "type": "x.ExtractText",
                 "properties": {"Column": "text", "first_word": r"^(\S+)"}},
                {"identifier": "rep", "name": "Rep", "type": "x.ReplaceText",
                 "properties": {"Column": "first_word",
                                "Regular Expression": "[aeiou]",
                                "Replacement Value": "_"}},
                {"identifier": "dist", "name": "Dist", "type": "x.DistributeLoad",
                 "properties": {"Order Column": "doc_id", "hot": "2", "cold": "1"}},
                {"identifier": "dup", "name": "Dup", "type": "x.DuplicateFlowFile",
                 "properties": {"Number of Copies": "2"}},
            ],
            "connections": [
                {"source": {"id": "src"}, "destination": {"id": "route"},
                 "selectedRelationships": ["success"]},
                {"source": {"id": "route"}, "destination": {"id": "ext"},
                 "selectedRelationships": ["matched"]},
                {"source": {"id": "ext"}, "destination": {"id": "rep"},
                 "selectedRelationships": ["matched"]},
                {"source": {"id": "rep"}, "destination": {"id": "dist"},
                 "selectedRelationships": ["success"]},
                {"source": {"id": "dist"}, "destination": {"id": "dup"},
                 "selectedRelationships": ["hot"]},
            ],
        }
    }
    outs = run_flow(spark, sf_dir, flow)
    docs = io.load_table(spark, sf_dir, "documents")
    n_en = docs.filter(F.col("lang") == "en").count()
    assert outs["Route.unmatched"].count() == docs.count() - n_en
    hot = (n_en * 2 + 2) // 3  # ceil of the 2-of-3 weighted share
    assert outs["Dup.success"].count() == hot * 3  # original + 2 copies
    assert outs["Dist.cold"].count() == n_en - hot
    row = outs["Dup.success"].first()
    assert "_" in row["first_word"] or row["first_word"].isalpha()

    # inline-XSLT TransformXml
    flow2 = {
        "flowContents": {
            "processors": [
                {"identifier": "g", "name": "G", "type": "x.GetFile",
                 "properties": {"Input Directory": "nation"}},
                {"identifier": "u", "name": "U", "type": "x.UpdateAttribute",
                 "properties": {"xml": "<d><i>${n_nationkey}</i></d>"}},
                {"identifier": "t", "name": "T", "type": "x.TransformXml",
                 "properties": {"Column": "xml", "XSLT Stylesheet": (
                     '<xsl:stylesheet version="1.0" '
                     'xmlns:xsl="http://www.w3.org/1999/XSL/Transform">'
                     '<xsl:template match="d"><r id="{i}"/></xsl:template>'
                     "</xsl:stylesheet>")}},
            ],
            "connections": [
                {"source": {"id": "g"}, "destination": {"id": "u"},
                 "selectedRelationships": ["success"]},
                {"source": {"id": "u"}, "destination": {"id": "t"},
                 "selectedRelationships": ["success"]},
            ],
        }
    }
    outs2 = run_flow(spark, sf_dir, flow2)
    r = outs2["T.success"].orderBy("n_nationkey").first()
    assert r["transformed"] == f'<r id="{r["n_nationkey"]}" />'


def test_session2_processor_types(spark, sf_dir):
    """The session-2 additions compile onto the new operators:
    QueryRecord → ValidateJson valid/invalid branch, QueryRecord →
    GeohashRecord, ParseCEF, CountText, ForkRecord."""
    from apache_nifi_spark.plans.flow_import import run_flow

    def conn(src, dst, rels):
        return {"source": {"id": src}, "destination": {"id": dst},
                "selectedRelationships": rels}

    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "g", "name": "G", "type": "x.GetFile",
                 "properties": {"Input Directory": "nation"}},
                {"identifier": "q", "name": "Q", "type": "x.QueryRecord",
                 "properties": {"docs": (
                     "SELECT n_nationkey, to_json(named_struct("
                     "'id', n_nationkey, 'name', n_name)) AS content,"
                     " CAST(n_nationkey AS DOUBLE) AS lat,"
                     " CAST(n_regionkey * 30 - 60 AS DOUBLE) AS lon,"
                     " split(n_name, 'A') AS parts,"
                     " concat('CEF:0|v|p|1|s', CAST(n_nationkey AS STRING),"
                     "        '|evt|3|src=1.2.3.4 msg=hi') AS cef"
                     " FROM FLOWFILE")}},
                {"identifier": "v", "name": "V", "type": "x.ValidateJson",
                 "properties": {"Column": "content", "Schema Text": (
                     '{"type": "object", "required": ["id", "name"],'
                     ' "properties": {"id": {"type": "integer", "maximum": 20}}}')}},
                {"identifier": "geo", "name": "Geo", "type": "x.GeohashRecord",
                 "properties": {"Latitude Record Path": "lat",
                                "Longitude Record Path": "lon",
                                "Geohash Level": "6"}},
                {"identifier": "cef", "name": "Cef", "type": "x.ParseCEF",
                 "properties": {"Column": "cef"}},
                {"identifier": "cnt", "name": "Cnt", "type": "x.CountText",
                 "properties": {"Column": "content"}},
                {"identifier": "fork", "name": "Fork", "type": "x.ForkRecord",
                 "properties": {"Record Path": "parts"}},
            ],
            "connections": [
                conn("g", "q", ["success"]),
                conn("q", "v", ["docs"]),
                conn("v", "geo", ["valid"]),
                conn("v", "cnt", ["invalid"]),
                conn("geo", "cef", ["success"]),
                conn("cef", "fork", ["success"]),
            ],
        }
    }
    outs = run_flow(spark, sf_dir, flow)
    forks = outs["Fork.fork"].collect()
    assert forks, "valid branch should survive to the fork"
    sample = outs["Fork.fork"].orderBy("n_nationkey", "pos").first()
    assert len(sample["geohash"]) == 6
    assert sample["signature_id"].startswith("s")
    assert sample["msg"] == "hi"
    # ids > 20 fail the maximum rule and take the invalid branch
    inv = outs["Cnt.success"].collect()
    assert {r["n_nationkey"] for r in inv} == {21, 22, 23, 24}
    assert all(r["validation_error"] == "maximum:$.id" for r in inv)
    assert inv[0]["text.character.count"] > 0


def test_generate_validate_mac_flow(spark, sf_dir):
    """GenerateRecord source → QueryRecord builds XML + MAC columns →
    ValidateXml and VerifyContentMAC branch."""
    from apache_nifi_spark.plans.flow_import import run_flow

    def conn(src, dst, rels):
        return {"source": {"id": src}, "destination": {"id": dst},
                "selectedRelationships": rels}

    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "g", "name": "Gen", "type": "x.GenerateRecord",
                 "properties": {"Number of Records": "50"}},
                {"identifier": "q", "name": "Q", "type": "x.QueryRecord",
                 "properties": {"out": (
                     "SELECT rec_id, amount, token,"
                     " CASE WHEN rec_id % 5 = 0"
                     "   THEN '<row><amount>' || amount || '</amount>'"
                     "   ELSE '<row><amount>' || amount || '</amount></row>' END"
                     " AS content FROM FLOWFILE")}},
                {"identifier": "v", "name": "V", "type": "x.ValidateXml",
                 "properties": {"Root Tag": "row",
                                "Required Elements": "amount"}},
            ],
            "connections": [conn("g", "q", ["success"]), conn("q", "v", ["out"])],
        }
    }
    outs = run_flow(spark, sf_dir, flow)
    assert outs["V.valid"].count() == 40
    inv = outs["V.invalid"].collect()
    assert len(inv) == 10
    assert all(r["validation_error"] == "malformed" for r in inv)

    # MAC branch: compute a mac column for half the rows correctly
    from apache_nifi_spark.functions.mac import hmac_sha256_col
    from pyspark.sql import functions as F

    base = spark.range(20).select(
        F.col("id"),
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("content"),
    )
    presented = base.withColumn(
        "mac",
        F.when(F.col("id") % 2 == 0, hmac_sha256_col(F.col("content"), b"k1"))
        .otherwise(F.lit("deadbeef")),
    )
    presented.createOrReplaceTempView("mac_input")
    flow2 = {
        "flowContents": {
            "processors": [
                {"identifier": "s", "name": "S", "type": "x.GenerateRecord",
                 "properties": {"Number of Records": "1"}},
                {"identifier": "q", "name": "Q2", "type": "x.QueryRecord",
                 "properties": {"rows": "SELECT * FROM mac_input"}},
                {"identifier": "m", "name": "M", "type": "x.VerifyContentMAC",
                 "properties": {"MAC Key": "k1"}},
            ],
            "connections": [conn("s", "q", ["success"]), conn("q", "m", ["rows"])],
        }
    }
    outs2 = run_flow(spark, sf_dir, flow2)
    assert outs2["M.success"].count() == 10
    assert outs2["M.failure"].count() == 10


def test_round7_importer_types(spark, sf_dir):
    """Round-7 widening for binary-content processors: ParseNetflowv5,
    UnpackContent, ConvertExcelToCSVProcessor, ExtractEmailAttachments —
    each imported through run_flow with the payloads staged in a temp
    view (binary content can't be authored in flow.json properties)."""
    from apache_nifi_spark.plans.flow_import import run_flow

    def conn(src, dst, rels):
        return {"source": {"id": src}, "destination": {"id": dst},
                "selectedRelationships": rels}

    def via_view(view_sql, proc):
        return {
            "flowContents": {
                "processors": [
                    {"identifier": "g", "name": "G", "type": "x.GenerateRecord",
                     "properties": {"Number of Records": "1"}},
                    {"identifier": "q", "name": "Q", "type": "x.QueryRecord",
                     "properties": {"rows": view_sql}},
                    dict(proc, identifier="p", name="P"),
                ],
                "connections": [conn("g", "q", ["success"]),
                                conn("q", "p", ["rows"])],
            }
        }

    # --- ParseNetflowv5: render 3 packets of 2 records each, parse back
    from apache_nifi_spark.functions.netflow import netflow5_packet

    fields = {
        "srcaddr": F.lit(10 * 16777216 + 1), "dstaddr": F.lit(10 * 16777216 + 2),
        "nexthop": F.lit(0), "input_if": F.lit(1), "output_if": F.lit(2),
        "d_pkts": F.col("id") + 1, "d_octets": (F.col("id") + 1) * 100,
        "first_ms": F.lit(0), "last_ms": F.lit(1000),
        "srcport": F.lit(80), "dstport": F.lit(443),
        "tcp_flags": F.lit(27), "proto": F.lit(6), "tos": F.lit(0),
        "src_as": F.lit(0), "dst_as": F.lit(0),
        "src_mask": F.lit(24), "dst_mask": F.lit(24),
    }
    base = spark.range(3).select(
        F.col("id"),
        netflow5_packet(
            fields,
            sys_uptime=F.lit(1000), unix_secs=F.lit(1700000000),
            flow_sequence=F.col("id").cast("int"),
        ).alias("packet"),
    )
    base.createOrReplaceTempView("nf_view")
    outs = run_flow(spark, sf_dir, via_view(
        "SELECT * FROM nf_view",
        {"type": "x.ParseNetflowv5", "properties": {"Column": "packet"}},
    ))
    flows = outs["P.success"]
    assert flows.count() == 3  # one flow record per single-record packet
    assert {r["d_octets"] for r in flows.collect()} == {100, 200, 300}

    # --- UnpackContent: zip each doc then unpack through the flow
    from apache_nifi_spark.operators.content import pack_content_zip

    docs = spark.createDataFrame(
        [(1, "a.txt", "alpha"), (2, "b.txt", "beta")], "id long, name string, body string"
    )
    pack_content_zip(docs, "id", "name", "body").createOrReplaceTempView("zip_view")
    outs = run_flow(spark, sf_dir, via_view(
        "SELECT * FROM zip_view",
        {"type": "x.UnpackContent",
         "properties": {"Id Column": "id", "Column": "archive"}},
    ))
    got = {(r["id"], r["entry_name"]) for r in outs["P.success"].collect()}
    assert got == {(1, "a.txt"), (2, "b.txt")}

    # --- ConvertExcelToCSVProcessor: workbook -> records
    from apache_nifi_spark.sources.excel_codec import records_to_excel

    recs = spark.createDataFrame(
        [("g1", 1, "x"), ("g1", 2, "y")], "grp string, k long, v string"
    )
    records_to_excel(recs, "grp").createOrReplaceTempView("xlsx_view")
    outs = run_flow(spark, sf_dir, via_view(
        "SELECT * FROM xlsx_view",
        {"type": "x.ConvertExcelToCSVProcessor",
         "properties": {"Column": "workbook", "Element Schema": "k long, v string"}},
    ))
    assert {(r["k"], r["v"]) for r in outs["P.success"].collect()} == {(1, "x"), (2, "y")}

    # --- ExtractEmailAttachments: MIME with one attachment
    mime = (
        "From: a@x\nTo: b@y\nSubject: s\nMIME-Version: 1.0\n"
        'Content-Type: multipart/mixed; boundary="B"\n\n'
        "--B\nContent-Type: text/plain\n\nbody\n"
        '--B\nContent-Type: application/octet-stream; name="f.bin"\n'
        'Content-Disposition: attachment; filename="f.bin"\n'
        "Content-Transfer-Encoding: base64\n\naGVsbG8=\n--B--\n"
    )
    spark.createDataFrame([(7, mime)], "id long, message string") \
        .createOrReplaceTempView("mail_view")
    outs = run_flow(spark, sf_dir, via_view(
        "SELECT * FROM mail_view",
        {"type": "x.ExtractEmailAttachments", "properties": {}},
    ))
    rows = outs["P.attachments"].collect()
    assert len(rows) == 1
    assert rows[0]["filename"] == "f.bin" and bytes(rows[0]["payload"]) == b"hello"


def test_xquery_compile_forms():
    """compile_xquery dispatch: numeric fns, boolean comparisons, data()
    atomization, FLWOR rejection."""
    import pytest as _pytest

    from apache_nifi_spark.functions.xquery import compile_xquery

    # dispatch is observable through the compiled expression string
    assert "xpath_double" in str(compile_xquery("x", "sum(/a/b)").cast("string")._jc)
    assert "xpath_boolean" in str(compile_xquery("x", "/a/b > 3")._jc)
    assert "xpath_string" in str(compile_xquery("x", "data(/a/b)")._jc)
    assert "xpath_string" in str(compile_xquery("x", "/a/b/text()")._jc)
    with _pytest.raises(ValueError, match="FLWOR"):
        compile_xquery("x", "for $i in /a/b return $i")


def test_execute_sql_source_imports(spark, sf_dir, tmp_path):
    """ExecuteSQL as a flow SOURCE: the imported flow reads from a real
    JDBC database (embedded Derby) and chains a QueryRecord aggregate —
    closing the 'flow starts from a database' migration path."""
    from apache_nifi_spark import io
    from apache_nifi_spark.plans.flow_import import run_flow
    from apache_nifi_spark.sources import jdbc_write

    db = str(tmp_path / "db")
    url = f"jdbc:derby:{db};create=true"
    sup = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    jdbc_write(sup, url, "sup_t",
               options={"driver": "org.apache.derby.jdbc.EmbeddedDriver"})

    flow = {
        "flowContents": {
            "processors": [
                {"identifier": "sql", "name": "Db", "type": "x.ExecuteSQL",
                 "properties": {
                     "Database Connection URL": url,
                     "Driver": "org.apache.derby.jdbc.EmbeddedDriver",
                     "SQL select query":
                         'SELECT "s_suppkey", "s_nationkey" FROM sup_t'
                         ' WHERE "s_nationkey" < 10',
                 }},
                {"identifier": "q", "name": "Agg", "type": "x.QueryRecord",
                 "properties": {"agg": (
                     "SELECT CAST(COUNT(*) AS BIGINT) AS n,"
                     " CAST(SUM(s_suppkey) AS BIGINT) AS s FROM FLOWFILE")}},
            ],
            "connections": [
                {"source": {"id": "sql"}, "destination": {"id": "q"},
                 "selectedRelationships": ["success"]},
            ],
        }
    }
    outs = run_flow(spark, sf_dir, flow)
    got = outs["Agg.agg"].first()
    exp = sup.filter("s_nationkey < 10").agg(
        F.count(F.lit(1)), F.sum("s_suppkey")
    ).first()
    assert (got["n"], got["s"]) == (exp[0], exp[1])


def test_publish_mqtt_amqp_flow_sinks(spark, sf_dir, tmp_path_factory):
    """PublishMQTT / PublishAMQP as flow sinks: the imported flow
    delivers over the real wire to in-process brokers; failures route
    to 'failure' instead of failing the plan."""
    import glob
    import pathlib

    from apache_nifi_spark.plans.flow_import import run_flow
    from apache_nifi_spark.streaming.amqp_wire import MiniAmqpBroker
    from apache_nifi_spark.streaming.mqtt import MiniMqttBroker

    def conn(src, dst, rels):
        return {"source": {"id": src}, "destination": {"id": dst},
                "selectedRelationships": rels}

    mq_land = str(tmp_path_factory.mktemp("flow_mqtt"))
    am_land = str(tmp_path_factory.mktemp("flow_amqp"))
    with (
        MiniMqttBroker(mq_land) as mq,
        MiniAmqpBroker(am_land) as am,
    ):
        flow = {
            "flowContents": {
                "processors": [
                    {"identifier": "g", "name": "G", "type": "x.GetFile",
                     "properties": {"Input Directory": "nation"}},
                    {"identifier": "q", "name": "Q", "type": "x.QueryRecord",
                     "properties": {"rows": (
                         "SELECT concat('n/', CAST(n_nationkey AS STRING)) AS t,"
                         " n_name AS content FROM FLOWFILE")}},
                    {"identifier": "m", "name": "M", "type": "x.PublishMQTT",
                     "properties": {"Broker URI": f"tcp://127.0.0.1:{mq.port}",
                                    "Topic Column": "t"}},
                    {"identifier": "a", "name": "A", "type": "x.PublishAMQP",
                     "properties": {"Broker URI": f"amqp://127.0.0.1:{am.port}",
                                    "Exchange Name": "ex",
                                    "Routing Key Column": "t"}},
                ],
                "connections": [
                    conn("g", "q", ["success"]),
                    conn("q", "m", ["rows"]),
                    conn("m", "a", ["success"]),
                ],
            }
        }
        outs = run_flow(spark, sf_dir, flow)
        assert outs["A.success"].count() == 25  # nation has 25 rows
        for broker in (mq, am):
            broker.landing.wait(25, timeout=10)
            assert sum(
                len(pathlib.Path(p).read_bytes().splitlines())
                for p in glob.glob(f"{broker.landing_dir}/*")
            ) == 25


def test_remote_process_group_validation(spark, sf_dir):
    """RemoteProcessGroup egress validates its bootstrap at compile time:
    a non-http targetUri and an S2S-disabled target both fail fast with
    the component named (NiFi's start-time validation contract)."""
    import pytest

    from apache_nifi_spark.plans.flow_import import FlowImportError, run_flow
    from apache_nifi_spark.plans.rest_api import NiFiApiServer

    def flow(target):
        return {"flowContents": {
            "name": "rpg-bad",
            "processors": [{"identifier": "src", "type": "x.GetFile",
                            "properties": {"Input Directory": "region"}}],
            "remoteProcessGroups": [
                {"identifier": "rpg", "targetUri": target,
                 "inputPorts": [{"identifier": "rp", "name": "in"}]}],
            "connections": [{"source": {"id": "src"},
                             "destination": {"id": "rp"},
                             "selectedRelationships": ["success"]}],
        }}

    with pytest.raises(FlowImportError, match="http"):
        run_flow(spark, sf_dir, flow("ftp://nowhere:21"))
    with NiFiApiServer(spark, sf_dir) as api:  # no S2S attached
        with pytest.raises(FlowImportError, match="site-to-site is? disabled|disabled"):
            run_flow(spark, sf_dir, flow(api.url))


def test_remote_process_group_https_discovery(spark, sf_dir, tmp_path):
    """An https targetUri must perform S2S discovery over TLS (ADVICE
    round-9: HTTPConnection was used for both schemes, so a secured
    deployment's discovery died on a plaintext request).  A minimal TLS
    endpoint answering the discovery call with S2S disabled proves the
    request completes over the wire: the compile must fail with the
    protocol-level 'disabled' error, not a TLS/connection error."""
    import http.server
    import threading

    import pytest

    from apache_nifi_spark.plans.flow_import import FlowImportError, run_flow
    from apache_nifi_spark.streaming.tls import (
        generate_self_signed,
        server_context,
    )

    cert, key = generate_self_signed(str(tmp_path))

    class Disco(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = json.dumps(
                {"controller": {"remoteSiteListeningPort": None}}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Disco)
    httpd.socket = server_context(cert, key).wrap_socket(
        httpd.socket, server_side=True
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    port = httpd.server_address[1]
    flow = {"flowContents": {
        "name": "rpg-https",
        "processors": [{"identifier": "src", "type": "x.GetFile",
                        "properties": {"Input Directory": "region"}}],
        "remoteProcessGroups": [
            {"identifier": "rpg", "targetUri": f"https://127.0.0.1:{port}",
             "caFile": cert,
             "inputPorts": [{"identifier": "rp", "name": "in"}]}],
        "connections": [{"source": {"id": "src"},
                         "destination": {"id": "rp"},
                         "selectedRelationships": ["success"]}],
    }}
    try:
        with pytest.raises(FlowImportError, match="disabled"):
            run_flow(spark, sf_dir, flow)
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_remote_process_group_https_unpinned_verifies_system_ca(spark, sf_dir, tmp_path):
    """An https targetUri WITHOUT a pinned caFile must verify against the
    system CA bundle (round-10 advice: verification was silently disabled,
    trusting any MITM-supplied controller response).  A self-signed
    discovery endpoint must therefore fail the TLS handshake — surfaced
    as the discovery FlowImportError — never return a parsed controller."""
    import http.server
    import threading

    import pytest

    from apache_nifi_spark.plans.flow_import import FlowImportError, run_flow
    from apache_nifi_spark.streaming.tls import (
        generate_self_signed,
        server_context,
    )

    cert, key = generate_self_signed(str(tmp_path))

    class Disco(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = json.dumps(
                {"controller": {"remoteSiteListeningPort": 9999}}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Disco)
    httpd.socket = server_context(cert, key).wrap_socket(
        httpd.socket, server_side=True
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    port = httpd.server_address[1]
    flow = {"flowContents": {
        "name": "rpg-unpinned",
        "processors": [{"identifier": "src", "type": "x.GetFile",
                        "properties": {"Input Directory": "region"}}],
        "remoteProcessGroups": [
            {"identifier": "rpg", "targetUri": f"https://127.0.0.1:{port}",
             "inputPorts": [{"identifier": "rp", "name": "in"}]}],
        "connections": [{"source": {"id": "src"},
                         "destination": {"id": "rp"},
                         "selectedRelationships": ["success"]}],
    }}
    try:
        with pytest.raises(FlowImportError, match="discovery"):
            run_flow(spark, sf_dir, flow)
    finally:
        httpd.shutdown()
        httpd.server_close()
