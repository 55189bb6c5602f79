"""``io.with_columns``: the Arrow seam for callbacks that keep their rows."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_nifi_spark.io import with_columns

BIG = 2**60 + 1

#: values a pandas hop corrupts: a bigint above 2**53 next to a null
#: (float64), the same inside an array, and timestamps outside the
#: nanosecond range (out-of-bounds on conversion)
EXACT = ["big", "arr", "far", "old"]


@pytest.fixture(scope="module")
def edge(spark):
    """Two rows in one partition: the edge values plus one payload
    column per operator under test."""
    rows = [
        (1, BIG, [BIG, None], dt.datetime(9999, 12, 31, 23, 59, 59), dt.datetime(1000, 1, 1),
         '{"a": 1, "keep": true}', "<r><a>1</a><b>x</b></r>", '<p id="x">one</p>', b"first"),
        (2, None, [BIG, None], dt.datetime(9999, 12, 31, 23, 59, 59), dt.datetime(1000, 1, 1),
         '{"a": 2, "keep": false}', "<r><a>2</a><b>y</b></r>", '<p id="y">two</p>', b"second"),
    ]
    return spark.createDataFrame(
        rows,
        "id int, big bigint, arr array<bigint>, far timestamp_ntz, old timestamp,"
        " json string, xml string, html string, blob binary",
    ).coalesce(1)


def exact(df):
    return [tuple(r) for r in df.orderBy("id").select("id", *EXACT).collect()]


def test_appends_fields_and_replaces_in_place(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "id bigint, s string").coalesce(1)

    def run(batches):
        for ids, ss in batches:
            yield [s and s.upper() for s in ss], [i * 10 for i in ids]

    out = with_columns(df, ["id", "s"], run, "s binary, tens bigint")
    assert out.columns == ["id", "s", "tens"]
    assert out.schema["s"].dataType == T.BinaryType()
    assert sorted(tuple(r) for r in out.collect()) == [(1, b"A", 10), (2, None, 20)]


def test_struct_type_fields_and_partition_client(spark):
    df = spark.range(0, 10, 1, 3)
    fields = T.StructType([T.StructField("part_rows", T.LongType())])

    def run(batches):
        batches = list(batches)  # a per-partition client may read ahead
        n = sum(len(ids) for (ids,) in batches)
        for (ids,) in batches:
            yield [n] * len(ids),

    got = with_columns(df, ["id"], run, fields).collect()
    assert sorted(r.id for r in got) == list(range(10))
    assert sum(1 / r.part_rows for r in got) == pytest.approx(3)


@pytest.mark.parametrize("extra", [1, -1])
def test_batch_count_is_checked(spark, extra):
    df = spark.range(0, 4, 1, 1)

    def run(batches):
        for (ids,) in batches:
            if extra < 0:
                return
            yield [0] * len(ids),
        yield [],

    with pytest.raises(Exception, match="more batches|fewer batches"):
        with_columns(df, ["id"], run, "z bigint").collect()


def test_column_length_is_checked(spark):
    df = spark.range(0, 4, 1, 1)

    def run(batches):
        for _ in batches:
            yield [1],

    with pytest.raises(Exception, match="has 1 values for 4 rows"):
        with_columns(df, ["id"], run, "z bigint").collect()


def test_transforms_pass_edge_values_through(spark, edge):
    """Every row-keeping transform returns the edge columns exactly."""
    from apache_nifi_spark.functions.html_elements import modify_html_elements
    from apache_nifi_spark.functions.jolt import jolt_columnar, jolt_transform_json
    from apache_nifi_spark.functions.xsd import (
        _flat_children,
        _valid_plain_rx,
        validate_xml_xsd,
        xsd_compile,
    )
    from apache_nifi_spark.operators.content import compress_content, decompress_content
    from apache_nifi_spark.operators.scripted import execute_stream_command
    from apache_nifi_spark.operators.transform import transform_xml
    from apache_nifi_spark.sources.xml_codec import validate_xml

    def element(e: str) -> str:
        return f'<xs:element name="{e}" type="xs:string"/>'

    def xsd(body: str) -> str:
        return (
            '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
            f'<xs:element name="r"><xs:complexType><xs:sequence>{body}'
            "</xs:sequence></xs:complexType></xs:element></xs:schema>"
        )

    flat = xsd(element("a") + element("b"))  # the JVM fast-path shape
    nested = xsd(element("a") + '<xs:element name="b"><xs:complexType><xs:sequence>'
                 + element("c") + "</xs:sequence></xs:complexType></xs:element>")
    for doc, fast in ((flat, True), (nested, False)):
        spec = xsd_compile(doc)
        assert (_valid_plain_rx(spec, _flat_children(spec)) is not None) == fast
    jolt = [{"operation": "shift", "spec": {"*": "flat.&", "keep": "top"}}]
    assert jolt_columnar("json", jolt) is None  # the interpreter tier

    want = exact(edge)
    assert want[0][1] == BIG and want[1][1] is None
    outs = {
        "jolt": jolt_transform_json(edge, jolt, "json"),
        "validate_xml": validate_xml(edge, "xml", root_tag="r", required_elements=("a",)),
        "xsd_flat": validate_xml_xsd(edge, flat, "xml"),
        "xsd_nested": validate_xml_xsd(edge, nested, "xml"),
        "transform_xml": transform_xml(edge, "xml", lambda root: root),
        "compress_in_place": decompress_content(compress_content(edge, "blob"), "blob"),
        "compress_out_col": decompress_content(
            compress_content(edge, "blob", out_col="z"), "z", out_col="zz"
        ),
        "modify_html": modify_html_elements(edge, "p", "html", set_attr=("class", "c")),
        "cat": execute_stream_command(edge, "xml", ["cat"], "out"),
    }
    for name, out in outs.items():
        assert exact(out) == want, name
    assert [r.json for r in outs["jolt"].orderBy("id").collect()] == [
        '{"flat":{"a":1},"top":true}', '{"flat":{"a":2},"top":false}'
    ]
    assert [r.valid for r in outs["xsd_flat"].collect()] == [True, True]
    assert [r.validation_error for r in outs["xsd_nested"].collect()] == ["occurs:c"] * 2
    assert [r.blob for r in outs["compress_in_place"].orderBy("id").collect()] == [b"first", b"second"]
    assert [r.zz for r in outs["compress_out_col"].orderBy("id").collect()] == [b"first", b"second"]
    assert [r.out for r in outs["cat"].orderBy("id").collect()] == [r.xml for r in edge.orderBy("id").collect()]


def test_wire_clients_pass_edge_values_through(spark, edge, tmp_path):
    """Map cache, UDP and HTTP clients return the edge columns exactly."""
    from apache_nifi_spark import net
    from apache_nifi_spark.operators.http import invoke_http
    from apache_nifi_spark.sinks.socket import put_udp
    from apache_nifi_spark.streaming.listen import UdpLandingListener
    from apache_nifi_spark.streaming.map_cache import MapCacheServer, fetch_map_cache, put_map_cache

    class Echo(net.HttpHandler):
        def do_GET(self):  # noqa: N802
            body = self.path.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    want = exact(edge)
    with MapCacheServer() as cache, UdpLandingListener(str(tmp_path)) as udp, net.Server(Echo) as http:
        put = put_map_cache(edge, "127.0.0.1", cache.port, "id", "xml")
        assert exact(put) == want and put.filter("cached").count() == 2
        fetched = fetch_map_cache(edge, "127.0.0.1", cache.port, "id")
        assert exact(fetched) == want
        assert [r.cache_value for r in fetched.orderBy("id").collect()] == [
            "<r><a>1</a><b>x</b></r>", "<r><a>2</a><b>y</b></r>"
        ]
        sent = put_udp(edge, "127.0.0.1", udp.port, "xml")
        assert exact(sent) == want and sent.filter("sent").count() == 2
        urls = edge.withColumn("url", F.format_string(f"http://127.0.0.1:{http.port}/e/%d", "id"))
        got = invoke_http(urls, "url")
        assert exact(got) == want
        assert [(r.response, r.status) for r in got.orderBy("id").collect()] == [("/e/1", 200), ("/e/2", 200)]
