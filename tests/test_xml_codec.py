"""XML records through Spark's XML file format (sources/formats).

Round-trip fidelity under an explicit schema (the XMLReader controller-
service contract), escaping, surrounding spaces, null suppression,
arrays-as-repeated-elements, nested structs, and binary content.
"""

from pyspark.sql import Row
from pyspark.sql import types as T

from apache_nifi_spark.sources import read_records, write_records


def test_roundtrip_fixture_table(spark, tmp_path):
    from apache_nifi_spark.io import load_table

    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    out = str(tmp_path / "sup")
    write_records(sup, out, "xml")
    back = read_records(spark, out, "xml", schema=sup.schema)
    assert sorted(sup.collect()) == sorted(back.collect())


def test_roundtrip_timestamps_and_doubles(spark, tmp_path):
    from apache_nifi_spark.io import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    out = str(tmp_path / "orders")
    write_records(orders, out, "xml")
    back = read_records(spark, out, "xml", schema=orders.schema)
    a = orders.orderBy("o_orderkey").collect()
    b = back.orderBy("o_orderkey").collect()
    assert a == b


def test_escaping_special_chars(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a<b&c>d"), (2, 'quote"apos\''), (3, "tag</record>injection"), (4, "  pad  ")],
        "id bigint, s string",
    )
    out = str(tmp_path / "esc")
    write_records(df, out, "xml")
    back = read_records(spark, out, "xml", schema=df.schema)
    assert sorted(df.collect()) == sorted(back.collect())


def test_null_suppression_and_arrays_and_structs(spark, tmp_path):
    import glob

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("tags", T.ArrayType(T.StringType(), False), True),
            T.StructField(
                "addr",
                T.StructType(
                    [
                        T.StructField("city", T.StringType(), True),
                        T.StructField("zip", T.IntegerType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, "x", ["a", "b", "c"], Row(city="Springfield", zip=12345)),
            (2, None, [], None),
        ],
        schema,
    )
    out = str(tmp_path / "nested")
    write_records(df.coalesce(1), out, "xml")
    (doc,) = [open(p, encoding="utf-8").read() for p in glob.glob(f"{out}/part-*.xml")]
    assert doc.count("<records") == 1 and doc.count("<record>") == 2
    assert "<name>" not in doc.split("<id>2</id>")[1]  # null element omitted
    back = read_records(spark, out, "xml", schema=schema)
    rows = {r.id: r for r in back.collect()}
    assert rows[1].tags == ["a", "b", "c"]
    assert rows[1].addr.city == "Springfield" and rows[1].addr.zip == 12345
    assert rows[2].name is None and rows[2].addr is None
    # empty array is indistinguishable from absent (repeated-element
    # encoding) — an absent element reads back as null, as it does in
    # NiFi's XMLReader
    assert rows[2].tags is None


def test_binary_hex_roundtrip(spark, tmp_path):
    import glob

    df = spark.createDataFrame([(1, bytearray(b"\x00\xff<&>"))], "id bigint, raw binary")
    out = str(tmp_path / "bin")
    write_records(df.coalesce(1), out, "xml")
    (doc,) = [open(p, encoding="utf-8").read() for p in glob.glob(f"{out}/part-*.xml")]
    assert "<raw>[00 FF 3C 26 3E]</raw>" in doc  # Spark's binary text form
    back = read_records(spark, out, "xml", schema=df.schema)
    assert bytes(back.first().raw) == b"\x00\xff<&>"


# ---------------------------------------------------------------------
# XSLT subset compiler (functions/xslt.py)
# ---------------------------------------------------------------------

def _xf(xsl, doc):
    import xml.etree.ElementTree as ET

    from apache_nifi_spark.functions.xslt import xslt_compile

    return ET.tostring(xslt_compile(xsl)(ET.fromstring(doc)), encoding="unicode")


_XSLNS = 'xmlns:xsl="http://www.w3.org/1999/XSL/Transform"'


def test_xslt_template_value_of_avt():
    xsl = f'''<xsl:stylesheet version="1.0" {_XSLNS}>
      <xsl:template match="o">
        <order id="{{id}}"><st><xsl:value-of select="status"/></st></order>
      </xsl:template>
    </xsl:stylesheet>'''
    assert _xf(xsl, "<o><id>7</id><status>F</status></o>") == \
        '<order id="7"><st>F</st></order>'


def test_xslt_for_each_if_choose_attribute():
    xsl = f'''<xsl:stylesheet version="1.0" {_XSLNS}>
      <xsl:template match="/">
        <report>
          <xsl:attribute name="kind"><xsl:value-of select="@kind"/></xsl:attribute>
          <xsl:for-each select="item">
            <xsl:if test="@qty != '0'">
              <line sku="{{@sku}}"><xsl:value-of select="name"/></line>
            </xsl:if>
          </xsl:for-each>
          <xsl:choose>
            <xsl:when test="@kind = 'big'"><k>B</k></xsl:when>
            <xsl:otherwise><k>S</k></xsl:otherwise>
          </xsl:choose>
        </report>
      </xsl:template>
    </xsl:stylesheet>'''
    doc = ('<cart kind="small"><item sku="a" qty="2"><name>Ax</name></item>'
           '<item sku="b" qty="0"><name>Bx</name></item></cart>')
    assert _xf(xsl, doc) == \
        '<report kind="small"><line sku="a">Ax</line><k>S</k></report>'


def test_xslt_apply_templates_and_builtin_rules():
    xsl = f'''<xsl:stylesheet version="1.0" {_XSLNS}>
      <xsl:template match="doc">
        <out><xsl:apply-templates select="sec"/></out>
      </xsl:template>
      <xsl:template match="sec">
        <s n="{{@n}}"><xsl:value-of select="."/></s>
      </xsl:template>
    </xsl:stylesheet>'''
    doc = '<doc><sec n="1">alpha</sec><sec n="2">beta</sec></doc>'
    assert _xf(xsl, doc) == '<out><s n="1">alpha</s><s n="2">beta</s></out>'


def test_xslt_element_copy_of_and_errors():
    import pytest

    from apache_nifi_spark.functions.xslt import XsltError, xslt_compile

    xsl = f'''<xsl:stylesheet version="1.0" {_XSLNS}>
      <xsl:template match="r">
        <xsl:element name="{{@tag}}"><xsl:copy-of select="keep"/></xsl:element>
      </xsl:template>
    </xsl:stylesheet>'''
    assert _xf(xsl, '<r tag="w"><keep a="1">x</keep></r>') == \
        '<w><keep a="1">x</keep></w>'
    with pytest.raises(XsltError):
        xslt_compile("<notxsl/>")
    with pytest.raises(XsltError):
        xslt_compile(
            f'<xsl:stylesheet version="1.0" {_XSLNS}>'
            '<xsl:template match="a"><xsl:sort/></xsl:template>'
            "</xsl:stylesheet>"
        )(__import__("xml.etree.ElementTree", fromlist=["ET"]).fromstring("<a/>"))


def test_xslt_drives_spark_transform(spark):
    from apache_nifi_spark.functions.xslt import xslt_compile
    from apache_nifi_spark.operators import transform_xml

    xsl = f'''<xsl:stylesheet version="1.0" {_XSLNS}>
      <xsl:template match="p">
        <q v="{{n}}"/>
      </xsl:template>
    </xsl:stylesheet>'''
    df = spark.createDataFrame(
        [(i, f"<p><n>{i}</n></p>") for i in range(10)], "i int, xml string"
    )
    out = transform_xml(df, "xml", xslt_compile(xsl)).orderBy("i").collect()
    assert [r["transformed"] for r in out] == [f'<q v="{i}" />' for i in range(10)]
