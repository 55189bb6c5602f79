"""Attribute / record transformation — NiFi's SELECT-list (SURVEY.md §2.4).

Covers ``UpdateAttribute``/``UpdateRecord``, ``RenameRecordField``/
``RemoveRecordField``, ``ExtractText``, ``ExtractGrok`` (grok→regex),
``ReplaceText``, ``ReplaceTextWithMapping``, ``FlattenJson``,
``AttributesToJSON``, ``EvaluateJsonPath``.

All pure column expressions — Catalyst collapses chains of these into one
projection, so a NiFi flow of five transform processors becomes a single
whole-stage-codegen'd map over the scan.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

__all__ = [
    "update_record",
    "rename_fields",
    "remove_fields",
    "extract_text",
    "replace_text",
    "replace_text_with_mapping",
    "flatten_json",
    "attributes_to_json",
    "attributes_to_csv",
    "evaluate_json_path",
    "evaluate_xpath",
    "filter_attributes",
    "convert_character_set",
    "split_json",
    "transform_xml",
    "parse_syslog",
    "parse_syslog_5424",
    "render_syslog_3164",
    "render_syslog_5424",
    "convert_json_to_sql",
]


def update_record(df: DataFrame, updates: Mapping[str, Column]) -> DataFrame:
    """UpdateRecord/UpdateAttribute: set fields from expressions.  One
    ``withColumns`` call → one projection, regardless of field count."""
    return df.withColumns(dict(updates))


def rename_fields(df: DataFrame, renames: Mapping[str, str]) -> DataFrame:
    """RenameRecordField (top-level; nested renames via update_record +
    ``withField``)."""
    return df.withColumnsRenamed(dict(renames))


def remove_fields(df: DataFrame, fields: Sequence[str]) -> DataFrame:
    """RemoveRecordField."""
    return df.drop(*fields)


def extract_text(
    df: DataFrame, source_col: str, patterns: Mapping[str, tuple[str, int]]
) -> DataFrame:
    """ExtractText: named regex capture groups → new columns.

    ``patterns`` maps output column → (regex, group index).  NiFi puts the
    captures into attributes; here they are first-class typed columns.
    """
    return df.withColumns(
        {
            out: F.regexp_extract(F.col(source_col), rx, grp)
            for out, (rx, grp) in patterns.items()
        }
    )


def replace_text(
    df: DataFrame, col: str, pattern: str, replacement: str, out_col: str | None = None
) -> DataFrame:
    """ReplaceText (regex-replace strategy, entire-text evaluation)."""
    return df.withColumn(out_col or col, F.regexp_replace(F.col(col), pattern, replacement))


def replace_text_with_mapping(
    df: DataFrame, col: str, mapping: Mapping[str, str], out_col: str | None = None
) -> DataFrame:
    """ReplaceTextWithMapping: dictionary substitution.

    The mapping file is bounded (NiFi loads it in memory per node), so a
    folded chain of ``replace`` calls keeps it JVM-side; for large maps use
    a broadcast join on a tokenized column instead.
    """
    c: Column = F.col(col)
    for k, v in mapping.items():
        c = F.replace(c, F.lit(k), F.lit(v))
    return df.withColumn(out_col or col, c)


def _flatten_schema(schema: StructType, prefix: str = "", sep: str = ".") -> list[str]:
    paths: list[str] = []
    for f in schema.fields:
        name = f"{prefix}{f.name}"
        if isinstance(f.dataType, StructType):
            paths.extend(_flatten_schema(f.dataType, prefix=f"{name}{sep}", sep=sep))
        else:
            paths.append(name)
    return paths


def flatten_json(df: DataFrame, sep: str = ".") -> DataFrame:
    """FlattenJson: nested structs → dotted top-level columns.

    Arrays are left intact (NiFi's flatten mode 'keep arrays'); explode is a
    separate, row-multiplying operator (SplitRecord analog).
    """
    paths = _flatten_schema(df.schema, sep=sep)
    return df.select([F.col(p.replace(sep, ".")).alias(p) for p in paths])


def attributes_to_json(df: DataFrame, cols: Sequence[str], out_col: str = "json") -> DataFrame:
    """AttributesToJSON: serialize selected columns into one JSON string."""
    return df.withColumn(out_col, F.to_json(F.struct(*[F.col(c) for c in cols])))


def evaluate_json_path(
    df: DataFrame, json_col: str, paths: Mapping[str, str]
) -> DataFrame:
    """EvaluateJsonPath: JSONPath extraction into columns (attributes)."""
    return df.withColumns(
        {out: F.get_json_object(F.col(json_col), p) for out, p in paths.items()}
    )


def evaluate_xpath(
    df: DataFrame, xml_col: str, paths: Mapping[str, str]
) -> DataFrame:
    """EvaluateXPath (SURVEY.md §2.4): XPath expressions over an XML
    content column → new string columns.

    Uses Spark's built-in ``xpath_string`` (JVM-side javax.xml, codegen'd
    call — no Python UDF); one output column per path, same shape as
    NiFi's attribute-destination mode.
    """
    return df.withColumns(
        {
            out: F.expr(f"xpath_string({xml_col}, '{path}')")
            for out, path in paths.items()
        }
    )


def attributes_to_csv(
    df: DataFrame, cols: Sequence[str], out_col: str = "csv", sep: str = ","
) -> DataFrame:
    """AttributesToCSV (SURVEY.md §2.4): serialize selected columns into one
    delimited line, in the caller's column order (NiFi's ``Attribute List``
    ordering).  Nulls render as empty fields, matching NiFi's
    ``Null Value`` default of empty-string."""
    fields = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    return df.withColumn(out_col, F.concat_ws(sep, *fields))


def filter_attributes(
    df: DataFrame,
    attr_col: str,
    pattern: str,
    mode: str = "retain",
    out_col: str | None = None,
) -> DataFrame:
    """FilterAttribute (SURVEY.md §2.3): keep or remove entries of a
    ``MAP<STRING,STRING>`` attributes column whose KEY matches a regex.

    Pure ``map_filter`` lambda — stays inside codegen, no shuffle, no UDF.
    ``mode='retain'`` keeps matching keys; ``'remove'`` drops them.
    """
    key_match = lambda k: k.rlike(pattern)  # noqa: E731
    pred = (
        (lambda k, v: key_match(k))
        if mode == "retain"
        else (lambda k, v: ~key_match(k))
    )
    return df.withColumn(out_col or attr_col, F.map_filter(F.col(attr_col), pred))


def convert_character_set(
    df: DataFrame, col: str, src: str, dst: str, out_col: str | None = None
) -> DataFrame:
    """ConvertCharacterSet (SURVEY.md §2.4): re-encode string content from
    ``src`` charset bytes to ``dst``.  ``encode`` → ``decode`` round-trips
    through ``BinaryType`` entirely JVM-side."""
    return df.withColumn(
        out_col or col, F.decode(F.encode(F.col(col), src), dst)
    )


def split_json(
    df: DataFrame,
    json_col: str,
    element_schema: str,
    keep: Sequence[str] = (),
) -> DataFrame:
    """SplitJson (SURVEY.md §2.5): one row per element of a JSON-array
    content column, with NiFi's fragment provenance attributes
    (``fragment_index`` / ``fragment_count``; the parent row key(s) in
    ``keep`` play ``fragment.identifier``).

    ``from_json`` to ``ARRAY<element_schema>`` then ``posexplode`` — the
    row multiplication happens inside the generate node, pipelined with the
    scan (no shuffle).
    """
    parsed = df.select(
        *[F.col(c) for c in keep],
        F.from_json(F.col(json_col), f"array<{element_schema}>").alias("__arr"),
    )
    # posexplode_OUTER, then drop the null-index rows.  A non-outer
    # Generate injects a `size(arr) > 0 AND arr IS NOT NULL` pre-filter
    # in which Catalyst INLINES the from_json subtree — the interpreted
    # (CodegenFallback) parse then runs 2 extra times per row, below the
    # projection, over every scanned row.  The outer form skips that
    # pre-filter; the post-filter below is a plain int null-check with
    # identical semantics (empty/null arrays emit no fragments).
    exploded = parsed.select(
        *[F.col(c) for c in keep],
        F.size("__arr").alias("fragment_count"),
        F.posexplode_outer("__arr").alias("fragment_index", "element"),
    ).filter(F.col("fragment_index").isNotNull())
    return exploded.select(
        *[F.col(c) for c in keep],
        "fragment_index",
        "fragment_count",
        F.col("element.*"),
    )


def transform_xml(
    df: DataFrame,
    xml_col: str,
    transformer,
    out_col: str = "transformed",
) -> DataFrame:
    """TransformXml (SURVEY.md §2.4) — scoped analog.

    NiFi applies an XSLT stylesheet per FlowFile; no XSLT engine exists
    in this environment (stdlib has none, lxml is absent), so the
    "stylesheet" here is a Python callable ``Element -> Element`` over
    the stdlib-parsed tree — the same reshape/rename/drop transformations
    XSLT is used for in NiFi flows, minus the XSLT language itself
    (documented scope reduction).

    Runs through :func:`io.with_columns` (Arrow batches, parse+rebuild
    per row inside the worker) — the NiFi-2.x-Python-processor execution
    shape; at 100 TB it scales with partitions like any scripted
    transform.
    """
    from apache_nifi_spark.io import with_columns

    def _run(batches):
        import xml.etree.ElementTree as ET

        for (docs,) in batches:
            yield [
                ET.tostring(transformer(ET.fromstring(x)), encoding="unicode")
                for x in docs
            ],

    return with_columns(df, [xml_col], _run, f"`{out_col}` string")


#: RFC 5424 shape: <PRI>VERSION TS HOST APP PROCID MSGID SD MSG
#: SD = '-' or one-or-more [id k="v" ...] blocks; '-' is the nil value.
SYSLOG_5424_RX = (
    r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(-|(?:\[[^\]]*\])+)(?: (.*))?$"
)


def parse_syslog_5424(df: DataFrame, col: str = "line") -> DataFrame:
    """ParseSyslog / ListenSyslog, RFC 5424 half (SURVEY.md §2.1 —
    complements the RFC 3164 parser below; NiFi's SyslogReader handles
    both).  Header fields split by position, PRI decoded to
    facility/severity, nils ('-') nulled, and the FIRST structured-data
    block's ``k="v"`` params lifted into a ``map<string,string>`` via
    ``map_from_entries ∘ regexp_extract_all`` — all codegen'd, no UDF."""
    line = F.col(col)

    def grp(i: int) -> Column:
        return F.regexp_extract(line, SYSLOG_5424_RX, i)

    def nil(c: Column) -> Column:
        return F.when(c == "-", F.lit(None)).otherwise(c)

    pri = grp(1).cast("int")
    sd = grp(8)
    params = F.map_from_entries(
        F.transform(
            F.regexp_extract_all(sd, F.lit(r'(\w+)="([^"]*)"'), 0),
            lambda kv: F.struct(
                F.regexp_extract(kv, r'(\w+)=', 1).alias("key"),
                F.regexp_extract(kv, r'"([^"]*)"', 1).alias("value"),
            ),
        )
    )
    return df.select(
        (pri / 8).cast("int").alias("facility"),
        F.pmod(pri, F.lit(8)).cast("int").alias("severity"),
        grp(2).cast("int").alias("version"),
        nil(grp(3)).alias("ts_text"),
        nil(grp(4)).alias("host"),
        nil(grp(5)).alias("app"),
        nil(grp(6)).cast("long").alias("procid"),
        nil(grp(7)).alias("msgid"),
        F.when(sd == "-", F.lit(None)).otherwise(sd).alias("structured_data"),
        F.when(sd == "-", None).otherwise(params).alias("sd_params"),
        nil(grp(9)).alias("message"),
    )


#: RFC3164 shape: <PRI>MMM dd HH:mm:ss host tag[pid]: msg
SYSLOG_3164_RX = (
    r"^<(\d{1,3})>([A-Z][a-z]{2} \d{2} \d{2}:\d{2}:\d{2}) "
    r"(\S+) ([^\[\s]+)\[(\d+)\]: (.*)$"
)


def parse_syslog(df: DataFrame, col: str = "line") -> DataFrame:
    """ParseSyslog / ListenSyslog's parse half (SURVEY.md §2.1): RFC3164
    lines → typed columns (priority → facility/severity, timestamp text,
    host, tag, pid, message).  One regexp per field, all codegen'd —
    the transport half is ``streaming/listen.TcpLandingListener`` +
    the landing-zone stream drain."""
    line = F.col(col)
    pri = F.regexp_extract(line, SYSLOG_3164_RX, 1).cast("int")
    return df.select(
        (pri / 8).cast("int").alias("facility"),
        F.pmod(pri, F.lit(8)).cast("int").alias("severity"),
        F.regexp_extract(line, SYSLOG_3164_RX, 2).alias("ts_text"),
        F.regexp_extract(line, SYSLOG_3164_RX, 3).alias("host"),
        F.regexp_extract(line, SYSLOG_3164_RX, 4).alias("tag"),
        F.regexp_extract(line, SYSLOG_3164_RX, 5).cast("long").alias("pid"),
        F.regexp_extract(line, SYSLOG_3164_RX, 6).alias("message"),
    )


def convert_json_to_sql(
    df: DataFrame,
    json_col: str,
    table: str,
    columns: Sequence[str],
) -> DataFrame:
    """ConvertJSONToSQL (SURVEY.md §2.4): each JSON document becomes a
    parameterized INSERT plus its positional argument values — NiFi
    emits the statement with ``?`` placeholders and the values as
    ``sql.args.N.value`` attributes; here the statement is one constant
    column and the args ride as ``array<string>`` (absent JSON fields →
    NULL args, exactly the processor's behavior).  All
    ``get_json_object`` columnar extraction — the downstream executor
    is PutSQL / ``jdbc_write``."""
    placeholders = ", ".join(["?"] * len(columns))
    stmt = f'INSERT INTO {table} ({", ".join(columns)}) VALUES ({placeholders})'
    args = F.array(
        *[F.get_json_object(F.col(json_col), f"$.{c}") for c in columns]
    )
    return df.withColumns(
        {"sql_statement": F.lit(stmt), "sql_args": args}
    )


def render_syslog_3164(
    pri: Column, ts: Column, host: Column, tag: Column, pid: Column, msg: Column
) -> Column:
    """PutSyslog's message builder, RFC 3164 flavor: the exact line shape
    ``parse_syslog`` consumes — pure concat, so render → transport →
    parse round-trips value-exactly."""
    return F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"),
        F.date_format(ts, "MMM dd HH:mm:ss"), F.lit(" "),
        host, F.lit(" "), tag, F.lit("["), pid.cast("string"), F.lit("]: "), msg,
    )


def render_syslog_5424(
    pri: Column,
    ts: Column,
    host: Column,
    app: Column,
    procid: Column,
    msgid: Column,
    sd: Column,
    msg: Column,
) -> Column:
    """PutSyslog, RFC 5424 flavor (version 1; nil fields via coalesce to
    '-') — the inverse of ``parse_syslog_5424``."""
    dash = F.lit("-")
    return F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">1 "),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"), F.lit(" "),
        F.coalesce(host, dash), F.lit(" "),
        F.coalesce(app, dash), F.lit(" "),
        F.coalesce(procid.cast("string"), dash), F.lit(" "),
        F.coalesce(msgid, dash), F.lit(" "),
        F.coalesce(sd, dash),
        F.when(msg.isNotNull(), F.concat(F.lit(" "), msg)).otherwise(F.lit("")),
    )
