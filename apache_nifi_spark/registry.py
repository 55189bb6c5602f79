"""Query registry: the oracle-checked capability surface.

Each entry pairs a Spark implementation (built from the operator layer)
with an ANSI-SQL oracle that DuckDB runs on the same parquet fixtures —
SURVEY.md §5.2's differential gate.  ``__spark_entry__.py`` re-exports
``QUERIES`` / ``ORACLES`` to the driver.

Determinism rules (so order-insensitive value hashes match bit-for-bit):
- Float aggregates are exact sums on BOTH engines, cast back to double
  once: the oracle's ``SUM(CAST(x AS DECIMAL(30,6)))`` and, on Spark, the
  sum of ``CAST(x AS DECIMAL(18,6))`` accumulated on 64-bit limbs
  (``functions/exact.py``; ``_dsum``).  Both are the exact decimal sum, so
  the final double cast is the same IEEE value on both sides.  The two
  casts agree for |x| < 10^12, and double→decimal casts only diverge at
  exact midpoints, which cannot occur for fractional scales (non-dyadic
  rationals).  Integer sums that may pass 2^63 use ``exact.sum_long``.
- Averages are computed as exact-sum / count (double division of identical
  operands), never the engines' own AVG over doubles.
- Every LIMIT carries a total order (tie-broken by a key column).
- collect_list-style aggregation is always sorted (defragment) and
  serialized to a string, never exposed as a raw array.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_nifi_spark import io
from apache_nifi_spark.functions import exact
from apache_nifi_spark.operators import (
    asof_join,
    calculate_record_stats,
    deduplicate_record,
    defragment,
    join_enrichment_sql,
    lookup_record,
    query_record,
    range_join,
    route_on_attribute,
    sample_interval,
    top_k_per_group,
    validate_record,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # Fail fast on name collisions: a duplicate would silently
        # SHADOW the earlier query+oracle pair (the r13
        # text_char_entropy incident — two tiers registered the same
        # name and one vanished from the registry and every gate).
        if name in QUERIES:
            raise ValueError(
                f"duplicate registry query name: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dsum(x: str, alias: str, scale: int = 6) -> Column:
    """Exact sum of ``CAST(x AS DECIMAL(18,scale))``, returned as double
    (see module doc); ``x`` is SQL text, usually a column name.  The
    rounding is the oracle's DECIMAL(30,s) cast's for |x| < 10^(18-s),
    which every fixture measure satisfies."""
    return exact.sum_scaled(x, scale).cast("double").alias(alias)


def _davg(x: str, alias: str, scale: int = 6) -> Column:
    return (
        exact.sum_scaled(x, scale).cast("double") / F.count(F.expr(x))
    ).alias(alias)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return io.load_table(spark, sf_dir, name)


# =====================================================================
# Flagship (SURVEY.md §7 step 1): scan → filter → join⁺ → agg → sort/limit
# =====================================================================

@register(
    "flagship_revenue",
    oracle="""
    SELECT n.n_name,
           CAST(year(o.o_orderdate) AS INT)  AS order_year,
           CAST(month(o.o_orderdate) AS INT) AS order_month,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01' AND l.l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, n_name, order_year, order_month
    LIMIT 20
    """,
)
def flagship_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route (filter) → LookupRecord/JoinEnrichment (joins) → QueryRecord
    GROUP BY (agg) → prioritizer+rate-limit (sort/limit), one NiFi-shaped
    flow.  Physical plan: pushed-down parquet filter, shuffle joins for the
    two fact-fact edges, broadcast for nation, partial+final hash agg,
    TakeOrderedAndProject for the limit.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        # widen: the dim sides broadcast (o/c/n under the 64 MB threshold
        # at this SF), so without it the probe-side join+agg would run
        # inside the single-split scan task.
        io.widen_if_narrow(
            li.filter(
                (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
                & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp_ntz"))
            )
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            _dsum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name", "order_year", "order_month")
        .limit(20)
    )


# =====================================================================
# QueryRecord GROUP BY surface (§2.5): TPC-H Q1 shape
# =====================================================================

@register(
    "q1_pricing_summary",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(q AS HUGEINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(p * (100 - d) AS HUGEINT)) AS DOUBLE) / 10000.0
             AS sum_disc_price,
           CAST(SUM(CAST(p * (100 - d) * (100 + t) AS HUGEINT)) AS DOUBLE)
             / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(q AS HUGEINT)) AS DOUBLE) / 100.0 / COUNT(*)
             AS avg_qty,
           CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE) / 100.0 / COUNT(*)
             AS avg_price,
           CAST(SUM(CAST(d AS HUGEINT)) AS DOUBLE) / 100.0 / COUNT(*)
             AS avg_disc,
           COUNT(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryRecord with GROUP BY (NiFi runs this per-FlowFile in Calcite;
    here it is one distributed hash aggregate with map-side partials).

    Scaled-integer moment discipline (the round-14 Pearson-family
    rework, applied to the headline agg): every measure is 2-decimal
    fixed-point, so values scale EXACTLY to integer cents
    (floor(x·100 + 0.5)) and the disc-price/charge products become
    long·long integers — p·(100−d) and p·(100−d)·(100+t) are EXACT
    (the previous form rounded each row's IEEE double product to 6 dp
    before summing; per-row charge bounded ≤ ~10¹¹ ≪ 2⁶³).  Each sum is
    exact at any row count (``exact.sum_long``, the oracle's HUGEINT),
    and each output descales by the identical power of 100 in both
    engines.  The round-robin widen that used to
    precede the agg is GONE with the decimal CPU cost it amortized:
    re-measured, the widen's own shuffle now costs more than it saves
    (1.19 s with vs 0.79 s without at sf0.1; the 512 MB-split scan
    already yields multiple tasks, and at real scale the scan is
    many-task regardless)."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz")
    ).select(
        "l_returnflag", "l_linestatus",
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        .alias("p"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("d"),
        F.floor(F.col("l_tax") * 100 + 0.5).cast("long").alias("t"),
    )
    s = lambda k: exact.sum_long(k).cast("double")  # noqa: E731
    cnt = F.count(F.lit(1))
    return base.groupBy("l_returnflag", "l_linestatus").agg(
        (s("q") / 100.0).alias("sum_qty"),
        (s("p") / 100.0).alias("sum_base_price"),
        (s("p * (100 - d)") / 10000.0).alias("sum_disc_price"),
        (s("p * (100 - d) * (100 + t)") / 1000000.0).alias("sum_charge"),
        (s("q") / 100.0 / cnt).alias("avg_qty"),
        (s("p") / 100.0 / cnt).alias("avg_price"),
        (s("d") / 100.0 / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


# =====================================================================
# Routing (§2.3)
# =====================================================================

@register(
    "route_first_matching",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type = 'purchase' AND NOT (value > 150)
    """,
)
def route_first_matching_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RouteOnAttribute, Route-to-Property-Name (first-match-wins): a
    purchase with value>150 goes to the high_value route, so the purchase
    route sees only the remainder."""
    ev = _t(spark, sf_dir, "events")
    routes = route_on_attribute(
        ev,
        {
            "high_value": F.col("value") > 150,
            "purchase": F.col("event_type") == "purchase",
        },
        strategy="route_first_matching",
    )
    return routes["purchase"].select("event_id", "user_id", "event_type", "value")


@register(
    "route_unmatched",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE NOT (value > 150) AND NOT (event_type = 'purchase')
    """,
)
def route_unmatched_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RouteOnAttribute's ``unmatched`` relationship."""
    ev = _t(spark, sf_dir, "events")
    routes = route_on_attribute(
        ev,
        {
            "high_value": F.col("value") > 150,
            "purchase": F.col("event_type") == "purchase",
        },
    )
    return routes["unmatched"].select("event_id", "event_type", "value")


@register(
    "query_record_sql",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def query_record_sql_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryRecord: user SQL against the FLOWFILE view."""
    ev = _t(spark, sf_dir, "events")
    out = query_record(
        spark,
        ev,
        {
            "per_type": """
                SELECT event_type,
                       COUNT(*) AS n_events,
                       COUNT(DISTINCT user_id) AS n_users,
                       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
                FROM FLOWFILE
                GROUP BY event_type
            """
        },
    )
    return out["per_type"]


@register(
    "route_text_regex",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE regexp_matches(text, 'join.*filter|filter.*join')
    """,
)
def route_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RouteText/RouteOnContent: regex content routing."""
    from apache_nifi_spark.operators import route_text

    docs = _t(spark, sf_dir, "documents")
    return route_text(docs, "text", "join.*filter|filter.*join")["matched"].select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "scan_attribute_dict",
    oracle="""
    SELECT event_id, event_type, user_id
    FROM events
    WHERE event_type IN ('error', 'signup')
    """,
)
def scan_attribute_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScanAttribute: dictionary membership."""
    from apache_nifi_spark.operators import scan_attribute

    ev = _t(spark, sf_dir, "events")
    return scan_attribute(ev, "event_type", ["error", "signup"]).select(
        "event_id", "event_type", "user_id"
    )


@register(
    "scan_content_dictionary",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             list_filter(['spark', 'batch', 'vector', 'window', 'shuffle',
                          'agg', 'stream'],
                         t -> contains(text, t)) AS matched_terms
      FROM documents
    )
    SELECT doc_id,
           COALESCE(array_to_string(matched_terms, ','), '')
             AS matched_terms,
           CAST(len(matched_terms) AS INT) AS n_matched,
           len(matched_terms) > 0 AS hit
    FROM d
    """,
)
def scan_content_dictionary_q(spark, sf_dir):
    """ScanContent's SUBSTRING-dictionary mode (§2.3 — NiFi scans
    FlowFile CONTENT for any dictionary term, distinct from
    ScanAttribute's exact membership and the token semi-join of
    scan_content_semi): the dictionary rides as one literal array and
    each document filters it by ``contains`` — a map-only codegen'd
    projection, no explode, no shuffle, dictionary size bounded by the
    operator contract (NiFi loads it from a file; tens of thousands of
    terms stay a single broadcast-free literal).  Output is
    comma-joined to a STRING: the driver's pandas canonicalizer cannot
    hash list cells (CORRECTNESS_r12 err), so no oracled query exposes
    a top-level array — gated in tests/test_plans.py."""
    terms = ["spark", "batch", "vector", "window", "shuffle", "agg",
             "stream"]
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    matched = F.filter(
        F.array(*[F.lit(t) for t in terms]),
        lambda t: F.col("text").contains(t),
    )
    return d.select(
        "doc_id",
        F.array_join(matched, ",").alias("matched_terms"),
        F.size(matched).alias("n_matched"),
        (F.size(matched) > 0).alias("hit"),
    )


@register(
    "validate_record_split",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           concat_ws(',',
             CASE WHEN NOT (l_quantity <= 45)  THEN 'qty_le_45' END,
             CASE WHEN NOT (l_discount <= 0.08) THEN 'disc_le_8pct' END
           ) AS violation_list
    FROM lineitem
    WHERE NOT (l_quantity <= 45) OR NOT (l_discount <= 0.08)
    """,
)
def validate_record_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValidateRecord: the ``invalid`` relationship with violation names."""
    li = _t(spark, sf_dir, "lineitem")
    out = validate_record(
        li,
        {
            "qty_le_45": F.col("l_quantity") <= 45,
            "disc_le_8pct": F.col("l_discount") <= 0.08,
        },
    )
    return out["invalid"].select(
        "l_orderkey",
        "l_linenumber",
        F.array_join("violations", ",").alias("violation_list"),
    )


#: ValidateJson fixture schema — exercises type/required/range/length/
#: pattern/enum and a nested object with its own required.
_VALIDATE_JSON_SCHEMA = {
    "type": "object",
    "required": ["event_id", "user_id", "event_type", "value"],
    "properties": {
        "event_id": {"type": "integer", "minimum": 0},
        "user_id": {"type": "integer"},
        "event_type": {
            "type": "string",
            "minLength": 3,
            "maxLength": 24,
            "pattern": "^[a-z_]+$",
        },
        "value": {"type": "number", "minimum": 0.0, "maximum": 100000.0},
        "meta": {
            "type": "object",
            "required": ["src"],
            "properties": {"src": {"type": "string", "enum": ["events", "backfill"]}},
        },
    },
}


def _validate_json_oracle() -> str:
    """Oracle from the SAME compiled schema (functions/json_schema): the
    doc-building CTE mirrors the Spark-side string construction
    (integer-cents arithmetic, engine-identical), then valid/error come
    from the compiler's DuckDB backend."""
    from apache_nifi_spark.functions.json_schema import json_schema_sql

    valid_sql, err_sql = json_schema_sql(_VALIDATE_JSON_SCHEMA, "doc")
    return f"""
    WITH c AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(abs(value) * 100) AS BIGINT) AS cents
      FROM events
    ),
    whole_docs AS (
      SELECT event_id,
             '{{"event_id": ' || CAST(event_id AS VARCHAR)
             || CASE WHEN event_id % 7 = 0 THEN ''
                     ELSE ', "user_id": ' || CAST(user_id AS VARCHAR) END
             || ', "event_type": "' || event_type || '"'
             || ', "value": '
             || CASE WHEN event_id % 11 = 0 THEN '"' ELSE '' END
             || CASE WHEN event_id % 13 = 0 THEN '-' ELSE '' END
             || CAST(cents // 100 AS VARCHAR) || '.'
             || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')
             || CASE WHEN event_id % 11 = 0 THEN '"' ELSE '' END
             || ', "meta": {{'
             || CASE WHEN event_id % 19 = 0 THEN ''
                     ELSE '"src": "events"' END
             || '}}}}' AS whole
      FROM c
    ),
    built AS (
      SELECT event_id,
             CASE WHEN event_id % 17 = 0
                  THEN substr(whole, 1, length(whole) - 1)
                  ELSE whole END AS doc
      FROM whole_docs
    )
    SELECT event_id, doc, {valid_sql} AS valid, {err_sql} AS validation_error
    FROM built
    """


_VALIDATE_COMPOSED_SCHEMA = {
    "$defs": {"etype": {"type": "string", "pattern": "^[a-z_]+$", "minLength": 3}},
    "type": "object",
    "required": ["event_id", "event_type"],
    "properties": {
        "event_type": {"$ref": "#/$defs/etype"},
        "value": {
            "anyOf": [
                {"type": "number", "minimum": 0},
                {"type": "string", "maxLength": 8},
            ]
        },
        "tags": {"maxItems": 2, "items": {"type": "integer", "minimum": 0}},
    },
}


def _validate_composed_oracle() -> str:
    from apache_nifi_spark.functions.json_schema import json_schema_sql

    valid_sql, err_sql = json_schema_sql(_VALIDATE_COMPOSED_SCHEMA, "doc")
    return f"""
    WITH built AS (
      SELECT event_id,
             '{{"event_id": ' || CAST(event_id AS VARCHAR)
             || ', "event_type": "' || event_type || '"'
             || ', "value": '
             || CASE WHEN event_id % 9 = 0
                     THEN '-' || CAST(event_id % 5 + 1 AS VARCHAR)
                     ELSE CAST(event_id % 5 AS VARCHAR) END
             || ', "tags": [0, '
             || CASE WHEN event_id % 13 = 0 THEN '-1' ELSE '1' END
             || ']}}' AS doc
      FROM events
    )
    SELECT event_id, {valid_sql} AS valid, {err_sql} AS validation_error
    FROM built
    """


@register("validate_json_composed", oracle=_validate_composed_oracle())
def validate_json_composed_q(spark, sf_dir):
    """ValidateJson with composition keywords (§2.3, round-7 item #6):
    a schema using local $ref, anyOf (number-with-minimum OR short
    string), and bounded per-element items — compiled ONCE for both
    engines (functions/json_schema).  Defects injected deterministically:
    negative value fails both anyOf branches; a negative tag fails the
    per-index item check."""
    from apache_nifi_spark.functions.json_schema import validate_json

    ev = io.widen_if_narrow(_t(spark, sf_dir, "events"))
    mod = lambda n: F.col("event_id") % n == 0  # noqa: E731
    doc = F.concat(
        F.lit('{"event_id": '),
        F.col("event_id").cast("string"),
        F.lit(', "event_type": "'),
        F.col("event_type"),
        F.lit('", "value": '),
        F.when(
            mod(9),
            F.concat(F.lit("-"), (F.col("event_id") % 5 + 1).cast("string")),
        ).otherwise((F.col("event_id") % 5).cast("string")),
        F.lit(', "tags": [0, '),
        F.when(mod(13), F.lit("-1")).otherwise(F.lit("1")),
        F.lit("]}"),
    )
    built = ev.select("event_id", doc.alias("doc"))
    return validate_json(built, _VALIDATE_COMPOSED_SCHEMA, doc_col="doc").select(
        "event_id", "valid", "validation_error"
    )


@register("validate_json_schema", oracle=_validate_json_oracle())
def validate_json_schema_q(spark, sf_dir):
    """ValidateJson (§2.3 [2.7.2-surface]): JSON-Schema-subset validation
    of raw JSON documents, first violation labeled, valid/invalid
    routable.  Docs derive from events with deterministically injected
    defects (dropped required key, wrong type, range violation, nested
    required, malformed tail); the schema compiles ONCE for both engines
    (functions/json_schema)."""
    from apache_nifi_spark.functions.json_schema import validate_json

    # variant rule evaluation is interpreted CPU-per-row work — spread
    # the single parquet split across cores before it
    ev = io.widen_if_narrow(_t(spark, sf_dir, "events"))
    cents = F.floor(F.abs(F.col("value")) * 100).cast("bigint")
    mod = lambda n: F.col("event_id") % n == 0  # noqa: E731
    val_str = F.concat(
        (cents / 100).cast("bigint").cast("string"),
        F.lit("."),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )
    doc = F.concat(
        F.lit('{"event_id": '),
        F.col("event_id").cast("string"),
        F.when(mod(7), F.lit("")).otherwise(
            F.concat(F.lit(', "user_id": '), F.col("user_id").cast("string"))
        ),
        F.lit(', "event_type": "'),
        F.col("event_type"),
        F.lit('"'),
        F.lit(', "value": '),
        F.when(mod(11), F.lit('"')).otherwise(F.lit("")),
        F.when(mod(13), F.lit("-")).otherwise(F.lit("")),
        val_str,
        F.when(mod(11), F.lit('"')).otherwise(F.lit("")),
        F.lit(', "meta": {'),
        F.when(mod(19), F.lit("")).otherwise(F.lit('"src": "events"')),
        F.lit("}}"),
    )
    # Malformed injection by TRUNCATION (drop the closing brace): both
    # engines reject a truncated value, where trailing garbage splits
    # them (Spark's variant parser accepts a leading valid value).
    doc = F.when(mod(17), doc.substr(F.lit(1), F.length(doc) - 1)).otherwise(doc)
    built = ev.select("event_id", doc.alias("doc"))
    return validate_json(built, _VALIDATE_JSON_SCHEMA, doc_col="doc").select(
        "event_id", "doc", "valid", "validation_error"
    )


# =====================================================================
# Joins & enrichment (§2.6)
# =====================================================================

@register(
    "lookup_customer_nation",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def lookup_customer_nation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LookupRecord chain: two bounded lookup services → two broadcast hash
    joins; the customer side never shuffles."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    enriched = lookup_record(c, n, on=c.c_nationkey == n.n_nationkey, how="inner")
    enriched = lookup_record(
        enriched, r, on=F.col("n_regionkey") == F.col("r_regionkey"), how="inner"
    )
    return enriched.select("c_custkey", "c_name", "n_name", "r_name")


@register(
    "lookup_unmatched",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def lookup_unmatched_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LookupRecord ``unmatched`` relationship → broadcast left-anti join:
    customers with no pending ('P') order."""
    from apache_nifi_spark.operators import lookup_split

    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return lookup_split(c, o, on="c_custkey")["unmatched"].select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_enrichment_sql",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o
    LEFT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_enrichment_sql_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ForkEnrichment→JoinEnrichment, SQL strategy: user SQL over views
    ``original`` and ``enrichment`` (exactly NiFi's table names)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    return join_enrichment_sql(
        spark,
        o,
        c,
        """
        SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
        FROM original o
        LEFT OUTER JOIN enrichment c ON o.o_custkey = c.c_custkey
        """,
    )


def _geohash_oracle() -> str:
    """Build the GeohashRecord oracle from the engine's own closed-form
    SQL fragments (functions/geo.geohash_oracle_sql) — both engines run
    the SAME arithmetic, so the check is of the pipeline, not of two
    geohash implementations agreeing by luck."""
    from apache_nifi_spark.functions.geo import geohash_oracle_sql

    x, y, z, digits = geohash_oracle_sql(8)
    return f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 17000) / 100.0 - 85.0  AS lat,
             ((c_custkey * 7) % 35000) / 100.0 - 175.0 AS lon
      FROM customer
    ),
    b AS (SELECT c_custkey, lat, lon, {x} AS gx, {y} AS gy FROM pts),
    w AS (SELECT c_custkey, lat, lon, {z} AS gz FROM b)
    SELECT c_custkey, round(lat, 6) AS lat, round(lon, 6) AS lon,
           {digits} AS geohash
    FROM w
    """


@register("geohash_record_encode", oracle=_geohash_oracle())
def geohash_record_q(spark, sf_dir):
    """GeohashRecord (§2.4 [2.7.2-surface, nifi-geohash bundle]): encode
    each record's (lat, lon) to a precision-8 geohash — closed-form bit
    arithmetic, no UDF, map-only (functions/geo).  Coordinates derive
    deterministically from c_custkey so the fixture needs no geo column."""
    from apache_nifi_spark.functions.geo import geohash_record

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 17000) / F.lit(100.0) - F.lit(85.0)).alias("lat"),
        ((F.col("c_custkey") * 7 % 35000) / F.lit(100.0) - F.lit(175.0)).alias("lon"),
    )
    return geohash_record(c).select(
        "c_custkey",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        "geohash",
    )


@register(
    "range_join_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('budget', 900.0, 935.0), ('mid', 935.0, 970.0), ('premium', 970.0, 1000.0)
    )
    SELECT b.band,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM part p
    JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoEnrichIP-style range join: point-in-interval against a bounded
    range table → broadcast nested-loop join (the right plan when one side
    is tiny; two big sides would bucketize first)."""
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 900.0, 935.0), ("mid", 935.0, 970.0), ("premium", 970.0, 1000.0)],
        "band string, lo double, hi double",
    )
    joined = range_join(p, bands, F.col("p_retailprice"), F.col("lo"), F.col("hi"))
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        _dsum("p_retailprice", "total_price"),
    )


@register(
    "asof_signup_before_purchase",
    oracle="""
    SELECT p.event_id, p.user_id, p.value AS purchase_value, s.value AS signup_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference): latest signup at-or-before each
    purchase, per user.  Union + partitioned window — one shuffle on the
    key, no range cross-product; survives 100× scale-up."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts"), F.col("value").alias("signup_value")
    )
    out = asof_join(
        purchases,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["signup_value"],
    )
    return out.select(
        "event_id", "user_id", F.col("value").alias("purchase_value"), "signup_value"
    )


@register(
    "asof_next_purchase",
    oracle="""
    SELECT s.event_id, s.user_id, s.value AS signup_value, p.value AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON s.user_id = p.user_id AND s.ts <= p.ts
    """,
)
def asof_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (beyond-reference): EARLIEST purchase at-or-after
    each signup, per user — the direction='forward' path of the same
    union + partitioned-window operator (one shuffle on the key, frame
    reversed to [current, unbounded following])."""
    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("value").alias("next_purchase_value")
    )
    out = asof_join(
        signups,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["next_purchase_value"],
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", F.col("value").alias("signup_value"), "next_purchase_value"
    )


# =====================================================================
# Merge / split / stats / dedup (§2.5)
# =====================================================================

@register(
    "defragment_user_timeline",
    oracle="""
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS timeline,
           COUNT(*) AS fragment_count
    FROM events
    GROUP BY user_id
    """,
)
def defragment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeContent Defragment: reassemble per-key fragments in order.
    sort_array(collect_list(struct(...))) — deterministic, single shuffle."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "idx", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = defragment(ev, "user_id", "idx", F.col("event_type"))
    return out.select(
        "user_id",
        F.array_join("fragments", ",").alias("timeline"),
        "fragment_count",
    )


@register(
    "record_stats_events",
    oracle="""
    SELECT '<total>' AS category, '<total>' AS value, COUNT(*) AS record_count FROM events
    UNION ALL
    SELECT 'event_type' AS category, event_type AS value, COUNT(*) AS record_count
    FROM events GROUP BY event_type
    """,
)
def record_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CalculateRecordStats: overall + per-category counts in one union."""
    return calculate_record_stats(_t(spark, sf_dir, "events"), ["event_type"])


@register(
    "dedup_first_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
    """,
)
def dedup_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeduplicateRecord with a deterministic winner (lowest orderkey)."""
    o = _t(spark, sf_dir, "orders")
    return deduplicate_record(o, ["o_custkey"], keep_order_col="o_orderkey").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "split_record_explode",
    oracle="""
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 10
    """,
)
def split_record_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SplitRecord/SplitText: one row per element (token-per-row here)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ", -1)).alias("token")
    )


# =====================================================================
# Windows (§2.7)
# =====================================================================

@register(
    "top3_orders_per_segment",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
           CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                                   ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INT) AS rn
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    QUALIFY rn <= 3
    """,
)
def top3_per_segment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (PriorityAttributePrioritizer idiom)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # customer scales with SF (corpus-cardinality): no broadcast hint,
    # AQE broadcasts at small SF and shuffles at scale
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return top_k_per_group(
        joined.select("c_mktsegment", "o_orderkey", "o_totalprice"),
        ["c_mktsegment"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )


@register(
    "rolling_user_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_sum,
           CAST(COUNT(value) OVER w AS BIGINT) AS rolling_count
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AttributeRollingWindow: last-3-rows rolling stats per key (decimal
    accumulation for cross-engine exactness)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("rolling_sum"),
        F.count("value").over(w).alias("rolling_count"),
    )


@register(
    "enforce_order_seq",
    oracle="""
    SELECT event_id, user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
    FROM events
    """,
)
def enforce_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EnforceOrder: dense per-group sequence by event time."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select("event_id", "user_id", F.row_number().over(w).alias("seq"))


@register(
    "lag_lead_value",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def lag_lead_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead (superset of NiFi's ordering idioms)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


# =====================================================================
# Set ops / sorts / limits (§2.8)
# =====================================================================

@register(
    "setop_intersect_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def setop_intersect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_nifi_spark.operators import intersect_records

    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return intersect_records(f, op)


@register(
    "setop_except_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_except_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_nifi_spark.operators import except_records

    o = _t(spark, sf_dir, "orders")
    p = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return except_records(p, f)


@register(
    "funnel_union_all",
    oracle="""
    SELECT event_id, event_type FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_id, event_type FROM events WHERE event_type = 'signup'
    """,
)
def funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: N edges → 1 (UNION ALL)."""
    from apache_nifi_spark.operators import funnel

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("event_id", "event_type")
    b = ev.filter(F.col("event_type") == "signup").select("event_id", "event_type")
    return funnel(a, b)


@register(
    "topk_orders_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_global_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K — Spark plans TakeOrderedAndProject (no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "sample_every_10th",
    oracle="""
    SELECT event_id, user_id, event_type FROM events WHERE event_id % 10 = 0
    """,
)
def sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SampleRecord, interval strategy (deterministic)."""
    ev = _t(spark, sf_dir, "events")
    return sample_interval(ev, F.col("event_id"), 10).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "rollup_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals — superset of QueryRecord's flat GROUP BY."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice", "total"),
    )


# =====================================================================
# EL scalar function families (§2.9) — SURVEY.md §7 step 2
# =====================================================================

@register(
    "el_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                   AS name_upper,
           lower(c_mktsegment)             AS seg_lower,
           substr(c_name, 1, 8)            AS name_prefix,
           split_part(c_name, '#', 1)      AS name_before_hash,
           CAST(strpos(c_name, '#') - 1 AS INT) AS hash_idx,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           concat(c_mktsegment, ':', c_name) AS seg_name,
           CAST(length(c_name) AS INT)     AS name_len,
           reverse(c_mktsegment)           AS seg_rev,
           c_name LIKE 'Customer%'         AS is_customer,
           contains(c_name, '00')          AS has_00
    FROM customer
    """,
)
def el_string_funcs_q(spark, sf_dir):
    """EL string family: toUpper/toLower/substring/substringBefore/indexOf/
    padLeft/append/length + matches/contains — all codegen'd, no UDFs."""
    from apache_nifi_spark.functions import el

    c = _t(spark, sf_dir, "customer")
    name, seg = F.col("c_name"), F.col("c_mktsegment")
    return c.select(
        "c_custkey",
        el.to_upper(name).alias("name_upper"),
        el.to_lower(seg).alias("seg_lower"),
        el.substring(name, 0, 8).alias("name_prefix"),
        el.substring_before(name, "#").alias("name_before_hash"),
        el.index_of(name, "#").alias("hash_idx"),
        el.pad_left(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat(seg, F.lit(":"), name).alias("seg_name"),
        el.length(name).alias("name_len"),
        F.reverse(seg).alias("seg_rev"),
        name.like("Customer%").alias("is_customer"),
        el.contains(name, "00").alias("has_00"),
    )


@register(
    "el_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * 0.1                 AS price_tenth,
           round(l_extendedprice)                AS price_round,
           abs(l_discount - 0.05)                AS disc_dev,
           CAST(ceil(l_quantity / 7) AS BIGINT)  AS qty_ceil7,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k,
           l_orderkey % 7                        AS key_mod7,
           pow(l_quantity, 2)                    AS qty_sq,
           sqrt(l_extendedprice)                 AS price_sqrt,
           greatest(l_discount, l_tax)           AS max_rate
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def el_math_funcs_q(spark, sf_dir):
    """EL math family: plus/minus/divide/mod/abs/ceil/floor/round/pow/sqrt."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * 0.1).alias("price_tenth"),
        # integer-scale round only: fractional-scale rounding of doubles
        # diverges between engines (decimal-string HALF_UP vs binary)
        F.round("l_extendedprice", 0).alias("price_round"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil7"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
    )


@register(
    "el_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)       AS order_year,
           CAST(month(o_orderdate) AS INT)      AS order_month,
           CAST(day(o_orderdate) AS INT)        AS order_day,
           strftime(o_orderdate, '%Y-%m')       AS year_month,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY        AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_95,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(quarter(o_orderdate) AS INT)    AS qtr
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def el_date_funcs_q(spark, sf_dir):
    """EL date family: format/toDate/now-arithmetic → Spark datetime fns.
    (Spark dayofweek is 1=Sunday; DuckDB is 0=Sunday — oracle shifts.)"""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.dayofmonth(d).alias("order_day"),
        F.date_format(d, "yyyy-MM").alias("year_month"),
        F.date_trunc("month", d).alias("month_start"),
        (d + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp_ntz")).alias("days_since_95"),
        F.dayofweek(d).alias("dow"),
        F.quarter(d).alias("qtr"),
    )


@register(
    "el_hash_encode",
    oracle="""
    SELECT doc_id,
           md5(text)                          AS text_md5,
           sha256(text)                       AS text_sha256,
           to_base64(source::BLOB)            AS source_b64,
           hex(doc_id)                        AS id_hex
    FROM documents
    """,
)
def el_hash_encode_q(spark, sf_dir):
    """EL encode/hash family: hash(), base64Encode(), CryptographicHash*."""
    from apache_nifi_spark.functions import el

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        el.hash_md5(F.col("text")).alias("text_md5"),
        el.hash_sha256(F.col("text")).alias("text_sha256"),
        el.base64_encode(F.col("source")).alias("source_b64"),
        el.hex_encode(F.col("doc_id")).alias("id_hex"),
    )


@register(
    "el_json_props",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                  AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_num,
           CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k_doubled,
           json_extract_string(props, '$.missing')            AS k_missing
    FROM events
    WHERE event_id < 2000
    """,
)
def el_json_props_q(spark, sf_dir):
    """EL jsonPath family over the FlowFile-attributes analog (props)."""
    from apache_nifi_spark.operators import evaluate_json_path

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    out = evaluate_json_path(
        ev, "props", {"k_str": "$.k", "k_missing": "$.missing"}
    )
    return out.select(
        "event_id",
        "k_str",
        F.col("k_str").cast("long").alias("k_num"),
        (F.col("k_str").cast("long") * 2).alias("k_doubled"),
        "k_missing",
    )


@register(
    "el_conditional_coercion",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END                    AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) AS name_num,
           c_acctbal > 0 AND c_nationkey < 13        AS flag
    FROM customer
    """,
)
def el_conditional_q(spark, sf_dir):
    """EL ifElse/isNull/toNumber coercion semantics (try_cast totality)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.substring_index("c_name", "#", -1).try_cast("long").alias("name_num"),
        ((F.col("c_acctbal") > 0) & (F.col("c_nationkey") < 13)).alias("flag"),
    )


# =====================================================================
# Transform operators (§2.4)
# =====================================================================

@register(
    "transform_extract_text",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) data', 1)  AS word_before_data,
           CAST(length(regexp_extract_all(text, 'data')) AS INT) AS data_count
    FROM documents
    WHERE regexp_matches(text, 'data')
    """,
)
def transform_extract_text_q(spark, sf_dir):
    """ExtractText: regex capture groups → columns (+ occurrence count)."""
    from apache_nifi_spark.operators import extract_text

    d = _t(spark, sf_dir, "documents").filter(F.col("text").rlike("data"))
    out = extract_text(d, "text", {"word_before_data": ("([a-z]+) data", 1)})
    return out.select(
        "doc_id",
        "word_before_data",
        F.regexp_count("text", F.lit("data")).alias("data_count"),
    )


@register(
    "transform_replace_mapping",
    oracle="""
    SELECT doc_id,
           replace(replace(replace(lang, 'en', 'english'), 'fr', 'french'),
                   'de', 'german') AS lang_full,
           regexp_replace(text, '[0-9]+', '#', 'g') AS text_nonum
    FROM documents
    WHERE doc_id < 50
    """,
)
def transform_replace_q(spark, sf_dir):
    """ReplaceTextWithMapping (dictionary) + ReplaceText (regex, global)."""
    from apache_nifi_spark.operators import replace_text, replace_text_with_mapping

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = replace_text_with_mapping(
        d, "lang", {"en": "english", "fr": "french", "de": "german"}, out_col="lang_full"
    )
    out = replace_text(out, "text", "[0-9]+", "#", out_col="text_nonum")
    return out.select("doc_id", "lang_full", "text_nonum")


@register(
    "transform_attrs_to_json",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(event_id := event_id, event_type := event_type)) AS json,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE event_id < 1000
    """,
)
def transform_attrs_json_q(spark, sf_dir):
    """AttributesToJSON (serialize) + FlattenJson (parse→flatten)."""
    from apache_nifi_spark.operators import attributes_to_json

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    out = attributes_to_json(ev, ["event_id", "event_type"], out_col="json")
    parsed = out.withColumn("parsed", F.from_json("props", "k long"))
    return parsed.select("event_id", "json", F.col("parsed.k").alias("k"))


# =====================================================================
# Aggregation extensions: pivot, cube, distinct counts (§2.5)
# =====================================================================

@register(
    "pivot_events_by_type",
    oracle="""
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN event_type='click'    THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type='error'    THEN 1 END), 0) AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type='purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type='signup'   THEN 1 END), 0) AS BIGINT) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type='view'     THEN 1 END), 0) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_q(spark, sf_dir):
    """Pivot (PartitionRecord + MergeContent idiom made columnar).
    Explicit pivot values → no extra distinct-scan job."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "cube_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_q(spark, sf_dir):
    """CUBE: all grouping-set combinations (superset of QueryRecord).

    Two-level (r16 optimization): aggregate to the base-grain cells
    first (≤ |flags|·|status| rows), then CUBE the cells — the 4-way
    ``Expand`` runs over the tiny cell table instead of multiplying
    every input row (guide §2.3: aggregate before you shuffle; plan
    diff: Expand moves from above the 600 k-row scan to above a ≤6-row
    agg).  Algebraically identical because count/decimal-sum are
    associative and both grouping keys are non-null in lineitem (a
    data-null would conflate with the rollup-null — guarded upstream
    by the TPC-H NOT NULL contract these fixtures carry)."""
    li = io.widen_if_narrow(_t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    ))
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("_n"),
        exact.sum_scaled("l_quantity", 6).alias("_q"),
    )
    return cells.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n"),
        F.sum("_q").cast("double").alias("qty"),
    )


@register(
    "distinct_parts_per_supplier",
    oracle="""
    SELECT l_suppkey,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def distinct_count_q(spark, sf_dir):
    """COUNT(DISTINCT) — expand+two-phase agg planned by Catalyst.
    (No widen: measured, the extra exchange costs more than the
    single-task Expand+partial-agg saves on this narrow 2-column input.)"""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "approx_distinct_users",
    oracle="""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed
    ),
    sketch AS (
      SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth
      FROM ranked WHERE rn <= 64
      GROUP BY event_type
    ),
    med AS (
      SELECT event_type,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS DOUBLE)
               AS median_value
      FROM events GROUP BY event_type
    )
    SELECT s.event_type,
           CASE WHEN s.n_kept < 64 THEN CAST(s.n_kept AS DOUBLE)
                ELSE CAST(63 AS DOUBLE)
                     / (CAST(s.kth AS DOUBLE) / 4503599627370496.0)
           END AS approx_users,
           m.median_value
    FROM sketch s JOIN med m USING (event_type)
    """,
)
def approx_distinct_q(spark, sf_dir):
    """Approximate distinct count as a deterministic KMV (k-minimum-values)
    sketch — the value-oracle-able alternative to HyperLogLog (engine HLL
    estimates differ, KMV over md5 doesn't; SURVEY.md §2.5 approx-distinct).

    h = first 13 hex chars of md5(user_id) as an integer: 52 bits, exact in
    a double, uniform on [0, 2^52).  Estimate = (k-1) / U_(k) with
    U_(k) = kth-smallest h / 2^52; exact count when a group has < k distinct
    hashes.  Median is percentile_disc — an actual data value, so no
    interpolation arithmetic to diverge between engines.

    Scale shape: the global per-group sort input is capped by a map-side
    prune — per-partition k-smallest first (union of local top-k is a
    superset of the global top-k), so the final window sees at most
    k × n_partitions rows per group regardless of distinct-user count.
    """
    K = 64
    ev = _t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
        ).cast("bigint").alias("h"),
    ).distinct()
    local_w = Window.partitionBy(F.spark_partition_id(), "event_type").orderBy("h")
    pruned = (
        hashed.withColumn("lrn", F.row_number().over(local_w))
        .where(F.col("lrn") <= K)
        .drop("lrn")
    )
    global_w = Window.partitionBy("event_type").orderBy("h")
    sketch = (
        pruned.withColumn("rn", F.row_number().over(global_w))
        .where(F.col("rn") <= K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth"))
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .cast("double")
        .alias("median_value")
    )
    est = F.when(
        F.col("n_kept") < K, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(K - 1))
        / (F.col("kth").cast("double") / F.lit(4503599627370496.0))
    )
    return sketch.join(med, "event_type").select(
        "event_type", est.alias("approx_users"), "median_value"
    )


# =====================================================================
# Streaming (§2.11): real Structured Streaming runs, batch-parity oracles
# =====================================================================

@register(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_q(spark, sf_dir):
    """REAL streaming run: file stream source → watermark → tumbling
    window agg → availableNow drain to memory sink.  The oracle is the
    batch-equivalent SQL (SURVEY.md §5.2 streaming strategy)."""
    from apache_nifi_spark.streaming import run_to_memory, stream_events, tumbling_agg

    sdf = stream_events(spark, sf_dir)
    agg = tumbling_agg(sdf, "ts", "event_type", window="6 hours")
    return run_to_memory(agg, output_mode="complete")


@register(
    "stream_hypertable_rollup",
    oracle="""
    WITH h AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS b, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(30,6))) AS s,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events WHERE event_id % 7 = 0 GROUP BY 1, 2
    ), d AS (
      SELECT date_trunc('day', b) AS b, event_type,
             CAST(SUM(n) AS BIGINT) AS n, SUM(s) AS s,
             MIN(mn) AS mn, MAX(mx) AS mx
      FROM h GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, b AS bucket_ts, event_type, n,
           CAST(s AS DOUBLE) AS total_value, mn AS min_value,
           mx AS max_value FROM h
    UNION ALL
    SELECT 'day', b, event_type, n, CAST(s AS DOUBLE), mn, mx FROM d
    """,
)
def stream_hypertable_q(spark, sf_dir):
    """The hypertable pattern under Structured Streaming: the HOUR tier
    materializes from the live stream (tumbling window agg, availableNow
    drain — the continuous-aggregate refresh), and the DAY tier derives
    from the drained hour tier batch-side, never re-reading the raw
    stream — exactly how a Timescale continuous aggregate cascades
    refreshes.  Decomposable aggregates only, so the streaming hop loses
    nothing: the oracle computes the identical cascade from the fixture
    in batch SQL."""
    from apache_nifi_spark.streaming import run_to_memory, stream_events

    sdf = stream_events(spark, sf_dir).filter(F.col("event_id") % 7 == 0)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact.sum_scaled("value", 6).alias("_s"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    hour = run_to_memory(agg, output_mode="complete").select(
        F.col("window.start").alias("bucket_ts"),
        "event_type", "n", "_s", "min_value", "max_value",
    )
    day = (
        hour.groupBy(
            F.date_trunc("day", "bucket_ts").alias("bucket_ts"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("_s").alias("_s"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    tiers = hour.select(F.lit("hour").alias("grain"), "*").unionByName(
        day.select(F.lit("day").alias("grain"), "*")
    )
    return tiers.select(
        "grain", "bucket_ts", "event_type", "n",
        F.col("_s").cast("double").alias("total_value"),
        "min_value", "max_value",
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH k AS (SELECT * FROM (VALUES (0), (1)) t(i))
    SELECT time_bucket(INTERVAL 3 HOUR, ts) - i * INTERVAL 3 HOUR AS window_start,
           time_bucket(INTERVAL 3 HOUR, ts) - i * INTERVAL 3 HOUR + INTERVAL 6 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN k
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding_q(spark, sf_dir):
    """Sliding 6h/3h window (AttributeRollingWindow analog): every event
    contributes to two overlapping windows."""
    from apache_nifi_spark.streaming import run_to_memory, sliding_agg, stream_events

    sdf = stream_events(spark, sf_dir)
    agg = sliding_agg(sdf, "ts", "event_type", window="6 hours", slide="3 hours")
    return run_to_memory(agg, output_mode="complete")


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_q(spark, sf_dir):
    """Session windows (30-min idle gap per user) — MergeContent bins
    closing on idle; oracle is the gaps-and-islands SQL formulation."""
    from apache_nifi_spark.streaming import run_to_memory, session_agg, stream_events

    sdf = stream_events(spark, sf_dir)
    agg = session_agg(sdf, "ts", "user_id", gap="30 minutes")
    return run_to_memory(agg, output_mode="complete")


@register(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, event_type FROM events
    """,
)
def stream_dedup_q(spark, sf_dir):
    """DetectDuplicate: the stream unioned with itself (every row arrives
    twice) → dropDuplicatesWithinWatermark restores exactly-once — output
    equals the plain table."""
    from apache_nifi_spark.streaming import dedup_within_watermark, run_to_memory, stream_events

    sdf = stream_events(spark, sf_dir)
    doubled = sdf.union(stream_events(spark, sf_dir))
    deduped = dedup_within_watermark(doubled, ["event_id"], "ts", delay="1 hour")
    # Arrival-time dedup emits first occurrences during data batches;
    # the trailing no-data micro-batch only ages out state — skip it
    # (rows proven identical; r17).
    return run_to_memory(
        deduped.select("event_id", "event_type"),
        output_mode="append",
        final_no_data_batch=False,
    )


@register(
    "stream_stateful_running_totals",
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER w AS BIGINT) AS seen_so_far,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w2 AS BIGINT) AS cents_so_far
    FROM events
    WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
           w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING)
    """,
)
def stream_stateful_q(spark, sf_dir):
    """Wait/Notify-style keyed state (applyInPandasWithState): per-user
    running count + running value-in-cents, oracle-checked against the
    SQL window cumsum.

    The drain runs at ``run_to_memory``'s default of ``min(8,
    defaultParallelism)`` shuffle partitions, so one state store and one
    Python state loop per core per micro-batch, in one task wave."""
    from apache_nifi_spark.streaming import run_to_memory, running_totals_per_key, stream_events

    sdf = stream_events(spark, sf_dir)
    return run_to_memory(running_totals_per_key(sdf), output_mode="append")


# =====================================================================
# Sources & sinks (§2.1, §2.2, §2.4 ConvertRecord): format bridge,
# binary source, partitioned file sink
# =====================================================================

@register(
    "convert_record_csv",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def convert_record_csv_q(spark, sf_dir):
    """ConvertRecord parquet→CSV→records: write with the CSV
    RecordSetWriter, read back with the CSV RecordReader under the SOURCE
    schema — the round-trip must be lossless (header names, typed parse,
    round-trippable float serialization)."""
    from apache_nifi_spark.sources import convert_record

    sup = _t(spark, sf_dir, "supplier")
    out = io.scratch("anspark_convert_csv_")
    return convert_record(spark, sup, "csv", out)


@register(
    "convert_record_json",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
    "       o_orderdate, o_orderpriority FROM orders",
)
def convert_record_json_q(spark, sf_dir):
    """ConvertRecord parquet→JSON-lines→records, including timestamp
    fidelity through ISO-8601 text."""
    from apache_nifi_spark.sources import convert_record

    orders = _t(spark, sf_dir, "orders")
    out = io.scratch("anspark_convert_json_")
    return convert_record(spark, orders, "json", out)


@register(
    "convert_record_avro",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
    "       o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 10 = 0",
)
def convert_record_avro_q(spark, sf_dir):
    """ConvertRecord parquet→Avro→records — NiFi's DEFAULT wire format
    (SURVEY.md §2.2), served by Spark's Avro file format through
    sources/formats (one deflate container per partition, read back under
    the source schema).  The round-trip must be value-exact through longs,
    doubles, UTF-8 strings and dates.  The oracle pins a deterministic
    1-in-10 key subset."""
    from apache_nifi_spark.sources import convert_record

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    out = io.scratch("anspark_convert_avro_")
    return convert_record(spark, orders, "avro", out)


@register(
    "convert_record_avro_nested",
    oracle="""
    SELECT vec_id,
           array_to_string(
             list_transform(embedding,
               v -> CAST(CAST(floor(CAST(v AS DOUBLE) * 67108864.0)
                              AS BIGINT) AS VARCHAR)),
             ',') AS embedding,
           label
    FROM embeddings
    """,
)
def convert_record_avro_nested_q(spark, sf_dir):
    """Avro round-trip of a NESTED schema (array<float> embeddings) —
    exercises the block-encoded Avro array path and float32 bit-exactness
    (Avro floats are IEEE single precision, so no precision drift).  The
    output joins ``floor(v · 2²⁶)`` per element to a STRING (driver canonicalizer
    can't hash list cells — tests/test_plans.py gate): the power-of-two
    multiply and floor are EXACT IEEE ops, so the rendering is a pure
    function of the round-tripped float bits, engine-identical with no
    decimal-rounding edge anywhere."""
    from apache_nifi_spark.sources import convert_record

    emb = _t(spark, sf_dir, "embeddings")
    out = io.scratch("anspark_convert_avro_emb_")
    rt = convert_record(spark, emb, "avro", out)
    return rt.select(
        "vec_id",
        F.array_join(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * F.lit(67108864.0))
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("embedding"),
        "label",
    )


@register(
    "split_avro_datum",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def split_avro_datum_q(spark, sf_dir):
    """SplitAvro (§2.5 [2.7.2-surface]): multi-record containers explode
    into one VALID single-datum Avro file each (same writer schema), the
    per-datum FlowFile fan-out — then every little container decodes
    standalone and the union must equal the source rows
    (sources/avro_codec.split_avro_column)."""
    from apache_nifi_spark.sources import read_binary_files, write_records
    from apache_nifi_spark.sources.avro_codec import (
        decode_container,
        split_avro_column,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = io.scratch("anspark_splitavro_")
    write_records(o, out, "avro")
    containers = read_binary_files(spark, out, glob="*.avro").select("content")
    split = split_avro_column(containers)

    def decode_each(blob):
        _, rs = decode_container(blob)
        assert len(rs) == 1  # datum split contract
        return rs

    return io.flat_map(
        split, ["datum_container"], decode_each,
        "o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )


@register(
    "convert_record_orc",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def convert_record_orc_q(spark, sf_dir):
    """ConvertRecord parquet→ORC→records (§2.2): the ORC record
    reader/writer pairing on Spark's native columnar ORC path —
    round-trip must be value-exact under the source schema."""
    from apache_nifi_spark.sources import convert_record

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = io.scratch("anspark_convert_orc_")
    return convert_record(spark, sup, "orc", out)


@register(
    "avro_schema_evolution_read",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey AS DOUBLE) AS o_custkey,
           o_totalprice AS total,
           'unknown' AS region
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def avro_schema_evolution_q(spark, sf_dir):
    """Avro SCHEMA RESOLUTION (§2.2 record readers — the Avro spec's
    reader-vs-writer rules, the evolution contract NiFi's Avro readers
    honor): containers written under schema v1 read under a v2 reader
    that (a) matches a renamed field through ``aliases``
    (total ← o_totalprice), (b) promotes long → double (o_custkey),
    (c) fills a reader-only field from its default (region), and
    (d) skips a writer-only field (o_orderstatus).  Spark writes the v1
    containers; decode fans out per file via binaryFile + io.flat_map
    (sources/avro_codec.decode_container_resolved)."""
    from apache_nifi_spark.sources import read_binary_files, write_records
    from apache_nifi_spark.sources.avro_codec import decode_container_resolved

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = io.scratch("anspark_avroevo_")
    write_records(o, out, "avro")
    reader_schema = {
        "type": "record",
        "name": "orders_v2",
        "fields": [
            {"name": "o_orderkey", "type": ["null", "long"], "default": None},
            {"name": "o_custkey", "type": ["null", "double"], "default": None},
            {"name": "total", "aliases": ["o_totalprice"],
             "type": ["null", "double"], "default": None},
            {"name": "region", "type": "string", "default": "unknown"},
        ],
    }
    containers = read_binary_files(spark, out, glob="*.avro").select("content")

    return io.flat_map(
        containers,
        ["content"],
        lambda blob: decode_container_resolved(blob, reader_schema),
        "o_orderkey bigint, o_custkey double, total double, region string",
    )


def _avro_metadata_oracle() -> str:
    """Expected metadata computed from the SAME canonical-form +
    fingerprint code the operator uses (absolute correctness of the
    fingerprint is pinned separately by the spec's published '"int"'
    vector in tests/test_avro.py)."""
    from pyspark.sql import types as T

    from apache_nifi_spark.sources.avro_codec import (
        canonical_form,
        rabin_fingerprint,
        spark_to_avro_schema,
    )

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    fp = rabin_fingerprint(canonical_form(spark_to_avro_schema(schema)).encode())
    return f"""
    SELECT 'topLevelRecord' AS schema_name,
           '{fp:016x}' AS schema_fingerprint,
           'deflate' AS codec,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 0) AS n_records
    """


@register("extract_avro_metadata_info", oracle=_avro_metadata_oracle())
def extract_avro_metadata_q(spark, sf_dir):
    """ExtractAvroMetadata (§2.4 [2.7.2-surface]): schema fullname, the
    spec's CRC-64-AVRO fingerprint over the Parsing Canonical Form, the
    codec, and the datum count read from block headers alone (no datum
    decode) — sources/avro_codec.extract_avro_metadata; the fingerprint
    implementation is pinned to the spec's published '"int"' vector.
    Spark writes the container under the engine's Avro schema, since its
    default schema orders unions ``["long", "null"]`` and so fingerprints
    differently."""
    import json

    from apache_nifi_spark.sources import read_binary_files, write_records
    from apache_nifi_spark.sources.avro_codec import (
        extract_avro_metadata,
        spark_to_avro_schema,
    )

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_orderstatus")
        .coalesce(1)
    )
    out = io.scratch("anspark_avrometa_")
    write_records(
        o, out, "avro", options={"avroSchema": json.dumps(spark_to_avro_schema(o.schema))}
    )
    containers = read_binary_files(spark, out, glob="*.avro").select("content")
    return extract_avro_metadata(containers)


@register(
    "convert_avro_to_json",
    oracle="""
    SELECT o_orderkey,
           '{"o_orderkey":' || CAST(o_orderkey AS VARCHAR)
           || ',"o_orderpriority":"' || o_orderpriority || '"}' AS json
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def convert_avro_to_json_q(spark, sf_dir):
    """ConvertAvroToJSON (§2.4 [2.7.2-surface]): container decode
    (Spark's Avro reader via sources/formats.read_records) straight into
    JSON text per datum — the processor's FlowFile content transform —
    via to_json over the decoded record struct."""
    from apache_nifi_spark.sources import read_records, write_records

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    out = io.scratch("anspark_avrojson_")
    write_records(o, out, "avro")
    back = read_records(spark, out, "avro")
    return back.select(
        "o_orderkey",
        F.to_json(F.struct("o_orderkey", "o_orderpriority")).alias("json"),
    )


@register(
    "count_text_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, replace(text, 'e ', 'e' || chr(10)) AS body FROM documents
    )
    SELECT doc_id,
           CAST(1 + length(body) - length(replace(body, chr(10), '')) AS INT)
             AS line_count,
           CAST(length(list_filter(regexp_split_to_array(body, '\\s+'),
                                   x -> x != '')) AS INT) AS word_count,
           CAST(length(body) AS INT) AS char_count,
           CAST(length(list_filter(string_split(body, chr(10)),
                                   x -> trim(x) != '')) AS INT)
             AS nonempty_line_count
    FROM t
    """,
)
def count_text_q(spark, sf_dir):
    """CountText (§2.4 [2.7.2-surface]): line/word/character counts per
    FlowFile (newlines injected deterministically so the line counter
    has lines to count) — pure column expressions, the processor's four
    standard counters."""
    d = _t(spark, sf_dir, "documents")
    body = F.replace(F.col("text"), F.lit("e "), F.concat(F.lit("e"), F.lit("\n")))
    lines = F.split(body, "\n", -1)
    words = F.filter(F.split(body, r"\s+", -1), lambda t: t != "")
    return d.select(
        "doc_id",
        F.size(lines).cast("int").alias("line_count"),
        F.size(words).cast("int").alias("word_count"),
        F.length(body).cast("int").alias("char_count"),
        F.size(F.filter(lines, lambda x: F.trim(x) != "")).cast("int")
        .alias("nonempty_line_count"),
    )


@register(
    "update_counter_totals",
    oracle="""
    SELECT event_type AS counter,
           CAST(COUNT(*) AS BIGINT) AS increments,
           CAST(SUM(CAST(CASE WHEN value > 100 THEN 2 ELSE 1 END
                         AS BIGINT)) AS BIGINT) AS counter_value
    FROM events GROUP BY event_type
    """,
)
def update_counter_q(spark, sf_dir):
    """UpdateCounter (§2.4 [2.7.2-surface]): named counters incremented
    per FlowFile with an EL-derived delta — as a grouped aggregate
    (NiFi's counters ARE a distributed sum; here the delta expression is
    value-dependent exactly like a '${...:gt(100):ifElse(2,1)}' Delta
    property)."""
    ev = _t(spark, sf_dir, "events")
    delta = F.when(F.col("value") > 100, F.lit(2)).otherwise(F.lit(1)).cast("bigint")
    return ev.groupBy(F.col("event_type").alias("counter")).agg(
        F.count(F.lit(1)).alias("increments"),
        F.sum(delta).alias("counter_value"),
    )


@register(
    "fork_record_extract",
    oracle="""
    SELECT p_partkey, p_retailprice,
           CAST(unnest(range(len(parts))) AS INT) AS pos,
           unnest(parts) AS word
    FROM (SELECT p_partkey, p_retailprice,
                 string_split(p_name, ' ') AS parts
          FROM part)
    """,
)
def fork_record_q(spark, sf_dir):
    """ForkRecord (§2.5 [2.7.2-surface], extract mode): each element of
    a record's array forks to a child record that KEEPS the parent
    fields (vs SplitRecord, which drops them) plus its element index —
    posexplode with the parent projection."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_retailprice",
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    )


@register(
    "convert_record_xml",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def convert_record_xml_q(spark, sf_dir):
    """ConvertRecord parquet→XML→records: the XMLReader /
    XMLRecordSetWriter pairing (§2.2) on Spark's XML file format through
    sources/formats.  Round-trip must be value-exact through element
    escaping and typed re-parse under the source schema."""
    from apache_nifi_spark.sources import convert_record

    sup = _t(spark, sf_dir, "supplier")
    out = io.scratch("anspark_convert_xml_")
    return convert_record(spark, sup, "xml", out)


@register(
    "source_binary_file",
    # The correctness gate always runs at sf0.01 (BASELINE.md §B), and the
    # oracle dialect has no sf_dir parameter, so the blob glob is pinned to
    # that fixture dir; DuckDB's read_blob supplies the same
    # (file_name, size, content bytes) triple the binaryFile source emits.
    oracle="""
    SELECT parse_filename(filename) AS file_name,
           size AS length,
           CAST(octet_length(content) AS INT) AS content_bytes
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    ORDER BY file_name
    """,
)
def source_binary_file_q(spark, sf_dir):
    """GetFile over opaque payloads (§2.1): binaryFile source on the
    fixture directory — one FlowFile-shaped row per file with content
    bytes + metadata, no content parsing."""
    from apache_nifi_spark.sources import read_binary_files

    files = read_binary_files(spark, sf_dir, glob="*.parquet")
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "length",
        F.length("content").alias("content_bytes"),
    ).orderBy("file_name")


@register(
    "put_file_partitioned",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def put_file_partitioned_q(spark, sf_dir):
    """PartitionRecord + PutFile (§2.2/§2.5): write orders partitioned by
    status (one directory per key), then aggregate per partition on
    read-back — the scan prunes to partition directories."""
    from apache_nifi_spark.sources import read_records, write_records

    orders = _t(spark, sf_dir, "orders")
    out = io.scratch("anspark_putfile_")
    write_records(orders.repartition("o_orderstatus"), out, "parquet", partition_by=["o_orderstatus"])
    back = read_records(spark, out, "parquet")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice", "total_price"),
    )


# =====================================================================
# Coverage widening: MergeContent bins, JSON props, Jolt reshape, grok,
# UpdateAttribute rules, prioritizers, ControlRate, window frames,
# multi-attribute EL, distinct union  (§2.3–§2.9)
# =====================================================================

@register(
    "merge_content_bins",
    oracle="""
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS merged,
           COUNT(*) AS record_count
    FROM orders GROUP BY o_custkey
    """,
)
def merge_content_bins_q(spark, sf_dir):
    """MergeContent/MergeRecord (§2.5): bin orders by the correlation
    attribute (custkey); the bin payload is serialized sorted (registry
    determinism rule for collect_list)."""
    from apache_nifi_spark.operators import merge_record

    orders = _t(spark, sf_dir, "orders")
    bins = merge_record(orders, "o_custkey", F.col("o_orderkey"))
    return bins.select(
        "o_custkey",
        F.concat_ws(",", F.transform(F.sort_array("records"), lambda r: r.cast("string"))).alias(
            "merged"
        ),
        "record_count",
    )


@register(
    "flatten_event_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def flatten_event_props_q(spark, sf_dir):
    """EvaluateJsonPath/FlattenJson (§2.4): pull a key out of the JSON
    props payload into a typed column, then aggregate on it."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_events"), _dsum("value", "total_value"))
    )


@register(
    "jolt_shift_restructure",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(
             "order" := struct_pack(id := o_orderkey, status := o_orderstatus),
             meta := struct_pack(priority := o_orderpriority))) AS doc
    FROM orders
    """,
)
def jolt_shift_q(spark, sf_dir):
    """JoltTransformJSON shift spec (§2.4): restructure flat records into
    a nested document — select of named structs, serialized compact."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.struct(
                    F.col("o_orderkey").alias("id"), F.col("o_orderstatus").alias("status")
                ).alias("order"),
                F.struct(F.col("o_orderpriority").alias("priority")).alias("meta"),
            )
        ).alias("doc"),
    )


@register(
    "jolt_chain_columnar",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(
             "order" := struct_pack(key := o_orderkey, state := o_orderstatus,
                                    source := 'import'),
             who := struct_pack(name := c_name),
             tag := 1)) AS doc
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 21 = 0
    """,
)
def jolt_chain_columnar_q(spark, sf_dir):
    """JoltTransformJSON operations chain (§2.4, real NiFi spec shape):
    shift (incl. a multi-output leaf) → default (never overwrites) →
    remove, compiled COLUMNAR (functions/jolt.jolt_columnar: one
    try_parse_json → per-leaf variant-gets → nested struct → to_json,
    map-only).  The interpreter-tier differential lives in
    tests/test_jolt.py."""
    from apache_nifi_spark.functions.jolt import jolt_transform_json

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 21 == 0)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # customer scales with SF: no broadcast hint, AQE decides
    joined = o.join(c, o.o_custkey == c.c_custkey)
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.struct(F.col("c_name").alias("name")).alias("cust"),
        )
    )
    built = joined.select("o_orderkey", doc.alias("content"))
    ops = [
        {"operation": "shift", "spec": {
            "id": "order.key",
            "status": ["order.state", "audit.state"],
            "cust": {"name": "who.name"},
        }},
        {"operation": "default", "spec": {"order": {"source": "import"}, "tag": 1}},
        {"operation": "remove", "spec": {"audit": ""}},
    ]
    return jolt_transform_json(built, ops, "content").select(
        "o_orderkey", F.col("content").alias("doc")
    )


@register(
    "jolt_wildcard_shift",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(
             flat := struct_pack(eid := event_id, etype := event_type),
             key := event_id)) AS doc
    FROM events WHERE event_id % 27 = 0
    """,
)
def jolt_wildcard_q(spark, sf_dir):
    """JoltTransformJSON wildcard shift (§2.4): ``*`` key match with
    ``&`` back-reference plus a literal override (literal beats the
    wildcard, Jolt precedence) — the interpreter tier under
    io.with_columns (functions/jolt.jolt_reference), value-oracled."""
    from apache_nifi_spark.functions.jolt import jolt_transform_json

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 27 == 0)
    doc = F.to_json(
        F.struct(
            F.col("event_id").alias("eid"), F.col("event_type").alias("etype")
        )
    )
    built = ev.select("event_id", doc.alias("content"))
    ops = [
        {"operation": "shift", "spec": {"*": "flat.&", "eid": ["flat.eid", "key"]}}
    ]
    return jolt_transform_json(built, ops, "content").select(
        "event_id", F.col("content").alias("doc")
    )


@register(
    "extract_grok_log",
    oracle="""
    WITH lines AS (
      SELECT concat('evt=', event_type, ' user=', CAST(user_id AS VARCHAR),
                    ' id=', CAST(event_id AS VARCHAR)) AS line
      FROM events
    )
    SELECT regexp_extract(line, 'evt=(\\w+) user=(\\d+) id=(\\d+)', 1) AS evt,
           CAST(regexp_extract(line, 'evt=(\\w+) user=(\\d+) id=(\\d+)', 2) AS BIGINT) AS user_id,
           CAST(regexp_extract(line, 'evt=(\\w+) user=(\\d+) id=(\\d+)', 3) AS BIGINT) AS event_id
    FROM lines
    """,
)
def extract_grok_q(spark, sf_dir):
    """ExtractGrok (§2.4): structured fields out of log lines — the grok
    pattern compiled to a regex with capture groups, one regexp_extract
    per field (all JVM-side, codegen'd)."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("evt="), F.col("event_type"),
        F.lit(" user="), F.col("user_id").cast("string"),
        F.lit(" id="), F.col("event_id").cast("string"),
    )
    pat = r"evt=(\w+) user=(\d+) id=(\d+)"
    lines = ev.select(line.alias("line"))
    return lines.select(
        F.regexp_extract("line", pat, 1).alias("evt"),
        F.regexp_extract("line", pat, 2).cast("long").alias("user_id"),
        F.regexp_extract("line", pat, 3).cast("long").alias("event_id"),
    )


@register(
    "update_attribute_rules",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'platinum'
                WHEN o_totalprice >= 150000 THEN 'gold'
                WHEN o_totalprice >= 50000  THEN 'silver'
                ELSE 'bronze' END AS tier,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     AND o_orderstatus = 'O'
                THEN 'expedite' ELSE 'standard' END AS handling
    FROM orders
    """,
)
def update_attribute_rules_q(spark, sf_dir):
    """UpdateAttribute advanced mode (§2.4): the rule/condition engine as
    a when/otherwise chain — first matching rule wins, explicit default."""
    orders = _t(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") >= 300000, "platinum")
        .when(F.col("o_totalprice") >= 150000, "gold")
        .when(F.col("o_totalprice") >= 50000, "silver")
        .otherwise("bronze")
    )
    handling = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & (F.col("o_orderstatus") == "O"),
        "expedite",
    ).otherwise("standard")
    return orders.select("o_orderkey", tier.alias("tier"), handling.alias("handling"))


@register(
    "prioritizer_queue",
    oracle="""
    SELECT event_id, event_type, ts
    FROM events
    ORDER BY CASE event_type WHEN 'error' THEN 0 WHEN 'purchase' THEN 1 ELSE 2 END,
             ts, event_id
    LIMIT 200
    """,
)
def prioritizer_queue_q(spark, sf_dir):
    """Queue prioritizers (§2.8): PriorityAttributePrioritizer then
    OldestFlowFileFirst — total order with key tie-break, then the head of
    the queue (TakeOrderedAndProject, no full sort materialization)."""
    ev = _t(spark, sf_dir, "events")
    prio = (
        F.when(F.col("event_type") == "error", 0)
        .when(F.col("event_type") == "purchase", 1)
        .otherwise(2)
    )
    return (
        ev.orderBy(prio.asc(), F.col("ts").asc(), F.col("event_id").asc())
        .select("event_id", "event_type", "ts")
        .limit(200)
    )


@register(
    "control_rate_first3",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn <= 3
    """,
)
def control_rate_first3_q(spark, sf_dir):
    """ControlRate with a grouping attribute (§2.3): at most 3 records per
    user in arrival order."""
    from apache_nifi_spark.operators import control_rate_limit

    ev = _t(spark, sf_dir, "events")
    limited = control_rate_limit(
        ev, F.col("user_id"), F.struct(F.col("ts"), F.col("event_id")), 3
    )
    return limited.select("event_id", "user_id", "event_type")


@register(
    "ntile_customer_quartiles",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
    FROM customer
    """,
)
def ntile_quartiles_q(spark, sf_dir):
    """Ranking windows (§2.7): ntile quartiles over a total order."""
    from apache_nifi_spark.operators import rank_records

    cust = _t(spark, sf_dir, "customer")
    ranked = rank_records(
        cust, [], F.struct(F.col("c_acctbal"), F.col("c_custkey")), "ntile:4", "quartile"
    )
    return ranked.select("c_custkey", "quartile")


@register(
    "percent_rank_nth_supplier",
    oracle="""
    SELECT s_suppkey,
           percent_rank() OVER w AS pr,
           nth_value(s_name, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS second_supplier
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def percent_rank_nth_q(spark, sf_dir):
    """Analytic windows (§2.7): percent_rank + nth_value with an explicit
    whole-partition frame, per nation."""
    sup = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal"), F.col("s_suppkey"))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return sup.select(
        "s_suppkey",
        F.percent_rank().over(w).alias("pr"),
        F.nth_value("s_name", 2).over(wf).alias("second_supplier"),
    )


@register(
    "rolling_1h_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS cents_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_range_frame_q(spark, sf_dir):
    """AttributeRollingWindow time frame (§2.5/§2.7): per-user stats over
    the trailing hour — a RANGE frame on epoch seconds, the batch twin of
    the streaming sliding window."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        # NTZ → epoch seconds: via TIMESTAMP under the UTC session tz
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(cents).over(w).cast("long").alias("cents_last_hour"),
    )


@register(
    "el_any_all_attributes",
    oracle="""
    SELECT event_id,
           (event_type = 'error' OR CAST(user_id AS VARCHAR) LIKE '1%') AS any_flagged,
           (length(event_type) > 3 AND length(CAST(user_id AS VARCHAR)) > 0) AS all_nonempty
    FROM events
    """,
)
def el_any_all_attributes_q(spark, sf_dir):
    """EL multi-attribute functions (§2.9): anyMatchingAttribute /
    allAttributes over the FlowFile attributes map — exists/forall on a
    real MAP<STRING,STRING> column."""
    ev = _t(spark, sf_dir, "events")
    attrs = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    with_map = ev.select("event_id", attrs.alias("attributes"))
    any_flagged = F.exists(
        F.map_entries("attributes"),
        lambda e: ((e["key"] == "type") & (e["value"] == "error"))
        | ((e["key"] == "user") & e["value"].startswith("1")),
    )
    all_nonempty = F.forall(
        F.map_entries("attributes"),
        lambda e: F.when(e["key"] == "type", F.length(e["value"]) > 3).otherwise(
            F.length(e["value"]) > 0
        ),
    )
    return with_map.select(
        "event_id", any_flagged.alias("any_flagged"), all_nonempty.alias("all_nonempty")
    )


@register(
    "distinct_union_nationkeys",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    UNION
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def distinct_union_q(spark, sf_dir):
    """Distinct UNION (§2.8): funnel + dropDuplicates."""
    from apache_nifi_spark.operators import distinct_union

    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    return distinct_union(c, s)


# =====================================================================
# Provenance (§2.11): observe()-based lineage accounting over the
# flagship flow — one action, metrics ride the task results
# =====================================================================

@register(
    "provenance_flagship_trail",
    oracle="""
    WITH routed AS (
      SELECT l.* FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1998-01-01' AND l.l_shipdate < TIMESTAMP '2000-01-01'
    ), joined AS (
      SELECT n.n_name, o.o_orderdate FROM routed l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    )
    SELECT 0 AS hop, 'CREATE' AS stage, (SELECT COUNT(*) FROM lineitem) AS n_rows
    UNION ALL SELECT 1, 'ROUTE', (SELECT COUNT(*) FROM routed)
    UNION ALL SELECT 2, 'JOIN', (SELECT COUNT(*) FROM joined)
    UNION ALL SELECT 3, 'AGGREGATE',
      (SELECT COUNT(*) FROM (SELECT n_name, year(o_orderdate), month(o_orderdate)
                             FROM joined GROUP BY 1, 2, 3))
    """,
)
def provenance_trail_q(spark, sf_dir):
    """Provenance repository analog: the flagship flow instrumented with a
    per-hop observation (CREATE → ROUTE → JOIN → AGGREGATE); the returned
    lineage table is populated by ONE pipeline action — metrics ride the
    task results, no extra passes over the data."""
    from apache_nifi_spark.plans import ProvenanceTrail

    trail = ProvenanceTrail()
    li = trail.stage(_t(spark, sf_dir, "lineitem"), "CREATE")
    routed = trail.stage(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp_ntz"))
        ),
        "ROUTE",
    )
    joined = trail.stage(
        routed.join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey")),
        "JOIN",
    )
    agg = trail.stage(
        joined.groupBy(
            "n_name",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        ).agg(F.count(F.lit(1)).alias("n_items")),
        "AGGREGATE",
    )
    # The single action that populates every observation — a noop sink
    # keeps all rows on executors (observe() metrics ride task results,
    # so nothing need ever reach the driver, even at 100 TB).
    agg.write.mode("overwrite").format("noop").save()
    return trail.snapshot(spark)


@register(
    "stream_wait_notify_join",
    oracle="""
    SELECT w.event_id AS w_event_id, s.event_id AS s_event_id, w.user_id AS w_user_id
    FROM (SELECT * FROM events WHERE event_type = 'signup')  w
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') s
      ON w.user_id = s.user_id
     AND s.ts >= w.ts AND s.ts <= w.ts + INTERVAL 24 HOUR
    """,
)
def stream_wait_notify_q(spark, sf_dir):
    """Wait/Notify (§2.6): watermarked stream-stream join — signups wait
    for a purchase signal from the same user within 24h; join state
    evicts at the watermark (= signal expiration)."""
    from apache_nifi_spark.streaming import correlate_streams, run_to_memory, stream_events

    signups = stream_events(spark, sf_dir).filter(F.col("event_type") == "signup")
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = correlate_streams(signups, purchases, ["user_id"], "ts", within="24 hours")
    # INNER join: matches emit during data batches; the trailing no-data
    # micro-batch would only evict state (rows proven identical) — skip
    # its extra planning + 32 state-store commits (r17).
    return run_to_memory(
        joined.select("w_event_id", "s_event_id", "w_user_id"),
        output_mode="append",
        final_no_data_batch=False,
    )


@register(
    "stream_wait_notify_expiry",
    oracle="""
    WITH w AS (SELECT * FROM events WHERE event_type = 'signup'),
         s AS (SELECT * FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(ts) FROM w), (SELECT max(ts) FROM s))
                       - INTERVAL 1 HOUR AS cut),
    matched AS (
      SELECT w.event_id AS w_event_id, s.event_id AS s_event_id
      FROM w JOIN s ON w.user_id = s.user_id
        AND s.ts >= w.ts AND s.ts <= w.ts + INTERVAL 24 HOUR
    )
    SELECT w_event_id, s_event_id, 'released' AS relationship FROM matched
    UNION ALL
    SELECT w.event_id, NULL, 'expired'
    FROM w, wm
    WHERE w.event_id NOT IN (SELECT w_event_id FROM matched)
      AND w.ts + INTERVAL 24 HOUR < wm.cut
    """,
)
def stream_wait_notify_expiry_q(spark, sf_dir):
    """Wait/Notify WITH the expiration route (§2.6/§2.11): a LEFT OUTER
    watermarked stream-stream join — released rows emit on match,
    unmatched signups emit with null signal columns ('expired') once
    the watermark passes their 24h window.  The oracle applies Spark's
    exact finite-drain semantics: global watermark = min of the two
    streams' max event times − delay; windows still open at drain end
    are undecided and appear in neither relationship (verified
    row-exact: 1252 expired at sf0.01 under both engines)."""
    from apache_nifi_spark.streaming import (
        correlate_streams_with_expiry,
        run_to_memory,
        stream_events,
    )

    signups = stream_events(spark, sf_dir).filter(F.col("event_type") == "signup")
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    j = correlate_streams_with_expiry(
        signups, purchases, ["user_id"], "ts", within="24 hours", watermark="1 hour"
    )
    return run_to_memory(
        j.select("w_event_id", "s_event_id", "relationship"), output_mode="append"
    )


@register(
    "stream_multi_route",
    oracle="""
    SELECT route, COUNT(*) AS n FROM (
      SELECT CASE WHEN event_type = 'error' THEN 'errors'
                  WHEN event_type = 'purchase' AND value >= 50 THEN 'big_purchases'
                  ELSE 'unmatched' END AS route
      FROM events) GROUP BY route
    """,
)
def stream_multi_route_q(spark, sf_dir):
    """RouteOnAttribute in a stream (§2.3/§4.2): foreachBatch caches each
    micro-batch once and appends every route's rows to its own directory;
    read-back counts per route are the oracle check.  (Routes here are
    disjoint so 'all matching' equals 'first matching'.)"""
    from apache_nifi_spark.streaming import route_stream_to_files, stream_events

    base = io.scratch("anspark_routes_")
    sdf = stream_events(spark, sf_dir)
    route_stream_to_files(
        sdf,
        {
            "errors": F.col("event_type") == "error",
            "big_purchases": (F.col("event_type") == "purchase") & (F.col("value") >= 50),
        },
        base,
    )
    import os

    parts = []
    for route in ["errors", "big_purchases", "unmatched"]:
        path = os.path.join(base, route)
        if os.path.isdir(path):
            parts.append(
                spark.read.parquet(path).select(F.lit(route).alias("route"))
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


# =====================================================================
# UDF surface (§2.10): NiFi 2.x Python-processor analogs — the slow
# path, Arrow-batched, oracle-checked against SQL equivalents
# =====================================================================

@register(
    "scripted_transform_record",
    oracle="""
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
           upper(lang) AS lang_uc
    FROM documents
    """,
)
def scripted_transform_q(spark, sf_dir):
    """FlowFileTransform (§2.10): a pandas batch-in/batch-out transform —
    token count + case normalization done in pandas, oracle-checked
    against the SQL formulation.  (Fixture text is single-space
    separated, so count = spaces + 1 on both sides.)"""
    import pandas as pd

    from apache_nifi_spark.operators import flowfile_transform

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def transform(batch: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "n_tokens": batch["text"].str.count(" ").astype("int64") + 1,
                "lang_uc": batch["lang"].str.upper(),
            }
        )

    return flowfile_transform(
        docs, transform, "doc_id BIGINT, n_tokens BIGINT, lang_uc STRING"
    )


@register(
    "scripted_aggregate_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def scripted_aggregate_q(spark, sf_dir):
    """Scripted aggregation / UDAF (§2.10): applyInPandas grouped map —
    per-language corpus stats reduced in pandas (exact int sums, one
    double division — the registry determinism rule)."""
    import pandas as pd

    from apache_nifi_spark.operators import scripted_aggregate

    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")

    def agg(group: pd.DataFrame) -> pd.DataFrame:
        total = int(group["n_chars"].sum())
        n = len(group)
        return pd.DataFrame(
            {
                "lang": [group["lang"].iloc[0]],
                "n_docs": [n],
                "total_chars": [total],
                "avg_chars": [total / n],
            }
        )

    return scripted_aggregate(
        docs, ["lang"], agg, "lang STRING, n_docs BIGINT, total_chars BIGINT, avg_chars DOUBLE"
    )


@register(
    "execute_stream_command_tr",
    oracle="SELECT doc_id, upper(lang) AS stdout FROM documents",
)
def execute_stream_command_q(spark, sf_dir):
    """ExecuteStreamCommand (§2.10): rows piped through an external
    executable (`tr a-z A-Z`), one process per Arrow batch."""
    from apache_nifi_spark.operators import execute_stream_command

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = execute_stream_command(docs, "lang", ["tr", "a-z", "A-Z"])
    return out.select("doc_id", "stdout")


# =====================================================================
# Skew handling (§4.2): salting — deterministic results, redistributed
# physical plan; oracles are the plain join/agg
# =====================================================================

@register(
    "skew_salted_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_salted_join_q(spark, sf_dir):
    """Conditionally salted equi-join (§4.2): a key-histogram probe
    decides whether to spread the fact side over salt sub-keys; the
    TPC-H orderkey distribution is even (≤7 items/order, so the hottest
    key's share of rows is far below the 4/shuffle-parallelism hot-share
    threshold at every SF), so this falls through to the plain join and
    AQE's runtime skew split stays the backstop — identical results
    either way, no 8× dim replication on healthy data."""
    from apache_nifi_spark.operators import salted_join_auto

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    dim = o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = salted_join_auto(li, dim, ["l_orderkey"], salt=8, sample_fraction=0.01)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_quantity", "total_qty"),
    )


@register(
    "skew_salted_aggregate",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY event_type
    """,
)
def skew_salted_aggregate_q(spark, sf_dir):
    """Two-phase salted aggregation (§4.2): 5 hot group keys spread over
    16 salt buckets before the final reduce — same result as the plain
    GROUP BY."""
    from apache_nifi_spark.operators import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": (F.lit(1), "count"),
            "cents": (cents, "sum"),
            "max_user": (F.col("user_id"), "max"),
        },
        salt=16,
    )
    return out.select("event_type", F.col("n").cast("long"), F.col("cents").cast("long"), "max_user")


# =====================================================================
# Coverage round 3 (§2.1–§2.9): nested UpdateRecord, rename/remove,
# URL/radix EL, RecordPath array functions, deterministic uuid5,
# hash-Bernoulli sampling, FlowFile expiration, positional zip join,
# theta join, GenerateFlowFile, SplitText fragments, EvaluateXPath,
# ScanContent semi-join, ModifyBytes, bucketed co-located join,
# first/last ignore-nulls windows, extended date math
# =====================================================================

@register(
    "transform_update_nested",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(status := o_orderstatus,
                               priority := o_orderpriority,
                               big := o_totalprice > 100000)) AS doc
    FROM orders
    """,
)
def transform_update_nested_q(spark, sf_dir):
    """UpdateRecord on a nested RecordPath (§2.4): build a record struct,
    then set a new nested field with ``withField`` — one projection."""
    from apache_nifi_spark.operators import update_record

    o = _t(spark, sf_dir, "orders")
    rec = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("rec"),
        "o_totalprice",
    )
    updated = update_record(
        rec, {"rec": F.col("rec").withField("big", F.col("o_totalprice") > 100000)}
    )
    return updated.select("o_orderkey", F.to_json("rec").alias("doc"))


@register(
    "transform_rename_remove",
    oracle="""
    SELECT c_custkey, c_name AS customer_name, c_acctbal AS balance
    FROM customer
    """,
)
def transform_rename_remove_q(spark, sf_dir):
    """RenameRecordField + RemoveRecordField (§2.4)."""
    from apache_nifi_spark.operators import remove_fields, rename_fields

    c = _t(spark, sf_dir, "customer")
    renamed = rename_fields(c, {"c_name": "customer_name", "c_acctbal": "balance"})
    keep = {"c_custkey", "customer_name", "balance"}
    return remove_fields(renamed, [col for col in renamed.columns if col not in keep])


@register(
    "el_url_radix_funcs",
    oracle="""
    SELECT c_custkey,
           replace(c_name, '#', '%23')          AS name_url,
           c_name                               AS name_roundtrip,
           to_base(c_custkey, 16)               AS key_hex,
           CAST(c_custkey AS BIGINT)            AS key_radix_rt,
           repeat('*', CAST(c_nationkey % 5 AS INT)) AS stars,
           translate(c_name, '0#', 'O-')        AS name_translated
    FROM customer
    """,
)
def el_url_radix_q(spark, sf_dir):
    """EL urlEncode/urlDecode + toRadix/fromRadix + repeat + translate
    (§2.9) — all JVM built-ins; radix round-trips through base 16."""
    from apache_nifi_spark.functions import el

    c = _t(spark, sf_dir, "customer")
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        el.url_encode(name).alias("name_url"),
        el.url_decode(el.url_encode(name)).alias("name_roundtrip"),
        el.to_radix(F.col("c_custkey"), 16).alias("key_hex"),
        el.from_radix(el.to_radix(F.col("c_custkey"), 16), 16)
        .cast("long")
        .alias("key_radix_rt"),
        el.repeat(F.lit("*"), (F.col("c_nationkey") % 5).cast("int")).alias("stars"),
        F.translate(name, "0#", "O-").alias("name_translated"),
    )


@register(
    "el_recordpath_arrays",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT)                             AS n_toks,
           array_to_string(toks[1:3], ' ')                    AS first3,
           CAST(len(list_distinct(toks)) AS INT)              AS n_uniq,
           array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 5), ',') AS top5_sorted,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_len,
           list_contains(toks, 'data')                        AS has_data
    FROM t
    """,
)
def el_recordpath_arrays_q(spark, sf_dir):
    """RecordPath array surface (§2.9): filter/transform/aggregate/slice/
    distinct/sort/contains over a tokenized column — codegen'd lambdas."""
    from apache_nifi_spark.functions import recordpath as rp

    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(rp.slice_array(toks, 1, 3), " ").alias("first3"),
        F.size(rp.distinct_array(toks)).alias("n_uniq"),
        F.array_join(
            rp.slice_array(rp.sort_array_asc(rp.distinct_array(toks)), 1, 5), ","
        ).alias("top5_sorted"),
        rp.aggregate_array(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_len"),
        rp.array_contains_value(toks, "data").alias("has_data"),
    )


@register(
    "el_uuid5_deterministic",
    oracle="""
    WITH h AS (SELECT o_orderkey, md5('order:' || CAST(o_orderkey AS VARCHAR)) AS x
               FROM orders)
    SELECT o_orderkey,
           concat(substr(x,1,8),'-',substr(x,9,4),'-',substr(x,13,4),'-',
                  substr(x,17,4),'-',substr(x,21,12)) AS det_uuid
    FROM h
    """,
)
def el_uuid5_q(spark, sf_dir):
    """EL uuid3/uuid5-style deterministic ids (§2.9): an md5-derived
    name-based UUID — stable across engines and runs (never uuid())."""
    o = _t(spark, sf_dir, "orders")
    x = F.md5(F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")))
    det = F.concat_ws(
        "-",
        F.substring(x, 1, 8),
        F.substring(x, 9, 4),
        F.substring(x, 13, 4),
        F.substring(x, 17, 4),
        F.substring(x, 21, 12),
    )
    return o.select("o_orderkey", det.alias("det_uuid"))


@register(
    "sample_hash_bernoulli",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def sample_hash_bernoulli_q(spark, sf_dir):
    """SampleRecord probabilistic strategy (§2.3), made deterministic: a
    content-hash Bernoulli sample (~2/16) — the reproducible variant of
    rand()-sampling, identical on any partitioning/engine."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    return ev.filter(bucket.isin("0", "1")).select("event_id", "user_id", "event_type")


@register(
    "sample_reservoir_k",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    ORDER BY md5(CAST(event_id AS VARCHAR))
    LIMIT 100
    """,
)
def sample_reservoir_q(spark, sf_dir):
    """SampleRecord reservoir strategy (§2.3): uniform K-without-replacement
    via md5-hex hash scoring (portable: DuckDB orders the same lowercase
    hex identically) — TakeOrderedAndProject, no global sort."""
    from apache_nifi_spark.operators import sample_reservoir

    ev = _t(spark, sf_dir, "events")
    return sample_reservoir(ev, 100, order_key=F.col("event_id")).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "flowfile_expiration_ttl",
    oracle="""
    SELECT event_id, user_id, ts
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    """,
)
def flowfile_expiration_q(spark, sf_dir):
    """Connection FlowFile-expiration (§2.8): drop rows older than a TTL
    relative to the newest event — the 1-row max rides a broadcast, the
    fact side never shuffles."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    return (
        ev.join(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("__mx") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "user_id", "ts")
    )


@register(
    "join_zip_positional",
    oracle="""
    WITH l AS (
      SELECT user_id, event_id AS p_event,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, event_id AS v_event,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events WHERE event_type = 'view'
    )
    SELECT l.user_id, l.p_event, r.v_event
    FROM l JOIN r ON l.user_id = r.user_id AND l.pos = r.pos
    """,
)
def join_zip_q(spark, sf_dir):
    """JoinEnrichment Insert/Wrapper (§2.6): positional zip per key — the
    i-th purchase aligned with the i-th view of the same user."""
    from apache_nifi_spark.operators import join_zip

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event"), "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v_event"), "ts"
    )
    zipped = join_zip(
        purchases,
        views,
        group=["user_id"],
        order=F.struct(F.col("ts"), F.col("p_event")),
        enrich_order=F.struct(F.col("ts"), F.col("v_event")),
        enrich_cols=["v_event"],
    )
    return zipped.select("user_id", "p_event", "v_event")


@register(
    "theta_join_richer_customers",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_richer
    FROM supplier s
    JOIN customer c ON c.c_nationkey = s.s_nationkey AND c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey
    """,
)
def theta_join_q(spark, sf_dir):
    """Theta join (§2.6): equi component (nation) + inequality residual —
    Catalyst joins on the equi key and filters the residual, so this stays
    a hash/sort-merge join, not a cross product."""
    from apache_nifi_spark.operators import join_enrichment

    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    joined = join_enrichment(
        s,
        c,
        on=(F.col("c_nationkey") == F.col("s_nationkey"))
        & (F.col("c_acctbal") > F.col("s_acctbal")),
        how="inner",
    )
    return joined.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n_richer"))


@register(
    "generate_flowfile_synthetic",
    oracle="""
    SELECT i AS id,
           CAST(i % 10 AS BIGINT) AS batch_id,
           repeat('x', 8) AS payload,
           TIMESTAMP '2024-01-01' + i * INTERVAL 1 SECOND AS synth_ts
    FROM range(1000) t(i)
    """,
)
def generate_flowfile_q(spark, sf_dir):
    """GenerateFlowFile (§2.1): distributed synthetic data — spark.range
    partitions across executors; no driver-side row construction."""
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("batch_id"),
        F.lit("x" * 8).alias("payload"),
        F.expr(
            "timestamp_ntz'2024-01-01' + make_interval(0,0,0,0,0,0,id)"
        ).alias("synth_ts"),
    )


@register(
    "split_text_fragments",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr
               FROM documents WHERE doc_id < 20)
    SELECT doc_id,
           CAST(len(arr) AS INT) AS fragment_count,
           CAST(unnest(generate_series(0, len(arr) - 1)) AS INT) AS fragment_index,
           unnest(arr) AS token
    FROM t
    """,
)
def split_text_fragments_q(spark, sf_dir):
    """SplitText/SplitRecord with NiFi's fragment attributes (§2.5):
    posexplode emits fragment.index; fragment.count rides alongside."""
    from apache_nifi_spark.operators import split_record

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    arr = d.select(
        "doc_id",
        F.split("text", " ", -1).alias("toks"),
    ).withColumn("fragment_count", F.size("toks"))
    return split_record(arr, "toks", out_col="token", with_index=True)


@register(
    "evaluate_xpath_xml",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS BIGINT) AS id_back,
           o_orderstatus AS status_back
    FROM orders
    WHERE o_orderkey % 8 = 0
    """,
)
def evaluate_xpath_q(spark, sf_dir):
    """EvaluateXPath (§2.4): XML content → fields via Spark's built-in
    xpath_string (JVM javax.xml; no Python).  The XML is constructed from
    the fixture so the oracle is the identity projection."""
    from apache_nifi_spark.operators import evaluate_xpath

    o = io.widen_if_narrow(
        _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 8 == 0)
    )
    xml = F.concat(
        F.lit("<order><id>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</id><status>"),
        F.col("o_orderstatus"),
        F.lit("</status></order>"),
    )
    doc = o.select("o_orderkey", xml.alias("xml"))
    out = evaluate_xpath(
        doc, "xml", {"id_str": "/order/id/text()", "status_back": "/order/status/text()"}
    )
    return out.select(
        "o_orderkey",
        F.col("id_str").cast("long").alias("id_back"),
        "status_back",
    )


@register(
    "evaluate_xquery_xml",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS id_back,
           CAST(2 AS BIGINT) AS n_lines,
           CAST(o_orderkey % 7 + o_orderkey % 11 AS DOUBLE) AS total,
           CAST(o_orderkey > 1000 AS INT) AS is_big
    FROM orders
    WHERE o_orderkey % 9 = 0
    """,
)
def evaluate_xquery_q(spark, sf_dir):
    """EvaluateXQuery (§2.4): the FLWOR-less XQuery core — data()
    atomization, count()/sum() aggregation over repeated elements, and a
    path comparison — compiled onto Spark's xpath_* family
    (functions/xquery; JVM javax.xml, no Python).  XML constructed from
    the fixture so the oracle recreates each value directly."""
    from apache_nifi_spark.functions.xquery import evaluate_xquery

    o = io.widen_if_narrow(
        _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 0)
    )
    xml = F.concat(
        F.lit("<order><id>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</id><lines><l>"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("</l><l>"),
        (F.col("o_orderkey") % 11).cast("string"),
        F.lit("</l></lines></order>"),
    )
    doc = o.select("o_orderkey", xml.alias("xml"))
    out = evaluate_xquery(
        doc,
        "xml",
        {
            "id_back": "data(/order/id)",
            "n_lines": "count(/order/lines/l)",
            "total": "sum(/order/lines/l)",
            "is_big": "/order/id > 1000",
        },
    )
    return out.select(
        "o_orderkey", "id_back", "n_lines", "total",
        F.col("is_big").cast("int").alias("is_big"),
    )


@register(
    "scan_content_semi",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events e
    WHERE EXISTS (SELECT 1 FROM events x
                  WHERE x.user_id = e.user_id AND x.event_type = 'error')
    """,
)
def scan_content_semi_q(spark, sf_dir):
    """ScanContent/DetectDuplicate routing idiom (§2.3/§2.8): membership
    against a derived dictionary → left-semi join.  The dictionary is
    user-grain (corpus-cardinality — error users grow with the user
    base), so no broadcast hint: AQE broadcasts when the survivor set
    is measured small and shuffles otherwise."""
    ev = _t(spark, sf_dir, "events")
    err_users = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return ev.join(err_users, on="user_id", how="left_semi").select(
        "event_id", "user_id", "event_type"
    )


@register(
    "modify_bytes_trim",
    oracle="""
    SELECT doc_id,
           substr(text, 11, greatest(length(text) - 20, 0)) AS trimmed,
           CAST(greatest(length(text) - 20, 0) AS INT) AS trimmed_len
    FROM documents
    """,
)
def modify_bytes_q(spark, sf_dir):
    """ModifyBytes (§2.4): drop 10 leading + 10 trailing bytes of the
    content blob.  Operates on BinaryType; fixture text is ASCII so the
    string oracle sees identical bytes."""
    d = _t(spark, sf_dir, "documents")
    content = F.col("text").cast("binary")
    keep = F.greatest(F.length(content) - 20, F.lit(0))
    trimmed = F.expr("substring(cast(text as binary), 11, greatest(octet_length(cast(text as binary)) - 20, 0))")
    return d.select(
        "doc_id",
        trimmed.cast("string").alias("trimmed"),
        keep.cast("int").alias("trimmed_len"),
    )


@register(
    "window_first_last_ignorenulls",
    oracle="""
    SELECT event_id, user_id,
           first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER w AS first_purchase,
           last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
             OVER w AS last_error
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_q(spark, sf_dir):
    """Analytic first/last with ignore-nulls (§2.7): each user's first
    purchase value and last error value attached to every row."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    first_p = F.first(
        F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
    ).over(w)
    last_e = F.last(
        F.when(F.col("event_type") == "error", F.col("value")), ignorenulls=True
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        first_p.alias("first_purchase"),
        last_e.alias("last_error"),
    )


@register(
    "el_date_advanced",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 2 MONTH AS plus2m,
           CAST(date_diff('month', DATE '1995-01-01',
                          CAST(date_trunc('month', o_orderdate) AS DATE)) AS INT) AS months_since_95,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS TIMESTAMP) AS month_first,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(o_orderdate AS DATE) + INTERVAL 90 DAY) AS INT) AS delta90
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def el_date_advanced_q(spark, sf_dir):
    """EL date family round 2 (§2.9): add_months, month arithmetic,
    last_day, epoch seconds, make_date, datediff."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate")
    dd = d.cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 2).cast("timestamp_ntz").alias("plus2m"),
        F.months_between(F.date_trunc("month", d), F.lit("1995-01-01").cast("timestamp_ntz"))
        .cast("int")
        .alias("months_since_95"),
        F.last_day(dd).cast("timestamp_ntz").alias("month_end"),
        F.unix_timestamp(d.cast("timestamp")).alias("epoch_s"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).cast("timestamp_ntz").alias("month_first"),
        F.datediff(F.date_add(dd, 90), dd).alias("delta90"),
    )


def _bucketed_names(sf_dir: str) -> tuple[str, str]:
    """Per-sf_dir catalog table names: two sf_dirs in one process must not
    collide on a global name, and the suffix makes the pair self-describing."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"reg_li_bucketed_{tag}", f"reg_o_bucketed_{tag}"


def _staged_bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    """One-time bucketed-layout build for ``bucketed_colocated_join``
    (fixture/index prep, not part of the measured join — the amortization
    the operator's whole point rests on).

    Staleness is decided by the CATALOG (``tableExists``), not a module
    flag: a fresh SparkSession in the same process gets its own build,
    and a second sf_dir gets its own table names."""
    li_name, o_name = _bucketed_names(sf_dir)
    if spark.catalog.tableExists(li_name) and spark.catalog.tableExists(o_name):
        return li_name, o_name

    from apache_nifi_spark.sources import write_bucketed

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    base = io.scratch("anspark_bucketed_")
    write_bucketed(li, li_name, ["l_orderkey"], 8, path=f"{base}/li")
    write_bucketed(o, o_name, ["l_orderkey"], 8, path=f"{base}/o")
    return li_name, o_name


@register(
    "bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_colocated_join_q(spark, sf_dir):
    """Bucketed co-located join (§2.11 load-balanced-connection analog,
    §4 scale rules): both sides written with bucketBy(8, orderkey) +
    sortBy, then joined — the sort-merge join compiles with ZERO Exchange
    (verified in tests/test_sources.py).  At 100 TB this turns every
    recurring fact-fact join on the same key into a local merge instead of
    a full network shuffle; the one-time bucketed write amortizes across
    all downstream joins.

    The bucketed write is staged once per (process, sf_dir) — it is the
    amortized index build, not part of the measured join (mirrors
    ``_staged_rolling_dir``)."""
    from apache_nifi_spark.sources import bucketed_table

    li_name, o_name = _staged_bucketed_tables(spark, sf_dir)
    joined = bucketed_table(spark, li_name).join(
        bucketed_table(spark, o_name), "l_orderkey"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_extendedprice", "total_price"),
    )


# =====================================================================
# Expression Language string compiler (§2.9 front end) — round-4 ADVICE #2:
# the predicates/projections below are given as the EL *strings* a NiFi
# user writes, compiled by functions/el_parser.compile_el at plan time.
# =====================================================================

@register(
    "el_parsed_expression_route",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_type = 'click' OR value > 90
    """,
)
def el_parsed_route_q(spark, sf_dir):
    """RouteOnAttribute with the property value as EL source text —
    ``${event_type:equals('click'):or(${value:gt(90)})}`` — compiled to a
    boolean Column (whole-stage codegen; the parse runs once on the
    driver).  [2.7.2-surface; SURVEY.md §2.3 + §2.9]"""
    from apache_nifi_spark.functions.el_parser import el_predicate

    ev = _t(spark, sf_dir, "events")
    pred = el_predicate("${event_type:equals('click'):or(${value:gt(90)})}")
    return ev.filter(pred).select("event_id", "event_type", "value")


@register(
    "el_parsed_projection",
    oracle="""
    SELECT c_custkey,
           substr(upper(c_name), 1, 8)                          AS name_prefix,
           concat(lower(c_mktsegment), '-seg')                  AS seg_tag,
           concat('cust-', c_custkey, '-', lower(c_mktsegment)) AS ident,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0')            AS key_padded,
           TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) + 7   AS num_plus7,
           CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END    AS bal_sign
    FROM customer
    """,
)
def el_parsed_projection_q(spark, sf_dir):
    """UpdateAttribute rules as EL strings: every derived column below is
    compiled from the exact text a NiFi property would hold, including an
    embedded-expression template (``cust-${...}-${...}``)."""
    from apache_nifi_spark.functions.el_parser import el_select

    c = _t(spark, sf_dir, "customer")
    return el_select(
        c,
        {
            "name_prefix": "${c_name:toUpper():substring(0, 8)}",
            "seg_tag": "${c_mktsegment:toLower():append('-seg')}",
            "ident": "cust-${c_custkey}-${c_mktsegment:toLower()}",
            "key_padded": "${c_custkey:toString():padLeft(10, '0')}",
            "num_plus7": "${c_name:substringAfter('#'):toNumber():plus(7)}",
            "bal_sign": "${c_acctbal:gt(0):ifElse('pos', 'neg')}",
        },
        keep=["c_custkey"],
    )


@register(
    "el_parsed_multiattr_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) * 3 AS k_tripled,
           CASE WHEN json_extract_string(props, '$.source') IS NULL
                THEN 'none' ELSE json_extract_string(props, '$.source')
           END AS source_or_none
    FROM events
    WHERE contains(event_type, 'ick') OR contains(props, 'ick')
    """,
)
def el_parsed_multiattr_q(spark, sf_dir):
    """anyAttribute multi-attribute predicate + jsonPath chains, all from
    EL source text (NiFi EL guide's multi-attribute family)."""
    from apache_nifi_spark.functions.el_parser import compile_el, el_predicate

    ev = _t(spark, sf_dir, "events")
    pred = el_predicate("${anyAttribute('event_type', 'props'):contains('ick')}")
    return ev.filter(pred).select(
        "event_id",
        compile_el("${props:jsonPath('$.k'):toNumber():multiply(3)}").alias(
            "k_tripled"
        ),
        compile_el("${props:jsonPath('$.source'):replaceNull('none')}").alias(
            "source_or_none"
        ),
    )


@register(
    "el_parameter_context_route",
    oracle="""
    SELECT event_id, event_type, value,
           'ev-' || upper(event_type) AS tag
    FROM events
    WHERE value > 75.5 AND event_type = 'purchase' AND event_id >= 1000
    """,
)
def el_parameter_context_q(spark, sf_dir):
    """NiFi 2.x parameter contexts + processor state scope (§2.9):
    the routing predicate and tag template below are the literal
    property text a flow would hold — ``#{param}`` references resolve
    from the parameter context BEFORE EL parsing (so a parameter can
    contribute an EL fragment), and ``getStateValue`` reads the
    processor-local state map.  Both are driver-side scalars, resolved
    at compile time — zero per-row cost."""
    from apache_nifi_spark.functions.el_parser import compile_el

    params = {"min_value": "75.5", "target_type": "purchase", "tag_prefix": "ev-"}
    state = {"min_id": 1000}
    ev = _t(spark, sf_dir, "events")
    pred = compile_el(
        "${value:gt(#{min_value})"
        ":and(${event_type:equals('#{target_type}')})"
        ":and(${event_id:ge(${getStateValue('min_id')})})}",
        parameters=params,
        state=state,
    ).cast("boolean")
    tag = compile_el(
        "#{tag_prefix}${event_type:toUpper()}", parameters=params
    )
    return ev.filter(pred).select(
        "event_id", "event_type", "value", tag.alias("tag")
    )


@register(
    "el_matching_attr_delimited",
    oracle="""
    SELECT doc_id,
           lang || ',' || source        AS combined_field,
           CAST(doc_id AS VARCHAR)      AS id_field,
           CAST(n_chars AS VARCHAR)     AS chars_field
    FROM documents
    WHERE lang = 'en' OR source = 'en'
    """,
)
def el_matching_attr_delimited_q(spark, sf_dir):
    """Round-4 verdict item #5: ``anyMatchingAttribute(regex)`` resolved
    against the schema via ``compile_el_for``, plus the quote-aware
    ``getDelimitedField`` family (full 2.7.2 signature).  The CSV line is
    built with a COMMA INSIDE the quoted field, so the oracle equality
    proves quote-awareness — a naive split would return a half field."""
    from apache_nifi_spark.functions.el_parser import compile_el, compile_el_for

    d = _t(spark, sf_dir, "documents")
    line = F.concat(
        F.lit('"'), F.col("lang"), F.lit(","), F.col("source"), F.lit('",'),
        F.col("doc_id").cast("string"), F.lit(","),
        F.col("n_chars").cast("string"),
    )
    csvd = d.withColumn("line", line)
    pred = compile_el_for(
        csvd, "${anyMatchingAttribute('lang|source'):equals('en')}"
    ).cast("boolean")
    return csvd.filter(pred).select(
        "doc_id",
        compile_el(
            "${line:getDelimitedField(1, ',', '\"', '~', true)}"
        ).alias("combined_field"),
        compile_el("${line:getDelimitedField(2)}").alias("id_field"),
        compile_el("${line:getDelimitedField(3)}").alias("chars_field"),
    )


# =====================================================================
# RecordPath string parser (§2.4/§2.9 front end) — round-4 ADVICE #4:
# nested navigation / update / remove driven by RecordPath *text*.
# =====================================================================

def _events_rec(spark, sf_dir):
    """Nested-record shape for RecordPath queries: the flat events fixture
    re-nested into struct/array fields (the record-aware processor view)."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id")
    return ev.select(
        "event_id",
        F.struct(
            F.struct(
                uid.alias("id"), F.col("event_type").alias("etype")
            ).alias("user"),
            F.array(uid, uid * 2, uid * 3).alias("vals"),
        ).alias("rec"),
        "value",
    )


@register(
    "recordpath_navigate_nested",
    oracle="""
    SELECT event_id,
           user_id                                  AS uid,
           event_type                               AS etype,
           user_id * 2                              AS v2,
           user_id * 3                              AS v_last,
           concat(user_id, ',', user_id * 2)        AS first2,
           CAST(len(list_filter([user_id, user_id * 2, user_id * 3],
                                x -> x > 100)) AS INT) AS n_big
    FROM events
    """,
)
def recordpath_navigate_q(spark, sf_dir):
    """RecordPath navigation from path strings: child steps, 0-based and
    negative indices, inclusive ranges, element predicates — all compiled
    to getField/get/element_at/slice/filter (JVM lambdas, no Python)."""
    from apache_nifi_spark.functions.recordpath_parser import compile_record_path as rp

    df = _events_rec(spark, sf_dir)
    first2 = rp("/rec/vals[0..1]")
    return df.select(
        "event_id",
        rp("/rec/user/id").alias("uid"),
        rp("/rec/user/etype").alias("etype"),
        rp("/rec/vals[1]").alias("v2"),
        rp("/rec/vals[-1]").alias("v_last"),
        F.array_join(F.transform(first2, lambda x: x.cast("string")), ",").alias(
            "first2"
        ),
        F.size(rp("/rec/vals[. > 100]")).alias("n_big"),
    )


@register(
    "recordpath_descendant_axes",
    oracle="""
    SELECT event_id,
           array_to_string([user_id, user_id % 100, event_id * 7], ',')
             AS all_ids,
           event_type || '-z'                      AS zone,
           event_type                              AS etype_via_parent,
           array_to_string(
             list_transform([value * 2, value * 3],
                            x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)),
             ',') AS scores
    FROM events
    """,
)
def recordpath_descendant_q(spark, sf_dir):
    """Round-4 verdict item #6: descendant (``//name``) and parent
    (``..``) axes resolved by StructType reflection
    (``compile_record_path_for``).  ``//id`` matches at three depths
    (depth-first order → array), ``//zone``/``//score`` descend through
    a nested struct and an array<struct>, and ``..`` pops from geo back
    to user.  All resolution is driver-side; the emitted plan is plain
    getField/array expressions."""
    from apache_nifi_spark.functions.recordpath_parser import (
        compile_record_path_for as rpf,
    )

    ev = _t(spark, sf_dir, "events")
    uid, et, val = F.col("user_id"), F.col("event_type"), F.col("value")
    df = ev.select(
        "event_id",
        F.struct(
            F.struct(
                uid.alias("id"),
                et.alias("etype"),
                F.struct(
                    (uid % 100).alias("id"), F.concat(et, F.lit("-z")).alias("zone")
                ).alias("geo"),
            ).alias("user"),
            F.struct((F.col("event_id") * 7).alias("id")).alias("meta"),
            F.array(
                F.struct((val * 2).alias("score")),
                F.struct((val * 3).alias("score")),
            ).alias("items"),
        ).alias("rec"),
    )
    # arrays string-join at the output boundary (driver canonicalizer
    # can't hash list cells — tests/test_plans.py gate); doubles render
    # through decimal(18,6), the repo's engine-identical formatting
    return df.select(
        "event_id",
        F.array_join(
            F.transform(rpf(df, "//id"), lambda x: x.cast("string")), ","
        ).alias("all_ids"),
        rpf(df, "//zone").alias("zone"),
        rpf(df, "/rec/user/geo/../etype").alias("etype_via_parent"),
        F.array_join(
            F.transform(
                rpf(df, "//score"),
                lambda x: x.cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("scores"),
    )


@register(
    "recordpath_update_remove",
    oracle="""
    SELECT event_id,
           upper(event_type)                                       AS etype_upper,
           concat(user_id * 10, ',', user_id * 20, ',', user_id * 30) AS vals10,
           concat('{"etype":"', upper(event_type), '"}')           AS user_json
    FROM events
    """,
)
def recordpath_update_remove_q(spark, sf_dir):
    """UpdateRecord/RemoveRecordField from RecordPath strings: nested
    withField update, [*] per-element transform, nested dropFields —
    then serialized back out (record writer view)."""
    from apache_nifi_spark.functions.recordpath_parser import (
        record_path_remove,
        record_path_update,
    )

    df = _events_rec(spark, sf_dir)
    df = record_path_update(df, "/rec/user/etype", F.upper)
    df = record_path_update(df, "/rec/vals[*]", lambda c: c * 10)
    df = record_path_remove(df, "/rec/user/id")
    vals = F.col("rec.vals")
    return df.select(
        "event_id",
        F.col("rec.user.etype").alias("etype_upper"),
        F.array_join(F.transform(vals, lambda x: x.cast("string")), ",").alias(
            "vals10"
        ),
        F.to_json(F.col("rec.user")).alias("user_json"),
    )


@register(
    "recordpath_filter_items",
    oracle="""
    SELECT event_id,
           coalesce(array_to_string(
             list_transform(
               list_filter([{'tag': 'small', 'v': value},
                            {'tag': 'med',   'v': value * 2},
                            {'tag': 'big',   'v': value * 4}],
                           x -> x.v > 150),
               x -> x.tag), ','), '')               AS big_tags
    FROM events
    """,
)
def recordpath_filter_items_q(spark, sf_dir):
    """Predicate paths over array-of-struct (``/items[./v > 150]/tag``) —
    the RecordPath filter family on record collections."""
    from apache_nifi_spark.functions.recordpath_parser import compile_record_path as rp

    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    items = F.array(
        F.struct(F.lit("small").alias("tag"), v.alias("v")),
        F.struct(F.lit("med").alias("tag"), (v * 2).alias("v")),
        F.struct(F.lit("big").alias("tag"), (v * 4).alias("v")),
    )
    df = ev.select("event_id", items.alias("items"))
    return df.select(
        "event_id",
        F.array_join(rp("/items[./v > 150]/tag"), ",").alias("big_tags"),
    )


# =====================================================================
# flow.json import (§1/§2 composition) — round-4 ADVICE #5: a versioned
# NiFi flow snapshot ingested onto the engine's own operators.
# Reference anchor: nifi-registry/deployement.yaml:14-16 (flow
# persistence is the reference deployment's core workflow).
# =====================================================================

_GOLDEN_FLOW_PATH = __file__.rsplit("/", 2)[0] + "/tests/fixtures/golden_flow.json"


def _run_golden_flow(spark, sf_dir):
    """Publish the golden flow.json through FlowRegistry (immutable
    versioned snapshot), resolve the pinned version back out, and compile
    it onto DataFrame operators — the reference's registry→deploy cycle."""
    from apache_nifi_spark.plans.flow_import import run_flow_json
    from apache_nifi_spark.plans.flow_registry import FlowRegistry

    with open(_GOLDEN_FLOW_PATH) as f:
        text = f.read()
    reg = FlowRegistry()
    v = reg.publish("pipelines", "click-revenue", text, comment="golden import")
    pinned = reg.get("pipelines", "click-revenue", v)
    return run_flow_json(spark, sf_dir, pinned)


@register(
    "flow_import_roundtrip",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_clicks,
           CAST(SUM(CAST(value * 2 AS DECIMAL(18,6))) AS DOUBLE) AS sum_value2
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1
    """,
)
def flow_import_roundtrip_q(spark, sf_dir):
    """GetFile → RouteOnAttribute(EL strings) → UpdateAttribute(EL
    strings) → QueryRecord(SQL) — imported from flow.json text, versioned
    through FlowRegistry, executed as ONE Catalyst plan (routes push down
    into the scan; no per-processor materialization)."""
    outs = _run_golden_flow(spark, sf_dir)
    return outs["DailyAgg.daily"]


@register(
    "flow_import_lookup_branch",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.value > 300 AND NOT e.event_type = 'click'
    """,
)
def flow_import_lookup_q(spark, sf_dir):
    """The same imported flow's LookupRecord side branch: the 'big' route
    (first-matching semantics exclude clicks) broadcast-enriched against
    the customer fixture."""
    outs = _run_golden_flow(spark, sf_dir)
    return outs["EnrichBig.matched"].select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )




# ---------------------------------------------------------------------
# Satellite query tiers (round-12 verdict item 8: registry.py had grown
# past 14k lines).  Imported at the END of this module so they can pull
# `register`/`QUERIES`/helpers from the (by now fully defined) registry
# namespace; every query they add keeps resolving through
# apache_nifi_spark.registry.QUERIES exactly as before the split.
# ---------------------------------------------------------------------
from apache_nifi_spark import registry_coverage  # noqa: E402,F401
from apache_nifi_spark.registry_coverage import (  # noqa: E402,F401
    _staged_delta,
    _staged_iceberg,
)
from apache_nifi_spark import registry_connectors  # noqa: E402,F401
from apache_nifi_spark import registry_flows  # noqa: E402,F401
from apache_nifi_spark import registry_llm  # noqa: E402,F401
from apache_nifi_spark import registry_stats  # noqa: E402,F401
from apache_nifi_spark import registry_analytics  # noqa: E402,F401


@functools.cache
def _staged_iceberg_posdel(spark, sf_dir):
    """Iceberg v2 table with POSITION DELETES: documents [0,400) in two
    position-sorted data files, one data commit, then TWO delete
    commits marking every ``doc_id % 7 == 3`` ordinal (split by parity
    so the reader proves multi-delete-file union) — data parquet never
    rewritten."""
    from apache_nifi_spark.sources import write_single_part
    from apache_nifi_spark.sources.iceberg import iceberg_commit

    root = io.scratch("anspark_iceposdel_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    added, paths = [], {}
    for k in range(2):
        p = write_single_part(
            docs.filter(
                (F.col("doc_id") >= k * 200) & (F.col("doc_id") < k * 200 + 200)
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id"),  # ordinal = doc_id - k*200
            f"{root}/f{k}",
        )
        paths[k] = p
        added.append({"file_path": p, "partition": f"p{k}",
                      "record_count": 200,
                      "file_size_in_bytes": os.path.getsize(p)})
    iceberg_commit(root, 601, added=added)
    iceberg_commit(root, 602, added=[], position_deletes={
        paths[0]: [d for d in range(3, 200, 7) if d % 2 == 1],
        paths[1]: [d - 200 for d in range(206, 400, 7)],
    })
    iceberg_commit(root, 603, added=[], position_deletes={
        paths[0]: [d for d in range(3, 200, 7) if d % 2 == 0],
    })
    return root


@register(
    "iceberg_position_delete_read",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE doc_id < 400 AND doc_id % 7 <> 3
    GROUP BY lang
    """,
)
def iceberg_position_delete_q(spark, sf_dir):
    """Snapshot read through SPEC-V2 POSITION DELETES (Iceberg's
    merge-on-read row-level DML — the lakehouse twin of
    ``delta_deletion_vector_read``): the staged table's two delete
    commits wrote sorted (file_path, pos) parquet delete files behind
    content=1 DELETE manifests, and the reader drops exactly those
    ordinals per data file (pyarrow file_path-pushdown inside each
    file's task) without rewriting any data parquet.  Equality with the
    arithmetic complement proves commit → manifest → delete-file →
    positional-drop is lossless across multiple delete files.
    sources/iceberg.py ``iceberg_commit(position_deletes=…)`` /
    ``read_iceberg_snapshot``."""
    from apache_nifi_spark.sources.iceberg import read_iceberg_snapshot

    root = _staged_iceberg_posdel(spark, sf_dir)
    snap = read_iceberg_snapshot(spark, root)
    return snap.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )
