"""``io.flat_map``: the engine's one Arrow row seam."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from apache_nifi_spark.io import flat_map

BIG = 2**60


def test_bigint_above_2_53_next_to_null_is_exact(spark):
    df = spark.range(0, 6, 1, 1)

    def row(i):
        yield i, (BIG + i if i % 2 else None)

    got = flat_map(df, ["id"], row, "id bigint, v bigint").orderBy("id").collect()
    assert [r.v for r in got] == [None, BIG + 1, None, BIG + 3, None, BIG + 5]


def test_nested_binary_time_and_bool_columns_round_trip(spark):
    ts = dt.datetime(2024, 2, 29, 23, 59, 58, 123456)
    src = spark.createDataFrame(
        [(1, b"\x00\xffab", [1.5, -2.25], {"k": "v"}, ts, True),
         (2, None, [], {}, None, False)],
        "id int, b binary, a array<float>, m map<string,string>, t timestamp_ntz, f boolean",
    )

    def row(i, b, a, m, t, f):
        assert b is None or isinstance(b, bytes)
        yield i, b, a, dict(m), t, f

    schema = src.schema
    got = flat_map(src, src.columns, row, schema).orderBy("id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in src.orderBy("id").collect()]
    assert got[0].b == b"\x00\xffab" and got[0].t == ts and got[1].b is None


def test_zero_one_and_many_rows_per_input_row(spark):
    df = spark.range(0, 5, 1, 2)

    def row(i):
        for k in range(i % 3):
            yield i, k, f"{i}.{k}"

    got = flat_map(df, ["id"], row, "id bigint, k int, s string")
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 0, "1.0"),
        (2, 0, "2.0"),
        (2, 1, "2.1"),
        (4, 0, "4.0"),
    ]


def test_empty_partition_and_empty_input(spark):
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("x", T.StringType())])
    two = spark.range(0, 2, 1, 1).repartition(4, "id")
    got = flat_map(two, ["id"], lambda i: [(i, str(i))], schema).collect()
    assert sorted(tuple(r) for r in got) == [(0, "0"), (1, "1")]
    none = spark.range(0, 0, 1, 2)
    assert flat_map(none, ["id"], lambda i: [(i, "x")], schema).collect() == []


def test_ddl_string_and_struct_type_schemas_agree(spark):
    df = spark.range(0, 3, 1, 1)
    ddl = "id bigint, half double, tag string"
    st = T.StructType.fromDDL(ddl)

    def row(i):
        yield i, i / 2, None if i == 1 else chr(97 + i)

    a = flat_map(df, ["id"], row, ddl)
    b = flat_map(df, ["id"], row, st)
    assert a.schema == b.schema == st
    assert sorted(a.collect()) == sorted(b.collect())
    assert sorted(tuple(r) for r in a.collect()) == [(0, 0.0, "a"), (1, 0.5, None), (2, 1.0, "c")]


#: ``mapInPandas`` callbacks that may still build their output frame by
#: hand: each opens a connection (or a file) once per partition and keeps
#: it across the partition's rows, which a per-row ``flat_map`` cannot.
#: Keyed by (module, the public function that owns the callback).
PER_PARTITION_CALLBACKS = {
    ("sources/dns_wire.py", "dns_lookup"),
    ("sources/snmp.py", "snmp_get"),
    ("sources/imap.py", "consume_imap"),  # IMAP FETCH
    ("sources/imap.py", "consume_pop3"),  # POP3 RETR
    ("streaming/kafka_wire.py", "consume_kafka_wire"),  # Kafka Fetch
    ("streaming/s2s_wire.py", "s2s_send"),  # one S2S transaction
    ("sources/cbor_codec.py", "write_cbor"),  # one output file
}


def test_no_hand_built_row_frames_in_library_source():
    """Static audit: a ``mapInPandas`` callback that assembles a
    ``pd.DataFrame`` row by row is a row map, and row maps go through
    ``io.flat_map`` (AST walk: the callback is the named def the call
    passes, resolved in the calling function first)."""
    import ast
    import pathlib

    from apache_nifi_spark import io

    def calls(node, scopes):
        """(mapInPandas call, enclosing scopes innermost last) pairs."""
        if isinstance(node, ast.FunctionDef):
            scopes = [*scopes, node]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInPandas"
            and node.args
            and isinstance(node.args[0], ast.Name)
        ):
            yield node, scopes
        for child in ast.iter_child_nodes(node):
            yield from calls(child, scopes)

    def callback(scopes, name):
        for scope in reversed(scopes):
            for node in ast.walk(scope):
                if isinstance(node, ast.FunctionDef) and node.name == name and node is not scope:
                    return node
        return None

    root = pathlib.Path(io.__file__).parent
    offenders, exempt_seen = [], set()
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        tree = ast.parse(path.read_text())
        for node, scopes in calls(tree, [tree]):
            cb = callback(scopes, node.args[0].id)
            if cb is None or not any(
                isinstance(c, ast.Call) and ast.unparse(c.func) == "pd.DataFrame"
                for c in ast.walk(cb)
            ):
                continue
            key = (rel, scopes[1].name if len(scopes) > 1 else "<module>")
            if key in PER_PARTITION_CALLBACKS:
                exempt_seen.add(key)
            else:
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"hand-built mapInPandas row frames (use io.flat_map): {offenders}"
    assert exempt_seen == PER_PARTITION_CALLBACKS, (
        f"stale exemptions: {sorted(PER_PARTITION_CALLBACKS - exempt_seen)}"
    )
