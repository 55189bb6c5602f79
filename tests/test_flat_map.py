"""``io.flat_map``, the Arrow seam for Python code that makes new rows, and
the audits that keep engine code on the Arrow seams."""

from __future__ import annotations

import datetime as dt
import pathlib

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


def test_map_in_pandas_only_in_flowfile_transform():
    """Static audit: engine code reaches Python over Arrow (``io.flat_map``
    for new rows, ``io.with_columns`` for kept rows, or ``mapInArrow``);
    the one ``mapInPandas`` left is ``flowfile_transform``, whose public
    contract is a user-supplied pandas function (AST walk; keyed by
    module and the top-level function that makes the call)."""
    import ast

    from apache_nifi_spark import io

    root = pathlib.Path(io.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    owner = getattr(top, "name", "<module>")
                    sites.append((str(path.relative_to(root)), owner, node.lineno))
    assert [s[:2] for s in sites] == [("operators/scripted.py", "flowfile_transform")], sites


def test_registry_import_loads_neither_pandas_nor_pyarrow():
    """Building the query registry needs no Python data library: pandas
    and pyarrow load in the workers that run a seam, not in the driver's
    import."""
    import subprocess
    import sys

    code = (
        "import apache_nifi_spark.registry, sys; "
        "loaded = {'pandas', 'pyarrow'} & set(sys.modules); "
        "assert not loaded, loaded"
    )
    root = pathlib.Path(__file__).resolve().parent.parent
    subprocess.run([sys.executable, "-c", code], check=True, cwd=root)
