"""MongoDB wire tier tests: BSON codec roundtrip across every supported
type, OP_MSG command semantics, landing contract, error paths."""

from __future__ import annotations

import datetime
import glob
import json
import pathlib

import pytest

from apache_nifi_spark.sources.mongo_wire import (
    MiniMongoServer,
    MongoWireClient,
    bson_decode,
    bson_encode,
)


def test_bson_roundtrip_all_types():
    doc = {
        "i32": 1,
        "i64": 2**40,
        "neg": -(2**35),
        "dbl": 1.5,
        "s": "héllo ☃",
        "t": True,
        "f": False,
        "nested": {"x": [1, "two", None, {"deep": 3}]},
        "nil": None,
        "oid": bytes(range(12)),
        "ts": datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc),
        "empty": {},
        "arr_empty": [],
    }
    assert bson_decode(bson_encode(doc)) == doc


def test_bson_rejects_unsupported():
    with pytest.raises(TypeError):
        bson_encode({"bad": object()})
    with pytest.raises(ValueError):
        bson_encode({"nul\x00key": 1})


def test_wire_insert_find_count_and_landing(tmp_path):
    landing = str(tmp_path)
    with MiniMongoServer(landing) as srv:
        client = MongoWireClient("127.0.0.1", srv.port)
        try:
            assert client.command({"ping": 1, "$db": "db"})["ok"] == 1.0
            docs = [{"k": i, "st": "F" if i % 2 else "O"} for i in range(10)]
            assert client.insert("orders", docs) == 10
            assert client.count("orders") == 10
            assert client.count("orders", {"st": "F"}) == 5
            rows = client.find("orders", {"st": "O"}, limit=3)
            assert len(rows) == 3 and all(r["st"] == "O" for r in rows)
            # unsupported command → standard error reply, connection survives
            bad = client.command({"drop": "orders", "$db": "db"})
            assert bad["ok"] == 0.0 and "unsupported" in bad["errmsg"]
            assert client.count("orders") == 10  # still alive
            landed = [json.loads(pathlib.Path(p).read_text()) for p in glob.glob(f"{landing}/*.json")]
            assert {d["k"] for d in landed} == set(range(10))
        finally:
            client.close()


def test_put_mongo_records_partition_batching(spark, tmp_path):
    landing = str(tmp_path)
    with MiniMongoServer(landing) as srv:
        from apache_nifi_spark.sources.mongo_wire import put_mongo_records

        df = spark.range(1200).selectExpr(
            "id", "concat('n', cast(id % 7 as string)) as name"
        ).repartition(4)
        out = put_mongo_records(df, "127.0.0.1", srv.port, "c")
        assert out.filter("inserted").count() == 1200
        probe = MongoWireClient("127.0.0.1", srv.port)
        try:
            assert probe.count("c") == 1200  # 4 connections, batches of 500
        finally:
            probe.close()
