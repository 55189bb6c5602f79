"""Hudi table-protocol tests (sources/hudi.py): log-block framing,
timeline/ref semantics, COW slice resolution, clean reachability, and
the MOR instant-ordered merge — the invariants the oracled queries
build on, pinned at unit scale."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_nifi_spark.sources.hudi import (
    hudi_append_log_block,
    hudi_clean,
    hudi_commit,
    hudi_init,
    hudi_parse_log_blocks,
    hudi_timeline,
    hudi_write_base_file,
    read_hudi_mor_snapshot,
    read_hudi_snapshot,
)


def _mk_table(spark, tmp, rows, instant="20240101000000000"):
    hudi_init(tmp, "t")
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    st = hudi_write_base_file(df, tmp, "p", "g0", instant, "doc_id")
    hudi_commit(tmp, instant, {"p": [st]}, operation="insert")
    return instant


def test_log_block_roundtrip_and_truncation(tmp_path):
    root = str(tmp_path)
    st = hudi_append_log_block(
        root, "p", "g0", "c1", "dc1", 1,
        upserts=[{"doc_id": 1, "lang": "xx"}, {"doc_id": 2, "lang": "yy"}],
    )
    hudi_append_log_block(root, "p", "g0", "c1", "dc2", 1,
                          delete_keys=["2"])
    blob = open(os.path.join(root, st["path"]), "rb").read()
    blocks = hudi_parse_log_blocks(blob)
    assert [(b[0], b[1]) for b in blocks] == [("dc1", "data"),
                                             ("dc2", "delete")]
    assert blocks[0][3] == [(1, "xx"), (2, "yy")]
    assert blocks[1][3] == [("2",)]
    # a torn append must fail loudly, never read as an empty delta
    with pytest.raises(ValueError):
        hudi_parse_log_blocks(blob[:-3])
    with pytest.raises(ValueError):
        hudi_parse_log_blocks(b"#NOPE#" + blob[6:])


def test_cow_upsert_timetravel_and_clean(spark, tmp_path):
    tmp = str(tmp_path)
    c1 = _mk_table(
        spark, tmp, [(i, "en") for i in range(10)]
    )
    c2 = "20240102000000000"
    df2 = spark.createDataFrame(
        [(i, "en") for i in range(10) if i % 3 != 0],
        "doc_id long, lang string",
    )
    st2 = hudi_write_base_file(df2, tmp, "p", "g0", c2, "doc_id")
    hudi_commit(tmp, c2, {"p": [st2]})
    assert read_hudi_snapshot(spark, tmp).count() == 6
    assert read_hudi_snapshot(spark, tmp, as_of=c1).count() == 10
    doomed = hudi_clean(spark, tmp, retain_from=c2)
    assert doomed == [f"p/g0_0-1-0_{c1}.parquet"]
    # the clean appended a timeline record
    assert [a for _, a in hudi_timeline(tmp)].count("clean") == 1
    with pytest.raises(Exception):
        read_hudi_snapshot(spark, tmp, as_of=c1).count()


def test_clean_refuses_empty_retention(spark, tmp_path):
    tmp = str(tmp_path)
    _mk_table(spark, tmp, [(1, "en")])
    with pytest.raises(ValueError):
        hudi_clean(spark, tmp, retain_from="99999999999999999")


def test_mor_delete_then_upsert_resurrects(spark, tmp_path):
    tmp = str(tmp_path)
    c1 = _mk_table(spark, tmp, [(1, "en"), (2, "en"), (3, "en")])
    dc2, dc3 = "20240102000000000", "20240103000000000"
    hudi_commit(
        tmp, dc2,
        {"p": [hudi_append_log_block(
            tmp, "p", "g0", c1, dc2, 1, delete_keys=["2", "3"])]},
        action="deltacommit",
    )
    hudi_commit(
        tmp, dc3,
        {"p": [hudi_append_log_block(
            tmp, "p", "g0", c1, dc3, 2,
            upserts=[{"doc_id": 3, "lang": "zz"}])]},
        action="deltacommit",
    )
    full = {
        (int(r["doc_id"]), r["lang"])
        for r in read_hudi_mor_snapshot(spark, tmp).collect()
    }
    assert full == {(1, "en"), (3, "zz")}
    # interior instant: 3 still deleted, 2 gone
    mid = {
        int(r["doc_id"])
        for r in read_hudi_mor_snapshot(spark, tmp, as_of=dc2).collect()
    }
    assert mid == {1}
    # read-optimized view: base only, deltas invisible
    assert read_hudi_snapshot(spark, tmp).count() == 3


def test_mor_base_slices_ignore_log_stats(spark, tmp_path):
    """A deltacommit's write stats name LOG files; base-slice
    resolution must never pick one as a base file."""
    tmp = str(tmp_path)
    c1 = _mk_table(spark, tmp, [(1, "en")])
    hudi_commit(
        tmp, "20240105000000000",
        {"p": [hudi_append_log_block(
            tmp, "p", "g0", c1, "20240105000000000", 1,
            upserts=[{"doc_id": 9, "lang": "q"}])]},
        action="deltacommit",
    )
    base = read_hudi_snapshot(spark, tmp)
    assert base.count() == 1  # log row not in the base view
