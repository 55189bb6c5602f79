"""Lakehouse metadata resolves on the driver: the Delta log replay
(JSON commits, classic and v2 checkpoints), the Iceberg manifest decode
and the Hudi timeline replay run zero Spark jobs, and corrupt metadata
raises instead of resolving to an older snapshot. The public
``*_active_files`` Spark frames carry exactly the driver replay's rows.
"""

from __future__ import annotations

import contextlib
import glob
import os

import pytest


def _stage(spark, root, name, lo, n=10):
    """Write ids [lo, lo + n) as one parquet file under ``root/name``;
    returns its path."""
    spark.range(lo, lo + n).coalesce(1).write.parquet(f"{root}/{name}")
    return glob.glob(f"{root}/{name}/part-*.parquet")[0]


def _rowset(rows, keys):
    return sorted(tuple(r[k] for k in keys) for r in rows)


@contextlib.contextmanager
def _no_spark_jobs(spark, group):
    """Run the block under job group ``group`` and assert it started no
    Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_metadata_resolution_runs_no_spark_jobs(spark, tmp_path):
    from apache_nifi_spark.sources import deltalog as dl
    from apache_nifi_spark.sources import hudi as hu
    from apache_nifi_spark.sources import iceberg as ice

    # Delta, classic checkpoint at v1, one tail add, then a remove of a
    classic = str(tmp_path / "delta_classic")
    rel = {}
    for v, (name, lo) in enumerate((("a", 0), ("b", 100), ("c", 200))):
        rel[name] = os.path.relpath(_stage(spark, classic, name, lo), classic)
        dl.write_commit(
            classic, v,
            [{"add": {"path": rel[name], "size": 1, "dataChange": True}}],
        )
    dl.write_checkpoint(spark, classic, 1)
    dl.write_commit(classic, 3, [{"remove": {"path": rel["a"]}}])

    # Delta, v2 checkpoint at v1 over a deletion-vector add written with
    # scrambled key order and extra spec-legal keys; every JSON commit at
    # or below the checkpoint is deleted, so only the sidecars hold a, b
    v2 = str(tmp_path / "delta_v2")
    rel2 = {
        name: os.path.relpath(_stage(spark, v2, name, lo), v2)
        for name, lo in (("a", 0), ("b", 100), ("c", 200))
    }
    dv = {
        "cardinality": 3,
        "offset": 1,
        "pathOrInlineDv": "vBASE85DATA",
        "maxRowIndex": 9,
        "sizeInBytes": 40,
        "storageType": "i",
    }
    dv_json = (
        '{"storageType":"i","pathOrInlineDv":"vBASE85DATA",'
        '"sizeInBytes":40,"cardinality":3}'
    )
    dl.write_commit(v2, 0, [
        {"add": {"path": rel2[n], "size": 1, "dataChange": True}}
        for n in ("a", "b")
    ])
    dl.write_commit(v2, 1, [{"add": {
        "path": rel2["a"], "size": 1, "dataChange": True,
        "deletionVector": dv,
    }}])
    dl.write_checkpoint_v2(spark, v2, 1)
    for v in (0, 1):
        os.remove(os.path.join(v2, "_delta_log", f"{v:020d}.json"))
    dl.write_commit(
        v2, 2, [{"add": {"path": rel2["c"], "size": 1, "dataChange": True}}]
    )

    # Iceberg: a and b added, then a deleted
    ice_root = str(tmp_path / "ice")
    info = {}
    for name, lo in (("a", 0), ("b", 100)):
        p = _stage(spark, ice_root, name, lo)
        info[name] = {"file_path": p, "record_count": 10,
                      "file_size_in_bytes": os.path.getsize(p)}
    ice.iceberg_commit(ice_root, 101, added=[info["a"], info["b"]])
    ice.iceberg_commit(
        ice_root, 102, added=[], deleted=[info["a"]["file_path"]]
    )

    # Hudi: one file group rewritten by a second commit
    hudi_root = str(tmp_path / "hudi")
    hu.hudi_init(hudi_root, "t")
    for instant, n in (("20240101000000000", 10), ("20240102000000000", 20)):
        stat = hu.hudi_write_base_file(
            spark.range(0, n), hudi_root, "p0", "g0", instant, "id"
        )
        hu.hudi_commit(hudi_root, instant, {"p0": [stat]})

    with _no_spark_jobs(spark, "delta_classic_checkpoint"):
        rows = dl._delta_active_rows(classic)
        frame = dl.delta_active_files(spark, classic).collect()
    assert [tuple(r) for r in frame] == [tuple(r.values()) for r in rows]
    assert sorted((r["path"], r["added_version"]) for r in rows) == [
        (rel["b"], 1), (rel["c"], 2)
    ]  # a removed at v3; b keeps its add version through the checkpoint

    with _no_spark_jobs(spark, "delta_v2_checkpoint"):
        rows = dl._delta_active_rows(v2)
        frame = dl.delta_active_files(spark, v2).collect()
    assert [tuple(r) for r in frame] == [tuple(r.values()) for r in rows]
    assert sorted((r["path"], r["dv"], r["added_version"]) for r in rows) == [
        (rel2["a"], dv_json, 1), (rel2["b"], None, 0), (rel2["c"], None, 2)
    ]

    with _no_spark_jobs(spark, "iceberg"):
        rows = ice._active_file_rows(ice_root)
        frame = ice.iceberg_active_files(spark, ice_root).collect()
    assert [tuple(r) for r in frame] == [tuple(r.values()) for r in rows]
    assert [r["file_path"] for r in rows] == [info["b"]["file_path"]]

    with _no_spark_jobs(spark, "hudi"):
        rows = hu._hudi_active_rows(hudi_root)
        frame = hu.hudi_active_slices(spark, hudi_root).collect()
    assert [tuple(r) for r in frame] == [tuple(r.values()) for r in rows]
    assert len(rows) == 1  # one file group, latest slice wins
    assert rows[0]["instant"] == "20240102000000000"

    with _no_spark_jobs(spark, "delta_vacuum"):
        doomed = dl.delta_vacuum(spark, classic, 3)
    assert doomed == [rel["a"]]
    assert not os.path.exists(os.path.join(classic, rel["a"]))


def test_iceberg_local_manifest_rows_match_distributed(spark, tmp_path):
    from apache_nifi_spark.sources import iceberg as ice

    root = str(tmp_path / "tbl")
    info = {}
    for name, lo in (("a", 0), ("b", 100)):
        p = _stage(spark, root, name, lo)
        info[name] = {"file_path": p, "record_count": 10,
                      "file_size_in_bytes": os.path.getsize(p)}
    ice.iceberg_commit(root, 101, added=[info["a"], info["b"]])
    ice.iceberg_commit(root, 102, added=[], deleted=[info["a"]["file_path"]])

    keys = ("file_path", "partition", "record_count",
            "file_size_in_bytes", "sequence_number")
    local = ice._active_file_rows(root)
    dist = ice.iceberg_active_files(spark, root).collect()
    assert _rowset(local, keys) == _rowset(dist, keys)
    assert len(local) == 1  # file a deleted, b active
    assert local[0]["file_path"] == info["b"]["file_path"]
    assert local[0]["record_count"] == 10


def test_delta_local_log_replay_matches_distributed(spark, tmp_path):
    from apache_nifi_spark.sources import deltalog as dl

    root = str(tmp_path / "dtbl")
    rel = {}
    for v, (name, lo) in enumerate((("a", 0), ("b", 100), ("c", 200))):
        rel[name] = os.path.relpath(_stage(spark, root, name, lo), root)
        dl.write_commit(
            root, v,
            [{"add": {"path": rel[name], "size": 1, "dataChange": True}}],
        )
    # checkpoint at v1, one tail commit after, plus a remove
    dl.write_checkpoint(spark, root, 1)
    dl.write_commit(root, 3, [{"remove": {"path": rel["a"]}}])

    keys = ("path", "size", "dv", "added_version")
    local = dl._delta_active_rows(root)
    dist = dl.delta_active_files(spark, root).collect()
    assert _rowset(local, keys) == _rowset(dist, keys)
    assert len(local) == 2  # a removed at v3
    # replaying every JSON commit instead of the checkpoint agrees
    no_ckpt = dl._delta_active_rows(root, use_checkpoint=False)
    assert _rowset(no_ckpt, keys) == _rowset(local, keys)


def test_delta_local_dv_serialization_matches_distributed(spark, tmp_path):
    """A deletion-vector-bearing add serializes as compact JSON in
    schema field order with extra action keys dropped, whatever key
    order or extra fields the writer used, and the public frame carries
    that string unchanged."""
    from apache_nifi_spark.sources import deltalog as dl

    root = str(tmp_path / "dvtbl")
    rel = os.path.relpath(_stage(spark, root, "a", 0), root)
    # scrambled key order + extra spec-legal keys (offset, maxRowIndex)
    dv = {
        "cardinality": 3,
        "offset": 1,
        "pathOrInlineDv": "vBASE85DATA",
        "maxRowIndex": 9,
        "sizeInBytes": 40,
        "storageType": "i",
    }
    dl.write_commit(
        root, 0,
        [{"add": {"path": rel, "size": 1, "dataChange": True,
                  "deletionVector": dv}}],
    )
    keys = ("path", "size", "dv", "added_version")
    local = dl._delta_active_rows(root)
    dist = dl.delta_active_files(spark, root).collect()
    assert _rowset(local, keys) == _rowset(dist, keys)
    assert local[0]["dv"] == (
        '{"storageType":"i","pathOrInlineDv":"vBASE85DATA",'
        '"sizeInBytes":40,"cardinality":3}'
    )


def test_hudi_local_timeline_matches_distributed(spark, tmp_path):
    from apache_nifi_spark.sources import hudi as hu

    root = str(tmp_path / "htbl")
    hu.hudi_init(root, "t")
    for instant, n in (("20240101000000000", 10), ("20240102000000000", 20)):
        stat = hu.hudi_write_base_file(
            spark.range(0, n), root, "p0", "g0", instant, "id"
        )
        hu.hudi_commit(root, instant, {"p0": [stat]})

    keys = ("partition", "file_id", "path", "instant")
    local = hu._hudi_active_rows(root)
    dist = hu.hudi_active_slices(spark, root).collect()
    assert _rowset(local, keys) == _rowset(dist, keys)
    assert len(local) == 1  # one file group, latest slice wins
    assert local[0]["instant"] == "20240102000000000"
    assert hu.read_hudi_snapshot(spark, root).count() == 20


def test_delta_log_listing_ignores_non_commit_json(spark, tmp_path):
    """Real Delta writers leave non-commit JSON in _delta_log (log
    compaction *.compacted.json, CRC sidecars); the commit listing must
    skip them instead of crashing on int()."""
    from apache_nifi_spark.sources import deltalog as dl

    root = str(tmp_path / "straytbl")
    rel = os.path.relpath(_stage(spark, root, "a", 0), root)
    dl.write_commit(
        root, 0, [{"add": {"path": rel, "size": 1, "dataChange": True}}]
    )
    log_dir = os.path.join(root, "_delta_log")
    for stray in ("00000000000000000000.00000000000000000009.compacted.json",
                  "extra_metadata.json"):
        with open(os.path.join(log_dir, stray), "w") as f:
            f.write("{}\n")
    assert [r["path"] for r in dl._delta_active_rows(root)] == [rel]


def test_corrupt_metadata_raises(spark, tmp_path):
    """A truncated Hudi commit and a Delta add without a path raise;
    neither resolves to an older snapshot."""
    import json

    from apache_nifi_spark.sources import deltalog as dl
    from apache_nifi_spark.sources import hudi as hu

    root = str(tmp_path / "hudi")
    hu.hudi_init(root, "t")
    for instant, n in (("20240101000000000", 10), ("20240102000000000", 20)):
        stat = hu.hudi_write_base_file(
            spark.range(0, n), root, "p0", "g0", instant, "id"
        )
        latest = hu.hudi_commit(root, instant, {"p0": [stat]})
    assert hu.read_hudi_snapshot(spark, root).count() == 20
    with open(latest, "rb+") as f:
        f.truncate(len(f.read()) // 2)
    with pytest.raises(json.JSONDecodeError):
        hu.read_hudi_snapshot(spark, root)

    droot = str(tmp_path / "delta")
    dl.write_commit(droot, 0, [{"add": {"size": 1, "dataChange": True}}])
    with pytest.raises(KeyError, match="path"):
        dl.delta_active_files(spark, droot)
