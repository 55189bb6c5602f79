"""Apache Hudi copy-on-write table reads (the third OPEN lakehouse
table protocol beside Delta (sources/deltalog.py) and Iceberg
(sources/iceberg.py) — hudi.apache.org tech specs: an ordered TIMELINE
of instants under ``.hoodie/`` (``<instantTime>.<action>`` completed
files, with ``.requested``/``.inflight`` transition markers), data laid
out as FILE GROUPS (a ``fileId`` within a partition path) whose base
files are FILE SLICES named ``<fileId>_<writeToken>_<instantTime>
.parquet``; a COW upsert rewrites the whole group as a new slice).  No
Hudi jar ships in this environment, so the TIMELINE PROTOCOL is
implemented from the public spec; parquet reading stays Spark-native.

Scope: ``commit`` (insert/upsert — HoodieCommitMetadata JSON with
``partitionToWriteStats``), ``replacecommit`` (clustering — the
``partitionToReplaceFileIds`` REPLACE semantics, Hudi's OPTIMIZE
analog), and ``clean`` (retention-checked physical deletion of
superseded slices).  Snapshot at instant T = for each file group, the
latest completed slice ≤ T, minus groups replaced by a completed
replacecommit ≤ T.

Driver-side shape: the instant list is a control-plane directory
listing (O(instants)); commit METADATA parses on the driver — one JSON
document per completed instant — and latest-slice resolution keeps one
entry per file group (O(file groups), the table's manifest scale, not
its data scale; the reference engine's timeline server resolves file
slices on the driver too).  The resolved slice list
feeds a plain parquet scan, so pruning / pushdown work exactly as for
any parquet read.  Base files carry the spec's ``_hoodie_commit_time``
/ ``_hoodie_record_key`` meta columns; the reader strips them unless
asked.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_nifi_spark.io import flat_map, local_frame
from apache_nifi_spark.sources.formats import write_single_part

__all__ = [
    "hudi_init",
    "hudi_write_base_file",
    "hudi_commit",
    "hudi_timeline",
    "hudi_active_slices",
    "read_hudi_snapshot",
    "hudi_clean",
]

#: completed-instant actions the reader understands
_ACTIONS = ("commit", "replacecommit", "deltacommit", "clean")

def hudi_init(table_path: str, name: str) -> None:
    """Write ``.hoodie/hoodie.properties`` (spec: java-properties file
    carrying table name/type/version)."""
    meta = os.path.join(table_path, ".hoodie")
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, "hoodie.properties"), "w") as f:
        f.write(
            "hoodie.table.name=%s\n"
            "hoodie.table.type=COPY_ON_WRITE\n"
            "hoodie.table.version=6\n"
            "hoodie.timeline.layout.version=1\n" % name
        )


def hudi_write_base_file(
    df: DataFrame,
    table_path: str,
    partition: str,
    file_id: str,
    instant: str,
    key_col: str,
) -> dict:
    """Write one file slice ``<partition>/<fileId>_0-1-0_<instant>
    .parquet`` with the spec's meta columns and return its write-stat
    dict for :func:`hudi_commit`.  COW: the caller passes the FULL
    group content (survivors + updates), never a delta."""
    rel = f"{partition}/{file_id}_0-1-0_{instant}.parquet"
    out_dir = os.path.join(table_path, f"__stage_{file_id}_{instant}")
    n = (
        df.withColumn("_hoodie_commit_time", F.lit(instant))
        .withColumn(
            "_hoodie_record_key", F.col(key_col).cast("string")
        )
        .coalesce(1)
        .sortWithinPartitions(key_col)
    )
    part = write_single_part(n, out_dir)
    dst = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(part, dst)
    shutil.rmtree(out_dir)
    return {
        "fileId": file_id,
        "path": rel,
        "numWrites": df.count(),
        "fileSizeInBytes": os.path.getsize(dst),
        "prevCommit": "null",
    }


def hudi_commit(
    table_path: str,
    instant: str,
    partition_stats: dict[str, list[dict]],
    operation: str = "upsert",
    replace_file_ids: dict[str, list[str]] | None = None,
    action: str | None = None,
) -> str:
    """Append one completed instant to the timeline: the
    ``.requested`` / ``.inflight`` transition markers then the
    completed ``<instant>.<action>`` file carrying
    HoodieCommitMetadata JSON.  ``replace_file_ids`` switches the
    action to ``replacecommit`` (clustering); MOR delta writes pass
    ``action="deltacommit"`` so base-slice resolution never mistakes a
    log file for a base file."""
    if action is None:
        action = "replacecommit" if replace_file_ids else "commit"
    meta = os.path.join(table_path, ".hoodie")
    os.makedirs(meta, exist_ok=True)
    for suffix in (f"{action}.requested", f"{action}.inflight"):
        open(os.path.join(meta, f"{instant}.{suffix}"), "w").close()
    body = {
        "partitionToWriteStats": partition_stats,
        "operationType": operation.upper(),
    }
    if replace_file_ids:
        body["partitionToReplaceFileIds"] = replace_file_ids
    p = os.path.join(meta, f"{instant}.{action}")
    with open(p, "w") as f:
        json.dump(body, f)
    return p


def hudi_timeline(table_path: str) -> list[tuple[str, str]]:
    """COMPLETED instants, time-ordered: ``[(instant, action), ...]``.
    Control-plane: one directory listing, O(instants)."""
    meta = os.path.join(table_path, ".hoodie")
    out = []
    for name in os.listdir(meta):
        parts = name.split(".")
        if len(parts) == 2 and parts[1] in _ACTIONS:
            out.append((parts[0], parts[1]))
    return sorted(out)


def _instant_metadata(table_path: str, instant: str, action: str) -> dict:
    """The metadata JSON of one completed instant."""
    with open(os.path.join(table_path, ".hoodie", f"{instant}.{action}")) as f:
        return json.load(f)


def _hudi_active_rows(table_path: str, as_of: str | None = None) -> list[dict]:
    """The ACTIVE file slice per file group at ``as_of`` (default:
    latest instant), resolved on the driver: the completed commits ≤
    as_of replay in instant order, the latest slice per (partition,
    fileId) wins, and groups named by a completed replacecommit ≤ as_of
    drop out.  Rows: (partition, file_id, path, instant)."""
    commits = [
        (t, a) for t, a in hudi_timeline(table_path)
        if a in ("commit", "replacecommit")
        and (as_of is None or t <= as_of)
    ]
    if not commits:
        raise ValueError(
            f"hudi: no completed commit at or before {as_of!r} "
            f"in {table_path}"
        )
    state: dict[tuple[str, str], tuple[str, str]] = {}
    replaced: set[tuple[str, str]] = set()
    for t, a in commits:
        body = _instant_metadata(table_path, t, a)
        for part, stats in (body.get("partitionToWriteStats") or {}).items():
            for s in stats:
                state[(part, s["fileId"])] = (s["path"], t)
        for part, ids in (body.get("partitionToReplaceFileIds") or {}).items():
            replaced.update((part, i) for i in ids)
    return [
        {"partition": k[0], "file_id": k[1], "path": v[0], "instant": v[1]}
        for k, v in state.items()
        if k not in replaced
    ]


def hudi_active_slices(
    spark: SparkSession, table_path: str, as_of: str | None = None
) -> DataFrame:
    """The ACTIVE file slice per file group at ``as_of`` (default:
    latest instant) as a (partition, file_id, path, instant) frame over
    the driver replay of :func:`_hudi_active_rows`."""
    return local_frame(
        spark,
        [tuple(r.values()) for r in _hudi_active_rows(table_path, as_of)],
        "partition string, file_id string, path string, instant string",
    )


def read_hudi_snapshot(
    spark: SparkSession,
    table_path: str,
    as_of: str | None = None,
    with_meta: bool = False,
) -> DataFrame:
    """Snapshot read at ``as_of`` (default latest): resolve active
    slices, then one plain parquet scan over them — pruning and
    pushdown apply as for any parquet read.  Meta columns
    (``_hoodie_*``) are stripped unless ``with_meta``.  A snapshot
    whose slices are gone (time travel below a :func:`hudi_clean`)
    raises ``FileNotFoundError`` before Spark sees a path."""
    rows = _hudi_active_rows(table_path, as_of)  # control-plane: O(groups)
    paths = [os.path.join(table_path, r["path"]) for r in rows]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(f"hudi instant {as_of} needs deleted slices {missing}")
    df = spark.read.parquet(*paths)
    if not with_meta:
        df = df.drop("_hoodie_commit_time", "_hoodie_record_key")
    return df


def hudi_clean(
    spark: SparkSession, table_path: str, retain_from: str
) -> list[str]:
    """Retention-checked physical deletion (the spec's ``clean``
    action, KEEP_LATEST-style): a slice is deletable iff it is NOT the
    active slice of its file group in ANY retained snapshot (every
    completed commit instant ≥ ``retain_from``).  Replays each
    retained instant's active set before deleting — time travel below
    ``retain_from`` then makes :func:`read_hudi_snapshot` refuse the
    instant, the documented trade-off.  Returns deleted relative paths and appends
    the ``<instant>.clean`` record."""
    timeline = hudi_timeline(table_path)
    commit_instants = [
        t for t, a in timeline if a in ("commit", "replacecommit")
    ]
    retained = [t for t in commit_instants if t >= retain_from]
    if not retained:
        raise ValueError(f"hudi clean: nothing retained at {retain_from}")
    keep: set[str] = set()
    for t in retained:
        for r in _hudi_active_rows(table_path, t):  # control-plane: O(groups)
            keep.add(r["path"])
    all_slices: set[str] = set()
    for t, a in timeline:
        if a not in ("commit", "replacecommit"):
            continue
        body = _instant_metadata(table_path, t, a)
        for stats in body.get("partitionToWriteStats", {}).values():
            for s in stats:
                all_slices.add(s["path"])
    doomed = sorted(all_slices - keep)
    for rel in doomed:
        os.remove(os.path.join(table_path, rel))
    clean_instant = max(t for t, _ in timeline) + "001"
    meta = os.path.join(table_path, ".hoodie")
    for suffix in ("clean.requested", "clean.inflight"):
        open(os.path.join(meta, f"{clean_instant}.{suffix}"), "w").close()
    with open(
        os.path.join(meta, f"{clean_instant}.clean"), "w"
    ) as f:
        json.dump(
            {
                "earliestCommitToRetain": retain_from,
                "pathsDeleted": doomed,
            },
            f,
        )
    return doomed


# ---------------------------------------------------------------------
# Merge-on-read (MOR): hoodie log files + snapshot merge
# ---------------------------------------------------------------------

#: hoodie log block framing (HoodieLogFormat v2 fields): 6-byte magic,
#: format version, block type, header map, content length, content,
#: then the total block length for reverse scans.  Data/delete block
#: CONTENT is an Avro object-container (the reference embeds raw datum
#:  bytes + schema header key — same information; documented divergence).
_LOG_MAGIC = b"#HUDI#"
_BLOCK_AVRO_DATA = 1
_BLOCK_DELETE = 2
#: header map keys (HeaderMetadataType ordinals)
_HDR_INSTANT = 1
_HDR_TARGET_INSTANT = 2


def hudi_log_path(
    partition: str, file_id: str, base_instant: str, version: int
) -> str:
    """Spec naming: ``.<fileId>_<baseInstant>.log.<version>``."""
    return f"{partition}/.{file_id}_{base_instant}.log.{version}"


def hudi_append_log_block(
    table_path: str,
    partition: str,
    file_id: str,
    base_instant: str,
    instant: str,
    version: int,
    upserts: list[dict] | None = None,
    delete_keys: list[str] | None = None,
) -> dict:
    """Append ONE log block (avro-data upserts or a delete block) to
    the file group's log file and return its write-stat dict for the
    ``deltacommit``.  Block framing per the hoodie log format; content
    is an Avro container of the records (upserts) or of
    ``{record_key}`` rows (deletes)."""
    from apache_nifi_spark.sources.avro_codec import encode_container

    if (upserts is None) == (delete_keys is None):
        raise ValueError("exactly one of upserts/delete_keys")
    if upserts is not None:
        btype = _BLOCK_AVRO_DATA
        rows = upserts
    else:
        btype = _BLOCK_DELETE
        rows = [{"record_key": k} for k in delete_keys]
    schema = {
        "type": "record",
        "name": "hudi_log_rec",
        "fields": [
            {
                "name": k,
                "type": "long" if isinstance(v, int) else "string",
            }
            for k, v in rows[0].items()
        ],
    }
    content = b"".join(encode_container(iter(rows), schema, codec="null"))
    headers = [(_HDR_INSTANT, instant)]
    hdr = struct.pack(">I", len(headers))
    for k, v in headers:
        vb = v.encode()
        hdr += struct.pack(">II", k, len(vb)) + vb
    block = (
        _LOG_MAGIC
        + struct.pack(">II", 2, btype)
        + hdr
        + struct.pack(">Q", len(content))
        + content
    )
    block += struct.pack(">Q", len(block) + 8)
    rel = hudi_log_path(partition, file_id, base_instant, version)
    dst = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    with open(dst, "ab") as f:
        f.write(block)
    return {
        "fileId": file_id,
        "path": rel,
        "numWrites": len(rows),
        "fileSizeInBytes": os.path.getsize(dst),
        "prevCommit": base_instant,
    }


def hudi_parse_log_blocks(payload: bytes):
    """Walk every block of a hoodie log file:
    ``[(instant, 'data'|'delete', schema, rows)]``.  Raises on a bad
    magic or a truncated block — a torn log append must fail loudly,
    never read as an empty delta."""
    from apache_nifi_spark.sources.avro_codec import decode_container

    out = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 6] != _LOG_MAGIC:
            raise ValueError(f"hudi log: bad magic at {pos}")
        ver, btype = struct.unpack_from(">II", payload, pos + 6)
        if ver != 2:
            raise ValueError(f"hudi log: unsupported version {ver}")
        p = pos + 14
        (nh,) = struct.unpack_from(">I", payload, p)
        p += 4
        instant = None
        for _ in range(nh):
            k, ln = struct.unpack_from(">II", payload, p)
            v = payload[p + 8 : p + 8 + ln].decode()
            if k == _HDR_INSTANT:
                instant = v
            p += 8 + ln
        (clen,) = struct.unpack_from(">Q", payload, p)
        p += 8
        content = payload[p : p + clen]
        if len(content) != clen:
            raise ValueError("hudi log: truncated block content")
        p += clen
        if p + 8 > len(payload):
            raise ValueError("hudi log: truncated block trailer")
        (total,) = struct.unpack_from(">Q", payload, p)
        p += 8
        if total != p - pos:
            raise ValueError("hudi log: block length mismatch")
        schema, rows = decode_container(content)
        out.append(
            (
                instant,
                "data" if btype == _BLOCK_AVRO_DATA else "delete",
                schema,
                rows,
            )
        )
        pos = p
    return out


def read_hudi_mor_snapshot(
    spark: SparkSession,
    table_path: str,
    as_of: str | None = None,
    key_col: str = "_hoodie_record_key",
) -> DataFrame:
    """MERGE-ON-READ snapshot: base file slices (the COW resolution)
    merged with their log deltas — per record key, the LATEST of
    {base row, log upsert, delete tombstone} by instant wins, and
    tombstones drop out (so a key deleted then re-upserted survives
    with the later payload, the spec's ordered-merge semantics).

    Spark-first: log files ship as ``binaryFile`` rows and their
    blocks decode EXECUTOR-side (row-mapped over Arrow batches — the
    delta payloads are data, never driver state); the merge itself is
    one ``max_by(struct, instant)`` per key.  Read-optimized reads
    (base only) are :func:`read_hudi_snapshot` — this function is the
    real-time view."""
    base = read_hudi_snapshot(spark, table_path, as_of, with_meta=True)
    data_cols = [
        c for c in base.columns
        if c not in ("_hoodie_commit_time", "_hoodie_record_key")
    ]
    # deltacommit write stats name the log files (manifest grain)
    timeline = hudi_timeline(table_path)
    log_paths = []
    for t, a in timeline:
        if a != "deltacommit" or (as_of is not None and t > as_of):
            continue
        body = _instant_metadata(table_path, t, a)
        for stats in body.get("partitionToWriteStats", {}).values():
            for s in stats:
                if ".log." in s["path"]:
                    log_paths.append(os.path.join(table_path, s["path"]))
    if not log_paths:
        return base.select(*data_cols)
    schema = (
        "instant string, record_key string, is_delete boolean, "
        + ", ".join(f"{c} string" for c in data_cols)
    )

    def decode(path):
        with open(path, "rb") as fh:
            blob = fh.read()
        for instant, kind, sch, recs in hudi_parse_log_blocks(blob):
            names = [f["name"] for f in sch["fields"]]
            for rec in recs:
                d = dict(zip(names, rec))
                if kind == "delete":
                    yield (instant, str(d["record_key"]), True,
                           *[None] * len(data_cols))
                else:
                    key = d[key_col] if key_col in d else d[data_cols[0]]
                    yield (instant, str(key), False,
                           *[None if d.get(c) is None else str(d[c]) for c in data_cols])

    # the spec's dot-prefixed log names are HIDDEN files to Hadoop's
    # path filter (binaryFile silently lists zero of them), so the
    # manifest-grain path list distributes as rows and each TASK opens
    # its files — executor-side IO, the same placement binaryFile
    # would give on shared storage
    base_types = {
        f.name: f.dataType.simpleString() for f in base.schema.fields
    }
    paths = spark.createDataFrame(
        [(p,) for p in log_paths], "log_path string"
    ).repartition(min(len(log_paths), 32))
    logs = (
        flat_map(paths, ["log_path"], decode, schema)
        # log records decode as strings; cast to the BASE schema so the
        # merge (and any compaction slice written from it) preserves
        # the table's types
        .select(
            "instant", "record_key", "is_delete",
            *[
                F.col(c).cast(base_types[c]).alias(c)
                for c in data_cols
            ],
        )
    )
    base_t = base.select(
        F.col("_hoodie_commit_time").alias("instant"),
        F.col("_hoodie_record_key").alias("record_key"),
        F.lit(False).alias("is_delete"),
        *data_cols,
    )
    merged = (
        base_t.unionByName(logs)
        .groupBy("record_key")
        .agg(
            F.max_by(
                F.struct("is_delete", *data_cols), F.col("instant")
            ).alias("s")
        )
        .filter(~F.col("s.is_delete"))
        .select(*[F.col(f"s.{c}").alias(c) for c in data_cols])
    )
    return merged


def hudi_compact(
    spark: SparkSession,
    table_path: str,
    instant: str,
    key_col: str,
) -> list[str]:
    """MOR COMPACTION (the spec's ``commit``-action table service that
    folds each file group's accumulated log deltas into a NEW base
    file slice): for every group with log deltas, materialize the
    merged real-time state (the :func:`read_hudi_mor_snapshot`
    semantics restricted to that group) and write it as a base slice
    at the compaction instant — after which slice resolution naturally
    prefers the new base and the untouched log records lose every
    per-key max_by, so the read-optimized view CONVERGES to the
    real-time view with zero reader changes.  Returns the compacted
    file-group ids."""
    timeline = hudi_timeline(table_path)
    log_groups: dict[tuple[str, str], str] = {}
    for t, a in timeline:
        if a != "deltacommit":
            continue
        body = _instant_metadata(table_path, t, a)
        for part, stats in body.get("partitionToWriteStats", {}).items():
            for s in stats:
                if ".log." in s["path"]:
                    log_groups[(part, s["fileId"])] = s["prevCommit"]
    if not log_groups:
        return []
    merged = read_hudi_mor_snapshot(spark, table_path)
    # group membership = the base slices' key ranges; for the fixture
    # grain (and Hudi's bloom index) the record key routes the row:
    # re-read each group's CURRENT base to learn its keys, then write
    # the merged rows belonging to it as the new slice
    stats_out: dict[str, list[dict]] = {}
    for (part, fid), base_instant in sorted(log_groups.items()):
        base_keys = (
            spark.read.parquet(os.path.join(
                table_path,
                f"{part}/{fid}_0-1-0_{base_instant}.parquet",
            ))
            .select(F.col("_hoodie_record_key").alias("__k"))
        )
        grp = merged.join(
            base_keys,
            merged[key_col].cast("string") == base_keys["__k"],
            "left_semi",
        )
        st = hudi_write_base_file(
            grp, table_path, part, fid, instant, key_col
        )
        stats_out.setdefault(part, []).append(st)
    hudi_commit(table_path, instant, stats_out, operation="compact")
    return [fid for (_, fid) in sorted(log_groups)]
