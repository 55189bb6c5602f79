"""Apache Iceberg snapshot reads (the OPEN table spec —
iceberg.apache.org/spec; reference ships stock NiFi whose PutIceberg
writes this format [2.7.2-surface]).  No Iceberg jar ships in this
environment, so the METADATA protocol is implemented from the public
spec over the repo's own from-scratch Avro codec
(``sources/avro_codec``); parquet data reading stays Spark-native.

What the spec defines (v1/v2 core, the subset a reader needs):

- ``metadata/v<N>.metadata.json`` — table metadata: ``snapshots`` (each
  with ``snapshot-id``, ``timestamp-ms`` and a ``manifest-list`` path)
  and ``current-snapshot-id``; the HadoopCatalog convention publishes
  the latest version number in ``metadata/version-hint.text``,
- the **manifest list** — an Avro object-container file, one record per
  manifest (``manifest_path``, ``manifest_length``,
  ``partition_spec_id``, ``added_snapshot_id``),
- each **manifest** — an Avro file of entries ``(status, snapshot_id,
  data_file{file_path, file_format, record_count,
  file_size_in_bytes})`` where status 0=EXISTING, 1=ADDED, 2=DELETED.

Unlike Delta's log REPLAY, an Iceberg snapshot is self-contained: its
manifest list enumerates every live manifest, and the active files are
simply the entries with status ≠ DELETED — no reconciliation across
commits, which is why time travel is "read a different metadata
pointer".

Spark-first shape: version-hint + metadata JSON + manifest LIST are
control-plane reads (O(1) + O(manifests) — the same class as a
directory listing); the MANIFESTS decode DISTRIBUTEDLY — a
``binaryFile`` scan over the manifest paths fans one Avro container per
task through the from-scratch decoder (at 100 TB a table carries
thousands of manifests; per-file tasks are exactly Iceberg's planned
parallelism).  The resolved file list feeds a plain parquet scan, so
pruning / pushdown work as on any parquet read.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark.sources.avro_codec import (
    decode_container,
    encode_container,
)

__all__ = [
    "iceberg_commit",
    "iceberg_add_column",
    "iceberg_expire_snapshots",
    "iceberg_rewrite_data_files",
    "iceberg_rewrite_manifests",
    "iceberg_active_files",
    "read_iceberg_snapshot",
    "write_puffin_dvs",
    "read_puffin_dvs",
]

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        # the spec's per-field partition summaries (lower/upper bounds),
        # simplified to the single partition value's min/max — what lets
        # a reader SKIP whole manifests without opening them
        {"name": "partition_min", "type": "string"},
        {"name": "partition_max", "type": "string"},
        # spec v2: 0 = data manifest, 1 = delete manifest
        {"name": "content", "type": "int"},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    # single-value partition tuple (the spec keys this
                    # by partition-spec field; one string field here)
                    {"name": "partition", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # spec v2: 0 = DATA, 1 = POSITION_DELETES,
                    # 2 = EQUALITY_DELETES
                    {"name": "content", "type": "int"},
                    # spec v2 data sequence number (assigned at commit;
                    # the delete-applicability ordering key)
                    {"name": "sequence_number", "type": "long"},
                ],
            },
        },
    ],
}

_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2
#: spec v2 content ids (data_file.content / manifest_file.content)
_CONTENT_DATA, _CONTENT_POSITION_DELETES, _CONTENT_EQUALITY_DELETES = 0, 1, 2


def _meta_dir(table_path: str) -> str:
    d = os.path.join(table_path, "metadata")
    os.makedirs(d, exist_ok=True)
    return d


def _write_manifest(
    table_path: str, name: str, entries: list[tuple[int, int, dict]]
) -> tuple[str, int]:
    """Write one manifest Avro file → (path, length)."""
    p = os.path.join(_meta_dir(table_path), name)
    blob = b"".join(
        encode_container(iter(entries), MANIFEST_ENTRY_SCHEMA, codec="deflate")
    )
    with open(p, "wb") as f:
        f.write(blob)
    return p, len(blob)


def iceberg_commit(
    table_path: str,
    snapshot_id: int,
    added: list[dict],
    deleted: list[str] | None = None,
    schema: list[tuple[str, str]] | None = None,
    max_entries_per_manifest: int | None = None,
    position_deletes: dict[str, list[int]] | None = None,
    equality_deletes: tuple[list[str], list[tuple]] | None = None,
    dv_deletes: dict[str, list[int]] | None = None,
) -> int:
    """Commit one snapshot: carry forward the previous snapshot's live
    files (rewritten as EXISTING entries, minus ``deleted`` paths which
    become DELETED entries — the spec's rewrite path), add ``added``
    data files (dicts with file_path/record_count/file_size_in_bytes),
    write the manifest + manifest list + new ``v<N>.metadata.json`` and
    bump ``version-hint.text``.  Returns the new metadata version.

    ``schema`` (ordered (name, iceberg-type) pairs, e.g. ``[('k',
    'long'), ('v', 'string')]``) records the table schema in the
    metadata per the spec's field-id rules on the FIRST commit (ids
    assigned 1..n, ``last-column-id`` tracked); later commits carry the
    schema metadata forward unchanged — schema CHANGES go through
    :func:`iceberg_add_column` (a metadata-only commit).

    Writer-side simplification: each snapshot rewrites the full entry
    set (real writers keep unchanged manifests and only rewrite touched
    ones — a write-amplification optimization, not a read-semantics
    difference; the reader below handles multi-manifest lists either
    way).  ``max_entries_per_manifest`` caps entries per manifest FILE
    (the spec's ``write.manifest.target-size-bytes`` knob expressed in
    entries): a partition with more entries splits into multiple
    manifests, each with its own manifest-list row and partition
    summary, so at 100 TB scale manifest decode stays bounded per task
    and the list itself is the only O(manifests) read.

    SEQUENCE NUMBERS (spec v2): every file written by a commit gets the
    commit's sequence number (here: the new metadata version — strictly
    increasing); carried-forward EXISTING entries keep theirs.  The
    reader applies position deletes to data files with
    ``data_seq <= delete_seq`` and equality deletes STRICTLY
    ``data_seq < delete_seq`` — rows added after an equality delete are
    never affected by it, per the spec's ordering rules.

    ``equality_deletes`` = (equality column names, rows as tuples):
    writes a spec v2 EQUALITY-DELETE parquet (content=2) of exactly
    those columns; a data row is deleted when its values match ANY
    delete row on the delete file's columns.  Simplification: the
    spec's ``equality_ids`` field-id list is carried by the delete
    parquet's own column names rather than a manifest field (the
    reader maps names, not ids — same semantics for tables whose
    schema evolution never renames equality columns)."""
    deleted = deleted or []
    meta_dir = _meta_dir(table_path)
    hint = os.path.join(meta_dir, "version-hint.text")
    prev_live: list[dict] = []
    version = 0
    snapshots: list[dict] = []
    schemas: list[dict] = []
    current_schema_id: int | None = None
    last_column_id = 0
    part_specs: list[dict] = [{"spec-id": 0, "fields": []}]
    default_spec_id = 0
    if os.path.exists(hint):
        with open(hint) as f:
            version = int(f.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
            meta = json.load(f)
        snapshots = meta["snapshots"]
        schemas = meta.get("schemas", [])
        current_schema_id = meta.get("current-schema-id")
        last_column_id = meta.get("last-column-id", 0)
        part_specs = meta.get("partition-specs") or part_specs
        default_spec_id = meta.get("default-spec-id", 0)
        cur = meta.get("current-snapshot-id")
        if cur is not None:
            prev_live = [
                r
                for r in _manifest_rows_local(table_path, cur, snapshots)
                if r["status"] != _STATUS_DELETED
            ]
    if schema is not None and not schemas:
        # spec: field ids are assigned once, in order, and never reused
        fields = [
            {"id": i + 1, "name": n, "required": False, "type": t}
            for i, (n, t) in enumerate(schema)
        ]
        schemas = [{"type": "struct", "schema-id": 0, "fields": fields}]
        current_schema_id = 0
        last_column_id = len(fields)

    # entries carry the PARTITION SPEC each file was written under
    # (spec §Partition Evolution: a file's spec never changes after
    # write — rewritten EXISTING entries keep theirs; new adds get the
    # table's current default spec)
    seq = version + 1  # this commit's data sequence number
    entries: list[tuple[int, int, dict, int]] = []
    for r in prev_live:
        r["data_file"].setdefault("content", _CONTENT_DATA)
        r["data_file"].setdefault("sequence_number", 0)
        status = (
            _STATUS_DELETED
            if r["data_file"]["file_path"] in deleted
            else _STATUS_EXISTING
        )
        entries.append(
            (status, snapshot_id, r["data_file"], r.get("spec_id", 0))
        )
    for df_info in added:
        entries.append(
            (
                _STATUS_ADDED,
                snapshot_id,
                {
                    "file_path": df_info["file_path"],
                    "file_format": df_info.get("file_format", "PARQUET"),
                    "partition": df_info.get("partition", ""),
                    "record_count": int(df_info.get("record_count", 0)),
                    "file_size_in_bytes": int(
                        df_info.get("file_size_in_bytes", 0)
                    ),
                    "content": int(df_info.get("content", _CONTENT_DATA)),
                    "sequence_number": seq,
                },
                default_spec_id,
            )
        )
    if position_deletes:
        # spec v2 position-delete FILE: parquet of (file_path, pos),
        # sorted by (file_path, pos) as required, one file per commit
        import pyarrow as pa
        import pyarrow.parquet as pq

        pairs = sorted(
            (fp, int(p))
            for fp, ps in position_deletes.items()
            for p in ps
        )
        ddir = os.path.join(table_path, "deletes")
        os.makedirs(ddir, exist_ok=True)
        dpath = os.path.join(ddir, f"delete-{snapshot_id}.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([fp for fp, _ in pairs]),
                    "pos": pa.array([p for _, p in pairs], pa.int64()),
                }
            ),
            dpath,
        )
        entries.append(
            (
                _STATUS_ADDED,
                snapshot_id,
                {
                    "file_path": dpath,
                    "file_format": "PARQUET",
                    "partition": "",
                    "record_count": len(pairs),
                    "file_size_in_bytes": os.path.getsize(dpath),
                    "content": _CONTENT_POSITION_DELETES,
                    "sequence_number": seq,
                },
                default_spec_id,
            )
        )
    if dv_deletes:
        # spec v3 DELETION VECTORS: one puffin file per commit, one
        # deletion-vector-v1 blob per referenced data file.  The v3
        # invariant is AT MOST ONE DV per data file in a snapshot — a
        # new DV for a file carries the MERGED positions (old ∪ new)
        # and supersedes the old puffin entry, so readers never union
        # delete files per data file.
        merged: dict[str, set[int]] = {
            fp: set(int(p) for p in ps) for fp, ps in dv_deletes.items()
        }
        superseded: set[str] = set()
        for e in entries:
            dfrec = e[2]
            if (
                e[0] != _STATUS_DELETED
                and dfrec.get("content") == _CONTENT_POSITION_DELETES
                and dfrec.get("file_format") == "PUFFIN"
            ):
                prior = read_puffin_dvs(dfrec["file_path"])
                if any(ref in merged for ref in prior):
                    # rewrite the WHOLE old puffin: targets merge, the
                    # untouched files' DVs carry into the new container
                    for ref, (_ps, poss) in prior.items():
                        merged.setdefault(ref, set()).update(poss)
                    superseded.add(dfrec["file_path"])
        if superseded:
            entries = [
                (
                    _STATUS_DELETED if e[2]["file_path"] in superseded
                    else e[0],
                    e[1], e[2], e[3],
                )
                for e in entries
            ]
        ddir = os.path.join(table_path, "deletes")
        os.makedirs(ddir, exist_ok=True)
        ppath = os.path.join(ddir, f"dv-{snapshot_id}.puffin")
        write_puffin_dvs(
            ppath,
            {fp: sorted(ps) for fp, ps in merged.items()},
            snapshot_id,
            seq,
        )
        entries.append(
            (
                _STATUS_ADDED,
                snapshot_id,
                {
                    "file_path": ppath,
                    "file_format": "PUFFIN",
                    "partition": "",
                    "record_count": sum(len(v) for v in merged.values()),
                    "file_size_in_bytes": os.path.getsize(ppath),
                    "content": _CONTENT_POSITION_DELETES,
                    "sequence_number": seq,
                },
                default_spec_id,
            )
        )
    if equality_deletes:
        # spec v2 equality-delete FILE: parquet of the equality columns
        # only; a data row matches when its values equal ANY delete row
        import pyarrow as pa
        import pyarrow.parquet as pq

        eq_cols, eq_rows = equality_deletes
        ddir = os.path.join(table_path, "deletes")
        os.makedirs(ddir, exist_ok=True)
        dpath = os.path.join(ddir, f"eqdelete-{snapshot_id}.parquet")
        pq.write_table(
            pa.table(
                {
                    c: pa.array([r[i] for r in eq_rows])
                    for i, c in enumerate(eq_cols)
                }
            ),
            dpath,
        )
        entries.append(
            (
                _STATUS_ADDED,
                snapshot_id,
                {
                    "file_path": dpath,
                    "file_format": "PARQUET",
                    "partition": "",
                    "record_count": len(eq_rows),
                    "file_size_in_bytes": os.path.getsize(dpath),
                    "content": _CONTENT_EQUALITY_DELETES,
                    "sequence_number": seq,
                },
                default_spec_id,
            )
        )
    # one manifest per (partition value, content) — the realistic
    # writer layout: partition summaries prune whole DATA manifests on
    # read, and delete manifests never mix with data manifests (spec v2)
    by_part: dict[tuple, list] = {}
    for e in entries:
        key = (
            e[2]["partition"],
            e[2].get("content", _CONTENT_DATA),
            e[3],  # manifests never mix partition specs (spec rule)
        )
        by_part.setdefault(key, []).append(e)
    list_rows = []
    seq = 0
    for part, content, spec_id in sorted(by_part):
        rows = by_part[(part, content, spec_id)]
        cap = max_entries_per_manifest or len(rows) or 1
        for lo in range(0, len(rows), cap):
            mpath, mlen = _write_manifest(
                table_path,
                f"manifest-{snapshot_id}-{seq}.avro",
                [(s, sid, df) for s, sid, df, _sp in rows[lo : lo + cap]],
            )
            list_rows.append(
                (mpath, mlen, spec_id, snapshot_id, part, part, content)
            )
            seq += 1
    mlist = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    with open(mlist, "wb") as f:
        f.write(
            b"".join(
                encode_container(
                    iter(list_rows), MANIFEST_LIST_SCHEMA, codec="deflate"
                )
            )
        )
    version += 1
    meta = {
        "format-version": 1,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, table_path)),
        "location": table_path,
        "current-snapshot-id": snapshot_id,
        "snapshots": snapshots
        + [
            {
                "snapshot-id": snapshot_id,
                "timestamp-ms": 0,
                "manifest-list": mlist,
            }
        ],
    }
    if schemas:
        meta["schemas"] = schemas
        meta["current-schema-id"] = current_schema_id
        meta["last-column-id"] = last_column_id
    meta["partition-specs"] = part_specs
    meta["default-spec-id"] = default_spec_id
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(hint, "w") as f:
        f.write(str(version))
    return version


def iceberg_add_column(table_path: str, name: str, ice_type: str) -> int:
    """SCHEMA EVOLUTION, add-column (spec §Schemas and "Schema
    Evolution": a new schema struct with a fresh ``schema-id``, the new
    field assigned ``last-column-id + 1`` — field ids are append-only
    and NEVER reused, which is what makes column adds metadata-only and
    old data files readable forever: a reader projects by field id and
    fills absent columns with null).  Writes a new
    ``v<N>.metadata.json`` with the evolved schema as
    ``current-schema-id``; SNAPSHOTS ARE UNCHANGED — no data rewrite,
    no manifest rewrite, O(1) regardless of table size.  Returns the
    new metadata version."""
    meta_dir = _meta_dir(table_path)
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    schemas = meta.get("schemas")
    if not schemas:
        raise ValueError(
            "table has no schema metadata — commit with schema= first"
        )
    cur = next(
        s for s in schemas if s["schema-id"] == meta["current-schema-id"]
    )
    if any(f["name"] == name for f in cur["fields"]):
        raise ValueError(f"column {name!r} already exists")
    new_id = meta["last-column-id"] + 1
    evolved = {
        "type": "struct",
        "schema-id": max(s["schema-id"] for s in schemas) + 1,
        "fields": cur["fields"]
        + [{"id": new_id, "name": name, "required": False, "type": ice_type}],
    }
    meta["schemas"] = schemas + [evolved]
    meta["current-schema-id"] = evolved["schema-id"]
    meta["last-column-id"] = new_id
    version += 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(hint, "w") as f:
        f.write(str(version))
    return version


def iceberg_evolve_partition_spec(
    table_path: str, fields: list[dict]
) -> int:
    """PARTITION-SPEC EVOLUTION (spec §Partitioning / "Partition
    Evolution": specs are append-only structs with fresh ``spec-id``s
    and partition field ids allocated from 1000 up; evolving the
    default spec is METADATA-ONLY — existing data files keep the spec
    they were written under, which is exactly why a reader may prune
    by the new spec only on manifests WRITTEN under it and must keep
    scanning older-spec manifests for any predicate on the new
    partition column).  ``fields`` are spec dicts like ``[{"name":
    "flag", "transform": "identity", "source-id": 2}]``; field-ids
    are assigned here.  Writes a new ``v<N>.metadata.json``; snapshots
    unchanged, O(1) at any table size.  Returns the new version."""
    meta_dir = _meta_dir(table_path)
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    specs = meta.get("partition-specs") or [{"spec-id": 0, "fields": []}]
    new_spec = {
        "spec-id": max(s["spec-id"] for s in specs) + 1,
        "fields": [
            {**f, "field-id": 1000 + i} for i, f in enumerate(fields)
        ],
    }
    meta["partition-specs"] = specs + [new_spec]
    meta["default-spec-id"] = new_spec["spec-id"]
    version += 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(hint, "w") as f:
        f.write(str(version))
    return version


def iceberg_expire_snapshots(
    table_path: str, keep_ids: list[int] | None = None
) -> dict:
    """SNAPSHOT EXPIRY (the spec's maintenance operation): drop expired
    snapshots from the metadata (default: keep only the current one),
    then physically delete every file reachable ONLY through expired
    snapshots — their manifest lists, manifests not referenced by any
    retained snapshot, and data files not LIVE (status ≠ DELETED) in
    any retained snapshot.  Time travel to an expired id must fail and
    its storage must be reclaimed; retained snapshots are untouched.

    Control-plane throughout: the reachability walk touches manifests
    (O(manifests) Avro reads), never data.  Returns
    ``{"version", "removed_snapshots", "deleted_files"}``."""
    meta_dir = _meta_dir(table_path)
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    keep = set(
        keep_ids if keep_ids is not None else [meta["current-snapshot-id"]]
    )
    if meta["current-snapshot-id"] not in keep:
        raise ValueError("cannot expire the current snapshot")
    retained = [s for s in meta["snapshots"] if s["snapshot-id"] in keep]
    expired = [s for s in meta["snapshots"] if s["snapshot-id"] not in keep]
    if not expired:
        return {"version": version, "removed_snapshots": [],
                "deleted_files": []}

    def reach(snaps):
        """(manifest paths, live data paths, all data paths) reachable."""
        manifests: set[str] = set()
        live: set[str] = set()
        alldata: set[str] = set()
        for s in snaps:
            with open(s["manifest-list"], "rb") as f:
                _s, mrows = decode_container(f.read())
            for m in mrows:
                manifests.add(m[0])
                with open(m[0], "rb") as f:
                    _s, erows = decode_container(f.read())
                for status, _sid, data_file in erows:
                    alldata.add(data_file["file_path"])
                    if status != _STATUS_DELETED:
                        live.add(data_file["file_path"])
        return manifests, live, alldata

    keep_manifests, keep_live, _ = reach(retained)
    exp_manifests, _, exp_data = reach(expired)

    deleted_files: list[str] = []
    for s in expired:
        deleted_files.append(s["manifest-list"])
    deleted_files.extend(sorted(exp_manifests - keep_manifests))
    deleted_files.extend(sorted(exp_data - keep_live))
    for p in deleted_files:
        if os.path.exists(p):
            os.remove(p)

    meta["snapshots"] = retained
    version += 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(hint, "w") as f:
        f.write(str(version))
    return {
        "version": version,
        "removed_snapshots": [s["snapshot-id"] for s in expired],
        "deleted_files": deleted_files,
    }


#: iceberg spec type name → Spark SQL type (the subset these fixtures
#: and the NiFi PutIceberg record schema mapping use)
_ICE_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "integer": "int",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "binary": "binary",
}


def _current_spark_schema(meta: dict) -> str | None:
    """DDL string of the CURRENT schema, or None when the table carries
    no schema metadata (pre-evolution tables read by parquet inference)."""
    schemas = meta.get("schemas")
    if not schemas:
        return None
    cur = next(
        s for s in schemas if s["schema-id"] == meta["current-schema-id"]
    )
    parts = []
    for f in cur["fields"]:
        t = f["type"]
        spark_t = _ICE_TO_SPARK.get(t, t if "(" in t else None)
        if spark_t is None:
            raise ValueError(f"unmapped iceberg type {t!r}")
        parts.append(f"{f['name']} {spark_t}")
    return ", ".join(parts)


def _load_metadata(table_path: str) -> dict:
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        return json.load(f)


def _manifest_list_paths(
    table_path: str, snapshot_id: int | None
) -> list[str]:
    """Control-plane: version hint → metadata JSON → the snapshot's
    manifest-list Avro → manifest paths (O(manifests) rows)."""
    meta = _load_metadata(table_path)
    return _manifest_list_paths_from(meta, snapshot_id)


def _manifest_list_paths_from(
    meta: dict, snapshot_id: int | None
) -> list[str]:
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == sid), None
    )
    if snap is None:
        raise ValueError(f"no iceberg snapshot {sid}")
    with open(snap["manifest-list"], "rb") as f:
        _schema, rows = decode_container(f.read())
    # (manifest_path, partition_min, partition_max, content, spec_id)
    return [
        (r[0], r[4], r[5], r[6] if len(r) > 6 else _CONTENT_DATA, r[2])
        for r in rows
    ]


def _manifest_rows_local(
    table_path: str, snapshot_id: int, snapshots: list[dict]
) -> list[dict]:
    """Driver-side manifest decode for the WRITER's carry-forward step
    (the writer owns the previous manifest it is rewriting)."""
    snap = next(
        s for s in snapshots if s["snapshot-id"] == snapshot_id
    )
    with open(snap["manifest-list"], "rb") as f:
        _s, mrows = decode_container(f.read())
    out: list[dict] = []
    for m in mrows:
        with open(m[0], "rb") as f:
            _s, erows = decode_container(f.read())
        out.extend(
            {
                "status": r[0],
                "snapshot_id": r[1],
                "data_file": r[2],
                "spec_id": m[2],  # the spec this manifest was written under
            }
            for r in erows
        )
    return out


#: Σ manifest bytes at or below which the manifest decode happens
#: DRIVER-SIDE (one open+decode per manifest, no Spark job) instead of
#: distributedly.  Manifests are control-plane metadata; the reference
#: engine's own planning does exactly this (local planning unless the
#: manifest set is large).  8 MiB ≈ 160 ms of driver decode — below one
#: Spark job's scheduling floor; at 100 TB a snapshot's manifests
#: exceed this and the distributed binaryFile path takes over.
_LOCAL_MANIFEST_BYTES = 8 << 20


def _entry_row(
    data_file: dict, status: int, content: int,
    partition: str | None, prunable: bool,
) -> dict | None:
    """Shared manifest-entry filter/projection — ONE implementation for
    the driver-side and distributed decode paths so their semantics
    cannot drift."""
    if status == _STATUS_DELETED:
        return None
    if data_file.get("content", _CONTENT_DATA) != content:
        return None
    if (
        partition is not None
        and content == _CONTENT_DATA
        and prunable
        and data_file["partition"] != partition
    ):
        return None
    return {
        "file_path": data_file["file_path"],
        "partition": data_file["partition"],
        "record_count": int(data_file["record_count"]),
        "file_size_in_bytes": int(data_file["file_size_in_bytes"]),
        "sequence_number": int(data_file.get("sequence_number", 0)),
    }


def _plan_manifests(
    table_path: str,
    snapshot_id: int | None,
    partition: str | None,
    content: int,
) -> tuple[list[str], set[str], bool]:
    """Resolve the snapshot's manifest paths (after manifest-list
    partition pruning) and decide the decode venue: (paths,
    current_spec_paths, local_ok).  ``local_ok`` is True when every
    manifest is a local file and their total size is at or below
    ``_LOCAL_MANIFEST_BYTES`` — the driver-side decode gate."""
    meta = _load_metadata(table_path)
    default_spec_id = meta.get("default-spec-id", 0)
    entries = _manifest_list_paths_from(meta, snapshot_id)
    entries = [e for e in entries if e[3] == content]
    current_spec_paths = {
        p for (p, _lo, _hi, _c, sp) in entries if sp == default_spec_id
    }
    if partition is not None and content == _CONTENT_DATA:
        entries = [
            (p, lo, hi, c, sp)
            for (p, lo, hi, c, sp) in entries
            if sp != default_spec_id or lo <= partition <= hi
        ]
    paths = [p for (p, _lo, _hi, _c, _sp) in entries]
    total: int | None = 0
    for p in paths:
        try:
            total += os.stat(p).st_size
        except OSError:
            total = None  # non-local manifest → distributed decode
            break
    local_ok = total is not None and total <= _LOCAL_MANIFEST_BYTES
    return paths, current_spec_paths, local_ok


def _decode_manifests_local(
    paths: list[str],
    current_spec_paths: set[str],
    partition: str | None,
    content: int,
) -> list[dict]:
    """Driver-side manifest decode (zero Spark jobs) — the local half
    of the venue gate; semantics pinned to the distributed decode via
    the shared :func:`_entry_row`."""
    out: list[dict] = []
    for p in paths:
        with open(p, "rb") as f:
            _schema, rows = decode_container(f.read())
        prunable = p in current_spec_paths
        for status, _sid, data_file in rows:
            row = _entry_row(data_file, status, content, partition, prunable)
            if row is not None:
                out.append(row)
    return out


def _active_file_rows(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    partition: str | None = None,
    content: int = _CONTENT_DATA,
) -> list[dict]:
    """Active-file manifest rows as a driver-side list (r16
    optimization): every internal consumer of
    :func:`iceberg_active_files` immediately ``collect()``s the result
    — a distributed binaryFile + mapInPandas job per content class per
    snapshot read, ~0.3-1 s each, for kilobyte-scale metadata.  Below
    ``_LOCAL_MANIFEST_BYTES`` of local manifest bytes this decodes on
    the driver with ZERO jobs; above it (or for non-local paths) it
    falls back to the distributed scan + collect, unchanged."""
    paths, current_spec_paths, local_ok = _plan_manifests(
        table_path, snapshot_id, partition, content
    )
    if not paths:
        return []
    if local_ok:
        return _decode_manifests_local(
            paths, current_spec_paths, partition, content
        )
    return _active_files_distributed(
        spark, paths, current_spec_paths, partition, content
    ).collect()  # control-plane: O(active files) manifest rows


def iceberg_active_files(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    partition: str | None = None,
    content: int = _CONTENT_DATA,
) -> DataFrame:
    """(file_path, partition, record_count, file_size_in_bytes) active
    in the snapshot: manifest entries with status ≠ DELETED.  The
    manifest list is control-plane; MANIFESTS decode driver-side below
    ``_LOCAL_MANIFEST_BYTES`` (planning metadata, the reference
    engine's local-planning behavior) and distributedly above it —
    one binaryFile task per manifest through the from-scratch Avro
    decoder.

    ``partition`` prunes at BOTH spec levels: manifests whose
    [partition_min, partition_max] summary excludes the value are never
    opened (the manifest-list summaries exist exactly for this — the
    unit test proves it by corrupting a pruned manifest), and surviving
    manifests' entries filter by equality.

    PARTITION EVOLUTION rule (spec §Partition Evolution): pruning by
    ``partition`` applies ONLY to manifests written under the table's
    CURRENT default spec — files written under an older spec carry no
    value for the new partition column, so their manifests are always
    scanned and their entries always survive (the engine applies the
    predicate row-level on those files instead).

    Above the local gate the DISTRIBUTED frame is returned directly —
    lazy, never collected (r16 advice: at 100 TB manifest scale the
    public API must not round-trip O(active files) rows through the
    driver twice)."""
    paths, current_spec_paths, local_ok = _plan_manifests(
        table_path, snapshot_id, partition, content
    )
    if not local_ok and paths:
        return _active_files_distributed(
            spark, paths, current_spec_paths, partition, content
        )
    rows = _decode_manifests_local(
        paths, current_spec_paths, partition, content
    )
    return spark.createDataFrame(
        [
            (
                r["file_path"], r["partition"], r["record_count"],
                r["file_size_in_bytes"], r["sequence_number"],
            )
            for r in rows
        ],
        _ACTIVE_FILES_DDL,
    )


_ACTIVE_FILES_DDL = (
    "file_path string, partition string, record_count long,"
    " file_size_in_bytes long, sequence_number long"
)


def _active_files_distributed(
    spark: SparkSession,
    paths: list[str],
    current_spec_paths: set[str],
    partition: str | None,
    content: int,
) -> DataFrame:
    """The distributed manifest decode: one binaryFile task per
    manifest through the from-scratch Avro decoder (the >threshold /
    non-local path of :func:`_active_file_rows`)."""
    blobs = (
        spark.read.format("binaryFile").load(paths)
        .select("path", "content")
    )
    # basename-keyed so the binaryFile file:// URI matches the stored
    # manifest path regardless of scheme
    cur_spec_names = {os.path.basename(p) for p in current_spec_paths}

    def dec(batches):
        import pandas as pd

        for pdf in batches:
            rows_out: list[dict] = []
            for mpath, blob in zip(pdf["path"], pdf["content"]):
                _schema, rows = decode_container(bytes(blob))
                prunable = os.path.basename(str(mpath)) in cur_spec_names
                for status, _sid, data_file in rows:
                    row = _entry_row(
                        data_file, status, content, partition, prunable
                    )
                    if row is not None:
                        rows_out.append(row)
            yield pd.DataFrame(
                rows_out,
                columns=[
                    "file_path", "partition", "record_count",
                    "file_size_in_bytes", "sequence_number",
                ],
            )

    return blobs.mapInPandas(dec, _ACTIVE_FILES_DDL)


def read_iceberg_snapshot(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    partition: str | None = None,
) -> DataFrame:
    """The snapshot's rows: resolve active files, then one parquet scan
    (pushdown/pruning apply as on any parquet read).  The file-list
    collect is the table MANIFEST — O(active files).

    When the table carries schema metadata, the scan is projected
    through the CURRENT schema (the spec's read rule after evolution:
    columns absent from an older data file read as null) — Spark's
    explicit read schema gives exactly that null-fill semantics.

    SPEC V2 ROW-LEVEL DELETES (merge-on-read, no data rewrite): when
    the snapshot carries delete manifests, every data file routes
    through a per-file task that applies, in the spec's order:

    - POSITION DELETES (``content=1``, ``data_seq <= delete_seq``):
      read the delete files' rows for THIS path (pyarrow predicate
      pushdown on the spec's sorted ``file_path`` column), drop the
      marked row ordinals;
    - EQUALITY DELETES (``content=2``, STRICTLY
      ``data_seq < delete_seq``): drop surviving rows whose values
      match any delete row on the delete file's columns — rows added
      at or after the delete's sequence number are never affected.

    Equality-delete files are read whole per task (they are
    metadata-scale: a CDC writer emits keys, not data)."""
    dfiles = _active_file_rows(
        spark, table_path, snapshot_id, partition
    )  # control-plane: O(active files) manifest rows, driver-side decode
    return _read_files_with_deletes(
        spark, table_path, dfiles, snapshot_id
    )


def _read_files_with_deletes(
    spark: SparkSession,
    table_path: str,
    dfiles: list,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Delete-applying read core shared by the snapshot reader and the
    compaction rewrite: scan exactly ``dfiles`` (active-file rows with
    sequence numbers) through the snapshot's position + equality
    deletes under the spec's ordering rules."""
    files = [r["file_path"] for r in dfiles]
    fseq = {r["file_path"]: r["sequence_number"] for r in dfiles}
    if not files:
        raise ValueError("empty iceberg snapshot")
    pos_rows = _active_file_rows(
        spark, table_path, snapshot_id,
        content=_CONTENT_POSITION_DELETES,
    )  # control-plane: O(delete files) manifest rows
    pos_deletes = [
        (r["file_path"], r["sequence_number"])
        for r in pos_rows
        if not r["file_path"].endswith(".puffin")
    ]
    # spec v3 puffin DVs: parse the (kilobyte-scale) footers driver-side
    # into {referenced data file → (delete seq, ordinals)}; at most one
    # DV per data file by the writer's supersede invariant
    dv_map: dict[str, tuple[int, frozenset]] = {}
    for r in pos_rows:
        if r["file_path"].endswith(".puffin"):
            for ref, (_bseq, poss) in read_puffin_dvs(
                r["file_path"]
            ).items():
                dv_map[ref] = (int(r["sequence_number"]), frozenset(poss))
    eq_deletes = [
        (r["file_path"], r["sequence_number"])
        for r in _active_file_rows(
            spark, table_path, snapshot_id,
            content=_CONTENT_EQUALITY_DELETES,
        )  # control-plane: O(delete files) manifest rows
    ]
    ddl = _current_spark_schema(_load_metadata(table_path))
    reader = spark.read.schema(ddl) if ddl else spark.read
    if not pos_deletes and not eq_deletes and not dv_map:
        return reader.parquet(*files)
    schema = reader.parquet(files[0]).schema  # footer-only
    names = schema.fieldNames()

    def strip(batches):
        import pyarrow.parquet as _pq

        for pdf in batches:
            for path, seq in zip(pdf["path"], pdf["seq"]):
                dels = set()
                for dfp, dseq in pos_deletes:
                    if dseq < seq:
                        continue  # delete predates this data file
                    t = _pq.read_table(
                        dfp, filters=[("file_path", "==", path)]
                    )
                    dels.update(t.column("pos").to_pylist())
                if path in dv_map:
                    dseq, poss = dv_map[path]
                    if dseq >= seq:  # same rule as position deletes
                        dels.update(poss)
                t = _pq.read_table(path)
                keep = [i for i in range(t.num_rows) if i not in dels]
                out = t.take(keep).to_pandas()
                for dfp, dseq in eq_deletes:
                    if dseq <= seq:
                        continue  # strict: applies to OLDER data only
                    dt = _pq.read_table(dfp)
                    eq_cols = dt.column_names
                    dset = set(
                        zip(*(dt.column(c).to_pylist() for c in eq_cols))
                    )
                    if dset and all(c in out.columns for c in eq_cols):
                        mask = out[list(eq_cols)].apply(
                            tuple, axis=1
                        ).isin(dset)
                        out = out[~mask]
                for n in names:
                    if n not in out.columns:
                        out[n] = None  # evolution null-fill
                yield out[names]

    flist = spark.createDataFrame(
        [(f, int(fseq[f])) for f in files], "path string, seq long"
    ).repartition(len(files))
    return flist.mapInPandas(strip, schema)



def iceberg_rewrite_data_files(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int,
    small_file_threshold: int = 1 << 30,
    target_files: int = 1,
) -> int:
    """rewrite_data_files (Iceberg's bin-packing COMPACTION action —
    the operational twin of :func:`delta_optimize` on the Delta side):
    read the active data files smaller than ``small_file_threshold``
    THROUGH the snapshot's position/equality deletes (the rewrite is
    the spec's delete-materialization point), write ``target_files``
    compacted parquet files, and commit one snapshot that DELETEs the
    inputs and ADDs the outputs.  The compacted files carry the new
    commit's sequence number, so older equality deletes no longer
    apply to them — exactly right, their effect is baked into the
    rewritten bytes.  Carried-forward delete files stay in the
    manifests (they may still apply to untouched data files); storage
    reclaim of the replaced inputs is :func:`iceberg_expire_snapshots`'
    job, so time travel below the compaction still reads the original
    layout until expiry.

    Compaction is PER PARTITION, as the reference RewriteDataFiles
    action does: input files group by their partition tuple and each
    group compacts to ≤``target_files`` outputs committed with the
    REAL partition value — never a synthetic one, so partition-pruned
    reads after compaction still resolve every original partition.
    Returns the new metadata version."""
    import glob

    rows = _active_file_rows(
        spark, table_path
    )  # control-plane: O(active files) manifest rows
    inputs = [r for r in rows if r["file_size_in_bytes"] < small_file_threshold]
    if len(inputs) <= target_files:
        raise ValueError("nothing to compact below the threshold")
    groups: dict[str, list] = {}
    for r in inputs:
        groups.setdefault(r["partition"], []).append(r)
    added = []
    for gi, (part_value, grp) in enumerate(sorted(groups.items())):
        df = _read_files_with_deletes(spark, table_path, grp)
        outdir = os.path.join(
            table_path, f"compacted-{snapshot_id}-{gi}"
        )
        df.coalesce(target_files).write.parquet(outdir)
        for p in sorted(glob.glob(f"{outdir}/part-*.parquet")):
            n = spark.read.parquet(p).count()
            added.append(
                {
                    "file_path": p,
                    "partition": part_value,
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(p),
                }
            )
    return iceberg_commit(
        table_path,
        snapshot_id,
        added=added,
        deleted=[r["file_path"] for r in inputs],
    )


def iceberg_rewrite_manifests(
    table_path: str, snapshot_id: int
) -> tuple[int, int, int]:
    """rewrite_manifests (Iceberg's metadata-compaction action — the
    third maintenance operation beside :func:`iceberg_rewrite_data_files`
    and :func:`iceberg_expire_snapshots`): real streaming writers
    append small manifests per commit (modeled here by
    ``max_entries_per_manifest`` splits), so the manifest LIST grows
    and every planner pass opens them all; this action re-commits the
    CURRENT snapshot's live entries into one manifest per (partition,
    content, spec) — the grouping the partition-summary pruning needs —
    without touching any data or delete file.  Sequence numbers ride
    inside each data_file and are preserved verbatim, so delete
    applicability cannot shift.

    Pure metadata, driver-side O(entries) — the same scale the
    writer's carry-forward already handles.  Returns
    (new_version, manifests_before, manifests_after)."""
    before = len(_manifest_list_paths_from(_load_metadata(table_path), None))
    version = iceberg_commit(table_path, snapshot_id, added=[])
    after = len(
        _manifest_list_paths_from(_load_metadata(table_path), None)
    )
    return version, before, after


# ---------------------------------------------------------------------
# Spec v3: deletion vectors in PUFFIN files (Puffin spec + "Deletion
# vectors" of the v3 table spec): a DV is a 64-bit roaring bitmap of
# deleted row ordinals for ONE data file, stored as a blob inside a
# puffin container and referenced from a delete manifest.  v3 replaces
# per-commit position-delete parquets with at-most-ONE DV per data
# file — a new DV for a file supersedes the old one (merged by the
# writer), so readers never union delete files per data file.
# ---------------------------------------------------------------------

_PUFFIN_MAGIC = b"PFA1"
#: shared Delta/Iceberg DV-blob magic (int32 LE 1681511377)
_DV_BLOB_MAGIC = bytes([0xD1, 0xD3, 0x39, 0x64])
_DV_BLOB_TYPE = "deletion-vector-v1"


def write_puffin_dvs(
    path: str,
    dvs: dict[str, list[int]],
    snapshot_id: int,
    sequence_number: int,
) -> dict[str, tuple[int, int]]:
    """Write one puffin file with a ``deletion-vector-v1`` blob per
    referenced data file.  Blob payload per the v3 spec: 4-byte
    big-endian length of (magic + bitmap), the 4-byte DV magic, the
    64-bit RoaringBitmapArray (portable), then a big-endian CRC-32 of
    (magic + bitmap).  Footer: Magic, UTF-8 JSON FileMetadata, its
    int32-LE size, 4 flag bytes (0 — uncompressed), Magic.  Returns
    {referenced data file → (blob offset, blob length)}."""
    import binascii
    import struct as _struct

    from apache_nifi_spark.sources.dv import rbm_array_serialize

    blobs_meta = []
    body = bytearray(_PUFFIN_MAGIC)
    for ref in sorted(dvs):
        bitmap = rbm_array_serialize(sorted(set(dvs[ref])))
        inner = _DV_BLOB_MAGIC + bitmap
        payload = (
            _struct.pack(">I", len(inner))
            + inner
            + _struct.pack(">I", binascii.crc32(inner) & 0xFFFFFFFF)
        )
        off = len(body)
        body += payload
        blobs_meta.append(
            {
                "type": _DV_BLOB_TYPE,
                "fields": [2147483546],  # reserved _deleted field id
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "offset": off,
                "length": len(payload),
                "properties": {
                    "referenced-data-file": ref,
                    "cardinality": str(len(set(dvs[ref]))),
                },
            }
        )
    footer_json = json.dumps(
        {"blobs": blobs_meta, "properties": {}}
    ).encode()
    body += (
        _PUFFIN_MAGIC
        + footer_json
        + __import__("struct").pack("<I", len(footer_json))
        + b"\x00\x00\x00\x00"
        + _PUFFIN_MAGIC
    )
    with open(path, "wb") as f:
        f.write(bytes(body))
    return {
        b["properties"]["referenced-data-file"]: (b["offset"], b["length"])
        for b in blobs_meta
    }


def read_puffin_dvs(path: str) -> dict[str, tuple[int, set[int]]]:
    """Parse a puffin DV file → {referenced data file →
    (sequence_number, deleted ordinals)}.  Verifies the container
    magics and every blob's CRC-32; raises on corruption (a wrong DV
    silently resurrects or deletes rows)."""
    import binascii
    import struct as _struct

    from apache_nifi_spark.sources.dv import rbm_array_deserialize

    with open(path, "rb") as f:
        raw = f.read()
    if raw[:4] != _PUFFIN_MAGIC or raw[-4:] != _PUFFIN_MAGIC:
        raise ValueError(f"not a puffin file: {path}")
    (size,) = _struct.unpack("<I", raw[-12:-8])
    footer = json.loads(raw[-12 - size : -12].decode())
    out: dict[str, tuple[int, set[int]]] = {}
    for b in footer["blobs"]:
        if b["type"] != _DV_BLOB_TYPE:
            continue
        off, ln = b["offset"], b["length"]
        payload = raw[off : off + ln]
        (inner_len,) = _struct.unpack(">I", payload[:4])
        inner = payload[4 : 4 + inner_len]
        (crc,) = _struct.unpack(">I", payload[4 + inner_len : 8 + inner_len])
        if inner[:4] != _DV_BLOB_MAGIC:
            raise ValueError("bad DV blob magic")
        if binascii.crc32(inner) & 0xFFFFFFFF != crc:
            raise ValueError("DV blob CRC mismatch")
        out[b["properties"]["referenced-data-file"]] = (
            int(b["sequence-number"]),
            rbm_array_deserialize(inner[4:]),
        )
    return out


def iceberg_set_ref(
    table_path: str,
    name: str,
    snapshot_id: int,
    ref_type: str = "tag",
) -> int:
    """Named reference (spec §'Refs': the table metadata ``refs`` map
    — ``tag`` pins a snapshot forever, ``branch`` is an independently
    movable head like ``main``): written as a NEW metadata version
    (the spec's atomic metadata swap — refs changes are commits, not
    edits), version-hint bumped.  Returns the new metadata version."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"iceberg ref type must be tag|branch: {ref_type}")
    meta_dir = os.path.join(table_path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    if not any(
        s["snapshot-id"] == snapshot_id for s in meta.get("snapshots", [])
    ):
        raise ValueError(
            f"iceberg ref {name!r}: snapshot {snapshot_id} not in table"
        )
    refs = dict(meta.get("refs", {}))
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    meta["refs"] = refs
    new_version = version + 1
    with open(
        os.path.join(meta_dir, f"v{new_version}.metadata.json"), "w"
    ) as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(new_version))
    return new_version


def iceberg_resolve_ref(table_path: str, name: str) -> int:
    """Resolve a named ref to its snapshot id (spec: ``main`` always
    exists implicitly as the current snapshot).  Raises KeyError for
    an unknown ref — a misspelled tag must fail loudly, never fall
    back to HEAD."""
    meta = _load_metadata(table_path)
    if name == "main" and name not in meta.get("refs", {}):
        cur = meta.get("current-snapshot-id")
        if cur is None:
            raise KeyError("iceberg ref 'main': table has no snapshot")
        return cur
    refs = meta.get("refs", {})
    if name not in refs:
        raise KeyError(
            f"iceberg ref {name!r} not found; known: {sorted(refs)}"
        )
    return refs[name]["snapshot-id"]
