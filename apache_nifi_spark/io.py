"""Fixture loading: the tables every query reads.

Record formats (the RecordReader/RecordSetWriter services and the
ConvertRecord bridge) live in :mod:`apache_nifi_spark.sources.formats`.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; ``load_table`` never caches or collects, so the 100 TB
path streams through executors untouched by the driver.

Python row code runs over Arrow batches through one of two seams:
:func:`flat_map` for code that makes new rows (byte parsers, codecs,
synthetic inputs) and :func:`with_columns` for callbacks that keep their
input rows and add columns (wire clients, per-row transforms).

Scratch space (staged fixtures, landing zones, stream checkpoints, query
outputs) comes from :func:`scratch`, the engine's one owner of temporary
directories.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "TABLES",
    "flat_map",
    "with_columns",
    "load_table",
    "load_all",
    "register_views",
    "widen_if_narrow",
    "normalize_events_ts",
    "scratch",
]

#: Fixture tables the driver materializes (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scratch(prefix: str) -> str:
    """Make a fresh directory named ``<prefix>…`` under the process's
    scratch root and return its path.

    The root is one ``anspark_*`` directory made on first use under
    ``tempfile.gettempdir()`` as it is then, so a ``TMPDIR`` or
    ``tempfile.tempdir`` set before the first query still applies.  One
    ``atexit`` hook removes the root and everything under it when the
    interpreter exits; nothing is removed earlier unless its owner does
    it (``streaming.sources.drain`` removes its private checkpoint)."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="anspark_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def normalize_events_ts(df: DataFrame, target: str = "timestamp_ntz") -> DataFrame:
    """Dtype-adaptive ``ts`` normalization — never assume the fixture's
    physical parquet type.

    The fixtures have shipped ``events.ts`` as both TIMESTAMP(NANOS)
    (read as BIGINT via ``spark.sql.legacy.parquet.nanosAsLong``) and
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) across rounds; branching on
    the *read* dtype makes every loader correct under either:

    - ``bigint`` → nanos epoch; integer ``div 1000`` truncates ns→µs
      exactly like DuckDB/pandas (a double division would lose precision,
      ns epochs exceed 2^53).
    - any timestamp flavor → already µs-resolution; just cast to
      ``target``.

    ``target`` is ``timestamp_ntz`` for batch (DuckDB's naive-timestamp
    oracle semantics) and ``timestamp`` for streaming (watermarks require
    TIMESTAMP; the session tz is UTC so the instant is identical).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype is None:
        return df
    if dtype == "bigint":
        col = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        col = F.col("ts")
    return df.withColumn("ts", col.cast(target))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (GetFile/FetchFile analog, SURVEY.md §2.1).

    ``events.ts`` is normalized to microsecond TIMESTAMP_NTZ whatever the
    parquet physical type is — see :func:`normalize_events_ts`.

    The ``nanosAsLong`` conf is set here (runtime-settable, idempotent)
    rather than only at session build so callers with their own
    SparkSession — including the correctness driver — read a
    TIMESTAMP(NANOS) events.parquet without PARQUET_TYPE_ILLEGAL; it is
    a no-op for µs fixtures.

    The returned DataFrame is cached per (session, sf_dir, table):
    ``spark.read.parquet`` costs a ~120 ms schema-inference round-trip,
    and a DataFrame is an immutable lazy plan, so handing back the same
    scan node to every query is free — Catalyst re-optimizes per query
    regardless.  The fixtures are read-only, so the plan can't go stale.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _scan_table(spark, sf_dir, name)


@functools.cache
def _scan_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df, "timestamp_ntz")
    return df


def _arrow_fields(schema: str | T.StructType):
    """``(StructType, pyarrow schema)`` of a DDL string or ``StructType``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return schema, to_arrow_schema(schema)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | T.StructType
) -> DataFrame:
    """A driver-side frame of ``rows`` (tuples in ``schema`` order) as a
    ``LocalRelation``, built from a ``pyarrow.Table`` typed from
    ``schema``: collecting it runs no Spark job, where a Python list
    handed to ``createDataFrame`` becomes an RDD scan that runs one."""
    import pyarrow as pa

    schema, arrow = _arrow_fields(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow,
        ),
        schema,
    )


def flat_map(
    df: DataFrame,
    cols: list[str],
    fn: Callable[..., Iterable[tuple]],
    schema: str | T.StructType,
) -> DataFrame:
    """Run ``fn(*values)`` once per row of ``df.select(*cols)`` on the
    executors, over Arrow batches (``mapInArrow``).

    ``fn`` receives Python values (``int``, ``bytes``, ``str``,
    ``datetime``, ``list``, ``None``) and returns an iterable of output
    tuples in ``schema`` order: none drops the row, one maps it, several
    explode it.  ``schema`` is a DDL string or a ``StructType``; each
    output column is built with ``pa.array`` at the schema's Arrow type,
    so a nullable ``bigint`` keeps values above 2**53 exact (a pandas
    frame would have stored it as float64)."""
    schema, arrow = _arrow_fields(schema)

    def run(batches):
        import pyarrow as pa

        for b in batches:
            rows = [o for r in zip(*(c.to_pylist() for c in b.columns)) for o in fn(*r)]
            out = zip(*rows) if rows else [[]] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(out, arrow)], schema=arrow
            )

    return df.select(*cols).mapInArrow(run, schema)


def with_columns(
    df: DataFrame,
    cols: list[str],
    fn: Callable[[Iterator[list[list]]], Iterable[Iterable[list]]],
    fields: str | T.StructType,
) -> DataFrame:
    """Add (or replace) ``fields`` on every row of ``df``, computed by a
    per-partition callback over Arrow batches (``mapInArrow``).

    ``fn(batches)`` is called once per partition; ``batches`` yields, for
    each Arrow batch, one Python list per ``cols`` entry (``to_pylist()``
    values).  For each batch, in order, ``fn`` yields one list per field,
    each as long as that batch, so a per-partition client is a ``with``
    around the loop.  As in ``DataFrame.withColumns``, a field that names
    an existing column replaces it in place; the others are appended.
    Every other column is the input batch's own Arrow array, so values
    pandas cannot hold (bigints above 2**53 next to a null, timestamps
    outside the nanosecond range) pass through exactly."""
    fields, arrow = _arrow_fields(fields)
    new = {f.name: f for f in fields}
    schema = T.StructType(
        [new.get(f.name, f) for f in df.schema.fields]
        + [f for f in fields if f.name not in df.columns]
    )

    def run(batches):
        import pyarrow as pa

        pending = []

        def values():
            for b in batches:
                pending.append(b)
                yield [b.column(c).to_pylist() for c in cols]

        for out in fn(values()):
            if not pending:
                raise ValueError("with_columns: fn yielded more batches than it was given")
            b = pending.pop(0)
            built = {}
            for v, f in zip(out, arrow, strict=True):
                if len(v) != b.num_rows:
                    raise ValueError(
                        f"with_columns: {f.name} has {len(v)} values for {b.num_rows} rows"
                    )
                built[f.name] = pa.array(v, type=f.type)
            arrays = [built.pop(n, b.column(n)) for n in b.schema.names]
            yield pa.RecordBatch.from_arrays(
                arrays + list(built.values()), names=b.schema.names + list(built)
            )
        if pending or next(batches, None) is not None:
            raise ValueError("with_columns: fn yielded fewer batches than it was given")

    return df.mapInArrow(run, schema)


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` when the scan has
    fewer split tasks than HALF the cores.

    The test fixtures are single-file, single-row-group parquet, so any
    CPU-heavy per-row work downstream of the scan (decimal aggregation,
    XPath parsing, regex extraction) would otherwise pin to ONE task while
    31 cores idle.  At real scale a 100 TB table has thousands of row
    groups and this is a no-op — the guard makes the exchange a
    small-input-only cost, mirroring the probe `minhash_near_duplicates`
    already uses.

    Two lessons measured at sf1 (BASELINE.md §D): count SPLITS, not
    files — ``inputFiles()`` says 1 for a 135 MB file that
    maxPartitionBytes already splits into 34 scan tasks, which made the
    old guard fire a full 6M-row exchange under an already-parallel
    scan; and only widen below par/2 — at 17 of 32 tasks the exchange
    costs more than the extra parallelism repays (q1 1.42 s plain vs
    1.85 s widened).

    Apply AFTER pushed-down filters (a repartition above the scan would
    block predicate pushdown), BEFORE the expensive projection/agg.

    Split counting (r16 optimization): the old probe was
    ``df.rdd.getNumPartitions()``, which analyzes + optimizes the whole
    plan and throws the result away — measured 0.13-0.2 s of pure
    driver time PER CALL on a fresh plan, paid by every widen-using
    query construction (~60 call sites × best-of-2 bench runs).  The
    split count is instead computed from the scan's file metadata with
    Spark's own ``FilePartition.maxSplitBytes`` formula (same conf
    inputs: maxPartitionBytes, openCostInBytes, bytesPerCore over
    defaultParallelism), which costs one ``inputFiles()`` logical-plan
    walk (~3 ms).  Non-file plans (checkpointed RDDs, in-memory
    relations) and non-local URIs keep the RDD probe fallback — on a
    real cluster those are exactly the already-parallel cases where
    no-widen is the right answer anyway.
    """
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    n_splits = _estimated_scan_splits(df, par)
    if n_splits is None:
        try:
            n_splits = df.rdd.getNumPartitions()
        except Exception:
            n_splits = par
    if n_splits < max(par // 2, 1):
        return df.repartition(par)
    return df


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string (plain digits or k/m/g/t
    suffix, case-insensitive, optional 'b')."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024)):
        if s.rstrip("b").endswith(suf):
            s = s.rstrip("b")[: -1]
            mult = m
            break
    return int(float(s) * mult)


def _estimated_scan_splits(df: DataFrame, par: int) -> int | None:
    """Spark's scan split count from file metadata (None = not a local
    file scan, caller falls back to the RDD probe).

    Mirrors ``FilePartition.maxSplitBytes``: maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, bytesPerCore)) with
    bytesPerCore = Σ(size+openCost)/defaultParallelism, then packs
    splits greedily → partition count ≈ ceil(Σ(size+openCost) /
    maxSplitBytes).  Parquet fixtures are splittable, so no
    unsplittable-file branch is needed; estimate drift of ±1 split
    cannot flip the par/2 gate decision except at the boundary, where
    either choice was measured equivalent (the guard exists to catch
    1-vs-32, not 15-vs-17).

    Known blind spots (r16 advice — acceptable for a widen gate, noted
    so nobody reuses this as an exact split count): ``inputFiles()``
    reflects the relation BEFORE partition pruning, so on a
    directory-partitioned table with pushed partition filters the
    estimate can overcount splits and skip a widen the RDD probe would
    have applied (perf drift only, never wrong results); and for a
    multi-scan plan (joins/unions) it sums ALL sources' files, again
    erring toward not widening — the conservative side for an exchange
    that is pure overhead when misapplied."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    conf = df.sparkSession.conf
    open_cost = _size_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304"))
    max_pb = _size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    total = 0
    for uri in files:
        if not uri.startswith("file:"):
            return None
        path = uri[len("file://"):] if uri.startswith("file://") else uri[len("file:"):]
        try:
            total += os.stat(path).st_size + open_cost
        except OSError:
            return None
    bytes_per_core = total // max(par, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    return max(1, -(-total // max(max_split, 1)))


def pin_for_rescan(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` a frame that an iterative control loop will
    re-scan once per round (k-means, k-center, PQ training, power
    iteration), keeping the upstream plan's partition width.

    r17 measurement note: r16 added a byte-proportional ``coalesce``
    here (one partition per 64 MB of scan bytes) on the theory that
    kilobyte-scale pinned frames shouldn't pay a core-width task wave
    per round.  A strict same-window A/B (the r16 verdict's item 1)
    showed the opposite: the iterative consumers' per-round work is
    O(rows × k × dim) COMPUTE, not I/O, so a bytes-based partition
    budget serialized the loops onto one core — kcenter 2.96 → 1.2 s,
    PQ 2.5 → 0.96 s, kmeans 1.5 → 0.7 s, semdedup 2.2 → 1.3 s,
    dominant_direction 1.35 → 0.95 s at sf0.1 when the coalesce was
    REMOVED (best-of-2, A/B/A/B).  The upstream width (scan splits, or
    the widen gate's core-width) already follows data size at scale,
    so the pin keeps it.  ``localCheckpoint(eager=False)`` stays: every
    round re-reads materialized blocks instead of replaying the
    quantize projection, and the lineage truncation keeps per-round
    plans flat.
    """
    return df.localCheckpoint(eager=False)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so flows can use ``spark.sql``
    (QueryRecord / JoinEnrichment-SQL analogs run against these)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
