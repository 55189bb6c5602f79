"""Streaming sources and the drain kernel.

``stream_events`` is the ListFile/FetchFile + TailFile analog: the file
stream source keeps seen-file state exactly where NiFi's ListFile keeps
its cluster state (SURVEY.md §2.1 row 1).  ``max_files_per_trigger``
is the back-pressure/ControlRate knob.

At scale the same code reads a landing-zone directory or (swapping the
format string) a Kafka topic.

``drain`` is the one place that starts an availableNow query: it sets
the trigger, the checkpoint and the drain-scoped session confs, and
blocks until the query terminates.  Sinks configure a
``DataStreamWriter`` and hand it over; ``run_to_memory`` is the
memory-sink caller the registry and the tests use.
"""

from __future__ import annotations

import functools
import os
import pathlib
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from apache_nifi_spark.io import normalize_events_ts, scratch

#: serializes every drain's scoped session confs — the session conf is
#: process-global, so the save/set/restore must not interleave across
#: threads (round-10 advice)
_DRAIN_CONF_LOCK = threading.Lock()

@functools.cache
def _landing(spark: SparkSession, src: str) -> tuple[str, StructType]:
    """Stage the single parquet file ``src`` as a landing directory and
    read its schema, once per session and file: queries that open the
    same stream twice (self-union dedup, stream-stream joins) and
    repeated bench runs reuse the directory and the footer read.

    FileStreamSource wants a directory (the landing zone, §3.2), so the
    file is linked into one: zero data copy."""
    landing = scratch("anspark_landing_")
    # abspath: a relative sf_dir would otherwise create a symlink
    # resolved relative to the LANDING dir — silently broken
    os.symlink(os.path.abspath(src), os.path.join(landing, os.path.basename(src)))
    return landing, spark.read.parquet(landing).schema


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open the events fixture (or any directory of same-schema parquet)
    as a stream, normalizing the nanos timestamp exactly like the batch
    loader so batch-parity oracles line up."""
    # Self-contained nanos handling (same rationale as io.load_table): the
    # schema sniff below reads the parquet footer and fails on
    # TIMESTAMP(NANOS) unless the legacy conf is on in *this* session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = path or f"{sf_dir}/events.parquet"
    if os.path.isfile(src):
        src, schema = _landing(spark, src)
    else:
        schema = spark.read.parquet(src).schema  # footer read only
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.load(src)
    # Watermarks require TIMESTAMP (not NTZ); session tz is UTC, so the
    # instant is identical — run_to_memory casts back to NTZ for the
    # oracle-parity comparison.  Dtype-adaptive: handles both the nanos
    # (bigint) and µs (timestamp_ntz) fixture shapes.
    return normalize_events_ts(sdf, "timestamp")


def drain(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    shuffle_partitions: int | None = None,
    final_no_data_batch: bool = True,
) -> StreamingQuery:
    """Run a configured streaming writer as one synchronous availableNow
    drain and return the terminated query.

    The caller sets the sink on ``writer`` (memory + ``queryName`` +
    ``outputMode``, ``foreachBatch(fn)``, or ``format("parquet")`` +
    ``path``); this function owns the rest of the drain: the
    ``availableNow`` trigger, the checkpoint, the scoped session confs,
    and the blocking wait.  Every availableNow query in the engine starts
    here.

    The checkpoint directory plays the FlowFile-repository role
    (SURVEY.md §1.1).  With ``checkpoint=None`` the drain gets a fresh
    private ``io.scratch`` directory, so invocations stay independent,
    and removes it once ``awaitTermination()`` returns cleanly: the
    checkpoint is the query's restart log, and a drained availableNow
    query that nobody else can name has no restart.  A failed drain's
    checkpoint stays (until process exit) for inspection.  A caller
    that replays batches against a checkpoint it keeps passes it in;
    the drain never touches it.

    Every drain scopes its session confs to the drain: they are set
    under ``_DRAIN_CONF_LOCK``, read at query START, and restored (or
    unset, if they were unset) after the synchronous drain, even when
    ``start()`` raises, so batch plans in the same session keep the
    session defaults.  The lock is not re-entrant and is held for the
    whole drain, so a ``foreachBatch`` callback must never start another
    drain: it would wait forever on the lock this drain holds.

    Every checkpoint is written through the session's checkpoint
    manager (Spark's default is the FileContext one).  On a ``file:``
    checkpoint the engine's FileSystem (``localfs.py``) sets the mode of
    each file and reads the link status of each rename in-process, where
    Hadoop's stock one forks a ``chmod`` and a ``readlink`` without
    libhadoop (per stream_stateful_running_totals drain at sf0.01: 60
    ``chmod`` + 176 ``readlink`` with the stock FS, none with the
    engine's; ``tools/fork_count.py`` counts them).

    ``shuffle_partitions`` scopes ``spark.sql.shuffle.partitions`` to
    the drain; ``None`` keeps the session setting.

    ``final_no_data_batch=False`` scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` to the
    drain, which turns off EVERY no-data micro-batch of the drain, not
    only the trailing one.  Spark runs an EMPTY micro-batch whenever the
    watermark advances without new data — between data batches of a
    multi-batch availableNow run as well as after the last one — so
    watermark-gated operators can emit/evict; each is a full extra
    round of planning + one commit per state-store instance (measured:
    the 8-partition stream-stream join pays 4 stores × 8 partitions =
    32 commits plus ~0.8 s wall for the trailing one).  ONLY pass False
    when the sink's rows provably don't depend on watermark-triggered
    emission in ANY batch, intermediate ones included — an append-mode
    INNER stream-stream join (matches emit during data batches; no-data
    batches only evict state) or arrival-time dedup
    (dropDuplicatesWithinWatermark emits first occurrences on arrival).
    Watermark-FINALIZED outputs — append-mode window aggregates,
    left-outer/expiry joins — need those batches to emit at all, so
    they keep the default.  Semantics-neutral at any scale for the
    eligible shapes: the conf changes when state is reclaimed on a
    drain-and-stop run, never what is emitted.
    """
    confs = {}
    private = None
    if checkpoint is None:
        private = scratch("anspark_cp_")
        # an explicit file: URI keeps the checkpoint local whatever
        # fs.defaultFS says
        checkpoint = pathlib.Path(private).as_uri()
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not final_no_data_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    sess = writer._spark
    # The save/set/restore of the session conf is a read-modify-write on
    # PROCESS-GLOBAL state: two concurrent drains (e.g. REST schedules)
    # interleaving it could permanently leak a temporary value as the
    # session default (round-10 advice).  The confs are read at stream
    # START, so the critical section must span the whole synchronous
    # drain; concurrent drains serialize here, which at availableNow
    # fixture scale is the same wall as the state-store contention they
    # would otherwise create.
    with _DRAIN_CONF_LOCK:
        saved = {k: sess.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            sess.conf.set(k, v)
        try:
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            for k, v in saved.items():
                if v is None:
                    sess.conf.unset(k)
                else:
                    sess.conf.set(k, v)
    if private is not None:
        # a state-store maintenance thread may still touch the directory;
        # whatever it leaves goes with the scratch root at exit
        shutil.rmtree(private, ignore_errors=True)
    return q


_ONE_WAVE = object()


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    query_name: str | None = None,
    shuffle_partitions: int | None | object = _ONE_WAVE,
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory-sink table (see
    ``drain``) and return the materialized table.

    ``shuffle_partitions`` sets the state-store count: every stateful
    operator instantiates one store PER shuffle partition PER
    micro-batch, and at fixture scale the per-store commit overhead
    dominates (stream-stream joins: 5.5 s → 2.2 s going 32 → 8 stores).
    Left out, it is ``min(8, defaultParallelism)``, ONE task wave (4-core
    host, stateful running totals at sf0.01, median of 12 drains: 0.725 s
    with 8 stores, 0.560 s with 4).  An int sets the count; ``None``
    keeps the session setting — at real scale, size to state volume.
    """
    if shuffle_partitions is _ONE_WAVE:
        shuffle_partitions = min(8, sdf.sparkSession.sparkContext.defaultParallelism)
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    drain(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        shuffle_partitions=shuffle_partitions,
        final_no_data_batch=final_no_data_batch,
    )
    out = sdf.sparkSession.table(name)
    # Oracle parity: DuckDB TIMESTAMP is tz-naive; with a UTC session tz the
    # instants match, only the Spark-side type differs — normalize it.
    ts_cols = [c for c, t in out.dtypes if t == "timestamp"]
    for c in ts_cols:
        out = out.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return out
