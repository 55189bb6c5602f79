"""SparkSession factory.

NiFi's engine runtime (the long-running JVM configured by the reference's
``base/nifi/configmap.yaml`` / ``nifi-deploy.yaml``) maps onto a single
SparkSession here.  Defaults are chosen for correctness-vs-oracle first
(UTC session timezone — DuckDB timestamps are UTC-naive) and for scale
second (AQE on, skew-join handling on, broadcast threshold tuned).

At 100 TB the same builder runs unchanged on a real cluster: everything
below is standard Spark SQL conf, nothing local-mode specific except the
``master`` argument which callers override via ``SPARK_GRAFT_CPUS``.

The JVM starts from a dynamic class-data-sharing archive of the classes a
Spark session loads (``cds.py``).  It is cached per user in
``$XDG_CACHE_HOME/spark-graft/cds`` (``~/.cache/spark-graft/cds`` when
unset), about 145 MB per Java home and Spark jar set, and saves about 4 s
of launch and 3 s of warm-up in every later process.  The first process on
a host pays once: before its own launch, ``get_spark`` runs a one-query
session in a child process whose JVM writes the archive as it exits
(35-45 s).  Delete the directory to reset it; put ``-Xshare:off`` in
``$SPARK_GRAFT_JAVA_OPTS`` to turn it off.

A JVM launched with a local master writes ``file:`` paths through the
engine's FileSystem (``localfs.py``), which sets permissions in-process
where Hadoop's stock one forks a ``chmod`` per file it creates.  Its jar
is compiled once with the Java home's ``javac`` into
``$XDG_CACHE_HOME/spark-graft/jvm/<key>.jar``, keyed by the source's hash
and the Java home (1-5 s on a cold cache, inside the first
``get_spark``), and appended to the class path after Spark's jars, so
the class-data archive still maps and its key is unchanged.  A non-local
master or a host without ``javac`` keeps the stock FS and logs why.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from apache_nifi_spark import cds, localfs

__all__ = ["get_spark", "stop_spark"]

# The directory that holds the ``apache_nifi_spark`` package.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "apache-nifi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).  On a
        real cluster pass ``None`` via spark-submit and let the submitter
        set the master.
    shuffle_partitions:
        Default: number of local cores (small-SF testing).  At scale this
        is overridden; AQE coalesces post-shuffle partitions anyway.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    extra_conf = extra_conf or {}
    memory = extra_conf.get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Oracle parity: DuckDB compares naive/UTC timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime re-plan, skew-join splitting, and
        # post-shuffle coalescing — the scale path for 100 TB inputs.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for toPandas(), which the oracle checks use; mapInArrow
        # and pandas UDFs move Arrow batches whatever this conf says.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from the engine's daemon (pyworker.py), which
        # stops Python < 3.12 from re-parsing pyspark.zip at the start of
        # every task.  Measured on Python 3.11, 4-core host: one task's
        # invalidate_caches() over 16 zip importers 115-155 ms -> 0.1 ms;
        # Python-worker CPU per stream_stateful_running_totals drain
        # (sf0.01, median of 8 interleaved drains) 2.6 -> 0.9 CPU-s.
        .config("spark.python.daemon.module", "apache_nifi_spark.pyworker")
        # The daemon and the workers import the engine whatever the JVM's
        # working directory; Spark merges this into the worker's PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
        # PySpark's per-API-call error-context capture walks the Python
        # stack and makes two extra py4j round-trips on EVERY DataFrame
        # method (pyspark/errors/utils.py _with_origin) — measured
        # ~1 s per mega-flow compile (413 captures) and a diffuse tax
        # on every query construction.  An engine compiles plans
        # programmatically; the enriched "which user line built this
        # column" context has no reader here, so trade it for driver
        # CPU.  (r16 optimization; standard conf, default true.)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Fixture events.parquet carries TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert in io.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast joins for bounded dimension tables (LookupRecord analog).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Driver heap: Spark's 1g default is sized for a thin cluster
        # driver; in local mode the driver JVM *is* every executor, so
        # broadcast builds + 32 concurrent tasks need real heap (1g OOMs
        # broadcast construction at sf≥1).  Default: half the host's
        # memory, at most 24g ($SPARK_GRAFT_DRIVER_MEM overrides it).
        # Honored only at JVM launch — a getOrCreate against a live
        # session keeps its existing heap.
        .config("spark.driver.memory", memory)
        # Keep driver result transfers bounded — no huge collects by design.
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
        # ContextCleaner frees broadcasts/shuffles only when the driver
        # GCs; the default periodic GC (30 min) never fires inside a
        # minutes-long local run, so a 200-query session accumulates
        # executor-side state and slows tail queries.  1 min keeps the
        # steady state flat; on a real cluster this conf is standard.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    # Whole-stage codegen compiles one or more Janino classes per
    # unique plan; a long session over hundreds of distinct queries
    # fills Java 17's default 240 MB reserved code cache, after which
    # the JIT stops compiling and tail queries run interpreter-tier
    # (diffuse 20-40 % slowdowns late in a suite).  512 MB keeps the
    # full registry hot; extra flags (profiling, GC logs) pass through
    # $SPARK_GRAFT_JAVA_OPTS.  Standard long-running-engine JVM conf.
    # r16 added -XX:+ExplicitGCInvokesConcurrent on the unverified
    # theory that explicit/periodic GCs caused mid-query STW spikes;
    # the r17 full-suite A/B (2 runs per side, interleaved, same
    # tree) measured a WASH (per-query geomean ON/OFF 0.996 over
    # 477 rows, streaming tail not flag-dependent) and the one
    # pathological outlier of the four runs (kmeans 8.6 s) landed
    # on an ON run — concurrent cycles started by between-query
    # System.gc() hygiene bleed INTO the next timed queries.
    # Dropped: STW collections between queries are unbilled and
    # deterministic.
    java_options = (
        "-XX:ReservedCodeCacheSize=512m " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    ).strip()
    jar = localfs.plan(master)
    if jar is not None:
        for k, v in localfs.CONFS.items():
            builder = builder.config(k, v)
    with cds.launch(java_options, memory, extra_conf, class_path=jar) as java_options:
        builder = builder.config("spark.driver.extraJavaOptions", java_options)
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()


def _default_driver_memory() -> str:
    """Half the host's memory, at most 24g: in local mode the driver JVM
    is every executor too, and a heap the size of the host lets it grow
    until the kernel's OOM killer takes it."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, total_kb // 2048)}m"


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
