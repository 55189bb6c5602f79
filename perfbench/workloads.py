"""The benchmark's workloads: which registry queries run, on what input.

Every job is a registry query (``apache_nifi_spark.registry.QUERIES``) with
a DuckDB oracle (``ORACLES``), built on the workload's generated input and
run to the ``noop`` sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated input (gen.table_rows)
    jobs: tuple[str, ...]
    conf: dict[str, str] = field(default_factory=dict)


#: Scan split sizes of ``bench.py``'s small-scale setting: one task per
#: single-file table.
SMALL_SPLITS = {
    "spark.sql.files.maxPartitionBytes": "512m",
    "spark.sql.files.openCostInBytes": "64m",
}

#: Scan split sizes of ``bench.py``'s large-scale setting: multi-row-group
#: files split into several scan tasks, as a large table does.
LARGE_SPLITS = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "1m",
}

#: Why each workload exists is in BENCHMARK.json and perfbench/README.md.
WORKLOADS = {
    w.name: w
    for w in (
        # JVM execution: join, aggregation, a partitioned file write
        Workload(
            "etl_sf01",
            0.1,
            ("flagship_revenue", "q1_pricing_summary", "put_file_partitioned"),
            LARGE_SPLITS,
        ),
        # driver-bound: an iterative loop, an HTTP server round trip, and a
        # stateful streaming drain through the pandas-UDF state path
        Workload(
            "flows_sf001",
            0.01,
            (
                "cluster_kmeans_embeddings",
                "invoke_http_enrich",
                "stream_stateful_running_totals",
            ),
            SMALL_SPLITS,
        ),
    )
}
