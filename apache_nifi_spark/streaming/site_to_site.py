"""Site-to-site transfer — SURVEY.md §2.11 / §3.3.

NiFi moves FlowFiles between clusters with the site-to-site protocol
(remote process group → peer's input port over TLS port 10000, evidenced
at reference ``scripts.sh:72-98``).  The Spark-native equivalent is a
shared bus: the producer pipeline drains to a durable directory (or
Kafka topic), the consumer pipeline tails that bus as its own stream —
two independent drains, each exactly-once, replace the S2S two-phase
commit.

At scale the bus is an object-store prefix (or Kafka); partitioned
parquet keeps the hand-off splittable so the consumer cluster scans in
parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark.io import scratch
from apache_nifi_spark.streaming.sources import drain

__all__ = ["s2s_push", "s2s_pull"]


def s2s_push(sdf: DataFrame) -> str:
    """Producer half (remote process group → peer input port): drain the
    stream to a fresh bus directory, exactly-once via the drain's
    checkpoint.  Returns the bus path for the consumer."""
    bus = scratch("anspark_s2s_bus_")
    drain(sdf.writeStream.format("parquet").option("path", bus))
    return bus


def s2s_pull(spark: SparkSession, bus: str) -> DataFrame:
    """Consumer half (peer's input port): tail the bus as a file stream
    — the receiving flow's own source, drained independently."""
    schema = spark.read.parquet(bus).schema  # footer-only read
    return spark.readStream.schema(schema).format("parquet").load(bus)
