"""Streaming PutDatabaseRecord: micro-batches into a JDBC table with
exactly-once semantics.

Structured Streaming's foreachBatch gives at-least-once delivery on
retry; the standard cure is per-batch idempotency — every row carries
its ``__batch_id``, and a (re)delivered batch first deletes its own
rows (delete-then-insert), so a replay after a mid-batch failure can
never double-count.  The drain's checkpoint (offset log) + idempotent
sink = exactly-once, the same contract the file sinks get from their
commit logs.

The DELETE runs driver-side over one JDBC connection (bounded
control-plane work: one statement per micro-batch); the INSERT is the
executor-parallel batched ``jdbc_write``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.streaming.sources import drain

__all__ = ["stream_to_jdbc"]


def stream_to_jdbc(
    sdf: DataFrame,
    url: str,
    table: str,
    options: dict[str, str] | None = None,
) -> None:
    """Drain a streaming DataFrame into a JDBC table (availableNow) with
    per-batch idempotency.  Blocks until the drain completes."""
    from apache_nifi_spark.sources import jdbc_write

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        driver = (options or {}).get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        try:
            conn = jvm.java.sql.DriverManager.getConnection(url)
            try:
                st = conn.createStatement()
                st.executeUpdate(
                    f'DELETE FROM {table} WHERE "__batch_id" = {int(batch_id)}'
                )
                st.close()
            finally:
                conn.close()
        except Exception:
            pass  # first batch: table does not exist yet — append creates it
        jdbc_write(
            batch_df.withColumn("__batch_id", F.lit(int(batch_id))),
            url,
            table,
            mode="append",
            options=options,
        )

    drain(sdf.writeStream.foreachBatch(write_batch))
