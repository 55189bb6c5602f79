"""Multi-route streaming sink — RouteOnAttribute fan-out in a stream
(SURVEY.md §2.3 + §4.2 custom pattern 1).

A NiFi connection fans one queue out to N relationships; Structured
Streaming has one sink per query, so the single-pass fan-out lives in
``foreachBatch``: each micro-batch is persisted once, every route
predicate filters the cached batch and appends to its own directory, and
``unmatched`` catches the remainder.  One source scan per batch, N cheap
filtered writes — never N streaming queries re-reading the source.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from apache_nifi_spark.streaming.sources import drain

__all__ = ["route_stream_to_files", "UNMATCHED"]

UNMATCHED = "unmatched"


def route_stream_to_files(
    sdf: DataFrame,
    routes: Mapping[str, Column],
    base_dir: str,
) -> StreamingQuery:
    """Drain ``sdf``, appending each route's rows as parquet under
    ``base_dir/<route>/`` (plus ``base_dir/unmatched/``), and return the
    terminated query.

    Routing strategy is NiFi's "all matching" — a row lands in every
    route whose predicate it satisfies; ``unmatched`` = no predicate
    matched.  Exactly-once per route comes from the drain's checkpoint +
    idempotent parquet append.
    """
    names = list(routes)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            matched = None
            for name in names:
                pred = routes[name]
                batch.filter(pred).write.mode("append").parquet(os.path.join(base_dir, name))
                matched = pred if matched is None else (matched | pred)
            rest = batch if matched is None else batch.filter(~F.coalesce(matched, F.lit(False)))
            rest.write.mode("append").parquet(os.path.join(base_dir, UNMATCHED))
        finally:
            batch.unpersist()

    return drain(sdf.writeStream.foreachBatch(write_batch))
