"""Scripted/UDF surface (SURVEY.md §2.10) — the NiFi 2.x native Python
processor APIs (``FlowFileTransform`` / ``RecordTransform``, the flagship
2.x feature of the pinned engine) plus ``ExecuteScript`` /
``ScriptedTransformRecord`` / ``ExecuteStreamCommand`` analogs.

Shape parity: NiFi 2.x hands a Python class a batch of records and takes
a batch back; Spark's ``mapInPandas`` is the identical contract with
Arrow transfer — so these wrappers are thin on purpose.  Everything here
is the SLOW PATH: per-row Python only when pyspark.sql.functions can't
express the logic (the rest of this package is the fast path).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from apache_nifi_spark.io import with_columns

__all__ = [
    "flowfile_transform",
    "record_transform",
    "scripted_aggregate",
    "execute_stream_command",
]


def flowfile_transform(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType | str,
) -> DataFrame:
    """NiFi 2.x ``FlowFileTransform``: ``fn`` maps a pandas batch to a
    pandas batch (any shape change allowed — 1→1, 1→N splits, filters).

    Arrow-batched ``mapInPandas``; batch size follows
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = fn(batch)
            if len(out):
                yield out

    return df.mapInPandas(run, schema)


def record_transform(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.Series],
    out_col: str,
    out_type: str,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """NiFi 2.x ``RecordTransform`` (scalar form): vectorized column
    derivation — ``fn`` sees the selected columns as a pandas frame and
    returns one Series, appended as ``out_col``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf, struct

    use = list(cols or df.columns)

    def udf(s):
        return fn(s)

    # pandas_udf reads the UDF kind from the type hints; they are set as
    # objects because this module's annotations are strings and pandas
    # is not a module global
    udf.__annotations__ = {"s": pd.DataFrame, "return": pd.Series}
    return df.withColumn(out_col, pandas_udf(udf, out_type)(struct(*use)))


def scripted_aggregate(
    df: DataFrame,
    group_cols: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType | str,
) -> DataFrame:
    """Scripted aggregation (UDAF shape): ``applyInPandas`` grouped map —
    ``fn`` reduces one group's rows to any number of output rows.

    One shuffle on the group keys; each group must fit an executor's
    memory (same bound as NiFi's per-bin state)."""
    return df.groupBy(*group_cols).applyInPandas(fn, schema)


def execute_stream_command(
    df: DataFrame,
    text_col: str,
    argv: Sequence[str],
    out_col: str = "stdout",
) -> DataFrame:
    """``ExecuteStreamCommand``: pipe each row's text through an external
    executable (one process per Arrow batch, newline-framed — NOT one per
    row).  Returns the input plus ``out_col``.

    The per-batch subprocess bounds process-spawn overhead the way NiFi
    amortizes via run-duration micro-batching.  Only for line-oriented
    filters (tr/sed/awk-style); anything stateful belongs in a real UDF.
    """

    def run(batches):
        import subprocess

        for (texts,) in batches:
            lines = [(t or "").replace("\n", " ") for t in texts]
            proc = subprocess.run(
                list(argv),
                input="\n".join(lines) + "\n",
                capture_output=True,
                text=True,
                check=True,
            )
            yield proc.stdout.split("\n")[: len(lines)],

    return with_columns(df, [text_col], run, f"`{out_col}` string")
