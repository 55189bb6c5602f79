"""Record format bridge + file sources/sinks.

NiFi mappings (SURVEY.md §2.1/§2.2/§2.4):

- ``read_records`` / ``write_records`` — the RecordReader / RecordSetWriter
  controller services behind every record-aware processor: one call per
  format, schema explicit (schema-on-read discipline, SURVEY.md §1.3).
- ``write_single_part`` — one parquet data file for a lakehouse commit;
  ``read_parquet_rows`` — the per-file, delete-applying read back.
- ``convert_record`` — the ConvertRecord processor: a pure reader→writer
  format bridge with no row-level logic.
- ``read_binary_files`` — GetFile for opaque payloads: one row per file,
  ``content BINARY`` + path metadata, the FlowFile shape of §1.1.
- ``jdbc_read`` — ExecuteSQL/QueryDatabaseTable: partitioned JDBC scan.
- PutFile conflict strategies map onto Spark save modes: replace →
  ``overwrite``, ignore → ``ignore``, fail → ``error``.

Scale notes: every reader here is a distributed scan (splittable formats
split per block; gzip'd text falls back to file granularity), and every
writer emits one file per partition — ``partition_by`` gives NiFi's
PartitionRecord + PutFile directory layout with partition pruning on
read-back.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.types import StructType

# Formats with a DataFrame reader/writer in this build, plus "cbor" via
# the codec in cbor_codec.py.
_FORMATS = {"parquet", "csv", "json", "text", "orc", "avro", "xml", "cbor"}

# Spark ships the Avro file format but registers no short name for it.
_SPARK_SOURCES = {"avro": "org.apache.spark.sql.avro.AvroFileFormat"}

_DEFAULT_READ_OPTIONS: dict[str, dict[str, str]] = {
    # header carries names; types come from the explicit schema, never
    # from sampling (inference breaks schema discipline and costs a scan)
    "csv": {"header": "true"},
    # one row per <record>; text reads back as written (Spark trims it
    # unless told not to)
    "xml": {"rowTag": "record", "ignoreSurroundingSpaces": "false"},
}
_DEFAULT_WRITE_OPTIONS: dict[str, dict[str, str]] = {
    "csv": {"header": "true"},
    "xml": {"rowTag": "record", "rootTag": "records"},
    # the engine's own container readers (avro_codec.decode_container)
    # refuse Spark's default snappy
    "avro": {"compression": "deflate"},
}


def _check_format(fmt: str) -> str:
    fmt = fmt.lower()
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported record format {fmt!r}; one of {sorted(_FORMATS)}")
    return fmt


def read_records(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """RecordReader: load ``path`` as typed records.

    For text formats pass ``schema`` explicitly — NiFi's reader services
    resolve a schema before parsing, and so do we (PERMISSIVE mode keeps
    malformed rows routable via validate_record, §2.3).
    """
    fmt = _check_format(fmt)
    if fmt == "cbor":
        from .cbor_codec import read_cbor

        if schema is None:
            raise ValueError("cbor reader requires an explicit schema")
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        return read_cbor(spark, path, schema)
    reader = spark.read.format(_SPARK_SOURCES.get(fmt, fmt))
    for k, v in {**_DEFAULT_READ_OPTIONS.get(fmt, {}), **dict(options or {})}.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_records(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    options: Mapping[str, str] | None = None,
) -> None:
    """RecordSetWriter + PutFile: serialize ``df`` under ``path``.

    ``mode`` is the PutFile conflict strategy (overwrite/ignore/error/
    append); ``partition_by`` produces the PartitionRecord directory
    layout (one subdir per key value → partition pruning on read-back).
    """
    fmt = _check_format(fmt)
    if fmt == "cbor":
        from .cbor_codec import write_cbor

        if partition_by:
            raise ValueError("partition_by is not supported for the cbor codec path")
        write_cbor(df, path, mode=mode)
        return
    writer = df.write.format(_SPARK_SOURCES.get(fmt, fmt)).mode(mode)
    for k, v in {**_DEFAULT_WRITE_OPTIONS.get(fmt, {}), **dict(options or {})}.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_single_part(df: DataFrame, path: str) -> str:
    """Write a single-partition frame as parquet under ``path`` and
    return its one part file: the data file that a lakehouse commit (a
    Delta ``add`` or ``cdc`` action, an Iceberg manifest entry, a Hudi
    file slice) names.

    The caller shapes the partition: ``coalesce(1)``, plus any
    ``sortWithinPartitions`` that deletion-vector or position-delete
    ordinals depend on.  Raises ``ValueError`` unless exactly one part
    file was written."""
    df.write.mode("overwrite").parquet(path)
    parts = glob.glob(os.path.join(path, "part-*.parquet"))
    if len(parts) != 1:
        raise ValueError(f"{path}: expected one part file, found {len(parts)}")
    return parts[0]


def read_parquet_rows(
    spark: SparkSession, paths: list[str], schema: StructType, select
) -> DataFrame:
    """Read each parquet file in ``paths`` in its own task and keep the
    rows of the pyarrow Table that ``select(path, table)`` returns, as
    ``schema``: the delete-applying and change-feed reads of a lakehouse
    table (Delta deletion vectors, Iceberg position and equality
    deletes).  A column the file lacks reads as null (schema evolution);
    the others are cast to the schema's Arrow types, so the file's own
    values reach Spark without a pandas hop."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in batches:
            for path in b.column(0).to_pylist():
                # Spark's default INT96 timestamps overflow nanoseconds
                t = select(path, pq.read_table(path, coerce_int96_timestamp_unit="us"))
                for f in arrow:
                    if f.name not in t.column_names:
                        t = t.append_column(f.name, pa.nulls(t.num_rows, f.type))
                yield from t.select(arrow.names).cast(arrow).to_batches()

    files = spark.createDataFrame([(p,) for p in paths], "path string")
    return files.repartition(len(paths)).mapInArrow(run, schema)


def convert_record(
    spark: SparkSession,
    df: DataFrame,
    fmt: str,
    path: str,
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """ConvertRecord: write ``df`` in ``fmt`` and read it back with the
    SOURCE schema (reader→writer bridge, no inference, no row logic).

    Returns the re-read DataFrame so round-trip fidelity is assertable —
    the oracle-checked property (bytes through a text format and back must
    equal the relational input).
    """
    write_records(df, path, fmt, mode="overwrite", options=options)
    return read_records(spark, path, fmt, schema=df.schema, options=options)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """GetFile/FetchFile for opaque payloads: ``binaryFile`` source —
    (path, modificationTime, length, content BINARY) per file.  Content is
    read lazily per-task; listings scale via the file index, not the
    driver."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def jdbc_read(
    spark: SparkSession,
    url: str,
    query: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """ExecuteSQL / QueryDatabaseTable / GenerateTableFetch: JDBC scan.

    With the partition quadruple set this is GenerateTableFetch — the
    executor-parallel range fetch; without it, a single-connection
    ExecuteSQL.  Exercised for real against the embedded Derby engine
    Spark ships (see registry `execute_sql_jdbc`); any networked
    JDBC-compliant store swaps in via ``url``.

    Spark's JDBC source rejects ``query`` + ``partitionColumn`` together,
    so a partitioned read wraps the query as a derived table.
    """
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError("partitioned JDBC read needs lower/upper bound and numPartitions")
        reader = (
            reader.option("dbtable", f"({query}) fetch_sub")
            .option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions)
        )
    else:
        reader = reader.option("query", query)
    for k, v in dict(options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_write(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    options: Mapping[str, str] | None = None,
) -> None:
    """PutDatabaseRecord / PutSQL: executor-parallel JDBC insert — each
    partition opens one connection and batches its rows (Spark's
    ``batchsize``, default 1000).  ``mode="overwrite"`` recreates the
    table (NiFi's truncate-and-load recipe); ``append`` is the incremental
    put."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in dict(options or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()
