"""Sources & sinks: NiFi's Get*/List*/Fetch*/Put* processor families and
the RecordReader/RecordSetWriter controller services (SURVEY.md §2.1, §2.2),
re-expressed as Spark DataFrameReader/Writer plumbing.

Batch file IO lives in :mod:`formats`; continuous ingestion is
:mod:`apache_nifi_spark.streaming.sources` (the List+Fetch stateful pair).
"""

from apache_nifi_spark.sources.bucketed import bucketed_table, write_bucketed
from apache_nifi_spark.sources.formats import (
    convert_record,
    jdbc_read, jdbc_write,
    read_binary_files,
    read_records,
    write_records,
    write_single_part,
)
from apache_nifi_spark.sources.jdbc import (
    generate_table_fetch,
    incremental_fetch,
    list_database_tables,
    plan_table_ddl,
    update_database_table,
)

__all__ = [
    "bucketed_table",
    "write_bucketed",
    "convert_record",
    "jdbc_read",
    "generate_table_fetch",
    "list_database_tables",
    "plan_table_ddl",
    "update_database_table",
    "read_binary_files",
    "read_records",
    "write_records",
    "write_single_part",
]
