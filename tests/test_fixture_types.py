"""Fixture-type contract tests.

The events.ts physical parquet type has flip-flopped across driver rounds
(TIMESTAMP(NANOS) read as BIGINT via nanosAsLong vs TIMESTAMP(MICROS) read
as TIMESTAMP_NTZ) and broke the loader twice.  These tests write BOTH
shapes on the fly and assert the batch and streaming loaders normalize
each to the same instants — the loader must never assume a physical type.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from apache_nifi_spark import io as anio
from apache_nifi_spark.streaming.sources import run_to_memory, stream_events

_INSTANTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 6, 15, 12, 30, 45, 654321),
    datetime.datetime(2025, 12, 31, 23, 59, 59, 999999),
]


def _write_events(path: str, unit: str) -> None:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_INSTANTS, pa.timestamp(unit)),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        }
    )
    pq.write_table(table, path)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_table_adapts_to_physical_ts_type(spark, tmp_path, unit):
    sf_dir = str(tmp_path / unit)
    os.makedirs(sf_dir)
    _write_events(os.path.join(sf_dir, "events.parquet"), unit)
    df = anio.load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == _INSTANTS


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_events_adapts_to_physical_ts_type(spark, tmp_path, unit):
    sf_dir = str(tmp_path / f"s_{unit}")
    os.makedirs(sf_dir)
    _write_events(os.path.join(sf_dir, "events.parquet"), unit)
    sdf = stream_events(spark, sf_dir)
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    out = run_to_memory(sdf)
    got = sorted(r.ts for r in out.select("ts").collect())
    assert got == _INSTANTS


def test_real_fixture_loads_and_ts_is_ntz(spark, sf_dir):
    """The driver's actual fixture must load whatever its physical type is."""
    anio._scan_table.cache_clear()
    df = anio.load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert df.limit(1).count() == 1
