"""The lazy catalog: ``load_tables`` reads a table on its first access
only, keeps it for the mapping's life, and shares nothing between
calls (so every builder call still resolves its own tables)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampType

from iceberg_twist_spark.catalog import TABLES, load_tables


def test_load_tables_reads_on_first_access(spark, sf_dir, jobs):
    tables, n = jobs(lambda: load_tables(spark, sf_dir))
    assert n == 0, f"load_tables ran {n} jobs (expected 0)"
    li, n = jobs(lambda: tables["lineitem"])
    assert n == 1, f"first lineitem access ran {n} jobs (expected 1)"
    again, n = jobs(lambda: tables["lineitem"])
    assert n == 0 and again is li


def test_load_tables_is_a_tables_ordered_mapping(spark, sf_dir):
    tables = load_tables(spark, sf_dir)
    assert list(tables) == list(TABLES)
    assert len(tables) == len(TABLES)
    with pytest.raises(KeyError):
        tables["nope"]
    assert "nope" not in tables and "orders" in tables
    assert not isinstance(tables["events"].schema["ts"].dataType, LongType)


def test_events_ns_timestamps_truncate_to_micros(spark, tmp_path):
    """An ns-precision ``events.ts`` (read as int64 nanos, see
    session.pin_session_defaults) becomes a µs TimestampType on first
    access, floor-truncated like DuckDB's TIMESTAMP_NS → TIMESTAMP
    cast."""
    ns = [1_700_000_000_123_456_789, 1_700_000_000_999_999_999]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    events = load_tables(spark, str(tmp_path))["events"]
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    got = [r.us for r in events.selectExpr("unix_micros(ts) AS us").collect()]
    assert got == [v // 1000 for v in ns]


def test_load_tables_calls_share_no_dataframes(spark, sf_dir):
    a, b = load_tables(spark, sf_dir), load_tables(spark, sf_dir)
    for name in ("lineitem", "events"):
        assert a[name] is not b[name]
