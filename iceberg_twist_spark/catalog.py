"""Testdata catalog: load the driver-generated parquet tables.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier
part orders lineitem events documents embeddings — one parquet file
each under a scale-factor directory.

``load_tables`` returns a lazy read-only mapping: a table is read
(``spark.read.parquet``, one schema-inference job) the first time its
key is accessed, and that DataFrame is kept for the rest of the
mapping's life. A builder that reads one table therefore pays for one
table, not ten. Nothing is shared between ``load_tables`` calls, so
every builder call still resolves its own tables.

At 100 TB these would be partitioned Iceberg tables; the loader stays
a thin seam so the same query builders run against
``spark.read.parquet`` locally and ``spark.table('db.t')`` on a
cluster.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from iceberg_twist_spark.session import pin_session_defaults

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class _Tables(Mapping[str, DataFrame]):
    """``TABLES``-ordered mapping that reads each table on first access."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._dfs: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        df = self._dfs.get(name)
        if df is None:
            if name not in TABLES:
                raise KeyError(name)
            df = self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet")
            if name == "events" and isinstance(
                df.schema["ts"].dataType, LongType
            ):
                # integer `div` — a double division would lose precision
                # on 1.7e18-scale nanosecond values (53-bit mantissa)
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            self._dfs[name] = df
        return df

    def __contains__(self, name: object) -> bool:
        return name in TABLES

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Every testdata table as a DataFrame keyed by table name, read
    on first access (see the module docstring).

    ``events.ts`` arrives as int64 nanoseconds (see
    session.pin_session_defaults) and is floor-truncated to a µs
    TimestampType on first access — the same truncation DuckDB applies
    when casting TIMESTAMP_NS to TIMESTAMP, so oracles agree.
    """
    pin_session_defaults(spark)
    return _Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Load tables and register each as a temp view (for spark.sql)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
