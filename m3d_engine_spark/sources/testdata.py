"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

``events.ts`` has changed physical encoding across testdata
regenerations — TIMESTAMP(NANOS) (read as BIGINT under
``spark.sql.legacy.parquet.nanosAsLong``, session.py) through
2026-08-12, tz-naive ``timestamp[us]`` (read as TIMESTAMP_NTZ by
Spark 4.1) since 2026-08-13. ``load_table`` normalizes every accepted
encoding to one canonical tz-aware TIMESTAMP (functions/epoch.py) so
downstream event-time plans never see the difference; the session zone
is pinned UTC (session.py) so the NTZ cast is exact and matches DuckDB,
which treats naive timestamps as UTC in ``epoch_us``.
``tests/test_testdata_contract.py`` pins the engine-visible dtypes of
every table so the next regeneration fails there, in one obvious place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType

from m3d_engine_spark.functions.epoch import as_timestamp

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events" and not isinstance(
        df.schema["ts"].dataType, TimestampType
    ):
        df = df.withColumn(
            "ts", as_timestamp("ts", df.schema["ts"].dataType)
        )
    return df
