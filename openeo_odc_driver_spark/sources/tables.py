"""Parquet table loaders for the synthetic fixture star schema.

All reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning; the one wrinkle is ``events.parquet`` whose
``ts`` column is physical TIMESTAMP(NANOS) — Spark has no nanosecond
timestamp, so sessions set ``spark.sql.legacy.parquet.nanosAsLong`` and
this loader converts to a microsecond timestamp with *integer* division
(float division loses precision above 2^53 ns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long; truncate to micros (matches the
        # DuckDB oracle's date_trunc('microseconds', ts)).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# DuckDB oracle twin: events view with ts truncated to micros so both
# engines see identical timestamps.
ORACLE_EVENTS_VIEW = (
    "SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events"
)
