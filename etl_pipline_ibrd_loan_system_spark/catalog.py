"""Table catalog over the driver-generated parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under a scale-factor dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — columnar, Catalyst pushes filters/pruning into it.

    `events.ts` is TIMESTAMP(NANOS) parquet, which Spark's reader rejects;
    we read nanos as long (`spark.sql.legacy.parquet.nanosAsLong`) and
    rebuild a microsecond timestamp with exact integer division (a double
    division would lose precision at ~1.7e18 ns).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API surface)."""
    tables = load_all(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
