"""A5 — cleaning-dictionary CSV reader (pyspark_dag2.py:139-264).

The reference loads 10 two-column CSVs driver-side into lowercased
{key: value} dicts (one ~12-line function per file). We generalize: one
reader returning either the driver-side dict (for literal-map encoding,
B7) or a broadcastable DataFrame (the 100 TB path: broadcast join instead
of an inlined `create_map` when the dictionary is large).
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_dict_csv(path: str, lower: bool = True) -> dict[str, str]:
    """Two-column CSV (header skipped) -> {key: value}, lowercased like the
    reference (`row[0].lower()`, pyspark_dag2.py:149-151). A row with a
    missing or empty value is skipped, so it never recodes its key."""
    out: dict[str, str] = {}
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh)
        next(reader, None)
        for row in reader:
            if len(row) < 2 or not row[1]:
                continue
            k, v = row[0], row[1]
            out[k.lower() if lower else k] = v.lower() if lower else v
    return out


def read_dict_df(
    spark: SparkSession, path: str, key_col: str = "key", value_col: str = "value",
    lower: bool = True,
) -> DataFrame:
    """Same dictionary as a 2-column DataFrame (broadcast-join path),
    skipping the same rows as `read_dict_csv`: a join must not recode a
    key to NULL or to an empty string."""
    df = spark.read.csv(path, header=True).toDF(key_col, value_col)
    df = df.where(F.col(value_col) != "")  # NULL (missing) drops too
    if lower:
        df = df.select(
            F.lower(F.col(key_col)).alias(key_col),
            F.lower(F.col(value_col)).alias(value_col),
        )
    return df
