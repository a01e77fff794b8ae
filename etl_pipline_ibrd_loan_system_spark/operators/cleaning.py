"""Projection / filter / scalar cleaning operators (SURVEY.md §2.B).

The reference's cleaning layer (pyspark_dag2.py:120-132, 304-311, 355-382;
SSIS Derived Columns e.g. `project SSIS::bor_dim.dtsx:62-220`) is a set of
row-wise scalar transforms. Every operator here is a pure built-in-function
composition — no Python UDFs — so the whole cleaning chain stays inside one
WholeStageCodegen span and Catalyst can push the snapshot filter into the
parquet scan.

Scale notes (100 TB): all operators are narrow (no shuffle). `map_encode`
constant-folds for dictionaries up to ~thousands of keys; beyond that use
`lookup_join` (broadcast join) from operators.star.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_filter(df: DataFrame, column: str, values: Sequence) -> DataFrame:
    """B1 — IN-list snapshot filter (pyspark_dag2.py:120-126).

    Declarative `isin` so Catalyst rewrites it to an `In` predicate and
    pushes it into the parquet scan (shows under PushedFilters).
    """
    return df.filter(F.col(column).isin(list(values)))


def drop_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """B2 — multi-column drop (pyspark_dag2.py:123,127). Column pruning then
    reaches the scan: dropped columns are never read."""
    return df.drop(*columns)


def lowercase_strings(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """B3 — lowercase-normalize string columns (pyspark_dag2.py:130-132).

    The reference loops `withColumn` per column, which builds N nested
    projections; a single `select` keeps one Project node.
    """
    targets = set(subset) if subset is not None else {
        f.name for f in df.schema.fields if f.dataType.typeName() == "string"
    }
    return df.select(
        *[F.lower(F.col(c)).alias(c) if c in targets else F.col(c) for c in df.columns]
    )


def recode(df: DataFrame, mapping: Mapping[str, str], subset: Sequence[str]) -> DataFrame:
    """B4 — dictionary value recode (pyspark_dag2.py:304-305), i.e.
    `df.replace(dict, subset=cols)`: values found in the mapping are
    replaced, everything else passes through."""
    return df.replace(dict(mapping), subset=list(subset))


def conditional_overwrite(
    df: DataFrame, target: str, key_col: str, pairs: Mapping[str, str]
) -> DataFrame:
    """B5 — keyed conditional overwrite (pyspark_dag2.py:307-311): for each
    (key -> value) pair, rows where `key_col == key` get `target := value`.

    The reference loops `when/otherwise` once per pair (N nested CASEs); a
    single literal-map lookup + coalesce is one expression and
    constant-folds. For maps too large to inline, use a broadcast join.
    """
    if not pairs:
        return df
    kv = []
    for k, v in pairs.items():
        kv.extend([F.lit(k), F.lit(v)])
    lookup = F.create_map(*kv)[F.col(key_col)]
    return df.withColumn(target, F.coalesce(lookup, F.col(target)))


def fill_nulls(df: DataFrame, value, subset: Sequence[str]) -> DataFrame:
    """B6 — null fill (pyspark_dag2.py:362): `na.fill(value, subset)`."""
    return df.na.fill(value, subset=list(subset))


def map_encode(
    df: DataFrame,
    mapping: Mapping,
    source: str,
    dest: str,
    value_type: str = "int",
) -> DataFrame:
    """B7 — literal-map business-key encode (pyspark_dag2.py:355-369):
    adds `dest` = mapping[source], null when the key is absent.

    Constant-folded `create_map` expression — zero shuffle, zero join. At
    dictionary sizes beyond ~1e3 entries prefer star.lookup_join (broadcast).
    """
    kv = []
    for k, v in mapping.items():
        kv.extend([F.lit(k), F.lit(v).cast(value_type)])
    return df.withColumn(dest, F.create_map(*kv)[F.col(source)])


def derived_sum(
    df: DataFrame, dest: str, addends: Sequence[str], drop_inputs: bool = False
) -> DataFrame:
    """B8 — derived arithmetic column (pyspark_dag2.py:380-382):
    `repaid = repaid_to_ibrd + repaid_3rd_party` style."""
    expr: Column = F.col(addends[0])
    for c in addends[1:]:
        expr = expr + F.col(c)
    out = df.withColumn(dest, expr)
    return out.drop(*addends) if drop_inputs else out


def with_literal(df: DataFrame, name: str, value, data_type: str | None = None) -> DataFrame:
    """B9 — constant column (SSIS Derived Column `ssc = (DT_I4)1`,
    `project SSIS::bor_dim.dtsx:62-75`)."""
    col = F.lit(value)
    if data_type:
        col = col.cast(data_type)
    return df.withColumn(name, col)


def audit_dates(
    df: DataFrame,
    asof: str | None = None,
    start_col: str = "start_date",
    end_col: str = "end_date",
    as_timestamp: bool = False,
) -> DataFrame:
    """B10 — audit start/end stamps (SSIS `(DT_DBDATE)@[System::StartTime]`,
    `project SSIS::bor_dim.dtsx:135-220`). `asof` pins the stamp for
    deterministic tests; None uses current_date/current_timestamp."""
    if asof is None:
        stamp = F.current_timestamp() if as_timestamp else F.current_date()
    else:
        stamp = F.lit(asof).cast("timestamp" if as_timestamp else "date")
    return df.withColumn(start_col, stamp).withColumn(
        end_col, F.lit(None).cast("timestamp" if as_timestamp else "date")
    )
