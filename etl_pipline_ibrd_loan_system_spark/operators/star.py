"""Star-schema build operators (SURVEY.md §2.C, §1.3).

The reference's warehouse layer is SSIS: each dimension is loaded from the
staging table, and the fact load is a 10-way full-cache Lookup cascade
(`project SSIS::loan_fact.dtsx:62-2640`) — semantically a star-join where
every lookup is a broadcast hash join against a current-rows dimension
slice, with no-match rows routed to an error output (`NoMatchBehavior 0`).

Spark mapping: chained `join(broadcast(dim_slice))`. Catalyst collapses the
whole cascade into one stage when every dim fits the broadcast threshold —
the direct analogue of SSIS's full-cache hash tables, minus the per-lookup
SQL round-trip.

Scale notes: dimensions are the small side by construction (countries,
regions, statuses — at most ~1e5 rows even at 100 TB of facts), so the fact
scan never shuffles. Surrogate-key assignment offers two strategies:
`dense` (row_number over a global sort — deterministic, oracle-friendly,
single-task for the *dimension* only, which is small) and `hash`
(xxhash64 of the business key — fully distributed, stable across runs,
the 100 TB default).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def build_dimension(
    staging: DataFrame,
    bk_col: str,
    attr_cols: Sequence[str],
    sk_col: str,
    sk_strategy: str = "hash",
    source_system_code: int = 1,
) -> DataFrame:
    """Distinct BK+attrs from staging -> surrogate-keyed dimension.

    Mirrors the SSIS dim packages' `SELECT DISTINCT` sources
    (`project SSIS::loan_type_dim.dtsx:546-569`) + IDENTITY surrogate key.

    sk_strategy defaults to "hash" (xxhash64 of the business key) — fully
    distributed, no coordination. "dense" is the explicit SSIS-IDENTITY
    parity mode: row_number over a GLOBAL unpartitioned window, i.e. a
    single-task sort at dimension grain — correct for oracle parity on
    small dims, serial at 100 TB (VERDICT r7 "What's wrong" #4).
    """
    distinct = staging.select(bk_col, *attr_cols).distinct()
    if sk_strategy == "dense":
        w = Window.orderBy(bk_col)
        keyed = distinct.withColumn(sk_col, F.row_number().over(w))
    elif sk_strategy == "hash":
        keyed = distinct.withColumn(sk_col, F.xxhash64(F.col(bk_col)))
    else:
        raise ValueError(f"unknown sk_strategy {sk_strategy!r}")
    return keyed.select(
        sk_col, bk_col, *attr_cols
    ).withColumn("source_system_code", F.lit(source_system_code))


def date_sk(date: Column) -> Column:
    """DimDate's surrogate key of a date column: its `yyyymmdd` as int.
    A fact's role-playing date key is this projection of its own date, so
    it needs no lookup into DimDate."""
    return (
        F.year(date) * 10000 + F.month(date) * 100 + F.dayofmonth(date)
    ).cast("int")


def build_date_dimension(
    dates: DataFrame, date_col: str, sk_col: str = "date_sk"
) -> DataFrame:
    """DimDate (`project SSIS::loan_fact.dtsx:74`): distinct calendar dates
    with an int SK (`date_sk`: yyyymmdd — deterministic, distributed, no
    global sort) plus the year attribute the dashboard's date hierarchy
    uses."""
    d = dates.select(F.col(date_col).cast("date").alias("date")).where(
        F.col("date").isNotNull()
    ).distinct()
    return d.select(
        date_sk(F.col("date")).alias(sk_col),
        "date",
        F.year("date").alias("year"),
    )


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Mapping[str, str] | str,
    copy_cols: Mapping[str, str],
    current_col: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """C1 — one SSIS full-cache Lookup: broadcast equi-join copying only the
    surrogate key (`project SSIS::country_dimension.dtsx:1257-1290`).

    `on`: fact_col -> dim_col (or a shared name). `copy_cols`: dim_col ->
    output alias. `current_col` applies the `is_current = 1` slice before the
    build side is broadcast. `how='inner'` reproduces NoMatchBehavior 0
    (no-match rows dropped from the main flow; capture them separately with
    `lookup_misses`)."""
    if current_col:
        dim = dim.filter(F.col(current_col))
    if isinstance(on, str):
        on = {on: on}
    keys = list(on.items())
    # POSITIONAL internal aliases (optimization r11, guide §2.4): the
    # build side's plan must not depend on the FACT column names, so two
    # role-playing lookups against the same dimension (e.g. c3's
    # ship_date/order_date against one date dim) produce identical
    # broadcast subtrees and Spark's ReuseExchange materializes the
    # broadcast ONCE instead of re-running the dimension build per role.
    # Output aliases move to a post-join rename (a free Project).
    dim_slice = dim.select(
        *[F.col(dc).alias(f"__k_{i}") for i, (_, dc) in enumerate(keys)],
        *[F.col(src).alias(f"__v_{i}") for i, src in enumerate(copy_cols)],
    )
    cond = None
    for i, (fc, _) in enumerate(keys):
        c = fact[fc] == dim_slice[f"__k_{i}"]
        cond = c if cond is None else (cond & c)
    joined = fact.join(F.broadcast(dim_slice), cond, how)
    renamed = joined.withColumnsRenamed(
        {f"__v_{i}": dst for i, dst in enumerate(copy_cols.values())}
    )
    return renamed.drop(*[f"__k_{i}" for i in range(len(keys))])


def lookup_misses(
    fact: DataFrame, dim: DataFrame, on: Mapping[str, str] | str,
    current_col: str | None = None,
) -> DataFrame:
    """SSIS error-output parity: the fact rows whose key finds no match
    (anti-join) — the rows `NoMatchBehavior 0` would fail."""
    if current_col:
        dim = dim.filter(F.col(current_col))
    if isinstance(on, str):
        on = {on: on}
    keys = list(on.items())
    dim_keys = dim.select(*[F.col(dc).alias(f"__k_{fc}") for fc, dc in keys])
    cond = None
    for fc, _ in keys:
        c = fact[fc] == dim_keys[f"__k_{fc}"]
        cond = c if cond is None else (cond & c)
    return fact.join(F.broadcast(dim_keys), cond, "left_anti")


def build_fact(
    staging: DataFrame,
    lookups: Sequence[tuple[DataFrame, Mapping[str, str] | str, Mapping[str, str]]],
    measure_cols: Sequence[str],
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """C2/C3 — the lookup cascade: chain every dimension lookup then project
    SK columns + measures (`project SSIS::loan_fact.dtsx` dataflow wiring
    ~3100+). Each element of `lookups` is (dim, on, copy_cols)."""
    out = staging
    sk_cols: list[str] = []
    for dim, on, copy_cols in lookups:
        out = lookup_join(out, dim, on, copy_cols)
        sk_cols.extend(copy_cols.values())
    return out.select(*key_cols, *sk_cols, *measure_cols)
