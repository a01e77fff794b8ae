"""Correctness checks, each one an operation counted in the run's result.

Expected values come from the generator's own model of the data; DuckDB
reads the program's parquet outputs and runs the dashboard measures over
the generator's clean rows. The only Spark reads are the snaptable
dimensions, through the package's public reader.
"""

from __future__ import annotations

import math
import os
import sys
from functools import reduce

import duckdb
import pyarrow as pa

# business-key column of each dimension, as the generator's clean rows name it
DIM_KEYS = {
    "region": "region_bk", "country": "country_bk", "borrower": "borrower_bk",
    "guarantor": "guarantor_bk", "loan_status": "loan_status_bk",
    "loan_type": "loan_type_bk", "project": "project_id",
}
FACT_KEYS = [
    "fk_region", "fk_country", "fk_borrower", "fk_guarantor", "fk_loan_status",
    "fk_loan_type", "fk_project", "end_of_period_sk", "first_repayment_date_sk",
    "last_repayment_date_sk", "board_approval_date_sk",
]
# staging columns compared row for row with the generator's clean rows
STAGING_COLS = [
    "loan_number", "region", "country", "country_code", "borrower", "guarantor",
    "loan_status", "loan_type", "project_id", "project_name_", "region_bk",
    "country_bk", "borrower_bk", "guarantor_bk", "loan_status_bk", "loan_type_bk",
    "interest_rate", "original_principal_amount", "undisbursed_amount",
    "disbursed_amount", "repaid", "due",
]

# DuckDB twins of functions.measures.MEASURES over the clean rows, written
# from the measure definitions rather than from the package's SQL helpers
_DSUM = "CAST(ROUND(SUM(CAST({} AS DECIMAL(18,4))), 2) AS DOUBLE)"
MEASURE_SQL = {
    "loans": "COUNT(*)",
    "number_of_loans": "COUNT(DISTINCT loan_number)",
    "loan_amount": _DSUM.format("original_principal_amount"),
    "total_loan_amount": _DSUM.format("original_principal_amount"),
    "repaid": _DSUM.format("repaid"),
    "due1": _DSUM.format("due"),
    "disbursed_amount": _DSUM.format("disbursed_amount"),
    "undisbursed_amount": _DSUM.format("undisbursed_amount"),
    "average_interest_rate":
        "ROUND(CAST(SUM(CAST(interest_rate AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)",
    "interest_income":
        "CAST(ROUND(SUM(CAST(disbursed_amount AS DECIMAL(18,4))"
        " * CAST(interest_rate / 100 AS DECIMAL(8,4))), 2) AS DOUBLE)",
    "guarantors": "COUNT(DISTINCT guarantor_bk)",
    "borrowers": "COUNT(DISTINCT borrower_bk)",
}


class Checks:
    """Counts operations and the ones that failed; a raised error or any
    failed check fails its operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, op: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                msg = f"{op}: {p}"
                self.problems.append(msg)
                print(f"CHECK FAILED {msg}", file=sys.stderr, flush=True)

    def skipped(self, ops: list[str], why: str) -> None:
        """Operations a failure left unreached count as attempted and failed."""
        for op in ops:
            self.record(op, [f"not reached: {why}"])


def eq(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, expected {want!r}"]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=0.006)
    return a == b


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def clean_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows)


def parquet_rows(path: str) -> int:
    return duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{_glob(path)}')").fetchone()[0]


def check_staging(path: str, clean: list[dict]) -> list[str]:
    """The staged rows equal the expected clean rows as a multiset."""
    con = duckdb.connect()
    con.register("gt", clean_table(clean))
    cols = ", ".join(STAGING_COLS)
    src = f"read_parquet('{_glob(path)}')"
    got_only, want_only = (
        con.sql(f"SELECT COUNT(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})")
        .fetchone()[0]
        for a, b in ((src, "gt"), ("gt", src))
    )
    n = con.sql(f"SELECT COUNT(*) FROM {src}").fetchone()[0]
    return (eq("staging rows", n, len(clean))
            + eq("staged rows not expected", got_only, 0)
            + eq("expected rows not staged", want_only, 0))


def check_fact(path: str, clean: list[dict]) -> list[str]:
    """Fact rows equal the staged rows, no foreign key is null, and the
    principal total and distinct loans match."""
    nulls = " + ".join(f"COUNT(*) FILTER (WHERE {c} IS NULL)" for c in FACT_KEYS)
    n, n_null, principal, loans = duckdb.sql(
        f"SELECT COUNT(*), {nulls}, SUM(original_principal_amount)::DOUBLE,"
        f" COUNT(DISTINCT loan_number) FROM read_parquet('{_glob(path)}')"
    ).fetchone()
    return (eq("fact rows", n, len(clean)) + eq("null foreign keys", n_null, 0)
            + eq("principal total", principal,
                  float(sum(r["original_principal_amount"] for r in clean)))
            + eq("distinct loans", loans, len({r["loan_number"] for r in clean})))


def dim_counts(spark, root: str, version: int | None = None) -> dict:
    """{dim: (current rows, distinct current keys, closed rows)} in one job."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.plans import loan_pipeline as lp
    from etl_pipline_ibrd_loan_system_spark.sources import snaptable

    parts = []
    for name, (bk, *_rest) in lp.DIM_SPECS.items():
        d = snaptable.read(spark, os.path.join(root, f"dim_{name}"), version=version)
        parts.append(d.select(
            F.lit(name).alias("dim"),
            F.col("is_current").cast("boolean").alias("cur"),
            F.col(bk).cast("string").alias("bk"),
        ))
    rows = (reduce(DataFrame.unionByName, parts)
            .groupBy("dim")
            .agg(F.count(F.when(F.col("cur"), 1)).alias("cur_rows"),
                 F.countDistinct(F.when(F.col("cur"), F.col("bk"))).alias("cur_keys"),
                 F.count(F.when(~F.col("cur"), 1)).alias("closed"))
            .collect())
    return {r["dim"]: (r["cur_rows"], r["cur_keys"], r["closed"]) for r in rows}


def check_star(spark, root: str, clean: list[dict], closed_countries: int,
               version: int | None = None) -> list[str]:
    """Current rows per dimension equal the distinct business keys staged so
    far, one current row per key, and dim_country's closed versions equal
    the T2 renames issued. `version` reads an earlier snapshot."""
    counts = dim_counts(spark, root, version)
    problems = []
    for dim, key in DIM_KEYS.items():
        want = len({r[key] for r in clean})
        cur_rows, cur_keys, closed = counts.get(dim, (None, None, None))
        problems += eq(f"dim_{dim} current rows", cur_rows, want)
        problems += eq(f"dim_{dim} current keys", cur_keys, want)
        if dim == "country":
            problems += eq("dim_country closed versions", closed, closed_countries)
    return problems


def visual_sql(group_by: list[str], measures: list[str], year_range, slicers: dict) -> str:
    where = []
    if year_range:
        where.append(f"year BETWEEN {int(year_range[0])} AND {int(year_range[1])}")
    for col, val in slicers.items():
        where.append(f"{col} = '{val}'")
    sel = [*group_by, *(f"{MEASURE_SQL[m]} AS {m}" for m in measures)]
    sql = f"SELECT {', '.join(sel)} FROM gt"
    if where:
        sql += " WHERE " + " AND ".join(where)
    if group_by:
        sql += " GROUP BY " + ", ".join(group_by)
    return sql


def check_visual(gt: duckdb.DuckDBPyConnection, visual: dict, rows: list) -> list[str]:
    """A collected visual equals the DuckDB answer over the clean rows
    (group keys and counts exactly, money to the cent), and is sorted by
    its sort measure when it has one."""
    g, ms = visual["group_by"], visual["measures"]
    want = {tuple(r[: len(g)]): r[len(g):] for r in
            gt.sql(visual_sql(g, ms, visual.get("year_range"), visual.get("slicers", {})))
            .fetchall()}
    got = {tuple(r[c] for c in g): tuple(r[m] for m in ms) for r in rows}
    problems = eq("groups", sorted(map(str, got)), sorted(map(str, want)))
    for key in set(got) & set(want):
        for m, a, b in zip(ms, got[key], want[key]):
            if not _close(a, b):
                problems.append(f"{m} at {key}: got {a!r}, expected {b!r}")
    order = visual.get("order_by")
    if order:
        vals = [r[order] for r in rows]
        if any(a < b for a, b in zip(vals, vals[1:])):
            problems.append(f"not sorted by {order} desc")
    return problems


def check_corpus_deduped(path: str, docs_path: str, dups: list) -> list[str]:
    """Deduped ids are unique input ids, and no planted exact duplicate
    survives beside its original."""
    con = duckdb.connect()
    src = f"read_parquet('{_glob(path)}')"
    n, n_ids, outside = con.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT doc_id), COUNT(*) FILTER (WHERE doc_id NOT IN"
        f" (SELECT doc_id FROM read_parquet('{docs_path}'))) FROM {src}"
    ).fetchone()
    kept = {r[0] for r in con.sql(f"SELECT doc_id FROM {src}").fetchall()}
    both = [p for p in dups if p[0] in kept and p[1] in kept]
    return (eq("deduped ids unique", n_ids, n) + eq("deduped ids not in input", outside, 0)
            + (["no deduped rows"] if n == 0 else [])
            + (eq("exact duplicate pairs kept", len(both), 0)))


def check_corpus_packed(path: str, deduped_path: str, bench_ids: list,
                        budget: int = 256) -> list[str]:
    """Packed docs are unique deduped docs, none of them a benchmark doc,
    and no packed sequence overflows its budget by a whole document."""
    con = duckdb.connect()
    src = f"read_parquet('{_glob(path)}')"
    n, n_ids, outside = con.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT doc_id), COUNT(*) FILTER (WHERE doc_id NOT IN"
        f" (SELECT doc_id FROM read_parquet('{_glob(deduped_path)}'))) FROM {src}"
    ).fetchone()
    leaked = con.sql(
        f"SELECT COUNT(*) FROM {src} WHERE doc_id IN ({', '.join(map(str, bench_ids))})"
    ).fetchone()[0]
    over = con.sql(
        f"SELECT COUNT(*) FROM (SELECT pack_bucket, seq_id, SUM(n_tokens) AS t FROM {src}"
        f" GROUP BY ALL) WHERE t >= {2 * budget}"
    ).fetchone()[0]
    return (eq("packed ids unique", n_ids, n) + eq("packed ids not deduped", outside, 0)
            + (["no packed rows"] if n == 0 else [])
            + eq("benchmark docs packed", leaked, 0) + eq("overfull sequences", over, 0))
