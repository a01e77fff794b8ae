"""The reference's full ETL, as ONE continuous Spark lineage.

Reproduces the capability chain of `pyspark_dag2.py` (tasks
fetch -> filter_and_drop -> clean -> mapping -> write, :442-511) and the
notebook (`spark_airflow.ipynb` cells 2-8) — but without the XCom
collect/re-createDataFrame boundary between stages (SURVEY.md §3.1: each
XCom hop destroys the plan; §3.2 is the single-plan lifecycle we adopt).
Catalyst sees the whole pipeline and pushes the snapshot filter into the
scan, prunes dropped columns, and pipelines every narrow op into one
codegen stage.

Stage map (reference file:line -> function here):

- snapshot filter + drops     pyspark_dag2.py:120-127   clean_stage
- lowercase-normalize         pyspark_dag2.py:130-132   clean_stage
- dict recodes                pyspark_dag2.py:304-305   standardize_stage
- borrower overwrite          pyspark_dag2.py:307-311   standardize_stage
- null fill                   pyspark_dag2.py:362       encode_stage
- BK literal-map encode       pyspark_dag2.py:355-369   encode_stage
- project-name forward-fill   pyspark_dag2.py:371-379   encode_stage
- repaid/due derivation       pyspark_dag2.py:380-382   encode_stage
- SCD dims + fact cascade     project SSIS (§2.G, C2/C3) build_star
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators import cleaning
from ..operators.scd import scd2_apply, scd2_init
from ..operators.star import build_date_dimension, build_fact, date_sk
from ..operators.window_ops import forward_fill

# proper-case literals: the filter runs before lowercase-normalize, exactly
# like the reference (pyspark_dag2.py:120-126 then :130-132)
SNAPSHOT_DATES = [f"30-Jun-{y}" for y in range(2011, 2025)]

DROP_COLUMNS = [
    "currency_of_commitment",
    "exchange_adjustment",
    "agreement_signing_date",
    "effective_date_most_recent",
    "closed_date_most_recent",
    "last_disbursement_date",
]

# dimension name -> (business-key column, attr columns, T1 cols, T2 cols)
# roles decoded from the 7 SSIS packages (SURVEY.md §2.G)
DIM_SPECS = {
    "region": ("region_bk", ["region"], [], ["region"]),
    "country": ("country_bk", ["country", "country_code"], ["country_code"], ["country"]),
    "borrower": ("borrower_bk", ["borrower"], ["borrower"], []),
    "guarantor": ("guarantor_bk", ["guarantor", "guarantor_country_code"],
                  ["guarantor_country_code"], ["guarantor"]),
    "loan_status": ("loan_status_bk", ["loan_status"], [], ["loan_status"]),
    "loan_type": ("loan_type_bk", ["loan_type"], [], ["loan_type"]),
    "project": ("project_id", ["project_name_"], [], ["project_name_"]),
}

# SCD validity-column type per dimension: six of the seven SSIS dims
# declare DT_DBDATE start/end dates; Dimension_LoanType alone uses
# DT_DBTIMESTAMP (`project SSIS::loan_type_dim.dtsx:327-332`) — its
# versions open/close at timestamp grain. Default (absent) = "date".
DIM_DATE_TYPES = {
    "loan_type": "timestamp",
}


def _dim_date_type(name: str) -> str:
    return DIM_DATE_TYPES.get(name, "date")


DATE_FK_COLS = [
    "end_of_period",
    "first_repayment_date",
    "last_repayment_date",
    "board_approval_date",
]

MEASURE_COLS = [
    "original_principal_amount",
    "cancelled_amount",
    "undisbursed_amount",
    "disbursed_amount",
    "borrowers_obligation",
    "interest_rate",
    "repaid",
    "due",
]

# Fact-sink type narrowing (SURVEY §1.2/§1.3): the SSIS destination
# metadata declares Fact_Loan.original_principal_amount DT_NUMERIC(18)
# (`project SSIS::loan_fact.dtsx:1711-1999`) while the dataflow carries
# it as DT_R8 — the sink NARROWS double -> numeric(18,0). SQL Server's
# float->numeric conversion rounds half away from zero, which is exactly
# Spark's double->decimal HALF_UP cast (and DuckDB's double->DECIMAL),
# so one declarative cast reproduces the sink semantics bit-for-bit.
# The other measures stay r8/double, matching the destination columns.
FACT_SINK_CASTS = {
    "original_principal_amount": "decimal(18,0)",
}


def clean_stage(raw: DataFrame, snapshot_dates: Sequence[str] = SNAPSHOT_DATES) -> DataFrame:
    """B1 snapshot filter + B2 drops + B3 lowercase, one Project node."""
    kept = cleaning.snapshot_filter(raw, "end_of_period", list(snapshot_dates))
    kept = cleaning.drop_columns(kept, [c for c in DROP_COLUMNS if c in raw.columns])
    return cleaning.lowercase_strings(kept)


def standardize_stage(
    df: DataFrame,
    status_map: Mapping[str, str],
    type_map: Mapping[str, str],
    country_map: Mapping[str, str],
    region_map: Mapping[str, str],
    borrower_by_country: Mapping[str, str],
) -> DataFrame:
    """B4 recodes + B5 conditional borrower overwrite."""
    out = cleaning.recode(df, dict(status_map), ["loan_status"])
    out = cleaning.recode(out, dict(type_map), ["loan_type"])
    out = cleaning.recode(out, dict(country_map), ["country", "guarantor"])
    out = cleaning.recode(out, dict(region_map), ["region"])
    return cleaning.conditional_overwrite(
        out, target="borrower", key_col="country", pairs=dict(borrower_by_country)
    )


def encode_stage(
    df: DataFrame,
    bk_maps: Mapping[str, Mapping[str, int]],
) -> DataFrame:
    """B6 fill + B7 BK encodes + E1 forward-fill + B8 derived amounts.

    `bk_maps`: source column -> {value: business key int}; emits `<col>_bk`.
    The unused columns are dropped BEFORE the fill: every column the
    fill's input carries is still referenced after it, so the fill and
    its carry plan one bucket exchange (forward_fill_scalable).
    """
    out = cleaning.fill_nulls(df, "not_specified", ["borrower", "guarantor"])
    for src, mapping in bk_maps.items():
        out = cleaning.map_encode(out, dict(mapping), source=src, dest=f"{src}_bk")
    out = forward_fill(out.drop("sold_3rd_party", "loans_held"),
                       ["loan_number"], "project_name_")
    out = cleaning.derived_sum(out, "repaid", ["repaid_to_ibrd", "repaid_3rd_party"],
                               drop_inputs=True)
    return cleaning.derived_sum(out, "due", ["due_to_ibrd", "due_3rd_party"],
                                drop_inputs=True)


def run_clean_pipeline(
    raw: DataFrame,
    maps: Mapping[str, Mapping[str, str]],
    bk_maps: Mapping[str, Mapping[str, int]],
) -> DataFrame:
    """raw API rows -> cleaned 29-col staging (`LoanData` parity,
    pyspark_dag2.py:393-421), one lazy plan end to end."""
    cleaned = clean_stage(raw)
    std = standardize_stage(
        cleaned,
        status_map=maps.get("status", {}),
        type_map=maps.get("type", {}),
        country_map=maps.get("country", {}),
        region_map=maps.get("region", {}),
        borrower_by_country=maps.get("borrower_by_country", {}),
    )
    return encode_stage(std, bk_maps)


def init_star(staging: DataFrame, asof: str) -> dict[str, DataFrame]:
    """First warehouse load: 7 SCD2 dimensions + DimDate (SURVEY §1.3).

    SSIS-IDENTITY parity path: surrogate keys are dense 1..n, matching
    the reference warehouse's IDENTITY columns exactly — a global-window
    numbering that serializes at large dimension grain. The production
    path at scale is `init_star_snaptable` (hash sks, fully distributed);
    this overwrite-rebuild twin exists for reference parity and as the
    g1-oracle-equivalent baseline."""
    dims: dict[str, DataFrame] = {}
    for name, (bk, attrs, _t1, _t2) in DIM_SPECS.items():
        dims[f"dim_{name}"] = scd2_init(
            staging.where(F.col(bk).isNotNull()), key=bk, attr_cols=attrs,
            asof=asof, sk_col=f"pk_{name}_sk", sk_strategy="dense",
            date_type=_dim_date_type(name),
        )
    dates = None
    for c in DATE_FK_COLS:
        part = staging.select(F.to_date(F.col(c), "dd-MMM-yyyy").alias("d"))
        dates = part if dates is None else dates.unionByName(part)
    dims["dim_date"] = build_date_dimension(dates, "d")
    return dims


def apply_star_increment(
    dims: Mapping[str, DataFrame], staging: DataFrame, asof: str
) -> dict[str, DataFrame]:
    """Incremental warehouse load: SCD2-apply every dimension (§2.G)."""
    out = dict(dims)
    for name, (bk, attrs, t1, t2) in DIM_SPECS.items():
        fixed = [a for a in attrs if a not in t1 and a not in t2]
        out[f"dim_{name}"] = scd2_apply(
            dims[f"dim_{name}"],
            staging.where(F.col(bk).isNotNull()).select(bk, *attrs),
            key=bk, t1_cols=t1, t2_cols=t2, fixed_cols=fixed,
            asof=asof, sk_col=f"pk_{name}_sk", sk_strategy="dense",
            date_type=_dim_date_type(name),
        )
    return out


def _commit_dims(spark, commit) -> dict[str, dict]:
    """Run `commit(name, spec)` for every DIM_SPECS entry concurrently,
    one driver thread per dimension, and return {dim_<name>: manifest} in
    DIM_SPECS order.

    The 7 commits are independent (each reads only staging and writes
    only its own snaptable root), like the reference's 7 dimension
    packages, and each is a chain of small serial jobs: run one after
    another they leave most cores idle. Every task is wrapped in
    `inheritable_thread_target`, one wrap per task so each thread gets
    its own copy of the caller's Spark local properties: the job group
    and description reach every job, and one thread's SQL execution id
    never leaks into another's. All tasks finish before this returns;
    the first failure in DIM_SPECS order is then re-raised."""
    with ThreadPoolExecutor(max_workers=len(DIM_SPECS)) as pool:
        futures = {
            f"dim_{name}": pool.submit(
                inheritable_thread_target(spark)(commit), name, spec
            )
            for name, spec in DIM_SPECS.items()
        }
    return {dim: fut.result() for dim, fut in futures.items()}


def init_star_snaptable(
    spark, staging: DataFrame, asof: str, root: str, n_buckets: int = 16
) -> dict[str, dict]:
    """First warehouse load THROUGH the snapshot-log table format
    (VERDICT r6 item 3): each of the 7 SCD2 dimensions becomes a
    snaptable under `root`/dim_<name> — version 1 is the scd2_init
    result, every later load is a bucket-level copy-on-write MERGE
    (`apply_star_increment_snaptable`), not an overwrite-rebuild.
    Surrogate keys use the hash strategy from the start so merge commits
    never need a global max over untouched buckets
    (sources/snaptable.py module docstring). Returns the published
    version-1 manifests in DIM_SPECS order. Reference anchor: the
    per-row UPDATE dimension sinks in `project SSIS::bor_dim.dtsx:454,566`
    whose production twin is MERGE INTO a lakehouse table.

    The 7 creates run concurrently (`_commit_dims`); every job inherits
    the caller's job group. If one dimension fails, the others still
    run to the end (and publish), then the first failure in DIM_SPECS
    order is raised: e.g. `FileExistsError` when `root` already holds
    that dimension."""
    import os

    from ..sources import snaptable

    def create(name, spec):
        bk, attrs, _t1, _t2 = spec
        dim0 = scd2_init(
            staging.where(F.col(bk).isNotNull()), key=bk, attr_cols=attrs,
            asof=asof, sk_col=f"pk_{name}_sk", sk_strategy="hash",
            date_type=_dim_date_type(name),
        )
        return snaptable.create(
            spark, os.path.join(root, f"dim_{name}"), dim0, bk,
            n_buckets=n_buckets, sk_col=f"pk_{name}_sk",
        )

    return _commit_dims(spark, create)


def apply_star_increment_snaptable(
    spark, staging: DataFrame, asof: str, root: str
) -> dict[str, dict]:
    """Incremental warehouse load as 7 snaptable MERGE commits — the
    executable form of scd2_merge_sql. Each dimension's merge reads only
    the buckets the staged keys hash into, applies the SAME scd2_apply
    semantics the g1 oracle checks, and re-references every untouched
    bucket's files verbatim: at 100 TB the commit cost tracks the
    changed-key mass, not the dimension size. Returns the published
    manifests (version, touched_buckets) in DIM_SPECS order.

    The 7 merges run concurrently (`_commit_dims`); every job inherits
    the caller's job group. If one dimension fails, the others still
    commit, then the first failure in DIM_SPECS order is raised. A rerun
    with the same staging is safe: re-applying a staging snapshot is a
    no-op (operators/scd.py invariants), so the dimensions that already
    committed only gain an identical version."""
    import os

    from ..sources import snaptable

    def merge(name, spec):
        bk, attrs, t1, t2 = spec
        fixed = [a for a in attrs if a not in t1 and a not in t2]
        return snaptable.scd2_merge(
            spark, os.path.join(root, f"dim_{name}"),
            staging.where(F.col(bk).isNotNull()).select(bk, *attrs),
            t1_cols=t1, t2_cols=t2, fixed_cols=fixed, asof=asof,
            date_type=_dim_date_type(name),
        )

    return _commit_dims(spark, merge)


def load_star_snaptable(
    spark, staging: DataFrame, root: str, version: int | None = None
) -> dict[str, DataFrame]:
    """Snapshot-read the 7 dimensions back (CURRENT, or time travel to
    `version`) — the dict `build_fact_loan` consumes. Readers resolve one
    immutable manifest per dim: a concurrent merge commit can never tear
    the fact build's lookups. `staging` is unused: the fact keys its
    dates by projection, so no DimDate is rebuilt from it."""
    import os

    from ..sources import snaptable

    return {
        f"dim_{name}": snaptable.read(
            spark, os.path.join(root, f"dim_{name}"), version=version
        )
        for name in DIM_SPECS
    }


def build_fact_loan(staging: DataFrame, dims: Mapping[str, DataFrame]) -> DataFrame:
    """The fact cascade (`project SSIS::loan_fact.dtsx`): 7 dimension
    lookups (current rows) + 4 role-playing date SKs, then SK+measure
    projection. All lookups broadcast; Catalyst collapses the cascade
    into one stage (SURVEY §3.3).

    DimDate's SK is the date's own `yyyymmdd` (`date_sk`), so each date
    key is a projection, not a lookup; the lookup's inner-join drop of a
    row whose date is NULL or unparseable stays as a filter."""
    fact = staging
    for c in DATE_FK_COLS:
        d = F.to_date(F.col(c), "dd-MMM-yyyy")
        fact = fact.where(d.isNotNull()).withColumn(f"{c}_sk", date_sk(d))
    lookups = []
    for name, (bk, _attrs, _t1, _t2) in DIM_SPECS.items():
        dim = dims[f"dim_{name}"].filter(F.col("is_current"))
        lookups.append((dim, {bk: bk}, {f"pk_{name}_sk": f"fk_{name}"}))
    out = build_fact(
        fact,
        lookups,
        measure_cols=[f"{c}_sk" for c in DATE_FK_COLS] + MEASURE_COLS,
        key_cols=["loan_number"],
    )
    # destination-metadata narrowing (FACT_SINK_CASTS): applied at the
    # sink projection, after the lookup cascade, like the SSIS fast-load
    for c, t in FACT_SINK_CASTS.items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out
