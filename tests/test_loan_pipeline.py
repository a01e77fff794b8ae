"""End-to-end loan ETL test (SURVEY.md §5.2, FIXTURES.md §A-C):
raw API-shaped rows -> clean -> standardize -> BK-encode -> staging ->
SCD2 star (two loads) -> fact lookup cascade -> measure query."""

from __future__ import annotations

import os
import threading
import uuid

import pyspark.sql.functions as F
import pytest

from etl_pipline_ibrd_loan_system_spark.plans import loan_pipeline as lp

from pyspark.sql import types as T

_S, _D = T.StringType(), T.DoubleType()
# explicit declared schema — parity with the reference's per-stage
# StructType contract (pyspark_dag2.py:84-116)
RAW_SCHEMA = T.StructType([
    T.StructField(n, t, True)
    for n, t in [
        ("end_of_period", _S), ("loan_number", _S), ("region", _S),
        ("country_code", _S), ("country", _S), ("borrower", _S),
        ("guarantor_country_code", _S), ("guarantor", _S), ("loan_type", _S),
        ("loan_status", _S), ("interest_rate", _D),
        ("currency_of_commitment", _S), ("project_id", _S),
        ("project_name_", _S), ("original_principal_amount", _D),
        ("cancelled_amount", _D), ("undisbursed_amount", _D),
        ("disbursed_amount", _D), ("repaid_to_ibrd", _D), ("due_to_ibrd", _D),
        ("exchange_adjustment", _D), ("borrowers_obligation", _D),
        ("sold_3rd_party", _D), ("repaid_3rd_party", _D), ("due_3rd_party", _D),
        ("loans_held", _D), ("first_repayment_date", _S),
        ("last_repayment_date", _S), ("agreement_signing_date", _S),
        ("board_approval_date", _S), ("effective_date_most_recent", _S),
        ("closed_date_most_recent", _S), ("last_disbursement_date", _S),
    ]
])


def _raw_row(loan, period="30-Jun-2024", region="EUROPE", country="France",
             borrower=None, project_name=None, status="Fully Repaid",
             ltype="FSL", principal=1000.0, repaid_ibrd=10.0, repaid_3p=5.0):
    return (
        period, loan, region, "FR", country, borrower, "FR", "French Guarantor",
        ltype, status, 2.5, None, "p0001", project_name, principal, 0.0,
        100.0, 900.0, repaid_ibrd, 20.0, 0.0, 500.0, 0.0, repaid_3p, 7.0, 0.0,
        "01-Jan-2015", "01-Jan-2035", "01-Feb-2010", "15-Mar-2010",
        None, None, None,
    )


MAPS = {
    "status": {"fully repaid": "repaid"},
    "type": {"fsl": "fixed spread loan"},
    "country": {"france": "france", "frnace": "france"},
    "region": {"europe": "europe and central asia"},
    "borrower_by_country": {"france": "ministry of finance (france)"},
}
BK_MAPS = {
    "region": {"europe and central asia": 2},
    "country": {"france": 33, "germany": 49},
    "guarantor": {"french guarantor": 7},
    "borrower": {"ministry of finance (france)": 11},
    "loan_status": {"repaid": 1},
    "loan_type": {"fixed spread loan": 3},
}


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        _raw_row("IBRD00010", project_name="Power Grid"),
        _raw_row("IBRD00020", project_name=None),           # forward-fill target
        _raw_row("IBRD00030", country="Frnace"),             # recode convergence
        _raw_row("IBRD00040", period="15-Aug-2023"),         # off-snapshot -> dropped
        _raw_row("IBRD00050", borrower="Direct Borrower"),   # overwritten by country pair
    ]
    return spark.createDataFrame(rows, RAW_SCHEMA)


@pytest.fixture(scope="module")
def staging(raw):
    return lp.run_clean_pipeline(raw, MAPS, BK_MAPS)


def test_snapshot_filter_and_drops(staging):
    rows = staging.collect()
    assert len(rows) == 4  # off-snapshot row dropped
    assert "currency_of_commitment" not in staging.columns
    assert "repaid_to_ibrd" not in staging.columns  # folded into repaid


def test_standardize_and_encode(staging):
    by_loan = {r.loan_number: r for r in staging.collect()}
    r1 = by_loan["ibrd00010"]
    assert r1.loan_status == "repaid" and r1.loan_status_bk == 1
    assert r1.loan_type == "fixed spread loan" and r1.loan_type_bk == 3
    assert r1.region == "europe and central asia" and r1.region_bk == 2
    # B5: borrower overwritten from country pair, then BK-encoded
    assert r1.borrower == "ministry of finance (france)" and r1.borrower_bk == 11
    # recode convergence: misspelled country recoded then same BK
    assert by_loan["ibrd00030"].country == "france"
    assert by_loan["ibrd00030"].country_bk == 33
    # derived amounts
    assert r1.repaid == 15.0 and r1.due == 27.0


def test_forward_fill_project_name(staging):
    by_loan = {r.loan_number: r for r in staging.collect()}
    assert by_loan["ibrd00020"].project_name_ == "power grid"


def test_clean_pipeline_leaves_no_pins(spark, raw):
    """The project-name forward fill buckets by a deterministic map of
    loan_number, so nothing needs a cache: a clean run adds no
    registered pin and no persisted RDD."""
    from etl_pipline_ibrd_loan_system_spark import cache

    sc = spark.sparkContext
    pins, rdds = len(cache._PINNED), set(sc._jsc.getPersistentRDDs())
    lp.run_clean_pipeline(raw, MAPS, BK_MAPS).write.format("noop").mode(
        "overwrite"
    ).save()
    assert len(cache._PINNED) == pins
    assert set(sc._jsc.getPersistentRDDs()) == rdds


def test_csv_dictionaries_feed_the_clean_pipeline(spark, raw, staging, tmp_path):
    """A5/B13: the reference's two-column cleaning CSVs (header row,
    mixed case, pyspark_dag2.py:139-264) load as lowercased dicts and
    frames, and the dicts drive the clean pipeline like the literal
    maps."""
    from etl_pipline_ibrd_loan_system_spark.sources.csv_dict import (
        read_dict_csv,
        read_dict_df,
    )

    csvs = {
        "status": "Status,Standard\nFully Repaid,Repaid\nOrphan\nBlank,\n",
        "type": "Type,Standard\nFSL,Fixed Spread Loan\n",
        "country": "Country,Standard\nFrance,France\nFrnace,FRANCE\n",
        "region": "Region,Standard\nEUROPE,Europe and Central Asia\n",
        "borrower_by_country": "Country,Borrower\n"
                               "France,Ministry of Finance (France)\n",
    }
    paths = {}
    for name, text in csvs.items():
        paths[name] = tmp_path / f"{name}.csv"
        paths[name].write_text(text, encoding="utf-8")
    maps = {name: read_dict_csv(str(path)) for name, path in paths.items()}
    # the short row and the `key,` row have no value: both readers skip
    # them, so neither path recodes the key to NULL or ""
    assert maps == MAPS
    frame = read_dict_df(spark, str(paths["status"]))
    assert frame.columns == ["key", "value"]
    assert sorted(map(tuple, frame.collect())) == sorted(maps["status"].items())
    got = lp.run_clean_pipeline(raw, maps, BK_MAPS)
    key = "loan_number"
    assert sorted(got.collect(), key=lambda r: r[key]) == sorted(
        staging.collect(), key=lambda r: r[key]
    )


def test_star_build_and_fact(spark, staging):
    dims = lp.init_star(staging, asof="2024-01-01")
    assert dims["dim_region"].count() == 1
    assert dims["dim_country"].count() == 1  # both variants converge to france
    assert dims["dim_date"].filter(F.col("date").isNull()).count() == 0

    fact = lp.build_fact_loan(staging, dims)
    rows = fact.collect()
    assert len(rows) == 4
    r = {x.loan_number: x for x in rows}["ibrd00010"]
    assert r.fk_region == 1 and r.fk_country == 1
    assert r.board_approval_date_sk == 20100315
    assert r.original_principal_amount == 1000.0

    # second load: rename country (T2) + change code (T1)
    staging2 = staging.withColumn(
        "country", F.when(F.col("country") == "france", "republique francaise")
        .otherwise(F.col("country"))
    )
    dims2 = lp.apply_star_increment(dims, staging2, asof="2024-06-01")
    ctry = dims2["dim_country"].orderBy("pk_country_sk").collect()
    assert len(ctry) == 2  # closed old version + new version
    assert [bool(c.is_current) for c in ctry] == [False, True]
    assert ctry[1].country == "republique francaise"

    fact2 = lp.build_fact_loan(staging2, dims2)
    assert fact2.count() == 4
    assert fact2.select("fk_country").distinct().collect()[0][0] == ctry[1].pk_country_sk


def _fact_by_lookup(staging, dims):
    """`build_fact_loan` in its lookup form: each role-playing date key
    joined from DimDate (built from the same staging, as `init_star`
    builds it) instead of projected."""
    from etl_pipline_ibrd_loan_system_spark.operators.star import build_fact

    fact = staging
    for c in lp.DATE_FK_COLS:
        fact = fact.withColumn(c, F.to_date(F.col(c), "dd-MMM-yyyy"))
    lookups = [
        (dims[f"dim_{name}"].filter(F.col("is_current")), {bk: bk},
         {f"pk_{name}_sk": f"fk_{name}"})
        for name, (bk, *_rest) in lp.DIM_SPECS.items()
    ]
    lookups += [(dims["dim_date"], {c: "date"}, {"date_sk": f"{c}_sk"})
                for c in lp.DATE_FK_COLS]
    out = build_fact(fact, lookups, measure_cols=lp.MEASURE_COLS,
                     key_cols=["loan_number"])
    for c, t in lp.FACT_SINK_CASTS.items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out


def test_fact_date_keys_by_projection_equal_dimdate_lookups(spark, staging):
    """The fact's 4 date keys are projected (`date_sk`), not looked up in
    DimDate. On the 5-row fixture plus a row with a NULL
    board_approval_date, both forms give the same columns in the same
    order and the same rows, and the NULL-date row drops in both."""
    null_date = lp.run_clean_pipeline(
        spark.createDataFrame([_raw_row("IBRD00060")], RAW_SCHEMA), MAPS, BK_MAPS
    ).withColumn("board_approval_date", F.lit(None).cast("string"))
    st = staging.unionByName(null_date)
    dims = lp.init_star(st, asof="2024-01-01")
    proj, look = lp.build_fact_loan(st, dims), _fact_by_lookup(st, dims)
    assert proj.dtypes == look.dtypes
    assert proj.exceptAll(look).count() == 0
    assert look.exceptAll(proj).count() == 0
    assert proj.count() == 4
    assert "ibrd00060" not in {r.loan_number for r in proj.collect()}


def test_fact_unparseable_date_behaves_alike_in_both_forms(spark, staging):
    """A date that does not parse raises in both forms under ANSI (the
    session's setting) and drops in both with ANSI off."""
    bad = staging.withColumn(
        "board_approval_date",
        F.when(F.col("loan_number") == "ibrd00010", "not a date")
        .otherwise(F.col("board_approval_date")),
    )
    dims = lp.init_star(staging, asof="2024-01-01")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for on in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", on)
            forms = (lp.build_fact_loan(bad, dims), _fact_by_lookup(bad, dims))
            if on == "true":
                for fact in forms:
                    with pytest.raises(Exception, match="not a date"):
                        fact.collect()
            else:
                for fact in forms:
                    got = {r.loan_number for r in fact.collect()}
                    assert len(got) == 3 and "ibrd00010" not in got
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_star_snaptable_merge_path(spark, staging, tmp_path):
    """VERDICT r6 item 3: the production SCD2 path runs THROUGH the
    snapshot-log table format — 7 snaptable creates, then 7 bucket-level
    copy-on-write MERGE commits — and is row-identical (every semantic
    column: business key, attrs, validity interval, currency flag) to
    the overwrite-rebuild path the g1 oracle checks. Also proves time
    travel: after the merge, version=1 still reads the untouched initial
    load bit-for-bit."""
    root = str(tmp_path / "warehouse")
    lp.init_star_snaptable(spark, staging, asof="2024-01-01", root=root)

    staging2 = staging.withColumn(
        "country", F.when(F.col("country") == "france", "republique francaise")
        .otherwise(F.col("country"))
    )
    manifests = lp.apply_star_increment_snaptable(
        spark, staging2, asof="2024-06-01", root=root
    )
    assert list(manifests) == [f"dim_{n}" for n in lp.DIM_SPECS]
    assert all(m["version"] == 2 for m in manifests.values())

    # reference path: in-memory overwrite-rebuild (the g1-oracle shape)
    dims_mem = lp.apply_star_increment(
        lp.init_star(staging, asof="2024-01-01"), staging2, asof="2024-06-01"
    )
    dims_snap = lp.load_star_snaptable(spark, staging2, root)
    for name, (bk, attrs, _t1, _t2) in lp.DIM_SPECS.items():
        sem = [bk, *attrs, "start_date", "end_date", "is_current"]
        mem = dims_mem[f"dim_{name}"].select(*sem)
        snap = dims_snap[f"dim_{name}"].select(*sem)
        assert mem.exceptAll(snap).count() == 0, f"dim_{name}: mem-only rows"
        assert snap.exceptAll(mem).count() == 0, f"dim_{name}: snap-only rows"

    # merge really was SCD2: country dim has closed + current version
    ctry = dims_snap["dim_country"].orderBy("start_date").collect()
    assert [bool(c.is_current) for c in ctry] == [False, True]
    assert ctry[1].country == "republique francaise"

    # time travel: version 1 == the initial load, untouched by the merge
    v1 = lp.load_star_snaptable(spark, staging, root, version=1)
    ctry_v1 = v1["dim_country"].collect()
    assert len(ctry_v1) == 1 and bool(ctry_v1[0].is_current)
    assert ctry_v1[0].country == "france"

    # the fact cascade consumes snaptable-read dims directly
    fact = lp.build_fact_loan(staging2, dims_snap)
    rows = fact.collect()
    assert len(rows) == 4
    cur_sk = [c.pk_country_sk for c in ctry if c.is_current][0]
    assert {r.fk_country for r in rows} == {cur_sk}

    # THIRD load: a second MERGE must still know the sk column (the
    # manifest carries sk_col through every commit, not just create)
    staging3 = staging2.withColumn(
        "country_code", F.when(F.col("country_code") == "fr", "fx")
        .otherwise(F.col("country_code"))
    )
    manifests3 = lp.apply_star_increment_snaptable(
        spark, staging3, asof="2024-09-01", root=root
    )
    assert all(m["version"] == 3 for m in manifests3.values())
    ctry3 = lp.load_star_snaptable(spark, staging3, root)["dim_country"]
    cur = ctry3.filter(F.col("is_current")).collect()
    # country_code is T1 on dim_country: overwritten in place, same row count
    assert len(cur) == 1 and cur[0].country_code == "fx"
    assert ctry3.count() == 2


def _group_jobs(spark, group):
    """Job ids the status store holds for `group` (None = no group),
    read after the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_star_snaptable_jobs_stay_in_caller_job_group(spark, staging, tmp_path):
    """The 7 dimension commits run on worker threads; each must inherit
    the caller's job group, or per-group tracing (perfbench spans,
    measure.run_pass) silently drops their jobs. Every job the two calls
    run lands in the caller's group, and none lands outside any group."""
    sc = spark.sparkContext
    root = str(tmp_path / "warehouse")
    init_group, merge_group = (f"star-{s}-{uuid.uuid4().hex}" for s in ("init", "merge"))
    ungrouped = _group_jobs(spark, None)
    try:
        sc.setJobGroup(init_group, "init_star_snaptable")
        lp.init_star_snaptable(spark, staging, asof="2024-01-01", root=root)
        sc.setJobGroup(merge_group, "apply_star_increment_snaptable")
        lp.apply_star_increment_snaptable(spark, staging, asof="2024-06-01", root=root)
    finally:
        sc._jsc.clearJobGroup()
    for group in (init_group, merge_group):
        assert len(_group_jobs(spark, group)) >= len(lp.DIM_SPECS), group
    assert _group_jobs(spark, None) - ungrouped == set()


def test_star_snaptable_apply_leaves_no_pins(spark, staging, tmp_path):
    """The increment's SCD2 merges route each classified row once, so
    nothing needs a cache: the apply adds no registered pin and no
    persisted RDD, which a long-lived session would otherwise
    accumulate every hour."""
    from etl_pipline_ibrd_loan_system_spark import cache

    sc = spark.sparkContext
    root = str(tmp_path / "warehouse")
    lp.init_star_snaptable(spark, staging, asof="2024-01-01", root=root)
    pins, rdds = len(cache._PINNED), set(sc._jsc.getPersistentRDDs())
    lp.apply_star_increment_snaptable(spark, staging, asof="2024-06-01", root=root)
    assert len(cache._PINNED) == pins
    assert set(sc._jsc.getPersistentRDDs()) == rdds


def test_star_snaptable_failure_waits_for_every_dimension(spark, staging, tmp_path):
    """One failing dimension (dim_region already exists) raises only
    after every other dimension's commit finished and published, and no
    worker thread outlives the call."""
    from etl_pipline_ibrd_loan_system_spark.sources import snaptable

    root = str(tmp_path / "warehouse")
    snaptable.create(
        spark, os.path.join(root, "dim_region"),
        spark.createDataFrame([(1,)], "region_bk int"), "region_bk",
    )
    threads = threading.active_count()
    with pytest.raises(FileExistsError, match="dim_region"):
        lp.init_star_snaptable(spark, staging, asof="2024-01-01", root=root)
    assert threading.active_count() == threads
    for name in lp.DIM_SPECS:
        if name != "region":
            assert snaptable.current_version(os.path.join(root, f"dim_{name}")) == 1, name


def test_fact_sink_numeric18_narrowing(spark):
    """VERDICT r7 item 4: the SSIS Fact_Loan destination narrows
    original_principal_amount double -> DT_NUMERIC(18,0)
    (`project SSIS::loan_fact.dtsx:1711-1999`). SQL Server's
    float->numeric conversion ROUNDS half away from zero (never
    truncates) — assert the sink column type and the exact tie/round
    behavior through the full clean->star->fact path."""
    from decimal import Decimal

    import pyspark.sql.types as T2

    rows = [
        _raw_row("IBRD00110", principal=1000.6),   # rounds UP, not truncated
        _raw_row("IBRD00120", principal=1000.4),   # rounds down
        _raw_row("IBRD00130", principal=1000.5),   # tie: half away from zero
    ]
    staging = lp.run_clean_pipeline(
        spark.createDataFrame(rows, RAW_SCHEMA), MAPS, BK_MAPS
    )
    dims = lp.init_star(staging, asof="2024-01-01")
    fact = lp.build_fact_loan(staging, dims)
    field = dict(zip(fact.schema.names, fact.schema.fields))[
        "original_principal_amount"
    ]
    assert field.dataType == T2.DecimalType(18, 0), field.dataType
    got = {
        r.loan_number: r.original_principal_amount for r in fact.collect()
    }
    assert got == {
        "ibrd00110": Decimal("1001"),
        "ibrd00120": Decimal("1000"),
        "ibrd00130": Decimal("1001"),
    }
    # the other measures stay double (DT_R8 destination columns)
    assert dict(zip(fact.schema.names, fact.schema.fields))[
        "disbursed_amount"
    ].dataType == T2.DoubleType()


def test_loan_type_dim_timestamp_grain(spark):
    """VERDICT r7 item 5: Dimension_LoanType alone declares
    DT_DBTIMESTAMP start/end dates (`project
    SSIS::loan_type_dim.dtsx:327-332`) where the other six dims use
    DT_DBDATE. Two loads through the pipeline: the loan_type dim's
    validity columns must be timestamps, a T2 rename must close the old
    version at timestamp grain, and a date-typed sibling dim stays
    DateType."""
    import datetime

    import pyspark.sql.types as T2

    staging = lp.run_clean_pipeline(
        spark.createDataFrame([_raw_row("IBRD00210")], RAW_SCHEMA), MAPS, BK_MAPS
    )
    dims = lp.init_star(staging, asof="2024-01-01")
    lt = dims["dim_loan_type"]
    fields = dict(zip(lt.schema.names, lt.schema.fields))
    assert fields["start_date"].dataType == T2.TimestampType()
    assert fields["end_date"].dataType == T2.TimestampType()
    # sibling dim keeps DT_DBDATE parity
    reg_fields = dict(zip(dims["dim_region"].schema.names,
                          dims["dim_region"].schema.fields))
    assert reg_fields["start_date"].dataType == T2.DateType()

    # second load: loan_type is a T2 attribute — rename forces a close
    staging2 = staging.withColumn(
        "loan_type", F.lit("variable spread loan")
    )
    dims2 = lp.apply_star_increment(dims, staging2, asof="2024-06-01")
    rows = sorted(
        dims2["dim_loan_type"].collect(), key=lambda r: bool(r.is_current)
    )
    assert len(rows) == 2
    closed, current = rows[0], rows[1]
    assert not closed.is_current
    assert closed.end_date == datetime.datetime(2024, 6, 1, 0, 0)
    assert isinstance(closed.end_date, datetime.datetime)
    assert current.is_current and current.end_date is None
    assert current.loan_type == "variable spread loan"
    assert current.start_date == datetime.datetime(2024, 6, 1, 0, 0)
