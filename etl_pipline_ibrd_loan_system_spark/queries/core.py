"""Core relational queries: cleaning / filter / projection / aggregates
(SURVEY.md §2.B, §2.D) mapped onto the driver testdata per FIXTURES.md §E.

The loan-star roles: `lineitem` stands in for fact-grain staging rows,
`orders` for loan headers, `customer`/`nation`/`region` for the recodable
dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import (
    davg,
    dsum,
    lavg_unscaled,
    lsum_unscaled,
    sql_davg,
    sql_dsum,
    unscaled_sql,
)
from ..operators import cleaning
from . import query

# --- flagship: dashboard-shaped star aggregate (TPC-H Q1 form) -----------
# Mirrors the BI layer's core question — grouped SUM/AVG/COUNT measures over
# fact-grain rows with a date predicate (SURVEY.md §2.D D2-D5, §3.3).


@query(
    "q1_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,4))', 'sum_disc_price', cast=False)},
           {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,4)) * CAST(1 + l_tax AS DECIMAL(8,4))', 'sum_charge', cast=False)},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimization r11 (guide §1.2 step 2 / §2.3): the measures are the
    dsum()/davg() decimal forms computed in UNSCALED-LONG space — the
    HALF_UP decimal casts (the cross-engine contract) stay per row, but
    the multiplies and the SUM accumulation run on int64 instead of
    per-row java.math.BigDecimal (measured 0.82s -> long-space at sf0.1;
    see functions/exact.py's exactness argument — the outputs are
    bit-identical, and the oracle SQL above is unchanged). Per-row value
    bounds sizing the limbs: qty<=1e2 -> u4 7 digits; price<1e8 -> u4 12
    digits, cents 10 digits; disc_price u6 <= cents*1e4 -> 14 digits;
    charge u10 <= that*1.1e4 -> 18 digits (3 limbs)."""
    li = load_table(spark, sf_dir, "lineitem")
    # One decimal cast per source column (4 total, was 6 — each costs
    # ~0.1s/600k rows): money/rate columns carry <=2dp values, so the
    # other unscaled forms are exact integer derivations, each with >=4
    # orders of magnitude of rounding margin (values sit ~1e-13 from a
    # 2dp grid, 4dp rounding boundaries are 5e-5 away):
    #   CAST(ep AS DEC(18,4))*1e4      == cents*100
    #   CAST(1-disc AS DEC(8,4))*1e4   == 10000 - disc_u4
    #   CAST(1+tax  AS DEC(8,4))*1e4   == 10000 + tax_u4
    # Oracle match at sf0.001/0.01/0.1 proves the identities on the data.
    # DATA CONTRACT (ADVICE r11): the single-cast identities above hold
    # because money/discount/tax values sit on a 2-decimal grid far from
    # HALF_UP boundaries; on >2dp inputs or values at a rounding
    # boundary the long-space forms would diverge from the decimal forms
    # the oracle computes — keep the dsum/davg path for non-grid inputs.
    qty_u = unscaled_sql("CAST(l_quantity AS DECIMAL(18,4))", 4)
    cents = unscaled_sql("CAST(l_extendedprice AS DECIMAL(12,2))", 2)
    ep_u = f"({cents}) * 100"
    disc_u = unscaled_sql("CAST(l_discount AS DECIMAL(18,4))", 4)
    tax_u = unscaled_sql("CAST(l_tax AS DECIMAL(18,4))", 4)
    dfac = f"(10000 - ({disc_u}))"
    tfac = f"(10000 + ({tax_u}))"
    disc_price_u = f"({cents}) * ({dfac})"  # scale 6, exact in int64
    charge_u = f"({disc_price_u}) * ({tfac})"  # scale 10, <= ~1.2e18
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            lsum_unscaled(qty_u, 4, "sum_qty", limbs=2),
            lsum_unscaled(ep_u, 4, "sum_base_price", limbs=2),
            lsum_unscaled(disc_price_u, 6, "sum_disc_price", limbs=3),
            lsum_unscaled(charge_u, 10, "sum_charge", limbs=3),
            lavg_unscaled(qty_u, 4, "avg_qty", limbs=2),
            lavg_unscaled(ep_u, 4, "avg_price", limbs=2),
            lavg_unscaled(disc_u, 4, "avg_disc", limbs=2),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- B1: IN-list snapshot filter (pyspark_dag2.py:120-126) ---------------


@query(
    "b1_isin_snapshot_filter",
    sql="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem WHERE l_returnflag IN ('A', 'R')
    """,
)
def b1_isin_snapshot_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    kept = cleaning.snapshot_filter(li, "l_returnflag", ["A", "R"])
    return kept.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


# --- B2: multi-column drop (pyspark_dag2.py:123,127) ---------------------


@query(
    "b2_drop_columns",
    sql="SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders",
)
def b2_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return cleaning.drop_columns(orders, ["o_orderstatus", "o_orderpriority"])


# --- B3: lowercase-normalize all string columns (pyspark_dag2.py:130-132) -


@query(
    "b3_lowercase_strings",
    sql="""
    SELECT c_custkey, LOWER(c_name) AS c_name, c_nationkey, c_acctbal,
           LOWER(c_mktsegment) AS c_mktsegment
    FROM customer
    """,
)
def b3_lowercase_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cleaning.lowercase_strings(load_table(spark, sf_dir, "customer"))


# --- D2: COUNT measure by group (dashboard "Number of Loans") ------------


@query(
    "d2_count_by_group",
    sql="SELECT o_orderstatus, COUNT(*) AS n_loans FROM orders GROUP BY o_orderstatus",
)
def d2_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_loans"))


# --- B4: dictionary value recode (pyspark_dag2.py:304-305) ---------------


@query(
    "b4_dict_recode",
    sql="""
    SELECT c_custkey,
           CASE c_mktsegment
             WHEN 'BUILDING' THEN 'bldg' WHEN 'AUTOMOBILE' THEN 'auto'
             WHEN 'MACHINERY' THEN 'mach' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def b4_dict_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recoded = cleaning.recode(
        cust,
        {"BUILDING": "bldg", "AUTOMOBILE": "auto", "MACHINERY": "mach"},
        subset=["c_mktsegment"],
    )
    return recoded.select("c_custkey", "c_mktsegment")


# --- B5: keyed conditional overwrite (pyspark_dag2.py:307-311) -----------


@query(
    "b5_conditional_overwrite",
    sql="""
    SELECT c_custkey,
           CASE c_mktsegment
             WHEN 'BUILDING' THEN 'construction corp'
             WHEN 'FURNITURE' THEN 'furniture corp'
             ELSE c_name END AS c_name,
           c_mktsegment
    FROM customer
    """,
)
def b5_conditional_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    out = cleaning.conditional_overwrite(
        cust,
        target="c_name",
        key_col="c_mktsegment",
        pairs={"BUILDING": "construction corp", "FURNITURE": "furniture corp"},
    )
    return out.select("c_custkey", "c_name", "c_mktsegment")


# --- B6: null fill (pyspark_dag2.py:362) ---------------------------------


@query(
    "b6_null_fill",
    sql="""
    SELECT doc_id, COALESCE(NULLIF(lang, 'en'), 'not_specified') AS lang_filled
    FROM documents
    """,
)
def b6_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # manufacture nulls deterministically (testdata has none), then fill —
    # the operator under test is na.fill (B6)
    withnull = docs.withColumn(
        "lang_filled", F.when(F.col("lang") == "en", None).otherwise(F.col("lang"))
    )
    return cleaning.fill_nulls(withnull, "not_specified", ["lang_filled"]).select(
        "doc_id", "lang_filled"
    )


# --- B7: literal-map business-key encode (pyspark_dag2.py:355-369) -------


@query(
    "b7_map_encode",
    sql="""
    SELECT r_regionkey, r_name,
           CASE r_name WHEN 'AFRICA' THEN 1 WHEN 'AMERICA' THEN 2 WHEN 'ASIA' THEN 3
                       WHEN 'EUROPE' THEN 4 ELSE NULL END AS region_bk
    FROM region
    """,
)
def b7_map_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    # 'MIDDLE EAST' intentionally absent -> null BK path (FIXTURES.md §B)
    return cleaning.map_encode(
        region,
        {"AFRICA": 1, "AMERICA": 2, "ASIA": 3, "EUROPE": 4},
        source="r_name",
        dest="region_bk",
    ).select("r_regionkey", "r_name", "region_bk")


# --- B8: derived arithmetic column (pyspark_dag2.py:380-382) -------------


@query(
    "b8_derived_arithmetic",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity + l_tax AS repaid
    FROM lineitem
    """,
)
def b8_derived_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = cleaning.derived_sum(li, "repaid", ["l_quantity", "l_tax"], drop_inputs=False)
    return out.select("l_orderkey", "l_linenumber", "repaid")


# --- B11/B12: type-cast projection (loan_fact.dtsx:221-443) --------------


@query(
    "b11_cast_projection",
    sql="""
    SELECT CAST(s_suppkey AS VARCHAR) AS s_suppkey_str,
           CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS s_acctbal_dec,
           CAST(s_nationkey AS BIGINT) AS s_nationkey_long
    FROM supplier
    """,
)
def b11_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decimal cast round-tripped to double: exercises the cast while keeping
    # the output schema primitive (Decimal objects hash differently per engine)
    sup = load_table(spark, sf_dir, "supplier")
    return sup.select(
        F.col("s_suppkey").cast("string").alias("s_suppkey_str"),
        F.col("s_acctbal").cast("decimal(18,2)").cast("double").alias("s_acctbal_dec"),
        F.col("s_nationkey").cast("bigint").alias("s_nationkey_long"),
    )


# --- C1: full-cache equi lookup with current-slice filter ----------------
# (`project SSIS::country_dimension.dtsx:1257-1290`)


@query(
    "c1_lookup_current_slice",
    sql="""
    SELECT c_custkey, c_name, n.n_name AS nation_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey < 3
    """,
)
def c1_lookup_current_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.star import lookup_join

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").withColumn(
        "is_current", F.col("n_regionkey") < 3
    )
    out = lookup_join(
        cust,
        nation,
        on={"c_nationkey": "n_nationkey"},
        copy_cols={"n_name": "nation_name"},
        current_col="is_current",
        how="inner",
    )
    return out.select("c_custkey", "c_name", "nation_name")


# --- C2: surrogate-key lookup cascade (loan_fact.dtsx:921-1710) ----------


@query(
    "c2_lookup_cascade",
    sql="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand AS part_brand,
           s.s_name AS supplier_name, o.o_orderstatus AS order_status,
           l.l_quantity
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def c2_lookup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.star import build_fact

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    return build_fact(
        li,
        lookups=[
            (part, {"l_partkey": "p_partkey"}, {"p_brand": "part_brand"}),
            (sup, {"l_suppkey": "s_suppkey"}, {"s_name": "supplier_name"}),
            (orders, {"l_orderkey": "o_orderkey"}, {"o_orderstatus": "order_status"}),
        ],
        measure_cols=["l_quantity"],
        key_cols=["l_orderkey", "l_linenumber"],
    )


# --- C3: role-playing date-dimension lookups (loan_fact.dtsx:62-920) -----


@query(
    "c3_role_playing_dates",
    sql="""
    WITH dd AS (
      SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_sk, d AS date
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
            WHERE o_orderdate IS NOT NULL
            UNION
            SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem
            WHERE l_shipdate IS NOT NULL)
    )
    SELECT l.l_orderkey, l.l_linenumber,
           ds.date_sk AS ship_date_sk, od.date_sk AS order_date_sk
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN dd ds ON CAST(l.l_shipdate AS DATE) = ds.date
    JOIN dd od ON CAST(o.o_orderdate AS DATE) = od.date
    """,
)
def c3_role_playing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each role's date key is the `date_sk` projection of its own date;
    the oracle keeps the DimDate join, so a match checks the two agree
    (a NULL date drops, as the inner join drops it)."""
    from ..operators.star import date_sk

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ship, order = F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    fact = li.join(orders, li.l_orderkey == orders.o_orderkey).where(
        ship.isNotNull() & order.isNotNull()
    )
    return fact.select(
        li.l_orderkey, "l_linenumber",
        date_sk(ship).alias("ship_date_sk"), date_sk(order).alias("order_date_sk"),
    )


# --- D1: DISTINCT projection (loan_type_dim.dtsx:569) --------------------


@query(
    "d1_distinct_projection",
    sql="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def d1_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# --- D3: SUM measures by group (dashboard "Total Loan Amount") -----------


@query(
    "d3_sum_by_group",
    sql=f"""
    SELECT o_orderpriority, {sql_dsum('o_totalprice', 'total_amount')}
    FROM orders GROUP BY o_orderpriority
    """,
)
def d3_sum_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(dsum("o_totalprice", "total_amount"))


# --- D4: AVG measure (dashboard "Average Interest Rate") -----------------


@query(
    "d4_avg_by_group",
    sql=f"""
    SELECT l_returnflag, {sql_davg('l_discount', 'avg_rate')}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d4_avg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(davg("l_discount", "avg_rate"))


# --- D5: derived product measure (dashboard "Interest Income") -----------


@query(
    "d5_product_measure",
    sql=f"""
    SELECT l_returnflag,
           {sql_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,4))', 'interest_income', cast=False)}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d5_product_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    income = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast(
        "decimal(8,4)"
    )
    return li.groupBy("l_returnflag").agg(dsum(income, "interest_income", cast_to=None))


# --- D6: DISTINCTCOUNT measures (dashboard "Borrowers"/"Guarantors") -----


@query(
    "d6_distinct_count",
    sql="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_borrowers
    FROM orders GROUP BY o_orderstatus
    """,
)
def d6_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_borrowers")
    )


# --- D7: time-series aggregate by year (dashboard date hierarchy) --------


@query(
    "d7_year_timeseries",
    sql=f"""
    SELECT year(o_orderdate) AS order_year, {sql_dsum('o_totalprice', 'loan_amount')}
    FROM orders GROUP BY year(o_orderdate) ORDER BY order_year
    """,
)
def d7_year_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(dsum("o_totalprice", "loan_amount"))
        .orderBy("order_year")
    )


# --- E1: global-order forward-fill (pyspark_dag2.py:371-379) -------------

_E1_SQL = """
    SELECT l_orderkey, l_linenumber,
           last_value(flag_sparse IGNORE NULLS) OVER (
             ORDER BY l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS flag_filled
    FROM (SELECT l_orderkey, l_linenumber,
                 CASE WHEN l_quantity < 5 THEN NULL ELSE l_returnflag END AS flag_sparse
          FROM lineitem)
    """


@query("e1_forward_fill", sql=_E1_SQL)
def e1_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's global fill through `forward_fill`, which runs
    the same bucketed two-pass plan as e1b (buckets over the integral
    l_orderkey, one bucket exchange, no sampler, no pin)."""
    from ..operators.window_ops import forward_fill

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") < 5, None)
        .otherwise(F.col("l_returnflag"))
        .alias("flag_filled"),
    )
    return forward_fill(li, ["l_orderkey", "l_linenumber"], "flag_filled")


@query("e1b_forward_fill_scalable", sql=_E1_SQL)
def e1b_forward_fill_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as e1, calling `forward_fill_scalable` directly:
    e1 and e1b plan the same fill and are oracle-checked against the
    same SQL. TPC-H dbgen assigns l_orderkey densely and uniformly over
    its range, so the buckets over it stay balanced."""
    from ..operators.window_ops import forward_fill_scalable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") < 5, None)
        .otherwise(F.col("l_returnflag"))
        .alias("flag_filled"),
    )
    return forward_fill_scalable(li, ["l_orderkey", "l_linenumber"], "flag_filled")


# --- E2/F4: top-N per group (dashboard sort-by-measure + rank) -----------


@query(
    "e2_top_n_per_group",
    sql="""
    SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 5
    """,
)
def e2_top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.window_ops import top_n_per_group

    orders = load_table(spark, sf_dir, "orders")
    ranked = top_n_per_group(
        orders,
        ["o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        n=5,
    )
    return ranked.select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")


# --- F1: paged UNION ALL accumulate (spark_airflow.ipynb:113-114) --------


@query(
    "f1_union_pages",
    sql=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows, {sql_dsum('l_quantity', 'sum_qty')}
    FROM (
      SELECT * FROM lineitem WHERE l_orderkey % 3 = 0
      UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 3 = 1
      UNION ALL SELECT * FROM lineitem WHERE l_orderkey % 3 = 2
    ) GROUP BY l_returnflag
    """,
)
def f1_union_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import union_pages

    li = load_table(spark, sf_dir, "lineitem")
    pages = [li.filter(F.col("l_orderkey") % 3 == m) for m in (0, 1, 2)]
    return (
        union_pages(pages)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
    )


# --- B9/B10: literal + audit-stamp columns --------------------------------
# (`project SSIS::bor_dim.dtsx:62-75` ssc=(DT_I4)1; `:135-220` audit dates)


@query(
    "b9_b10_audit_columns",
    sql="""
    SELECT r_regionkey, r_name,
           1 AS source_system_code,
           DATE '2024-06-30' AS start_date,
           CAST(NULL AS DATE) AS end_date
    FROM region
    """,
)
def b9_b10_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cleaning import audit_dates, with_literal

    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = with_literal(region, "source_system_code", 1, "int")
    # asof pinned for determinism (SSIS stamps @[System::StartTime];
    # production passes None -> current_date)
    return audit_dates(out, asof="2024-06-30")


# --- D8: skew-proof two-phase (salted) aggregation ------------------------
# (no reference analog — 100 TB hygiene; SCALE.md. Integer-exact sums so
# the merge order introduced by salting cannot perturb the values.)


@query(
    "d8_salted_agg",
    sql="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_int
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d8_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_rows": ("sum", F.count(F.lit(1))),
            "sum_qty_int": ("sum", F.sum(F.col("l_quantity").cast("bigint"))),
        },
        salt=16,
    )


# --- J1: as-of (point-in-time) join ---------------------------------------
# (no reference analog — the canonical missing-operator example; see
# operators/asof.py for the union+window scalable formulation)


@query(
    "j1_asof_join",
    sql="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS BIGINT) AS r_id
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, NULL, 0, event_id
      FROM events WHERE event_type = 'error'
    ), f AS (
      SELECT *, last_value(r_id IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts, side
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS last_error_id
      FROM u
    )
    SELECT event_id, user_id, ts, last_error_id
    FROM f WHERE side = 1
    """,
)
def j1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every click event annotated with the most recent error event (id)
    at-or-before it for the same user."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("last_error_id")
    )
    out = asof_join(clicks, errors, key="user_id", ts="ts", suffix="")
    return out.select("event_id", "user_id", "ts", "last_error_id")


@query(
    "j1c_asof_forward",
    sql="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS BIGINT) AS r_id
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, NULL, 0, event_id
      FROM events WHERE event_type = 'error'
    ), f AS (
      SELECT *, first_value(r_id IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts, side DESC
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
      ) AS next_error_id
      FROM u
    )
    SELECT event_id, user_id, ts, next_error_id
    FROM f WHERE side = 1
    """,
)
def j1c_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: every click annotated with the NEXT error event
    (id) at-or-after it for the same user (pandas merge_asof
    direction='forward') — same union+window plan as j1, frame flipped
    to CURRENT ROW..FOLLOWING with left rows winning tied timestamps."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("next_error_id")
    )
    out = asof_join(
        clicks, errors, key="user_id", ts="ts", suffix="", direction="forward"
    )
    return out.select("event_id", "user_id", "ts", "next_error_id")


@query(
    "j1d_asof_nearest",
    sql="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS side,
             CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS TIMESTAMP) AS r_ts
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, NULL, 0, event_id, ts
      FROM events WHERE event_type = 'error'
    ), f AS (
      SELECT *,
             last_value(r_id IGNORE NULLS) OVER wb AS b_id,
             last_value(r_ts IGNORE NULLS) OVER wb AS b_ts,
             first_value(r_id IGNORE NULLS) OVER wf AS f_id,
             first_value(r_ts IGNORE NULLS) OVER wf AS f_ts
      FROM u
      WINDOW wb AS (PARTITION BY user_id ORDER BY ts, side
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY ts, side DESC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN f_ts IS NULL THEN b_id
                WHEN b_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(b_ts)
                         <= epoch_us(f_ts) - epoch_us(ts) THEN b_id
                ELSE f_id END AS near_error_id
    FROM f WHERE side = 1
    """,
)
def j1d_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of: every click annotated with the temporally CLOSEST
    error event for the same user, ties to the earlier one (pandas
    merge_asof direction='nearest'). Both directional fills run over
    ONE user exchange; the oracle replays them as two window clauses
    and the same tie rule."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("near_error_id")
    )
    out = asof_join(
        clicks, errors, key="user_id", ts="ts", suffix="", direction="nearest"
    )
    return out.select("event_id", "user_id", "ts", "near_error_id")


# --- B14: semi-structured JSON extraction ---------------------------------
# (events.props is a JSON string — the semi-structured column path)


@query(
    "b14_json_extract",
    sql="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def b14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


# --- A1b: paged ingest at scale ---------------------------------------------
# (sources/rest_datasource.py — staged pages land through Spark's JSON file
# source; the reference fetched them sequentially on the driver,
# pyspark_dag2.py:52-77)


@query(
    "a1_paged_datasource",
    sql="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def a1_paged_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.rest_datasource import read_pages, stage_pages_from_parquet

    out_dir = tempfile.mkdtemp(prefix="a1_pages_")
    cols = ["doc_id", "lang", "source", "n_chars"]
    n = stage_pages_from_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        out_dir,
        page_size=100,
        columns=cols,
        order_col="doc_id",
    )
    return read_pages(
        spark, out_dir, n,
        schema="doc_id bigint, lang string, source string, n_chars bigint",
    )


# --- D9-D11 / F5: wider query surface (exact quantiles, pivot, rollup,
# set ops) — not in the reference, table-stakes for an analytics engine.


@query(
    "d9_exact_quantiles",
    sql="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d9_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). The scale swap-in is `percentile_approx`
    (mergeable t-digest, one pass) — documented, not oracle-able."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
    )


@query(
    "d10_pivot",
    sql="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS status_o
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d10_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with EXPLICIT value list — at scale never let pivot infer
    values (that's an extra distinct pass over the data)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
    )


@query(
    "d11_rollup",
    sql="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_int
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def d11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in ONE pass (Spark expands grouping sets
    map-side; no N-queries-unioned)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty_int"),
    )


@query(
    "f5_intersect_except",
    sql="""
    SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
    INTERSECT
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0
    """,
)
def f5_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT (distinct semantics) — compile to left-semi /
    left-anti joins under Catalyst, shuffling only distinct keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    evens = cust.where(F.col("c_custkey") % 2 == 0).select("c_custkey")
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey"))
    tens = cust.where(F.col("c_custkey") % 10 == 0).select("c_custkey")
    return evens.intersect(with_orders).exceptAll(tens.distinct())


# --- SQL1: shared-dialect SQL surface -------------------------------------
# One ANSI string, executed verbatim by spark.sql AND the DuckDB oracle:
# the engine's SQL API is first-class, not a DataFrame-only facade.

_SHARED_SQL = """
    SELECT n.n_name AS nation, COUNT(*) AS n_orders,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    HAVING COUNT(*) > 10
"""


@query("sql1_shared_dialect", sql=_SHARED_SQL)
def sql1_shared_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_SQL)


# --- E3-E5, D12: extended window + grouping surface -----------------------
# Beyond the reference's single window op: the rolling/ranking/gap-fill
# shapes a dashboard-plus-training-pipeline workload actually issues.


@query(
    "e3_rolling_agg",
    sql="""
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS trailing_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def e3_rolling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rolling frame: lag/lead + decimal-exact trailing sum."""
    from ..operators.window_ops import rolling_agg

    ev = load_table(spark, sf_dir, "events")
    return rolling_agg(
        ev, ["user_id"], ["ts", "event_id"], "value", preceding=3
    ).select("event_id", "user_id", "value", "prev_value", "next_value", "trailing_sum")


@query(
    "e16_time_range_rolling",
    sql="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS trailing_n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE)
             AS trailing_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def e16_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour per-user activity (count + decimal-exact sum)
    with a time-RANGE frame — frame width follows event density, which
    a ROWS frame (e3) cannot express. Same-second rows are RANGE peers
    on both engines, so no id tie-break is needed for determinism.

    The frame key is FLOORED whole seconds on BOTH engines: Spark's
    timestamp->long cast truncates sub-second precision while DuckDB's
    epoch() returns fractional DOUBLE seconds, so an unfloored oracle
    disagrees on any pair of events 3600-3601s apart — a boundary case
    absent at sf0.01 and caught by the round-6 full-registry sf0.1
    sweep (one row in 100k). Whole-second bucketing is the documented
    semantic: the frame is [t-3600s, t] in second resolution."""
    from ..operators.window_ops import time_range_rolling

    ev = load_table(spark, sf_dir, "events")
    return time_range_rolling(
        ev, ["user_id"], "ts", "value", trailing_seconds=3600
    ).select("event_id", "user_id", "trailing_n", "trailing_sum")


@query(
    "e4_ranking_family",
    sql="""
    SELECT o_orderkey, o_orderstatus,
           rank() OVER w AS rnk, dense_rank() OVER w AS dense_rnk,
           percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume,
           ntile(4) OVER w AS tile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def e4_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist / ntile over one
    window (deterministic via the o_orderkey tiebreak)."""
    from ..operators.window_ops import ranking_family

    orders = load_table(spark, sf_dir, "orders")
    return ranking_family(
        orders,
        ["o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        tiles=4,
    ).select(
        "o_orderkey", "o_orderstatus", "rnk", "dense_rnk", "pct_rank", "cume", "tile"
    )


@query(
    "e5_date_spine_gap_fill",
    sql=f"""
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
             {sql_dsum('value', 'sum_value')}
      FROM events GROUP BY 1, 2
    )
    SELECT k.user_id, s.day,
           COALESCE(d.n_events, 0) AS n_events,
           COALESCE(d.sum_value, 0.0) AS sum_value
    FROM keys k CROSS JOIN spine s
    LEFT JOIN daily d ON d.user_id = k.user_id AND d.day = s.day
    """,
)
def e5_date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free per-user daily series via broadcast date spine — the
    time-series featurization shape (no silent missing days)."""
    from ..operators.window_ops import date_spine_fill

    ev = load_table(spark, sf_dir, "events")
    return date_spine_fill(
        ev,
        "user_id",
        "ts",
        aggs=[F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")],
        fill={"n_events": 0, "sum_value": 0.0},
    )


# One ANSI string for Spark SQL and the oracle, like sql1: GROUPING SETS
# with GROUPING() flags (supersets d11's ROLLUP — arbitrary set lattice).
_D12_SQL = """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS n_rows, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_int
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
"""


@query("d12_grouping_sets", sql=_D12_SQL)
def d12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping-set lattice in one pass (Spark expands the sets
    map-side — no N-scans-unioned), disambiguated by GROUPING() flags."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_D12_SQL)


# --- SK1: distributed cardinality sketch (scale path for D6) --------------
# The oracle replays the full HLL algorithm (same hash, same registers,
# same estimator) in DuckDB — generated from the same Python code, so the
# approximate path is hash-checked exactly, unlike engine-private
# approx_count_distinct.

from ..operators.sketches import hll_distinct, hll_oracle_sql  # noqa: E402


@query(
    "sk1_hll_distinct",
    sql=hll_oracle_sql("events", "event_id", ["event_type"]),
)
def sk1_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog COUNT DISTINCT per event_type: shuffle carries at most
    512 registers per group instead of every distinct key."""
    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_id", ["event_type"])


from ..operators.sketches import (  # noqa: E402
    histogram_quantiles,
    histogram_quantiles_oracle_sql,
)


@query(
    "sk2_histogram_quantiles",
    sql=histogram_quantiles_oracle_sql("events", "value", ["event_type"]),
)
def sk2_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass mergeable quantile sketch: the shuffle carries at most
    64 bin counts per group instead of every value (D9 is the exact,
    full-sort counterpart)."""
    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(ev, "value", ["event_type"])


# --- SK3/SK4: frequency + membership sketches ------------------------------
# Like sk1, both replay bit-for-bit in the oracle: Spark plan and DuckDB
# SQL are generated from the same Python loops over the same salted
# 60-bit md5 hash, so the approximation itself is hash-checked.

from ..operators.sketches import (  # noqa: E402
    bloom_oracle_sql,
    bloom_probe,
    countmin_estimate,
    countmin_oracle_sql,
)


@query(
    "sk3_countmin_freq",
    sql="WITH " + countmin_oracle_sql("lineitem", "lineitem", "l_suppkey").strip(),
)
def sk3_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for every supplier key in lineitem:
    sketch state is d*w = 1024 counter cells regardless of key count, the
    counter table broadcasts back to the probe, and the key stream never
    shuffles. Overestimate-only, identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return countmin_estimate(li, li, "l_suppkey")


@query(
    "sk4_bloom_membership",
    sql="WITH "
    + bloom_oracle_sql(
        "(SELECT o_custkey AS c_custkey FROM orders)", "customer", "c_custkey"
    ).strip(),
)
def sk4_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership: build the filter over customers WITH orders,
    probe EVERY customer key. Customers with orders always test true;
    a deterministic, oracle-identical false-positive set tests true
    without orders — never a false negative. The <= m-row bit set is
    broadcast; neither side's key stream shuffles for the probe."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    return bloom_probe(orders, cust, "c_custkey")


# --- SK5: Bloom semi-join pushdown (the scan-level filter at 100 TB) -----


@query(
    "sk5_bloom_semijoin",
    sql=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows, {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
    GROUP BY l_returnflag
    """,
)
def sk5_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact rows semi-joined to a supplier subset THROUGH the Bloom
    prefilter: the <=4096-bit mask travels to the lineitem scan as a
    codegen'd literal predicate (no shuffle, no broadcast join), the
    exact left_semi afterwards removes false positives, so the result
    equals the plain semi-join the oracle runs. The aggregate proves
    row-for-row equality cheaply."""
    from ..operators.sketches import bloom_semijoin

    li = load_table(spark, sf_dir, "lineitem")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        bloom_semijoin(li, sup, "l_suppkey")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
    )


@query(
    "e6_lead_lag_deltas",
    sql="""
    SELECT event_id, user_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
           value - lag(value) OVER w AS value_delta,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def e6_lead_lag_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas (lag/lead family): inter-event gap in exact
    integer microseconds (unix_micros subtraction — no float time math),
    value delta, and the following event's type. One shuffle on user_id;
    per-user slices sort locally — the standard sessionization precursor,
    scale notes as h3/e1b (bounded-cardinality partition key)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros rejects TIMESTAMP_NTZ; the session TZ is pinned UTC so
    # the cast is wall-clock exact (same convention as stream_queries)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap = us(F.col("ts")) - us(F.lag("ts").over(w))
    return events.select(
        "event_id",
        "user_id",
        gap.alias("gap_us"),
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --- q3/q5: classic multi-join analytics (TPC-H shapes; join-order and
# broadcast behavior are the evidence — Catalyst reorders and broadcasts
# the dimension sides, the fact streams through one stage) --------------


@query(
    "q3_shipping_priority",
    sql=f"""
    SELECT l_orderkey,
           {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,4))", 'revenue', cast=False)},
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1996-06-30'
      AND l_shipdate > TIMESTAMP '1996-06-30'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q3 shape: segment-filtered customers -> orders -> lineitem,
    top-10 unshipped orders by revenue. Catalyst broadcasts the filtered
    customer and order-key sides; the top-10 executes as
    TakeOrderedAndProject (per-partition heaps, no global sort).
    l_orderkey tiebreak makes the cut deterministic."""
    cut = F.lit("1996-06-30").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cut)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cut)
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue", cast_to=None))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q5_local_supplier_volume",
    sql=f"""
    SELECT n_name,
           {sql_dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,4))", 'revenue', cast=False)}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q5 shape: 6-way join (fact + 5 dimension-ish sides) with the
    local-supplier condition c_nationkey = s_nationkey. All non-lineitem
    sides broadcast; the lineitem scan streams through a single stage —
    the same star-join property the c2 cascade gate asserts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(8,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue", cast_to=None))
    )


@query(
    "j1b_asof_tolerance",
    sql="""
    WITH u AS (
      SELECT user_id, ts, event_id, 1 AS side,
             CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS TIMESTAMP) AS r_ts
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, NULL, 0, event_id, ts
      FROM events WHERE event_type = 'error'
    ), f AS (
      SELECT *,
             last_value(r_id IGNORE NULLS) OVER w AS m_id,
             last_value(r_ts IGNORE NULLS) OVER w AS m_ts
      FROM u
      WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, side
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT event_id, user_id, ts,
           CASE WHEN epoch_us(ts) - epoch_us(m_ts) <= 7200000000::BIGINT
                THEN m_id END AS last_error_id
    FROM f WHERE side = 1
    """,
)
def j1b_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j1 with bounded staleness: a click only matches an error at most
    2 hours old — older matches null out exactly as if absent (the
    sensor-join semantics; operators.asof.asof_join tolerance_seconds,
    same single key-window, no extra shuffle)."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("last_error_id")
    )
    out = asof_join(
        clicks, errors, key="user_id", ts="ts", suffix="",
        tolerance_seconds=7200,
    )
    return out.select("event_id", "user_id", "ts", "last_error_id")


# --- E7: PIVOT (status columns per order-year) ----------------------------


@query(
    "e7_pivot_status_by_year",
    sql=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_orders,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END", "f_price")},
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_orders,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END", "o_price")},
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_orders,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END", "p_price")}
    FROM orders GROUP BY order_year
    """,
)
def e7_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one row per order year, one column pair (count, exact
    decimal price sum) per order status — Spark's groupBy().pivot() with
    EXPLICIT pivot values, which skips the extra distinct-values job a
    valueless pivot needs and keeps the plan a single hash aggregate
    (the 100 TB shape: pivot cardinality is fixed and tiny, so this is
    exactly one shuffle on the year key). The oracle replays it as
    conditional aggregation — the relational identity PIVOT sugars."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,4)").alias("p"),
    )
    pv = (
        base.groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.round(F.sum("p"), 2).cast("double").alias("price"),
        )
    )
    return pv.select(
        "order_year",
        F.coalesce("F_orders", F.lit(0)).alias("f_orders"),
        F.coalesce("F_price", F.lit(0.0)).alias("f_price"),
        F.coalesce("O_orders", F.lit(0)).alias("o_orders"),
        F.coalesce("O_price", F.lit(0.0)).alias("o_price"),
        F.coalesce("P_orders", F.lit(0)).alias("p_orders"),
        F.coalesce("P_price", F.lit(0.0)).alias("p_price"),
    )


# --- M8: ROLLUP multi-level aggregate (subtotals + grand total) -----------


@query(
    "m8_rollup_status_priority",
    sql=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def m8_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: (status, priority) detail rows plus per-status subtotals
    plus the grand total in ONE pass — Spark's rollup() compiles to a
    single Expand + hash aggregate (each input row contributes to every
    grouping set map-side), not three scans. grouping_id() disambiguates
    subtotal rows from genuine NULL group values; Spark and DuckDB use
    the same leftmost-is-MSB bitmask."""
    from ..functions.exact import dsum

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
    )


# --- F8: INTERSECT / EXCEPT set operators ---------------------------------


@query(
    "f8_token_set_ops",
    sql="""
    WITH t0 AS (
      SELECT DISTINCT unnest(list_filter(
        string_split_regex(lower(text), '\\s+'), t -> t != '')) AS token
      FROM documents WHERE source = 'src0'
    ), t1 AS (
      SELECT DISTINCT unnest(list_filter(
        string_split_regex(lower(text), '\\s+'), t -> t != '')) AS token
      FROM documents WHERE source = 'src1'
    )
    SELECT token, 'both' AS op FROM (SELECT token FROM t0 INTERSECT SELECT token FROM t1)
    UNION ALL
    SELECT token, 'only_src0' AS op FROM (SELECT token FROM t0 EXCEPT SELECT token FROM t1)
    """,
)
def f8_token_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: vocabulary shared between two sources
    and vocabulary exclusive to the first, via Spark's intersect() /
    subtract() (both distinct set semantics, compiled to left-semi /
    left-anti hash joins over de-duplicated sides — one shuffle each on
    the token key, no row explosion)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "\\s+"), lambda t: t != "")

    def vocab(src: str) -> DataFrame:
        return (
            docs.where(F.col("source") == src)
            .select(F.explode(toks).alias("token"))
            .distinct()
        )

    t0, t1 = vocab("src0"), vocab("src1")
    return (
        t0.intersect(t1).withColumn("op", F.lit("both"))
        .unionByName(t0.subtract(t1).withColumn("op", F.lit("only_src0")))
    )


_D16_SQL = """
    WITH vals AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents,
             SUM(CAST(l_quantity AS BIGINT))::BIGINT AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, price_cents, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag)::BIGINT AS tw
      FROM vals
    )
    SELECT l_returnflag,
           MIN(CASE WHEN 2 * cw >= tw THEN price_cents END) AS median_cents,
           arbitrary(tw) AS total_weight
    FROM cum GROUP BY l_returnflag
"""


@query("d16_weighted_median", sql=_D16_SQL)
def d16_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median extended price per return flag —
    the quantile where half the shipped units (not half the rows) lie
    below. d9's unweighted percentile can't express it and Spark has no
    weighted-percentile builtin; the decomposition is: combine equal
    values first (one map-side-combinable aggregate — the window then
    runs on DISTINCT-value grain, not row grain), cumulative weight per
    group, lower weighted median = smallest value with 2*cum >= total.
    All comparisons in int64 (prices in cents, weights exact), so the
    crossing row is unambiguous on both engines.

    Scale: the row-grain work is one hash aggregate; the per-group
    window sees only distinct prices of that group (value-bounded
    state). percentile_approx-style sketches cannot produce weighted
    medians exactly; this is the exact path with bounded windows."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    w_ord = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = vals.select(
        "l_returnflag",
        "price_cents",
        F.sum("w").over(w_ord).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_cents"))
        ).alias("median_cents"),
        F.first("tw").alias("total_weight"),
    )


@query(
    "d17_group_mode",
    sql="""
    WITH counts AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty,
             COUNT(*)::BIGINT AS n
      FROM lineitem GROUP BY 1, 2, 3
    ), best AS (
      SELECT l_returnflag, l_linestatus,
             MAX({'n': n, 'negq': -qty}) AS b,
             SUM(n)::BIGINT AS n_rows
      FROM counts GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus,
           -b.negq AS mode_qty, b.n AS mode_count, n_rows
    FROM best
    """,
)
def d17_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with a pinned tie-break (smallest value
    wins) — Spark's builtin `mode()` leaves ties nondeterministic,
    which a hash-compared pipeline cannot tolerate, so the engine form
    is the two-aggregate decomposition: value-grain counts (map-side
    combinable), then a lexicographic struct-max of (count, -value).
    Both stages are plain hash aggregates; state is value-cardinality
    per group, never row-grain."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).agg(F.count(F.lit(1)).alias("n"))
    best = counts.groupBy("l_returnflag", "l_linestatus").agg(
        F.max(
            F.struct(F.col("n"), (-F.col("qty")).alias("negq"))
        ).alias("b"),
        F.sum("n").alias("n_rows"),
    )
    return best.select(
        "l_returnflag",
        "l_linestatus",
        (-F.col("b.negq")).alias("mode_qty"),
        F.col("b.n").alias("mode_count"),
        "n_rows",
    )


@query(
    "f12_multiset_setops",
    sql="""
    WITH a AS (
      SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 40
    ), b AS (
      SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
    ), ia AS (
      SELECT k FROM a INTERSECT ALL SELECT k FROM b
    ), ea AS (
      SELECT k FROM a EXCEPT ALL SELECT k FROM b
    )
    SELECT 'intersect_all' AS op, k, COUNT(*)::BIGINT AS n
    FROM ia GROUP BY k
    UNION ALL
    SELECT 'except_all', k, COUNT(*)::BIGINT FROM ea GROUP BY k
    """,
)
def f12_multiset_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the MULTISET semantics f5's
    distinct variants drop: per key the result keeps min(cnt_a, cnt_b)
    respectively max(0, cnt_a - cnt_b) copies. Spark compiles both to
    ONE aggregate producing per-side counts plus a generate (never a
    join of the raw streams), which is exactly the count-arithmetic a
    hand rollup would do — the plan to demand when reconciling
    duplicate-preserving feeds. Output at (op, key) grain with
    multiplicities so the oracle hash captures the counts."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 40).select(
        F.col("l_suppkey").alias("k")
    )
    b = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_suppkey").alias("k")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    return ia.unionByName(ea)


@query("d16b_weighted_median_binned", sql=_D16_SQL)
def d16b_weighted_median_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d16's 100 TB shape, registered against the IDENTICAL oracle:
    bin-first exact weighted median. Phase 1 aggregates weights at
    ($1000-bucket, group) grain — a shuffle of #buckets rows, not
    values (the shuffle audit measured plain d16 moving 1.19M records
    at sf0.1 because near-unique prices defeat value-grain combining).
    The crossing bucket per group falls out of a bucket-grain
    cumulative; phase 2 re-reads ONLY that bucket's rows (predicate
    pushed to the scan via a broadcast (group, bucket) map), combines
    at value grain WITHIN the bucket, and locates the exact median with
    the carried-in prior cumulative. Same exactness — every comparison
    int64 — with shuffle volume ~1/#buckets of d16's; both registered
    so the equivalence is hash-proven every round."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    ).withColumn("bucket", F.expr("price_cents div 100000"))
    bw = base.groupBy("l_returnflag", "bucket").agg(
        F.sum("w").alias("bucket_w")
    )
    w_ord = (
        Window.partitionBy("l_returnflag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = bw.select(
        "l_returnflag",
        "bucket",
        (F.sum("bucket_w").over(w_ord) - F.col("bucket_w")).alias("cum_before"),
        F.sum("bucket_w").over(w_ord).alias("cum"),
        F.sum("bucket_w").over(w_all).alias("tw"),
    )
    crossing = cum.where(
        (2 * F.col("cum") >= F.col("tw"))
        & (2 * F.col("cum_before") < F.col("tw"))
    ).select("l_returnflag", "bucket", "cum_before", "tw")
    inside = base.join(
        F.broadcast(crossing), ["l_returnflag", "bucket"]
    )
    vals = inside.groupBy(
        "l_returnflag", "price_cents", "cum_before", "tw"
    ).agg(F.sum("w").alias("vw"))
    w_val = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scanned = vals.select(
        "l_returnflag",
        "price_cents",
        "tw",
        (F.col("cum_before") + F.sum("vw").over(w_val)).alias("cw"),
    )
    return scanned.groupBy("l_returnflag").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_cents"))
        ).alias("median_cents"),
        F.first("tw").alias("total_weight"),
    )


@query(
    "b16_row_checksums",
    sql="""
    SELECT c_custkey,
           md5(
             coalesce(c_name, '<NULL>') || '\x1f'
             || coalesce(CAST(c_nationkey AS VARCHAR), '<NULL>') || '\x1f'
             || coalesce(CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                                   AS BIGINT) AS VARCHAR), '<NULL>') || '\x1f'
             || coalesce(c_mktsegment, '<NULL>')
           ) AS row_checksum
    FROM customer
    """,
)
def b16_row_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical row fingerprint per customer: md5 over the attribute
    tuple serialized with an explicit unit-separator delimiter, NULLs
    mapped to a sentinel, and floats canonicalized to integer cents
    FIRST (a raw double's string form differs between engines; its
    cents value doesn't) — the checksum column that turns c7's
    column-by-column snapshot diff into a single-column comparison and
    makes cross-system reconciliation shippable as one join. Pure
    per-row projection, zero shuffle; the delimiter prevents the
    ('ab','c') vs ('a','bc') concatenation collision."""
    cust = load_table(spark, sf_dir, "customer")
    sep = F.lit("\x1f")
    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("bigint")
    payload = F.concat(
        F.coalesce(F.col("c_name"), F.lit("<NULL>")), sep,
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("<NULL>")), sep,
        F.coalesce(cents.cast("string"), F.lit("<NULL>")), sep,
        F.coalesce(F.col("c_mktsegment"), F.lit("<NULL>")),
    )
    return cust.select("c_custkey", F.md5(payload).alias("row_checksum"))


@query(
    "f13_relational_division",
    sql="""
    WITH target AS (
      SELECT n_nationkey FROM nation WHERE n_regionkey = 0
    ), pairs AS (
      SELECT DISTINCT l.l_suppkey AS suppkey, c.c_nationkey AS nationkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_nationkey IN (SELECT n_nationkey FROM target)
    )
    SELECT suppkey,
           COUNT(*)::BIGINT AS n_nations_served
    FROM pairs
    GROUP BY suppkey
    HAVING COUNT(*) = (SELECT COUNT(*) FROM target)
    """,
)
def f13_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FORALL quantifier): suppliers who have
    shipped to customers in EVERY nation of region 0 — the query shape
    SQL famously lacks a keyword for. Engine form: distinct
    (supplier, nation) pairs restricted to the divisor set, then
    count-equals-divisor-cardinality (the Date/Darwen counting
    formulation — one aggregate instead of the double-NOT-EXISTS
    transliteration, which would plan as two correlated anti-joins).

    Scale: the divisor is a broadcast semi-filter; the pair distinct is
    map-side combinable at (supplier, nation) grain; the division
    itself is a supplier-grain aggregate against a 1-row broadcast
    count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    target = nation.where(F.col("n_regionkey") == 0).select("n_nationkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(target),
            cust.c_nationkey == target.n_nationkey,
            "left_semi",
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .distinct()
    )
    n_target = target.agg(F.count(F.lit(1)).alias("n_target"))
    counts = pairs.groupBy("suppkey").agg(
        F.count(F.lit(1)).alias("n_nations_served")
    )
    return (
        counts.crossJoin(F.broadcast(n_target))
        .where(F.col("n_nations_served") == F.col("n_target"))
        .select("suppkey", "n_nations_served")
    )


@query(
    "b17_penny_allocation",
    sql="""
    WITH lines AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qty,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_orderkey) AS qty_total
      FROM lineitem
    ), totals AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS total_cents
      FROM orders
    ), alloc AS (
      SELECT l.l_orderkey, l.l_linenumber, l.qty, t.total_cents,
             (t.total_cents * l.qty) // l.qty_total AS floor_cents,
             (t.total_cents * l.qty) % l.qty_total AS remainder
      FROM lines l JOIN totals t ON t.o_orderkey = l.l_orderkey
    ), ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY remainder DESC, l_linenumber
             ) AS rn,
             SUM(floor_cents) OVER (PARTITION BY l_orderkey) AS floor_sum
      FROM alloc
    )
    SELECT l_orderkey, l_linenumber, qty, floor_cents::BIGINT AS floor_cents,
           (floor_cents
            + CASE WHEN rn <= total_cents - floor_sum THEN 1 ELSE 0 END
           )::BIGINT AS alloc_cents
    FROM ranked
    """,
)
def b17_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order penny allocation: each order's total is split across
    its line items proportional to quantity with largest-remainder
    rounding — GROUPED Hamilton apportionment (mx4 runs one global
    apportionment at source grain; this runs millions of independent
    ones, one per order), the invoice/tax-allocation primitive where
    naive per-line rounding leaks or conjures cents. Per order the
    allocations sum to EXACTLY the order total.

    Exactness: all int64 — floor = (total*qty) div qty_sum, leftovers
    to the largest remainders, line number as the tie-break. Scale:
    every window partitions by ORDER key (state bounded by
    lines-per-order, <= 7 in TPC-H) — the grouped form needs no global
    anything; one fact-key join against the order totals."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    w_ord = Window.partitionBy("l_orderkey")
    lines = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).withColumn("qty_total", F.sum("qty").over(w_ord))
    totals = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("total_cents"),
    )
    alloc = lines.join(
        totals, lines.l_orderkey == totals.o_orderkey
    ).select(
        "l_orderkey",
        "l_linenumber",
        "qty",
        "total_cents",
        F.expr("(total_cents * qty) div qty_total").alias("floor_cents"),
        F.expr("(total_cents * qty) % qty_total").alias("remainder"),
    )
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.desc("remainder"), "l_linenumber"
    )
    ranked = alloc.withColumn(
        "rn", F.row_number().over(w_rank)
    ).withColumn("floor_sum", F.sum("floor_cents").over(w_ord))
    extra = (
        F.col("rn") <= F.col("total_cents") - F.col("floor_sum")
    ).cast("bigint")
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        "qty",
        "floor_cents",
        (F.col("floor_cents") + extra).alias("alloc_cents"),
    )


@query(
    "b18_sink_decimal_narrowing",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,0)) AS DOUBLE)
             AS principal_narrowed,
           CAST(CAST(o_totalprice AS DECIMAL(18,0)) AS DOUBLE)
             <> floor(o_totalprice) AS rounded_up
    FROM orders
    """,
)
def b18_sink_decimal_narrowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-sink DT_NUMERIC(18) narrowing parity (VERDICT r7 item 4):
    the SSIS Fact_Loan destination declares original_principal_amount
    numeric(18,0) while the dataflow carries DT_R8 — the sink narrows
    double -> decimal(18,0) (`project SSIS::loan_fact.dtsx:1711-1999`).
    SQL Server's float->numeric conversion ROUNDS half away from zero
    (it does not truncate); Spark's double->decimal cast is HALF_UP and
    DuckDB's double->DECIMAL rounds half away from zero too, so the one
    declarative cast in plans/loan_pipeline.py::FACT_SINK_CASTS is the
    exact sink semantics. This query runs that same cast over every
    order total; `rounded_up` pins rounding-vs-truncation explicitly
    (true whenever the narrowed value moved off the floor).

    Scale: a projection in the sink stage — no shuffle, whole-stage
    codegen, nothing added to the fact build's one broadcast stage."""
    orders = load_table(spark, sf_dir, "orders")
    narrowed = (
        F.col("o_totalprice").cast("decimal(18,0)").cast("double")
    )
    return orders.select(
        "o_orderkey",
        narrowed.alias("principal_narrowed"),
        (narrowed != F.floor("o_totalprice")).alias("rounded_up"),
    )


# One ANSI string with CTEs + window functions, executed verbatim by
# spark.sql AND DuckDB — extends sql1's proof from join/HAVING SQL to
# the ANALYTIC dialect (the part migrating BI workloads actually stress).
_SHARED_ANALYTIC_SQL = """
    WITH nation_orders AS (
      SELECT c.c_nationkey AS nationkey, o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), ranked AS (
      SELECT nationkey, o_orderkey, cents,
             ROW_NUMBER() OVER (
               PARTITION BY nationkey ORDER BY cents DESC, o_orderkey
             ) AS rn,
             SUM(cents) OVER (PARTITION BY nationkey) AS nation_cents
      FROM nation_orders
    )
    SELECT nationkey, o_orderkey, cents,
           CAST(nation_cents AS BIGINT) AS nation_cents,
           CAST(rn AS INT) AS rn,
           CASE WHEN 10 * cents > nation_cents THEN 'whale'
                ELSE 'regular' END AS tier
    FROM ranked WHERE rn <= 3
"""


@query("sql2_shared_analytic_dialect", sql=_SHARED_ANALYTIC_SQL)
def sql2_shared_analytic_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-SQL dialect proof: ONE string with CTEs, a
    partitioned ROW_NUMBER, a windowed SUM and a CASE tier, executed
    VERBATIM by spark.sql and by the DuckDB oracle — sql1 proved the
    join/aggregate dialect is shared; this proves the window dialect
    is too, which is what a migrating BI workload actually exercises.
    All arithmetic int64 cents (the whale tier compares by integer
    cross-multiplication, no share division)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_ANALYTIC_SQL)
