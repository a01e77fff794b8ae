"""Operator-level unit/property tests: forward-fill, union pages, lookups."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_pipline_ibrd_loan_system_spark.operators.setops import union_pages
from etl_pipline_ibrd_loan_system_spark.operators.star import (
    lookup_join,
    lookup_misses,
)
from etl_pipline_ibrd_loan_system_spark.operators.window_ops import (
    forward_fill,
    forward_fill_scalable,
)


def _sparse_df(spark, n=500, gap=7):
    rows = [(i, None if i % gap else f"v{i}") for i in range(n)]
    return spark.createDataFrame(rows, ["k", "val"])


# unique string keys (a total order), each set with a NULL key; the
# string bucket map works on the bytes after the common prefix of MIN/MAX
_STRING_KEYS = {
    "loan_numbers": [f"IBRD{i:05d}" for i in range(0, 1200, 3)],
    "prefixes": ["", "a", "ab", "abc", "abd", "abda", "b", "ba", "bab", "c"],
    "utf8": ["", "e", "é", "éa", "ü", "ÿ", "z", "日", "日本", "日本語", "😀"],
    "shared_prefix": ["x" * 30 + t for t in ("", "a", "ab", "b", "é", "zz")],
}


@pytest.mark.parametrize("keys", ["long", *_STRING_KEYS])
def test_forward_fill_matches_scalable(spark, keys):
    if keys == "long":
        df = _sparse_df(spark)
    else:
        ks = [None, *_STRING_KEYS[keys]]
        rows = [(k, None if i % 3 else f"v{i}") for i, k in enumerate(ks)]
        df = spark.createDataFrame(rows, "k string, val string")
    a = forward_fill(df, ["k"], "val", single_task=True).orderBy("k").collect()
    b = (
        forward_fill_scalable(df, ["k"], "val", num_buckets=8)
        .orderBy("k")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


@pytest.mark.parametrize("key", [int, "k{}".format], ids=["long", "string"])
def test_forward_fill_carry_uses_fill_order_on_tied_boundary(spark, key):
    """Regression for the sf0.01 oracle catch: a DUPLICATED order key
    with differing non-null values sitting on a bucket's last row must
    hand the next bucket's leading nulls the value the fill itself saw
    last (stable scan order), not an arbitrary row of the tied group.
    keys 0..9 (or "k0".."k9") with num_buckets=5 put a bucket boundary
    between 5 and 6; 5 is duplicated ('R' first, 'N' second in scan
    order), 6 is null and must fill to 'N'."""
    from etl_pipline_ibrd_loan_system_spark.operators.window_ops import (
        _bucket_expr,
    )

    rows = [(key(k), v) for k, v in [
        (0, "a"), (1, None), (2, "b"), (3, None), (4, "c"),
        (5, "R"), (5, "N"), (6, None), (7, None), (8, "d"), (9, None)]]
    k5, k6 = key(5), key(6)
    df = spark.createDataFrame(rows, ["k", "val"]).coalesce(1)
    # the bucket map must leave 5 as its bucket's last key, or the case
    # would not cross a bucket boundary
    part = {
        r.k: r.b
        for r in df.select("k", _bucket_expr(df, "k", 5).alias("b")).collect()
    }
    assert max(k for k in part if part[k] == part[k5]) == k5
    assert part[k6] != part[k5]
    got = forward_fill_scalable(df, ["k"], "val", num_buckets=5)
    ref = forward_fill(df, ["k"], "val", single_task=True)
    vals = {r.k: r.val for r in got.collect() if r.k != k5}
    assert vals == {r.k: r.val for r in ref.collect() if r.k != k5}
    want = {0: "a", 1: "a", 2: "b", 3: "b", 4: "c", 6: "N", 7: "N", 8: "d", 9: "d"}
    assert vals == {key(k): v for k, v in want.items()}
    assert sorted(r.val for r in got.collect() if r.k == k5) == ["N", "R"]


def test_forward_fill_edge_keys(spark):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("k", LongType(), True),
        StructField("val", StringType(), True),
    ])
    # empty input
    empty = spark.createDataFrame([], schema)
    assert forward_fill_scalable(empty, ["k"], "val").count() == 0
    # null keys sort first: the null-key row's value seeds the fill
    df = spark.createDataFrame(
        [(None, "z"), (1, None), (2, None), (3, "a"), (4, None)], schema
    )
    got = {
        r.k: r.val
        for r in forward_fill_scalable(df, ["k"], "val", num_buckets=4).collect()
    }
    assert got == {None: "z", 1: "z", 2: "z", 3: "a", 4: "a"}
    # all-null leading key: one bucket, same answer as the single-task
    # global window
    allnull = spark.createDataFrame(
        [(None, "x"), (None, None), (None, "y"), (None, None)], schema
    ).coalesce(1)
    from collections import Counter

    got = Counter(
        (r.k, r.val)
        for r in forward_fill_scalable(allnull, ["k"], "val").collect()
    )
    ref = Counter(
        (r.k, r.val)
        for r in forward_fill(
            allnull, ["k"], "val", single_task=True
        ).collect()
    )
    assert got == ref
    # no bucket map for any other key type
    with pytest.raises(TypeError, match="double"):
        forward_fill_scalable(
            spark.createDataFrame([(1.5, "a")], "k double, val string"),
            ["k"], "val",
        )


def test_forward_fill_idempotent(spark):
    df = _sparse_df(spark)
    once = forward_fill(df, ["k"], "val")
    twice = forward_fill(once, ["k"], "val")
    assert once.orderBy("k").collect() == twice.orderBy("k").collect()


def test_forward_fill_semantics(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a"), (3, None), (4, None), (5, "b"), (6, None)],
        ["k", "val"],
    )
    got = {r.k: r.val for r in forward_fill(df, ["k"], "val").collect()}
    assert got == {1: None, 2: "a", 3: "a", 4: "a", 5: "b", 6: "b"}


def test_union_pages_preserves_counts(spark):
    pages = [spark.range(i * 10, (i + 1) * 10) for i in range(7)]
    acc = union_pages(pages, checkpoint_every=3)
    assert acc.count() == 70
    assert acc.distinct().count() == 70


def test_lookup_join_inner_drops_misses_and_captures_them(spark):
    fact = spark.createDataFrame([(1, "x"), (2, "y"), (9, "z")], ["fk", "v"])
    dim = spark.createDataFrame([(1, 101, True), (2, 102, True), (3, 103, False)],
                                ["pk", "sk", "is_current"])
    hit = lookup_join(fact, dim, {"fk": "pk"}, {"sk": "dim_sk"},
                      current_col="is_current")
    assert sorted((r.fk, r.dim_sk) for r in hit.collect()) == [(1, 101), (2, 102)]
    miss = lookup_misses(fact, dim, {"fk": "pk"}, current_col="is_current")
    assert [r.fk for r in miss.collect()] == [9]


def test_asof_join_semantics(spark):
    from etl_pipline_ibrd_loan_system_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 5, "l1"), ("u", 10, "l2"), ("u", 2, "l0"), ("v", 7, "l3")],
        "k string, ts int, lid string",
    )
    right = spark.createDataFrame(
        [("u", 3, "r1"), ("u", 10, "r2"), ("w", 1, "r3")],
        "k string, ts int, rid string",
    )
    out = {r.lid: r.rid_asof for r in asof_join(left, right, "k", "ts").collect()}
    assert out == {
        "l0": None,   # no right row at or before ts=2
        "l1": "r1",   # latest right at ts<=5
        "l2": "r2",   # tie ts=10 counts (<= semantics)
        "l3": None,   # key v has no right rows at all
    }


def test_asof_join_null_payload_same_row(spark):
    """The fill is one struct per right ROW: a newer right row whose
    payload value is null must yield null (never resurrect an older
    row's value), and the tolerance gate must judge the same row the
    payload came from (ADVICE r5)."""
    from etl_pipline_ibrd_loan_system_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 10, "l1"), ("u", 200, "l2")], "k string, ts int, lid string"
    )
    right = spark.createDataFrame(
        [("u", 1, "old"), ("u", 9, None), ("u", 150, None)],
        "k string, ts int, rid string",
    )
    plain = {r.lid: r.rid_asof for r in asof_join(left, right, "k", "ts").collect()}
    # newest right row at ts<=10 is (9, NULL): null, not "old"
    assert plain == {"l1": None, "l2": None}
    tol = {
        r.lid: r.rid_asof
        for r in asof_join(left, right, "k", "ts", tolerance_seconds=60).collect()
    }
    # l2's match is (150, NULL), age 50 <= 60 -> fresh but null payload;
    # the pre-fix bug validated "old"'s value against row-150's ts
    assert tol == {"l1": None, "l2": None}


def test_asof_tolerance_gates_stale_rows(spark):
    from etl_pipline_ibrd_loan_system_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 100, "l1")], "k string, ts int, lid string")
    right = spark.createDataFrame([("u", 10, "r1")], "k string, ts int, rid string")
    fresh = asof_join(left, right, "k", "ts", tolerance_seconds=95).collect()
    stale = asof_join(left, right, "k", "ts", tolerance_seconds=80).collect()
    assert fresh[0].rid_asof == "r1"
    assert stale[0].rid_asof is None


def test_rolling_agg_frame_and_neighbors(spark):
    from etl_pipline_ibrd_loan_system_spark.operators.window_ops import rolling_agg

    rows = [("a", i, float(i)) for i in range(1, 6)] + [("b", 1, 10.0)]
    df = spark.createDataFrame(rows, ["k", "seq", "value"])
    out = {
        (r["k"], r["seq"]): r
        for r in rolling_agg(df, ["k"], ["seq"], "value", preceding=2).collect()
    }
    # trailing frame is 2 preceding..current, clipped at partition start
    assert out[("a", 1)]["trailing_sum"] == 1.0
    assert out[("a", 3)]["trailing_sum"] == 6.0   # 1+2+3
    assert out[("a", 5)]["trailing_sum"] == 12.0  # 3+4+5
    # lag/lead are null at partition edges, never cross partitions
    assert out[("a", 1)]["prev_value"] is None
    assert out[("a", 5)]["next_value"] is None
    assert out[("b", 1)]["prev_value"] is None


def test_date_spine_fill_plugs_gaps(spark):
    import datetime

    import pyspark.sql.functions as SF

    from etl_pipline_ibrd_loan_system_spark.operators.window_ops import (
        date_spine_fill,
    )

    ts = datetime.datetime
    rows = [  # user 1 active day 1 and day 4; user 2 only day 2
        (1, ts(2024, 1, 1, 5), 2.0),
        (1, ts(2024, 1, 4, 5), 3.0),
        (2, ts(2024, 1, 2, 5), 7.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = date_spine_fill(
        df,
        "user_id",
        "ts",
        aggs=[SF.count(SF.lit(1)).alias("n_events")],
        fill={"n_events": 0},
    ).collect()
    # spine spans 4 days x 2 users = 8 rows, gaps filled with 0
    assert len(out) == 8
    by_key = {(r["user_id"], str(r["day"])): r["n_events"] for r in out}
    assert by_key[(1, "2024-01-02")] == 0
    assert by_key[(1, "2024-01-04")] == 1
    assert by_key[(2, "2024-01-02")] == 1
    assert sum(v for v in by_key.values()) == 3


def test_hll_distinct_error_bound_and_merge(spark):
    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    # two regimes: small n (linear-counting branch), large n (raw HLL)
    rows = [(i, "small" if i < 300 else "large") for i in range(10300)]
    df = spark.createDataFrame(rows, ["k", "grp"])
    est = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct(df, "k", ["grp"]).collect()
    }
    assert abs(est["small"] - 300) / 300 < 0.15
    assert abs(est["large"] - 10000) / 10000 < 0.15  # 512 regs ~ 4.6% rse

    # mergeability: sketch(union) == merge(sketches) register-wise
    half1, half2 = df.filter("k % 2 = 0"), df.filter("k % 2 = 1")
    merged_regs = (
        hll_registers(half1, "k", ["grp"])
        .unionByName(hll_registers(half2, "k", ["grp"]))
        .groupBy("grp", "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    merged_est = {
        r["grp"]: r["est_distinct"]
        for r in hll_estimate(merged_regs, ["grp"]).collect()
    }
    assert merged_est == est


def test_histogram_quantiles_accuracy_and_degenerate(spark):
    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        histogram_quantiles,
    )

    rows = [(float(i), "u") for i in range(1000)] + [(42.0, "const")] * 5
    df = spark.createDataFrame(rows, ["v", "grp"])
    out = {
        (r["grp"], r["q"]): r["est"]
        for r in histogram_quantiles(df, "v", ["grp"], bins=64).collect()
    }
    # uniform 0..999: estimates within one bin width (999/64 ~ 15.6)
    binw = 999.0 / 64
    assert abs(out[("u", 0.5)] - 499.5) <= binw
    assert abs(out[("u", 0.9)] - 899.1) <= binw
    assert abs(out[("u", 0.99)] - 989.01) <= binw
    # degenerate group: single distinct value -> exactly that value
    for q in (0.5, 0.9, 0.99):
        assert out[("const", q)] == 42.0


def test_histogram_quantiles_null_safe_and_oracle_exact(spark):
    """NULL values must not shift ranks (n excludes them) and the DuckDB
    oracle must stay bit-identical in their presence."""
    import duckdb

    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        histogram_quantiles,
        histogram_quantiles_oracle_sql,
    )

    rows = [(float(i), "u") for i in range(100)] + [(None, "u")] * 7
    df = spark.createDataFrame(rows, "v double, grp string")
    with_nulls = {
        (r["grp"], r["q"]): r["est"]
        for r in histogram_quantiles(df, "v", ["grp"], bins=16).collect()
    }
    without = {
        (r["grp"], r["q"]): r["est"]
        for r in histogram_quantiles(
            df.where("v is not null"), "v", ["grp"], bins=16
        ).collect()
    }
    assert with_nulls == without

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({'NULL' if v is None else v}, '{g}')" for v, g in rows
        )
        + ") AS x(v, grp)"
    )
    oracle = {
        (g, q): est
        for g, q, est in con.execute(
            histogram_quantiles_oracle_sql("t", "v", ["grp"], bins=16)
        ).fetchall()
    }
    assert oracle == with_nulls  # bit-identical, including with NULLs present


def test_countmin_never_underestimates(spark, sf_dir):
    """CMS guarantee: est >= true count for every key (overestimate-only),
    and est is exact when no other key collides in all d rows."""
    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        countmin_estimate,
    )

    li = load_table(spark, sf_dir, "lineitem")
    est = countmin_estimate(li, li, "l_suppkey")
    true = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("true_n"))
    joined = est.join(true, "l_suppkey").collect()
    assert len(joined) == true.count()
    assert all(r.est_count >= r.true_n for r in joined)


def test_countmin_counter_state_is_bounded(spark, sf_dir):
    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators.sketches import (
        CM_D,
        CM_W,
        countmin_counters,
    )

    li = load_table(spark, sf_dir, "lineitem")
    assert countmin_counters(li, "l_suppkey").count() <= CM_D * CM_W


def test_bloom_no_false_negatives(spark, sf_dir):
    """Every key actually in the build set must test maybe_member=true."""
    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators.sketches import bloom_probe

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    out = bloom_probe(orders, cust, "c_custkey")
    with_orders = {r.c_custkey for r in orders.distinct().collect()}
    rows = out.collect()
    assert {r.c_custkey for r in rows} == {
        r.c_custkey for r in cust.select("c_custkey").distinct().collect()
    }
    for r in rows:
        if r.c_custkey in with_orders:
            assert r.maybe_member, f"false negative on {r.c_custkey}"


def test_global_rank_scalable_matches_single_task_row_number(spark):
    """The range-bucketed two-pass rank must reproduce the global
    row_number exactly — including across bucket boundaries and with a
    shuffled input order (the zo3 production-audit contract)."""
    import random

    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.operators.window_ops import (
        global_rank_scalable,
    )

    rng = random.Random(7)
    keys = list(range(1, 501))
    rng.shuffle(keys)
    # non-unique sort value + unique tiebreak id = total unique order
    df = spark.createDataFrame(
        [(k, k % 17) for k in keys], ["id", "grp"]
    ).repartition(8)
    got = {
        r.id: r.global_rank
        for r in global_rank_scalable(
            df, ["grp", "id"], num_buckets=16
        ).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.expr("row_number() OVER (ORDER BY grp, id)")
        ).collect()
    }
    assert got == want


def test_global_rank_scalable_dense_total_cover(spark):
    """Ranks are a permutation of 1..n (no gaps, no dupes) even when
    many buckets are empty relative to the row count."""
    from etl_pipline_ibrd_loan_system_spark.operators.window_ops import (
        global_rank_scalable,
    )

    df = spark.range(1, 101).withColumnRenamed("id", "k")
    ranks = sorted(
        r.global_rank
        for r in global_rank_scalable(df, ["k"], num_buckets=64).collect()
    )
    assert ranks == list(range(1, 101))
