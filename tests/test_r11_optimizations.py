"""Focused equivalence tests for the round-11 optimization rewrites.

Each test pins an optimized operator's output to the un-optimized
reference form it replaced, on data constructed to hit the edge cases
the oracle fixtures may not (negatives, nulls, all-null groups, ties,
multi-band bucket collisions).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.functions.exact import (
    davg,
    dsum,
    lavg_unscaled,
    lsum_unscaled,
    unscaled_sql,
)
from etl_pipline_ibrd_loan_system_spark.operators import dedup


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_lsum_lavg_match_decimal_forms(spark):
    """lsum_unscaled/lavg_unscaled == dsum/davg bit-for-bit, including
    negatives, nulls mixed into a group, and an all-null group."""
    data = [
        ("a", 12345.67),
        ("a", -0.01),
        ("a", None),
        ("a", 9999999.99),
        ("b", -54321.5),
        ("b", 0.0),
        ("c", None),  # all-null group -> NULL sum, NULL avg
    ]
    df = spark.createDataFrame(data, "g string, x double")
    u = unscaled_sql("CAST(x AS DECIMAL(18,4))", 4)
    got = df.groupBy("g").agg(
        lsum_unscaled(u, 4, "s", limbs=3),
        lavg_unscaled(u, 4, "m", limbs=3),
    )
    want = df.groupBy("g").agg(dsum("x", "s"), davg("x", "m"))
    assert _rows(got) == _rows(want)


def test_lsum_product_matches_decimal_product_sum(spark):
    """Long-space product sum == decimal-space product sum (the q1
    sum_disc_price shape), with negative factors."""
    data = [(1, 100.25, 0.05), (1, -3.10, 0.10), (2, 0.07, 0.00)]
    df = spark.createDataFrame(data, "g int, price double, disc double")
    prod_dec = F.col("price").cast("decimal(12,2)") * (
        1 - F.col("disc")
    ).cast("decimal(8,4)")
    cents = unscaled_sql("CAST(price AS DECIMAL(12,2))", 2)
    dfac = unscaled_sql("CAST(1 - disc AS DECIMAL(8,4))", 4)
    got = df.groupBy("g").agg(
        lsum_unscaled(f"({cents}) * ({dfac})", 6, "s", limbs=3)
    )
    want = df.groupBy("g").agg(dsum(prod_dec, "s", cast_to=None))
    assert _rows(got) == _rows(want)


def _join_reference_pairs(buckets, id_col):
    """The pre-r11 candidate form: bucket-table self-join, distinct."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def test_grouped_pairgen_matches_self_join(spark, sf_dir):
    """lsh_candidate_pairs (grouped one-pass form) == the self-join it
    replaced, on real signatures with cross-band duplicate collisions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.word_shingles(docs, "text", "doc_id", 3).select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles")
    )
    sigs = dedup.minhash_signatures(sh, "doc_id", 16).persist()
    try:
        got = dedup.lsh_candidate_pairs(
            sigs, "doc_id", bands=4, rows_per_band=4, pairgen="grouped"
        )
        buckets = dedup._band_buckets(sigs, "doc_id", 4, 4)
        want = _join_reference_pairs(buckets, "doc_id")
        assert _rows(got) == _rows(want)
        assert _rows(got)  # non-degenerate: the fixture has duplicates
    finally:
        sigs.unpersist()


def test_simhash_grouped_matches_self_join(spark, sf_dir):
    """simhash_near_pairs (grouped form, hamming from the struct array)
    == a brute-force hamming filter restricted to shared-chunk pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = dedup.simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=3, band_bits=15, bits=60
    )
    fps = dedup.simhash_64(docs, "text", "doc_id", 60)
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), b * 15).bitwiseAND((1 << 15) - 1)
            for b in range(4)
        ]
    )
    buckets = fps.select(
        F.col("doc_id"), F.col("simhash"), F.posexplode(chunks).alias("band", "chunk")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    want = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )
    assert _rows(got) == _rows(want)


def test_lookup_join_positional_aliases_keep_output(spark, sf_dir):
    """lookup_join's positional-alias broadcast slice keeps the exact
    output columns/rows, including a two-key lookup."""
    from etl_pipline_ibrd_loan_system_spark.operators.star import lookup_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    out = lookup_join(
        li, sup, {"l_suppkey": "s_suppkey"}, {"s_name": "supplier_name"}
    )
    assert "supplier_name" in out.columns
    assert not [c for c in out.columns if c.startswith("__")]
    want = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .select(*li.columns, F.col("s_name").alias("supplier_name"))
    )
    assert _rows(out) == _rows(want)
