"""Focused equivalence tests for the round-12 optimization rewrites.

Each test pins an optimized operator's internals to the un-optimized
reference form it replaced, on data constructed to hit the edge cases
the oracle fixtures may not (cosine ties, zero-norm NaN vectors,
shingle-hash verification vs string-set verification).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.operators import similarity
from etl_pipline_ibrd_loan_system_spark.operators.dedup import cosine


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _nonansi_rows(spark, build):
    """Build AND collect a reference plan under ansi=false (ANSI-ness is
    captured at analysis time, so the toggle must wrap plan construction)."""
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        return _rows(build())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _window_probes(spark, q, cents, nprobe, emit_qv=True):
    """The pre-r12 probe form: q x broadcast(cent) + row_number window.

    Collected under ansi=false: the zero-norm test row makes the JVM
    cosine hit 0.0/0.0, which ANSI mode (Spark 4 default) RAISES on
    instead of yielding the NaN that nan_guard_sql / the DuckDB oracle
    handle — the guard's intended semantics (and _probe_cells') is the
    non-ANSI NaN path."""
    cent = spark.createDataFrame(cents, "cent_id bigint, cw array<double>")
    qcos_guard = F.when(F.isnan("qcos"), F.lit(-1e308)).otherwise(
        F.col("qcos")
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.desc(qcos_guard), F.asc("cent_id")
    )
    cols = ["query_id", "qv", "cent_id"] if emit_qv else ["query_id", "cent_id"]
    return (
        q.join(F.broadcast(cent))
        .select(
            "query_id", "qv", "cent_id",
            cosine(F.col("qv"), F.col("cw")).alias("qcos"),
        )
        .withColumn("prn", F.row_number().over(qw))
        .where(F.col("prn") <= nprobe)
        .select(*cols)
    )


def test_probe_cells_matches_window_form(spark):
    """_probe_cells == the q x cent window it replaced, including exact
    cosine ties (scaled copies of one direction — cosine is scale
    invariant, so both centroids tie bit-for-bit and the lower cent_id
    must win) and an all-NaN row (zero-norm query -> 0/0 cosine against
    every centroid -> the -1e308 guard on both paths)."""
    cents = [
        (3, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),  # same direction as 3: exact tie
        (7, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    data = [
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> NaN cosine everywhere
        (12, [-1.0, 0.0, 0.0, 0.0]),
        (13, [0.3, 0.3, 0.3, 0.3]),
        (14, [1e-200, 0.0, 1e200, 0.0]),
    ]
    q = spark.createDataFrame(data, "query_id long, qv array<double>")
    got = similarity._probe_cells(q, cents, dims=4, nprobe=2).select(
        "query_id", "qv", "cent_id"
    )
    want = _nonansi_rows(
        spark, lambda: _window_probes(spark, q, cents, nprobe=2)
    )
    assert _rows(got) == want
    # tie winner is the LOWER cent_id: query 10 must probe cell 1 first
    got_first = {
        (r["query_id"], r["cent_id"]) for r in got.collect()
    }
    assert (10, 1) in got_first and (10, 3) in got_first
    # all-NaN row still emits nprobe probes (lowest cent_ids)
    assert (11, 1) in got_first and (11, 3) in got_first

    got2 = similarity._probe_cells(q, cents, dims=4, nprobe=3, emit_qv=False)
    want2 = _nonansi_rows(
        spark,
        lambda: _window_probes(spark, q, cents, nprobe=3, emit_qv=False),
    )
    assert _rows(got2) == want2


def test_probe_cells_nprobe_exceeds_centroids(spark):
    """nprobe > k emits every centroid once per query, like prn <= nprobe."""
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    q = spark.createDataFrame(
        [(1, [3.0, 4.0])], "query_id long, qv array<double>"
    )
    got = similarity._probe_cells(q, cents, dims=2, nprobe=5).select(
        "query_id", "qv", "cent_id"
    )
    want = _window_probes(spark, q, cents, nprobe=5)
    assert _rows(got) == _rows(want)


def _string_minhash_reference(df, text_col, id_col, pairgen, threshold=0.8):
    """The pre-r12 minhash pipeline: string shingle arrays pinned, md5
    shared_hash60 feeding the permutations, string-set exact verify."""
    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.cache import pin
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        MINHASH_P,
        jaccard_verify_pairs,
        lsh_candidate_pairs,
        perm_params,
        shared_hash60,
        word_shingles,
    )

    shingled = pin(word_shingles(df, text_col, id_col, 3))
    h = shingled.select(id_col, F.explode("shingles").alias("s")).select(
        id_col, (shared_hash60(F.col("s")) % MINHASH_P).alias("h")
    )
    aggs = []
    for i in range(64):
        a, b = perm_params(i)
        aggs.append(F.expr(f"min((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"))
    sigs = pin(h.groupBy(id_col).agg(*aggs))
    cands = lsh_candidate_pairs(sigs, id_col, 16, 4, pairgen)
    return jaccard_verify_pairs(shingled, cands, id_col, threshold)


def test_hashed_shingle_minhash_matches_string_form(spark, sf_dir):
    """minhash_dedup_pairs (xxhash64 shingle arrays, r12) == the string
    pipeline it replaced: identical verified pairs AND bit-identical
    jaccard values. The signature hash family differs (pmod(xxhash64)
    vs md5), so this additionally demonstrates the banding catches the
    same pair set on the fixture corpus — raw and collapsed, both
    pairgen modes."""
    from etl_pipline_ibrd_loan_system_spark.cache import release_pinned
    from etl_pipline_ibrd_loan_system_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for src, pairgen in [
        (docs, "join"),
        (dedup.exact_collapse(docs, "text", "doc_id"), "grouped"),
    ]:
        got = _rows(
            dedup.minhash_dedup_pairs(
                src, "text", "doc_id", threshold=0.8, pairgen=pairgen
            )
        )
        release_pinned()
        want = _rows(
            _string_minhash_reference(src, "text", "doc_id", pairgen)
        )
        release_pinned()
        assert got == want
        assert got  # non-degenerate: the fixture has near-dup pairs


def test_arrow_minhash_kernel_matches_sql_aggregation(spark, sf_dir):
    """minhash_signatures — one Arrow kernel — must be bit-equal to the
    exploded groupBy-min SQL aggregation it replaced, including negative
    xxhash64 values (pmod wrap), single-shingle docs and a NULL shingle
    array (no row, as explode emits none)."""
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        MINHASH_P,
        minhash_signatures,
        perm_params,
    )

    rows = [
        (1, [-9223372036854775808, -1, 0, 1, 9223372036854775807]),
        (2, [42]),                      # single shingle
        (3, [-(2**62), 2**62, 17, 17]),  # duplicate hash values
        (4, None),                      # NULL shingle array
    ]
    sh = spark.createDataFrame(rows, "doc_id long, shingles array<bigint>")
    got = _rows(minhash_signatures(sh, "doc_id", k=8))
    # reference: the SQL aggregation form (rebuilt inline, as it was)
    h = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.pmod(F.col("s"), F.lit(MINHASH_P)).alias("h")
    )
    aggs = []
    for i in range(8):
        a, b = perm_params(i)
        aggs.append(F.expr(f"min((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"))
    want = _rows(h.groupBy("doc_id").agg(*aggs))
    assert got == want
    # empty shingle arrays emit no signature row, like the explode form
    empty = spark.createDataFrame(
        [(9, [])], "doc_id long, shingles array<bigint>"
    )
    assert minhash_signatures(empty, "doc_id", k=4).count() == 0


def test_pair_payload_once_matches_two_join_form(spark):
    """_pair_payload_once == pairs ⋈ payload_a ⋈ payload_b (inner): both
    sides attached, side order preserved (a = id_a's payload), and pairs
    with a missing payload id drop exactly like the inner joins."""
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        _pair_payload_once,
    )

    payload = spark.createDataFrame(
        [(1, [10, 11]), (2, [20]), (3, [30, 31, 32])],
        "doc_id long, shingles array<bigint>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 7)],  # 7 has no payload -> drops
        "id_a long, id_b long",
    )
    got = _rows(
        _pair_payload_once(pairs, payload, "doc_id", ["shingles"]).select(
            "id_a", "id_b", F.col("a.shingles"), F.col("b.shingles")
        )
    )
    pa = payload.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    pb = payload.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    want = _rows(
        pairs.join(pa, "id_a").join(pb, "id_b").select(
            "id_a", "id_b", "sh_a", "sh_b"
        )
    )
    assert got == want
    assert len(got) == 3  # (2,7) dropped


def test_pair_payload_once_raises_on_duplicated_pair(spark):
    """A pair listed twice meets four payload rows: the two-join form
    would emit it twice, the old `__n == 2` filter dropped it silently.
    It must fail the query instead."""
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        _pair_payload_once,
    )

    payload = spark.createDataFrame(
        [(1, [10]), (2, [20]), (3, [30])], "doc_id long, shingles array<bigint>"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    with pytest.raises(Exception, match="_pair_payload_once"):
        _pair_payload_once(pairs, payload, "doc_id", ["shingles"]).collect()


def test_pair_payload_once_raises_on_duplicated_payload_id(spark):
    """An id with two payload rows whose partner has none met two rows on
    one side: the old filter fabricated a pair with a == b. It must fail
    the query instead."""
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        _pair_payload_once,
    )

    payload = spark.createDataFrame(
        [(1, [10]), (1, [11]), (2, [20]), (3, [30])],
        "doc_id long, shingles array<bigint>",
    )
    pairs = spark.createDataFrame([(1, 7), (2, 3)], "id_a long, id_b long")
    with pytest.raises(Exception, match="_pair_payload_once"):
        _pair_payload_once(pairs, payload, "doc_id", ["shingles"]).collect()


def test_salted_allpairs_calibration_matches_plain_join(spark, sf_dir):
    """lsh_calibration's salted within-block all-pairs (A keeps its
    id-hash cell, B replicates across cells) emits every unordered
    within-block pair exactly once — pinned against the plain
    block-keyed self-join on the same hashed-shingle relation."""
    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        shared_hash60,
        tokenize,
        word_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = (
        word_shingles(docs, "text", "doc_id", 3)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id", F.col("lang").alias("__blk"),
            F.transform("shingles", shared_hash60).alias("shingles"),
        )
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    plain = (
        sh.select(F.col("doc_id").alias("id_a"), "__blk", F.col("shingles").alias("sh_a"))
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "__blk", F.col("shingles").alias("sh_b")),
            "__blk",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.floor(jac * 10).cast("bigint").alias("bin"))
    )
    n_salt = 7  # deliberately not the core count: exactness must not depend on it
    sa = sh.select(
        F.col("doc_id").alias("id_a"), "__blk", F.col("shingles").alias("sh_a"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).alias("__cell"),
    )
    sb = sh.select(
        F.col("doc_id").alias("id_b"), "__blk", F.col("shingles").alias("sh_b"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__cell"),
    )
    salted = (
        sa.join(sb, ["__blk", "__cell"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.floor(jac * 10).cast("bigint").alias("bin"))
    )
    got, want = _rows(salted), _rows(plain)
    assert got == want
    assert got  # non-degenerate
