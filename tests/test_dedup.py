"""Dedup-family invariants (SURVEY.md training-data extension; the
reference itself only has DISTINCT — project SSIS::loan_type_dim.dtsx:569).

Correctness vs DuckDB is covered by tools/selfcheck.py / the driver gate;
these tests pin the distributed-algorithm invariants that SQL equality
alone wouldn't localize: LSH recall vs brute force, signature determinism,
pair orientation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.catalog import load_table
from etl_pipline_ibrd_loan_system_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_exact_dedup_partitions_corpus(docs):
    groups = dedup.exact_dedup(docs, ["text"], "doc_id")
    total = groups.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()
    # keep_id is a real doc id
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert all(r.keep_id in ids for r in groups.collect())


def test_minhash_signature_deterministic(spark, docs):
    sh = dedup.word_shingles(docs.limit(50), "text", "doc_id", n=3).select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles")
    )
    s1 = dedup.minhash_signatures(sh, "doc_id", k=8).collect()
    s2 = dedup.minhash_signatures(sh, "doc_id", k=8).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


def test_lsh_pairs_subset_of_bruteforce(docs):
    """Every LSH-verified pair must appear in the brute-force set at the
    same threshold (precision 1.0 — verification is exact), and on this
    corpus recall must be 1.0 too (banding chosen for miss < 1e-3)."""
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs.withColumn("one", F.lit(1)), "text", "doc_id", "one",
            threshold=0.8,
        ).collect()
    }
    assert lsh == brute


def test_pair_orientation(docs):
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.8)
    assert pairs.where(F.col("id_a") >= F.col("id_b")).count() == 0


def test_simhash_in_60_bits(docs):
    fps = dedup.simhash_64(docs.limit(100), "text", "doc_id")
    bad = fps.where((F.col("simhash") < 0) | (F.col("simhash") >= 2**60))
    assert bad.count() == 0


def test_embedding_lsh_matches_bruteforce(emb):
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_lsh_pairs(
            emb, "vec_id", "embedding", threshold=0.4, bands=64, band_bits=2
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_blocked_pairs(
            emb.withColumn("one", F.lit(1)), "vec_id", "embedding", "one", 0.4
        ).collect()
    }
    assert lsh == brute


def test_connected_components_multihop(spark):
    # chain 1-2-3-4 plus isolated pair 10-11: two clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {
        r.node: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_chain_converges_logarithmically(spark):
    """large-star/small-star halves chains each round (pointer doubling):
    a 64-node path must converge in O(log n) rounds, not O(n) — the
    property that cut the dd8 iteration count (VERDICT r5 item 4)."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a bigint, id_b bigint"
    )
    got = {
        r.node: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    assert dedup.LAST_CC_ROUNDS <= 9  # log2(64)=6 + convergence slack


def test_embedding_lsh_hamming_prefilter_keeps_exact_dups(emb):
    # exact copies have signature Hamming 0: any cutoff keeps them, and
    # the prefilter collapses the verify stage to near-dups only
    dup = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    aug = emb.select("vec_id", "embedding").unionByName(dup)
    pairs = dedup.embedding_lsh_pairs(
        aug, "vec_id", "embedding", threshold=0.95,
        bands=4, band_bits=16, hamming_prefilter=8,
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {
        (r["vec_id"], r["vec_id"] + 1_000_000)
        for r in emb.where(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    }
    assert found == expected


def test_select_representatives_tiebreak_and_singletons(spark):
    """Survivor choice: highest quality wins, quality ties go to the
    LOWEST id, docs absent from the cluster map survive as their own
    singleton cluster."""
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        select_representatives,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (9, 7)], "doc_id long, n_chars long"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, cluster_id long"
    )
    out = {
        r["cluster_id"]: r
        for r in select_representatives(docs, clusters).collect()
    }
    assert set(out) == {1, 9}
    # quality tie between 2 and 3 -> lower id 2; doc 1 loses on quality
    assert out[1]["rep_doc_id"] == 2
    assert out[1]["rep_quality"] == 50
    assert out[1]["cluster_size"] == 3
    # doc 9 never appeared in any pair -> singleton, its own rep
    assert out[9]["rep_doc_id"] == 9
    assert out[9]["cluster_size"] == 1


def test_verbatim_overlap_counts_shared_windows(spark):
    """Two docs sharing an 8-token passage produce exactly one pair with
    the right window count; a df-capped gram is suppressed."""
    from etl_pipline_ibrd_loan_system_spark.operators import dedup

    passage = "a b c d e f g h"  # 8 tokens -> one 8-gram window
    rows = [
        (1, passage + " unique tail one"),
        (2, passage + " other ending here"),
        (3, "totally different words that never overlap with anything"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.verbatim_overlap_pairs(df, "text", "doc_id", w=8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # windows starting inside the shared passage are identical only
    # while fully inside it: exactly 1 at w=8 over an 8-token passage
    assert r["n_shared_grams"] == 1

    # same passage in 3 docs with max_df=2 -> suppressed, no pairs
    df3 = spark.createDataFrame(
        [(i, passage + f" tail{i}") for i in range(3)],
        "doc_id long, text string",
    )
    assert (
        dedup.verbatim_overlap_pairs(df3, "text", "doc_id", w=8, max_df=2).count()
        == 0
    )


def test_dd14_phonetic_blocking_catches_planted_misspellings(spark, sf_dir):
    """Every planted misspelling must pair with its true word; the
    deliberate first-letter miss (kustomer vs customer, K235 != C235)
    must NOT pair — the documented Soundex-family blindness."""
    import __spark_entry__ as entrymod

    rows = (
        entrymod.queries()["dd14_phonetic_blocking"](spark, sf_dir)
        .collect()
    )
    pairs = {frozenset((r.tok_a, r.tok_b)) for r in rows}
    for bad, good in (
        ("wydget", "widget"),
        ("gere", "gear"),
        ("anvill", "anvil"),
        ("batsh", "batch"),
        ("windoe", "window"),
        ("merje", "merge"),
    ):
        assert frozenset((bad, good)) in pairs, f"{bad} missed {good}"
    assert frozenset(("kustomer", "customer")) not in pairs
    # blocking never pairs tokens whose codes differ
    by_code = {}
    for r in rows:
        by_code.setdefault(r.code, set()).update((r.tok_a, r.tok_b))
    assert all(len(v) >= 2 for v in by_code.values())


def test_exact_collapse_picks_min_id_and_counts(spark):
    """exact_collapse: one representative per distinct payload, min id
    wins, n_copies exact; distinct payloads pass through untouched."""
    from etl_pipline_ibrd_loan_system_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(7, "aaa"), (3, "aaa"), (5, "bbb"), (1, "aaa"), (9, "ccc"),
         (2, "ccc")],
        "doc_id bigint, text string",
    )
    got = {r.text: r for r in dd.exact_collapse(df, "text", "doc_id").collect()}
    assert (got["aaa"].doc_id, got["aaa"].n_copies) == (1, 3)
    assert (got["bbb"].doc_id, got["bbb"].n_copies) == (5, 1)
    assert (got["ccc"].doc_id, got["ccc"].n_copies) == (2, 2)


def test_collapse_twins_replication_invariant(spark):
    """dd2b/dd15b contract: duplicating every document k times changes
    NEITHER twin's output (pair mass scales with distinct content), while
    the raw prefix-filter forms grow by construction."""
    import pyspark.sql.functions as F

    from etl_pipline_ibrd_loan_system_spark.queries.dedup_queries import (
        _collapse_reps,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),
        (3, "completely different text about spark engines here", "en"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    # 3 copies of every doc with distinct ids; min-id rep = original
    copies = docs
    for k in (1, 2):
        copies = copies.unionByName(
            docs.select(
                (F.col("doc_id") + 100 * k).alias("doc_id"), "text", "lang"
            )
        )

    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    def twin(df):
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in prefix_filtered_jaccard_pairs(
                _collapse_reps(df), "text", "doc_id",
                block_col="lang", n=3, threshold=0.5,
            ).collect()
        )

    base, replicated = twin(docs), twin(copies)
    assert base == replicated
    assert base  # the near-dup pair (1, 2) must be found
    assert base[0][:2] == (1, 2)

    # the raw form DOES grow under replication (3x3 copies per pair + 
    # jaccard-1.0 cross-copy pairs) - the boundary the twin removes
    raw = prefix_filtered_jaccard_pairs(
        copies, "text", "doc_id", block_col="lang", n=3, threshold=0.5
    ).count()
    assert raw > len(base)


def test_duplicate_spans_merge_maximal_and_positions(spark):
    """Matched windows on one diagonal merge into ONE maximal span with
    exact start offsets and token length; two separate shared passages
    yield two spans."""
    from etl_pipline_ibrd_loan_system_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    shared2 = "north south east west upper lower inner outer front back"
    rows = [
        # doc 1: shared at token offset 0, shared2 at offset 13
        (1, shared + " one two three " + shared2),
        # doc 2: shared at token offset 2, shared2 at offset 15
        (2, "pre pad " + shared + " four five six " + shared2),
        (3, "completely unrelated filler text with no overlap at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.id_a, r.id_b, r.start_a, r.start_b, r.len_tokens)
        for r in dedup.duplicate_span_pairs(
            df, "text", "doc_id", w=5, max_df=10
        ).collect()
    )
    # 10-token passage at w=5 -> 6 consecutive windows -> one span of 10
    assert out == [
        (1, 2, 0, 2, 10),   # `shared`
        (1, 2, 13, 15, 10),  # `shared2`
    ]


def test_duplicate_token_mass_counts_overlap_once(spark):
    """A doc sharing the same passage with two partners counts the
    passage ONCE; fraction = dup/len exactly."""
    from etl_pipline_ibrd_loan_system_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, shared + " tail one only"),
        (2, shared + " different tail here"),
        (3, shared + " third ending words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.dup_tokens, r.n_tokens, r.dup_fraction)
        for r in dedup.duplicate_token_mass(
            df, "text", "doc_id", w=5, max_df=10
        ).collect()
    }
    # each doc: the 10 shared tokens counted once despite 2 partners
    assert set(out) == {1, 2, 3}
    for doc_id, (dup, n, frac) in out.items():
        assert dup == 10
        assert n == 13
        assert frac == 10 / 13


def test_lsh_calibration_recall_regimes(spark, sf_dir):
    """The calibration table must show the two banding regimes on the
    real corpus: above the dedup threshold (bin >= 8) measured recall
    is 1.0 (near-dup pairs share a band with near-certainty at b=16,
    r=4), and at bin 0 the collision rate is within an order of
    magnitude of the theoretical s-curve floor."""
    import __spark_entry__ as entry

    rows = {
        r.bin: r
        for r in entry.queries()["dd19_lsh_calibration"](
            spark, sf_dir
        ).collect()
    }
    assert 0 in rows
    lo = rows[0]
    assert lo.n_pairs > 100
    assert lo.recall <= 10 * lo.s_curve_mid + 1e-6
    for b, r in rows.items():
        assert r.n_candidates <= r.n_pairs
        if b >= 8:
            assert r.recall == 1.0, (b, r)
