"""Deduplication operators for large-scale training-data pipelines.

Not reference-derived (the reference has only DISTINCT, §2.D D1) — these are
the dedup family a 100 TB document pipeline needs, each expressed as pure
DataFrame ops so Catalyst/Tungsten keep them JVM-side:

- exact_dedup            hash-groupBy, keep canonical id
- word_shingles          word n-gram shingle sets
- minhash_signatures     k permutation-min hashes, one Arrow kernel
- lsh_candidate_pairs    banded signature bucketing -> candidate pairs
- jaccard_verify_pairs   exact set-Jaccard verification of candidates
- minhash_dedup_pairs    the full MinHash+LSH pipeline
- simhash_64             64-bit (60 used) sign-of-weighted-bits fingerprint
- embedding_lsh_pairs    random-hyperplane-banded cosine near-dup

Cross-engine hash: H(s) = first 15 hex chars of md5(s) as a 60-bit int —
identical in Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`CAST('0x' || substr(md5(x),1,15) AS BIGINT)`), so oracles can replay the
exact pipeline.

Scale notes: signatures are a narrow Arrow kernel over hashed shingle
arrays — no signature shuffle; the LSH self-join shuffles on (band,
bucket) which is uniformly distributed by construction; the only
quadratic step (verification) runs on candidate pairs only. Skewed
buckets (e.g. boilerplate shingles) are bounded by banding; AQE
skew-join handles the residue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_P = 2_147_483_647  # 2^31 - 1, Mersenne prime
_A_MULT = 2_654_435_761    # Knuth multiplicative constant
_B_MULT = 40_503


def perm_params(i: int) -> tuple[int, int]:
    """Deterministic permutation params (a, b) for the i-th minhash."""
    a = (_A_MULT * (i + 1)) % MINHASH_P
    b = (_B_MULT * (i + 1) + 17) % MINHASH_P
    return (a or 1), b


def shared_hash60(col: Column) -> Column:
    """60-bit md5-derived hash, reproducible in ANSI SQL (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate groups: md5 over content -> keep min id + copy count."""
    fingerprint = F.md5(F.concat_ws("\x1f", *content_cols))
    return df.groupBy(fingerprint.alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def exact_collapse(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Collapse identical payloads to ONE representative row (min id,
    plus copy count) — the mandatory stage ZERO of a production near-dup
    pipeline. The r7 sf10 decade measured why: replicated corpora make
    every identical-copy cluster of size m emit C(m,2) verified pairs
    through the LSH path (dd3 went 4.1s at sf1 -> 248s at sf10 purely on
    copy mass), while near-dup after collapse scales with DISTINCT
    content. Group key is xxhash64(text) so the shuffle ships one
    (hash, min-struct) per map-side group, not the text once per copy;
    64-bit collisions are negligible at any realistic corpus size (the
    dd9 argument) and would only merge two unrelated groups, never drop
    content."""
    rep = F.min(F.struct(F.col(id_col), F.col(text_col))).alias("r")
    out = df.groupBy(F.xxhash64(F.col(text_col)).alias("__h")).agg(
        rep, F.count(F.lit(1)).alias("n_copies")
    )
    return out.select(
        F.col(f"r.{id_col}").alias(id_col),
        F.col(f"r.{text_col}").alias(text_col),
        "n_copies",
    )


def tokenize(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles) with shingles = DISTINCT word n-grams.

    Tokens are materialized as a column in a separate select BEFORE the
    shingle transform: referencing the raw `split(...)` expression from
    inside the lambda would inline (and re-evaluate) the tokenizer at
    every element_at — O(n * |doc|) tokenizations per row (measured 4x
    slowdown of the whole MinHash pipeline at sf0.1)."""
    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("toks")
    ).where(F.size("toks") >= n)
    toks = F.col("toks")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )
    return base.select(F.col(id_col), sh.alias("shingles"))


def minhash_signatures(
    shingled: DataFrame, id_col: str, k: int = 64
) -> DataFrame:
    """k-permutation MinHash signature as k columns mh_0..mh_{k-1}.

    `shingles` holds 64-bit shingle hashes (array<bigint>, e.g. the
    `transform(shingles, xxhash64)` projection minhash_dedup_pairs pins):
    each shingle is hashed ONCE upstream and every downstream consumer
    (signatures here, exact verify in jaccard_verify_pairs) works on the
    8-byte hashes. Precondition: ONE row per id — the kernel signs each
    row independently and never merges rows that share an id (word_shingles
    emits one row per doc).

    Signatures are ONE narrow Arrow kernel over the hash arrays
    (optimization r12, guide §2.2/§4): (pmod(H)·aᵢ+bᵢ) mod P, min per
    row, vectorized k×Σ|shingles| in numpy int64 — bit-exact vs the SQL
    explode → groupBy-min form because every operand stays < 2^62
    (h,a < P = 2^31-1) and numpy's % matches Spark's pmod for
    non-negative moduli (pmod, not %, maps the full signed xxhash64
    range into [0, P)). There is no signature Exchange: the kernel is a
    narrow transform. Linear in shingle mass per row, so safe under
    exact-copy replication (each copy is an independent row — sf1
    decade verified). A NULL or empty shingle array emits no row, as
    explode did.
    """
    import numpy as np
    import pandas as pd

    A = np.array([perm_params(i)[0] for i in range(k)], dtype=np.int64)
    B = np.array([perm_params(i)[1] for i in range(k)], dtype=np.int64)
    P = MINHASH_P
    id_type = shingled.schema[id_col].dataType.simpleString()

    def part(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            arrs = pdf["shingles"]
            present = arrs.notna().to_numpy()
            lens = np.fromiter(
                (len(a) if p else 0 for a, p in zip(arrs, present)),
                dtype=np.int64, count=n,
            )
            keep = lens > 0
            if not keep.all():
                # NULL / empty shingle sets have nothing to explode;
                # callers filter size >= n upstream, so this is
                # belt-and-braces
                pdf = pdf[keep]
                arrs = pdf["shingles"]
                lens = lens[keep]
                n = len(pdf)
                if not n:
                    continue
            H = np.mod(
                np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs]),
                P,
            )
            M = (H[None, :] * A[:, None] + B[:, None]) % P  # k × Σ|sh|
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            S = np.minimum.reduceat(M, starts, axis=1)  # k × n
            out = {id_col: pdf[id_col].to_numpy()}
            for i in range(k):
                out[f"mh_{i}"] = S[i]
            yield pd.DataFrame(out)

    schema = f"{id_col} {id_type}, " + ", ".join(
        f"mh_{i} long" for i in range(k)
    )
    return shingled.select(id_col, "shingles").mapInPandas(part, schema)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 16, rows_per_band: int = 4,
    pairgen: str = "join",
) -> DataFrame:
    """Band the signature, bucket candidates: ids sharing any band bucket
    become a candidate pair (id_a < id_b). Shuffle key (band, bucket) is
    uniform by hash construction.

    PRODUCTION NOTE (r7 sf10 decade): pair output is quadratic in
    exact-copy mass — m identical docs all share every bucket and emit
    C(m,2) pairs. The production entry point is the collapse twin
    (exact_collapse first, near-dup on distinct texts, rejoin copy
    counts — the dd3b/dd7b/dd8b pattern, FLAT at sf10); call the raw
    form only when per-pair output over copies is itself the product.

    `pairgen` (optimization r11) selects how bucket members pair up —
    both emit the identical pair set (set-equal verified at sf0.1 and by
    the r11 equivalence test):

    - "join" (default, safe under copy mass): shuffled-hash self-join of
      the bucket table — pairs STREAM out of the hash probe, nothing
      bucket-sized materializes. Pinned shuffle_hash; never broadcast a
      side at corpus grain (the r7 sf10 broadcast-OOM landmine).
    - "grouped" (the collapse twins): ONE grouped pass — half the bucket
      shuffle bytes and one less join stage, emitting i<j pairs from
      each bucket's sorted id array. Only for inputs whose buckets are
      banding-bounded (i.e. AFTER exact collapse): the per-bucket
      slice/transform pair explosion allocates the bucket array per
      element, which the sf1 replication decade measured 5x slower than
      the streaming join under exact-copy mass (dd5 1.7 -> 8.4s)."""
    buckets = _band_buckets(sigs, id_col, bands, rows_per_band)
    if pairgen == "join":
        a = buckets.alias("a").hint("shuffle_hash")
        b = buckets.alias("b")
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
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ids, (x, i) -> transform("
                        "slice(ids, i + 2, size(ids) - i - 1), "
                        "y -> struct(x AS id_a, y AS id_b)))"
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _pair_payload_once(
    pairs: DataFrame, payload: DataFrame, id_col: str, payload_cols: list[str]
) -> DataFrame:
    """Attach a per-id payload to both sides of a pair set with the
    payload relation entering exactly ONE Exchange (optimization r12,
    guide §2.3/§8 "decide small, move heavy once").

    The two-join form (pairs ⋈ payload_a on id_a, then ⋈ payload_b on
    id_b) moves the corpus-grain payload through TWO exchanges and
    re-shuffles each pair's side-a payload through the second join's
    exchange: ~2N + P payload rows in flight. This form explodes each
    (already-deduped) pair into two 16-byte edge rows, joins the payload
    ONCE by id, and regroups by the pair key: N + 2P payload rows. Only
    call it where P (candidate pairs) < N (payload rows) is structural —
    the collapse twins, whose banding bounds pair mass after identical
    content is removed; under raw exact-copy mass P is quadratic and the
    two-join form moves fewer bytes (the r11 pairgen scoping lesson).

    Pair-side payloads come back as structs `a`/`b` (side 0 = id_a);
    pairs whose ids lack a payload row drop, exactly like the inner
    two-join form. Preconditions are asserted in the same aggregate, not
    assumed: a pair listed twice, or an id with two payload rows, fails
    the query (raise_error) instead of dropping the pair or pairing one
    side's payload with itself. The payload side stays
    shuffle-hash-hinted: never broadcast a corpus-grain array relation
    (sf10 OOM landmine, r7); the 16-byte edge side is free to broadcast
    if AQE sizes it small."""
    pay = F.struct(*[F.col(c) for c in payload_cols])
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a"),
                    F.col("id_b"),
                    F.col("id_a").alias("__id"),
                    F.lit(0).alias("__side"),
                ),
                F.struct(
                    F.col("id_a"),
                    F.col("id_b"),
                    F.col("id_b").alias("__id"),
                    F.lit(1).alias("__side"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    p = payload.select(
        F.col(id_col).alias("__id"), pay.alias("__pay")
    ).hint("shuffle_hash")
    return (
        edges.join(p, "__id")
        .groupBy("id_a", "id_b")
        .agg(
            F.min_by("__pay", "__side").alias("a"),
            F.max_by("__pay", "__side").alias("b"),
            F.count(F.lit(1)).alias("__n"),
            F.min("__side").alias("__s0"),
            F.max("__side").alias("__s1"),
        )
        # __n == 1: one side lacks a payload -> drop (inner-join parity);
        # __n == 2 must be one row per side; more means a duplicated pair
        # or payload id
        .where(
            F.when(
                (F.col("__n") > 2)
                | ((F.col("__n") == 2) & (F.col("__s0") == F.col("__s1"))),
                F.raise_error(F.format_string(
                    "_pair_payload_once: pair (%s, %s) met %d payload rows "
                    "on sides %d..%d; pairs and payload ids must be unique",
                    "id_a", "id_b", "__n", "__s0", "__s1",
                )),
            ).otherwise(F.col("__n") == 2)
        )
        .drop("__n", "__s0", "__s1")
    )


def jaccard_verify_pairs(
    shingled: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float,
    move_once: bool = False,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keep >= threshold.

    `move_once=True` (optimization r12) verifies through
    _pair_payload_once — the shingle relation enters ONE exchange and
    each surviving pair's two arrays move once to meet, instead of the
    corpus-grain arrays shuffling through both pair-side joins. Scoped
    to collapse-twin callers (see _pair_payload_once's P < N argument).
    """
    if move_once:
        pp = _pair_payload_once(pairs, shingled, id_col, ["shingles"])
        j = F.size(
            F.array_intersect("a.shingles", "b.shingles")
        ).cast("double") / F.size(F.array_union("a.shingles", "b.shingles"))
        return pp.select("id_a", "id_b", j.alias("jaccard")).where(
            F.col("jaccard") >= threshold
        )
    # the shingle relation is corpus-grain with array payloads: its
    # in-memory broadcast form is orders of magnitude bigger than the
    # columnar estimate (sf10 broadcast-OOM landmine, r7) — pin a
    # shuffled hash join keyed on the id
    sa = shingled.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    ).hint("shuffle_hash")
    sb = shingled.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    ).hint("shuffle_hash")
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
    pairgen: str = "join",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> sign -> band ->
    bucket-join -> exact-verify. Detection probability at j=threshold with
    the defaults: 1-(1-0.8^4)^16 ≈ 0.9998."""
    # Diamond DAG: `shingled` feeds both the signature path and the
    # verify path, `sigs` feeds both sides of the LSH self-join. Pin
    # them or every branch re-tokenizes the corpus (2x shingle + 2x
    # signature recompute measured at sf0.1). MEMORY_AND_DISK: at
    # cluster scale the shingle set may exceed memory — spill, never
    # recompute. Pins release at the next registry query (cache.py).
    #
    # Decide-small (optimization r12, guide §2.3/§8): the pinned relation
    # carries xxhash64 VALUES (array<bigint>), not shingle strings —
    # each shingle is hashed exactly once at the projection, the cached
    # footprint and the verify-stage exchanges carry 8 bytes per
    # shingle instead of ~20-30-byte strings, and array_intersect/union
    # compare longs. Two equivalence arguments, separately load-bearing:
    # - VERIFY (exactness): Jaccard over the hash sets equals Jaccard
    #   over the string sets — distinct strings map to distinct 64-bit
    #   hashes (a within-pair collision is ~C(|A∪B|,2)/2^64, the same
    #   argument exact_collapse already rests on), and a collision would
    #   shrink an intersect/union SIZE, which the string-set DuckDB
    #   oracle fails loudly, never silently.
    # - SIGNATURES (recall only): the permutation family now draws from
    #   pmod(xxhash64, P) instead of md5-derived shared_hash60 — a
    #   different LSH instance with the same per-pair detection
    #   probability; legitimate because no minhash_dedup_pairs caller's
    #   oracle replays the signature hash (they are all brute-force
    #   Jaccard — dd19, whose oracle DOES replay hashing, has its own
    #   md5 pipeline in lsh_calibration). xxhash64 is one 64-bit mix vs
    #   md5's full digest + hex substring + base-16 conv per shingle —
    #   measured CPU, not cosmetics, on every shingle of the corpus.
    from ..cache import pin

    shingled = pin(
        word_shingles(df, text_col, id_col, n).select(
            F.col(id_col),
            F.transform("shingles", lambda s: F.xxhash64(s)).alias(
                "shingles"
            ),
        )
    )
    sigs = minhash_signatures(shingled, id_col, k)
    if pairgen != "grouped":
        # the "join" path self-joins the band table, so the signature
        # frame feeds two subtrees — pin it. The grouped path consumes
        # sigs exactly once (one groupBy pass): caching a single-use
        # intermediate is a wasted materialization barrier + footprint.
        sigs = pin(sigs)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band, pairgen)
    # move-once verify rides the same P < N argument that admits grouped
    # pairgen: banding bounds candidate mass only after exact collapse
    return jaccard_verify_pairs(
        shingled, cands, id_col, threshold, move_once=(pairgen == "grouped")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force n-gram Jaccard within blocks (the small-scale/oracle
    path; MinHash+LSH is the 100 TB path)."""
    shingled = word_shingles(df, text_col, id_col, n).join(
        df.select(id_col, block_col), id_col
    )
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"), F.col(block_col).alias("blk_a")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"), F.col(block_col).alias("blk_b")
    )
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the PPJoin family's
    core idea) — same output as ngram_jaccard_pairs, without the
    all-pairs-within-block quadratic:

    Order each document's shingle set by a GLOBAL total order (the shared
    60-bit hash). If jaccard(A,B) >= t, then A and B must intersect, and
    moreover their PREFIXES — the first |S| - ceil(t*|S|) + 1 shingles in
    that order — must share at least one element (pigeonhole: a pair
    disjoint on both prefixes can overlap only in the suffixes, which are
    too small to reach t). Candidates are therefore pairs sharing ANY
    prefix shingle, found by exploding prefixes (≈ (1-t)*|S|+1 rows per
    doc) and equi-joining on (block, shingle-hash) — shuffle carries the
    prefix stream, never the pair space. Exact jaccard then verifies
    candidates only, with the size prune |A| and |B| within 1/t of each
    other (also implied by t) applied first.

    Recall 1.0 is a theorem (holds for any total order), so the
    brute-force oracle stays valid verbatim. Measured 109.6s -> 2.9s at
    sf0.1 vs the all-pairs shape (37x); the candidate set is pair-sparse
    whenever shingles are diverse — on a corpus where most documents
    share prefix shingles it degrades toward all-pairs, which is the
    same dense-regime caveat as banding (SCALE.md).
    """
    from ..cache import pin

    # the pinned relation carries ONLY the sorted hash array (r12
    # decide-small): exact verification runs on the 60-bit hashes —
    # |A∩B| and |A∪B| over the hash sets equal the string-set sizes
    # modulo a ~2^-60 within-pair collision (the dd9 argument; the
    # string-set oracle fails loudly on one) — so the string shingle
    # arrays never enter the cache or any exchange.
    shingled = (
        word_shingles(df, text_col, id_col, n)
        .join(df.select(id_col, block_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.array_sort(
                F.transform(F.col("shingles"), lambda s: shared_hash60(s))
            ).alias("hs"),
        )
    )
    # prefix length: |S| - ceil(t*|S|) + 1 (ceil via -floor(-x))
    sz = F.size("hs")
    plen = sz + F.floor(-sz * F.lit(float(threshold))).cast("int") + 1
    pinned = pin(shingled)
    # the exploded prefix streams carry IDS + sizes ONLY: hanging the
    # full shingle arrays on every exploded row multiplied both the
    # cached footprint and the candidate-join shuffle by ~|prefix| per
    # doc (measured 386 MB -> single-digit MB at sf0.1, r8 shuffle
    # audit); the arrays rejoin once per surviving candidate id below
    sides = pinned.select(
        "id", "blk", F.size("hs").alias("nsh"),
        F.explode(F.slice("hs", 1, plen)).alias("ph"),
    )
    a = sides.select(
        F.col("id").alias("id_a"), F.col("blk").alias("blk_a"),
        F.col("nsh").alias("na"), "ph",
    )
    b = sides.select(
        F.col("id").alias("id_b"), F.col("blk").alias("blk_b"),
        F.col("nsh").alias("nb"), "ph",
    )
    t = float(threshold)
    cand_ids = (
        a.join(b, ["ph"], "inner")
        .where(
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("id_a") < F.col("id_b"))
            # size prune: jaccard >= t implies t <= |A|/|B| <= 1/t
            & (F.col("na") >= F.col("nb") * t)
            & (F.col("nb") >= F.col("na") * t)
        )
        # a pair sharing k prefix shingles appears k times; dedupe on the
        # ids alone before the arrays ever enter the plan
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    cands = cand_ids.join(
        pinned.select(F.col("id").alias("id_a"), F.col("hs").alias("sh_a")),
        "id_a",
    ).join(
        pinned.select(F.col("id").alias("id_b"), F.col("hs").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    # |A ∪ B| = |A| + |B| - |A ∩ B|: one array op instead of two
    j = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return cands.select("id_a", "id_b", j.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def simhash_64(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprint: per token-hash bit, sum +1/-1 weighted by term
    frequency; fingerprint bit = sign. Two-level aggregation (bit sums, then
    bit recombination) — one shuffle on the id."""
    toks = (
        df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
        .select(id_col, shared_hash60(F.col("tok")).alias("h"))
    )
    # parsed exprs: bits x ~6 Column calls per sum (plus the bits-term
    # recombination chain) are py4j round trips that dominate plan build
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS b_{i}"
            )
            for i in range(bits)
        ]
    )
    fp = F.expr(
        " + ".join(
            f"(CASE WHEN b_{i} > 0 THEN CAST({2 ** i} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
    )
    return bit_sums.select(F.col(id_col), fp.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8,
    band_bits: int = 15, bits: int = 60,
) -> DataFrame:
    """SimHash near-dup: band the fingerprint into `bits/band_bits` chunks;
    by pigeonhole, any pair within `bits/band_bits - 1` differing bits
    shares at least one exact chunk -> bucket-join + hamming verify.

    Optimization r11 examined two alternatives and kept this shape, with
    the sf1 replication decade as the judge: (a) the grouped one-pass
    pair-gen the collapse twins use regressed 1.7 -> 8.4s under raw
    exact-copy mass (the per-bucket slice/transform pair explosion
    allocates the bucket array per element, while this join STREAMS the
    same C(m,2) pairs from the hash probe); (b) pinning shuffle_hash
    cost +0.5s at sf1 vs letting the planner choose — the bucket rows
    are fixed-width longs, so the size estimate the broadcast decision
    reads tracks reality (unlike the r7 array-payload landmine tables),
    and past the threshold the planner stops broadcasting on its own."""
    from ..cache import pin

    fps = pin(simhash_64(df, text_col, id_col, bits))  # both self-join sides
    n_bands = bits // band_bits
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND((1 << band_bits) - 1)
            for b in range(n_bands)
        ]
    )
    buckets = fps.select(
        F.col(id_col), F.col("simhash"), F.posexplode(chunks).alias("band", "chunk")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def cosine(a: Column, b: Column) -> Column:
    """Exact sequential-order cosine over array<double> (JVM higher-order
    functions — no UDF). Matches the manual DuckDB list_transform formula
    bit-for-bit."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return dot / (na * nb)


def embedding_blocked_pairs(
    df: DataFrame, id_col: str, vec_col: str, block_col: str, threshold: float
) -> DataFrame:
    """Brute-force cosine near-dup within blocks (oracle-checkable path)."""
    v = F.col(vec_col).cast("array<double>")
    a = df.select(F.col(id_col).alias("id_a"), v.alias("v_a"), F.col(block_col).alias("blk_a"))
    b = df.select(F.col(id_col).alias("id_b"), v.alias("v_b"), F.col(block_col).alias("blk_b"))
    c = cosine(F.col("v_a"), F.col("v_b"))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", c.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def normalized_banded_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    band_q: float | None = 0.05,
) -> DataFrame:
    """Blocked cosine near-dup with two scale levers over
    embedding_blocked_pairs, at identical recall:

    1. Vectors are L2-NORMALIZED once per row before the self-join, so
       the per-pair test is ONE dot product instead of dot + two norms
       (3x fewer interpreted ops on the quadratic term).
    2. Within each block, candidates are restricted to pairs agreeing on
       a quantized leading unit-component band (+-1 adjacency). This is
       recall-PRESERVING for thresholds near 1: cos >= t implies
       |u_a - u_b| <= sqrt(2-2t) per component, so band width
       band_q > sqrt(2-2t) guarantees band difference <= 1 (t=0.999 ->
       0.0447 < 0.05). The one-sided {b-1, b, b+1} explode matches each
       qualifying unordered pair exactly once.

    On corpora whose vectors cluster tightly in direction (every pair
    near the threshold) the band prunes little — near-threshold dense
    clusters are inherently ~quadratic within block; see SCALE.md. On
    real corpora (sparse direction space) the band multiplies the block
    reduction.

    `band_q=None` disables the band (low thresholds make the recall
    bound sqrt(2-2t) exceed any useful width — e.g. t=0.45 needs
    band_q > 1.05, which is the whole unit range); lever 1 (normalize
    once, single-dot pair test) still applies.
    """
    if band_q is not None and band_q <= (2 - 2 * threshold) ** 0.5:
        raise ValueError("band_q must exceed sqrt(2-2*threshold) for recall 1.0")
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    u = F.transform(v, lambda x: x / norm)
    band = (
        F.floor(F.element_at(u, 1) / band_q).cast("bigint")
        if band_q is not None
        else F.lit(0)
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        u.alias("u"),
        band.alias("band"),
    )
    a_bands = (
        F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
        if band_q is not None
        else F.col("band")
    )
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("blk").alias("blk_a"),
        F.col("u").alias("u_a"),
        a_bands.alias("band_a"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("blk").alias("blk_b"),
        F.col("u").alias("u_b"),
        F.col("band").alias("band_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("u_a"), F.col("u_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("band_a") == F.col("band_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", dot.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _arrow_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    weights,  # numpy (nbits, dim)
    bands: int,
    band_bits: int,
) -> DataFrame:
    """Sign-bit signatures via Arrow-batched matmul: one BLAS call per
    batch replaces nbits x dim interpreted lambda evaluations per row
    (measured ~5s -> ~0.3s for 2200 x 64bit x 64dim). Exact duplicates
    still get identical signatures (same bytes -> same matmul -> same
    signs), which is the only property recall depends on."""
    import numpy as np
    import pandas as pd

    pow2 = (2 ** np.arange(band_bits)).astype("int64")
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype="float64")
            bits = (V @ weights.T >= 0).astype("int64")
            sig = bits.reshape(len(pdf), -1, len(pow2)) @ pow2
            yield pd.DataFrame({id_col: pdf[id_col], "sig": list(sig)})

    return df.mapInPandas(fn, f"{id_col} {id_type}, sig array<bigint>")


def _hyperplanes(nbits: int, dim: int):
    """The (nbits, dim) random-hyperplane matrix shared by every
    embedding LSH operator: deterministic hash-derived weights in
    [-1, 1), so corpus and query sides sign with identical planes."""
    import numpy as np

    def w(bit: int, i: int) -> float:
        x = (_A_MULT * (bit * dim + i + 1) + 12345) % MINHASH_P
        return (x / MINHASH_P) * 2.0 - 1.0

    return np.array(
        [[w(bit, i) for i in range(dim)] for bit in range(nbits)],
        dtype="float64",
    )


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bands: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    hamming_prefilter: int | None = None,
    pairgen: str = "join",
) -> DataFrame:
    """Cosine near-dup at scale: random-hyperplane signature (sign bits of
    deterministic pseudo-random projections), banded bucket-join, exact
    cosine verify. Detection prob at cos=0.95 (bit-agree ~0.9) with 16
    bands of 4 bits: 1-(1-0.9^4)^16 ≈ 0.9999.

    Signatures come from one Arrow-batched matmul per batch
    (_arrow_signatures). Bucket rows carry ONLY (id, band, chunk): pairs
    dedup on bare ids before any vector travels, then vectors join back
    once per unique pair — cosine is evaluated once per candidate, not
    once per band-collision (a ~bands-fold saving in shuffle bytes +
    compute)."""
    from ..cache import pin

    v = F.col(vec_col).cast("array<double>")
    W = _hyperplanes(bands * band_bits, dim)
    sigs = _arrow_signatures(df, id_col, vec_col, W, bands, band_bits)
    if pairgen == "join" or hamming_prefilter is not None:
        # buckets x2 on the join path, prefilter x2; the grouped path
        # without a prefilter consumes sigs exactly once — a single-use
        # pin is a wasted materialization barrier (r11/r12)
        sigs = pin(sigs)
    buckets = sigs.select(
        F.col(id_col), F.posexplode("sig").alias("band", "chunk")
    )
    # pairgen semantics identical to lsh_candidate_pairs (r11): "join"
    # streams pairs from a pinned shuffled-hash self-join (safe under
    # exact-copy mass; broadcast stays banned at corpus grain), "grouped"
    # is the collapse-twin fast path (one exchange, banding-bounded
    # buckets only).
    if pairgen == "join":
        a, b = buckets.alias("a").hint("shuffle_hash"), buckets.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
    else:
        cands = (
            buckets.groupBy("band", "chunk")
            .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
            .where(F.size("ids") >= 2)
            .select(
                F.explode(
                    F.flatten(
                        F.expr(
                            "transform(ids, (x, i) -> transform("
                            "slice(ids, i + 2, size(ids) - i - 1), "
                            "y -> struct(x AS id_a, y AS id_b)))"
                        )
                    )
                ).alias("p")
            )
            .select("p.id_a", "p.id_b")
            .distinct()
        )
    # Optional signature Hamming prefilter: the full nbits signature is
    # already computed (it IS the concatenated band chunks) and each row
    # is ~16 bytes vs 512 for the vector, so candidates can join
    # signatures first and only survivors touch vectors. EXPLICIT opt-in
    # only: an acos(threshold)/pi binomial auto-cutoff is miscalibrated
    # here — that law assumes rotation-invariant (gaussian) hyperplanes,
    # and these deterministic hash-derived ones are uniform-cube, so
    # measured Hamming for cos~0.4 pairs ran 6-10 sigma above the
    # binomial prediction and a "5 sigma" cutoff silently dropped true
    # pairs. Safe uses: planted/exact duplicates (Hamming 0 — any small
    # cutoff), or a cutoff validated against the caller's actual data.
    if hamming_prefilter is not None:
        ham = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
            F.lit(0),
            lambda s, x: s + x,
        )
        sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
        cands = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .where(ham <= hamming_prefilter)
            .select("id_a", "id_b")
        )
    # Per-vector norms once (not per pair): cos = dot/(na*nb) with na,nb
    # pure functions of each vector — bit-identical to cosine(), 1/3 the
    # per-pair flops through the (interpreted) higher-order aggregate.
    nrm = F.sqrt(
        F.aggregate(F.transform("nv", lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    norms = df.select(F.col(id_col).alias("nid"), v.alias("nv")).select(
        "nid", "nv", nrm.alias("nn")
    )
    # The move-once fold (see _pair_payload_once) was MEASURED here and
    # rejected (r12): these verify joins are deliberately UNhinted, so
    # AQE broadcasts the tiny candidate side and the cached vectors
    # stream through ZERO exchanges — already better than N + 2P. The
    # fold's forced payload shuffle regressed dd7b ~0.9 -> 1.27s exec.
    # Unhinted is safe HERE (unlike jaccard_verify_pairs) because the
    # vector rows are fixed-width array<double>[dim], so the broadcast
    # size estimate is accurate (the r7 landmine was ragged string
    # arrays whose in-memory form dwarfs the columnar estimate); at
    # candidate mass past the threshold AQE falls back to shuffle joins.
    norms = pin(norms)  # feeds both vector joins
    va = norms.select(
        F.col("nid").alias("id_a"), F.col("nv").alias("v_a"), F.col("nn").alias("n_a")
    )
    vb = norms.select(
        F.col("nid").alias("id_b"), F.col("nv").alias("v_b"), F.col("nn").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", (dot / (F.col("n_a") * F.col("n_b"))).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


# rounds the last connected_components call took to converge — recorded
# for tests and the SCALE.md iteration-count log (VERDICT r5 item 4)
def verbatim_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 16,
    max_df: int = 50,
) -> DataFrame:
    """ExactSubstr-style dedup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): document pairs that
    share at least one VERBATIM w-token window, with the count of shared
    windows. Catches copied passages that shingle-Jaccard dilutes away
    (a 50-token quote inside two otherwise-different documents moves
    3-gram Jaccard by ~nothing but is exactly the contamination/citation
    duplication a training pipeline must see).

    Shape: per-doc DISTINCT w-gram hashes (60-bit md5, so the shuffle
    carries 8-byte keys, never the ~100-char gram text) -> document
    frequency per gram -> drop grams outside [2, max_df] -> gram-keyed
    self-join -> per-pair count. The df cap is the scale guard: a gram
    seen in d documents fans out d^2 pair rows, so boilerplate grams
    (site banners, licenses) are excluded here — they are exactly what
    `chunk_boilerplate_filter` (dd9) handles, and at w >= 16 natural
    language grams are otherwise near-unique, keeping the join linear in
    the true-duplicate mass. The suffix-array formulation finds arbitrary
    >= w overlaps without the window grid; this gram-grid variant is the
    join-friendly approximation that distributes — windows align because
    both docs tokenize identically.
    """
    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("toks")
    ).where(F.size("toks") >= w)
    toks = F.col("toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - w),
            lambda i: shared_hash60(
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(toks, (i + j + 1).cast("int"))
                        for j in range(w)
                    ],
                )
            ),
        )
    )
    g = base.select(F.col(id_col).alias("doc"), F.explode(grams).alias("g"))
    # grams are distinct per doc, so COUNT(*) per gram == document frequency
    keep = (
        g.groupBy("g")
        .agg(F.count(F.lit(1)).alias("d"))
        .where((F.col("d") >= 2) & (F.col("d") <= max_df))
        .select("g")
    )
    gk = g.join(keep, "g")
    a = gk.select(F.col("g"), F.col("doc").alias("id_a"))
    b = gk.select(F.col("g"), F.col("doc").alias("id_b"))
    return (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def duplicate_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 16,
    max_df: int = 50,
) -> DataFrame:
    """MAXIMAL verbatim duplicated spans per document pair — the actual
    output shape of suffix-array ExactSubstr dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): not
    just "these two docs share k windows" (verbatim_overlap_pairs) but
    WHERE the copied passage sits and HOW LONG it runs, i.e. the byte
    ranges a training pipeline would actually strip.

    Method: position-preserving w-token window hashes (the same 60-bit
    shared-md5 grid as verbatim_overlap_pairs), document-frequency cap
    [2, max_df] to exclude boilerplate fanout, gram-keyed pair join
    keeping (pos_a, pos_b), then the islands trick per DIAGONAL: two
    matched windows belong to the same maximal span iff they sit on the
    same pair diagonal (pos_a - pos_b) at consecutive pos_a, so
    grouping by (pair, diagonal, pos_a - row_number) merges every run
    of overlapping matched windows into one maximal span of
    `run_len + w - 1` tokens. This is exactly the suffix-array result
    for non-periodic text; periodic text (token cycles shorter than w)
    can emit overlapping spans on adjacent diagonals, which
    duplicate_token_mass re-merges per document.

    Scale shape: one shuffle keyed by gram hash for the document-
    frequency cap and pair join (8-byte keys, never gram text), then
    one shuffle keyed by (id_a, id_b) for the diagonal windows — pair-
    grain partitions, no global window. The df cap bounds per-gram
    fanout at max_df^2 exactly as in verbatim_overlap_pairs.

    Returns (id_a, id_b, start_a, start_b, len_tokens), positions
    0-based token offsets.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("toks")
    ).where(F.size("toks") >= w)
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - w),
        lambda i: shared_hash60(
            F.concat_ws(
                " ",
                *[
                    F.element_at(toks, (i + j + 1).cast("int"))
                    for j in range(w)
                ],
            )
        ),
    )
    g = base.select(
        F.col(id_col).alias("doc"),
        F.posexplode(grams).alias("pos", "g"),
    ).select("doc", F.col("pos").cast("bigint").alias("pos"), "g")
    # positional grams can repeat within a doc, so document frequency
    # needs the distinct-doc count (verbatim_overlap_pairs gets this for
    # free from its per-doc array_distinct)
    keep = (
        g.groupBy("g")
        .agg(F.countDistinct("doc").alias("d"))
        .where((F.col("d") >= 2) & (F.col("d") <= max_df))
        .select("g")
    )
    gk = g.join(keep, "g")
    a = gk.select(
        "g", F.col("doc").alias("id_a"), F.col("pos").alias("pa")
    )
    b = gk.select(
        "g", F.col("doc").alias("id_b"), F.col("pos").alias("pb")
    )
    hits = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb")
    )
    runs = hits.withColumn("diag", F.col("pa") - F.col("pb")).withColumn(
        "grp",
        F.col("pa")
        - F.row_number().over(
            Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
        ),
    )
    return (
        runs.groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(w - 1)).alias("len_tokens"),
        )
        .select("id_a", "id_b", "start_a", "start_b", "len_tokens")
    )


def duplicate_token_mass(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 16,
    max_df: int = 50,
) -> DataFrame:
    """Per-document duplicated-token mass: the fraction of a document's
    tokens covered by at least one verbatim duplicated span — the
    strip-or-drop signal an ExactSubstr pass feeds a training pipeline
    ("remove docs >X% duplicated", "cut the duplicated ranges").

    Each duplicate_span_pairs row contributes the interval
    [start, start+len) on BOTH endpoints' token axes; intervals are
    union-merged per document with the running-max islands pass (the
    e18 interval-compaction shape: a new island starts where the span
    start exceeds the max end seen so far), so overlapping spans from
    different partners (or periodic-text diagonal twins) are counted
    once. Output (doc_id, dup_tokens, n_tokens, dup_fraction) for every
    document with at least one duplicated span; dup_fraction is the
    single final float division (exact cross-engine).

    Scale: spans are pair-grain (bounded by the df cap); the merge
    windows partition per doc_id — never global; the token-length join
    is doc-grain against the corpus scan.
    """
    from pyspark.sql.window import Window

    spans = duplicate_span_pairs(df, text_col, id_col, w=w, max_df=max_df)
    # DISTINCT before the merge windows: identical intervals from
    # different partners are redundant for a union, and distinctness
    # makes (s, e) a TOTAL order per doc — a running-frame window over
    # tied sort keys is exactly where parallel window execution goes
    # nondeterministic (observed in DuckDB 1.0: the same interval set
    # intermittently split islands under ties; Spark's sort is stable
    # but the oracle must replay bit-for-bit, so both sides dedupe).
    iv = (
        spans.select(
            F.col("id_a").alias("doc_id"),
            F.col("start_a").alias("s"),
            (F.col("start_a") + F.col("len_tokens")).alias("e"),
        )
        .unionAll(
            spans.select(
                F.col("id_b").alias("doc_id"),
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("len_tokens")).alias("e"),
            )
        )
        .distinct()
    )
    ordered = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = (
        F.max("e")
        .over(ordered.rowsBetween(Window.unboundedPreceding, -1))
    )
    isl = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "isl",
        F.sum("new_island").over(
            ordered.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = isl.groupBy("doc_id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    mass = merged.groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms")).alias("dup_tokens")
    )
    lens = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    return mass.join(lens, "doc_id").select(
        "doc_id",
        "dup_tokens",
        "n_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias(
            "dup_fraction"
        ),
    )


LAST_CC_ROUNDS: int = 0


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs via the alternating
    LARGE-STAR / SMALL-STAR algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond"). Returns (node, cluster_id)
    with cluster_id = min node id of the component.

    Each round rewires the graph toward a star forest whose root is the
    component minimum:
      * large-star: per node u, link every LARGER neighbor to
        m = min(N(u) ∪ {u}) — long chains halve (pointer doubling);
      * small-star: per node u, link every smaller neighbor and u
        itself to the minimum smaller neighbor.
    Both steps preserve connectivity and only ever link toward smaller
    ids, so the fixpoint is the star forest rooted at component minima.
    Convergence needs O(log²) rounds on adversarial graphs vs O(diameter)
    for plain min-label propagation — the r5 sf1 sweep showed the
    propagation paying an extra full pass across the 10x decade
    (SCALE.md), which is exactly the gap this closes. Each round is a
    groupBy + join on the edge list; edges are localCheckpoint'ed so
    lineage stays flat, and the round count lands in LAST_CC_ROUNDS.

    Invariant carried between rounds: edges directed high→low
    (u > v), deduplicated."""
    global LAST_CC_ROUNDS
    # materialize the pair stream ONCE — both the node universe and the
    # edge list derive from it, and the caller's `pairs` is typically an
    # expensive near-dup pipeline that must not re-evaluate per branch
    raw = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).localCheckpoint(eager=True)
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    edges = (
        raw.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    LAST_CC_ROUNDS = 0
    for _ in range(max_iter):
        LAST_CC_ROUNDS += 1
        # large-star over the undirected view: (v, m) for v > u
        bi = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = bi.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        large = (
            bi.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges already directed u > v; link N(u) ∪ {u}
        # to the min smaller neighbor
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(mins2, "u")
        small = (
            joined.select(F.col("u").alias("a"), F.col("m").alias("b"))
            .union(
                joined.where(F.col("v") != F.col("m")).select(
                    F.col("v").alias("a"), F.col("m").alias("b")
                )
            )
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            small.count() == edges.count()
            and small.exceptAll(edges).isEmpty()
        )
        edges = small
        if converged:
            break
    # star forest: every non-root has exactly one edge (node, root);
    # roots (and degenerate self-pair nodes) label themselves
    roots_map = edges.select(F.col("u").alias("node"), F.col("v").alias("cid"))
    return nodes.join(roots_map, "node", "left").select(
        "node", F.coalesce("cid", F.col("node")).alias("cluster_id")
    )


def select_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Survivor selection — the stage after connected_components in a
    production dedup pipeline: per near-dup cluster, keep exactly one
    representative (highest ``quality_col``, ties to the LOWEST id so
    the choice is deterministic), and docs in no cluster survive as
    their own singleton.

    Returns (cluster_id, rep_doc_id, rep_quality, cluster_size).

    The (quality, -id) ordering is encoded as one BIGINT key
    ``quality * 1e8 - id`` so a single map-side-combinable max_by picks
    the winner — no window, no sort, no per-cluster row shuffle beyond
    the groupBy. At 100 TB: one doc_id-keyed join (docs |x| cluster
    map, both already hash-partitioned on the id from upstream stages)
    plus one combinable aggregate whose state is two longs per cluster.
    The 1e8 multiplier bounds ids per shard; for global ids beyond 1e8
    swap the key for max_by over a struct (same plan shape).
    """
    cl = clusters.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("__cl")
    )
    assign = (
        docs.select(id_col, quality_col)
        .join(cl, id_col, "left")
        .select(
            F.coalesce(F.col("__cl"), F.col(id_col)).alias("cluster_id"),
            F.col(id_col),
            F.col(quality_col),
        )
    )
    key = (
        F.col(quality_col).cast("bigint") * F.lit(100000000).cast("bigint")
        - F.col(id_col).cast("bigint")
    )
    return assign.groupBy("cluster_id").agg(
        F.max_by(F.col(id_col), key).alias("rep_doc_id"),
        F.max_by(F.col(quality_col), key).alias("rep_quality"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    key_len: int = 24,
    window: int = 5,
    n: int = 3,
    threshold: float = 0.5,
    num_buckets: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood dedup: sort the corpus by a blocking key (the
    lowercased text prefix), compare each record only against its
    `window` successors in that order, and keep pairs whose word-shingle
    Jaccard clears `threshold`. The classic record-linkage alternative
    to hash blocking (MinHash/SimHash): candidates come from ORDER
    locality, so it catches near-dups that share a prefix even when
    their shingle bands differ — and misses dups whose difference is in
    the first key_len chars (that's the method's documented recall
    boundary, complementary to dd3/dd4).

    Scale shape: the global sort rank is computed inline with the
    two-pass range-bucket scheme of `window_ops.global_rank_scalable` —
    range-partition on the key, rank locally per bucket, then add
    broadcast per-bucket prefix offsets — so there is NO global window
    (a row_number over the corpus would funnel 100 TB through one task;
    the rank here is boundary-invariant because offset + local rank is
    the same under ANY range split of a total order).
    Candidate generation is an explode of `window` successor ranks and
    ONE integer equi-join on rank — hash-uniform keys, no skew, output
    exactly window * n rows before the similarity gate.
    """
    from pyspark.sql import Window as W

    from ..cache import pin

    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = 2 * int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    skey = F.substring(F.lower(F.col(text_col)), 1, key_len)
    sh = word_shingles(df, text_col, id_col, n=n)
    base = (
        df.select(F.col(id_col), skey.alias("__skey"))
        .join(sh, id_col)
        .repartitionByRange(num_buckets, F.col("__skey"), F.col(id_col))
        .withColumn("__bucket", F.spark_partition_id())
    )
    local_w = W.partitionBy("__bucket").orderBy("__skey", id_col)
    ranked_local = pin(
        base.withColumn("__lrn", F.row_number().over(local_w))
    )
    # per-bucket counts -> exclusive prefix offsets; num_buckets rows, so
    # the single-partition cumsum window is bounded driver-side state
    counts = ranked_local.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    off_w = W.orderBy("__bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(off_w), F.lit(0))
    ).select("__bucket", "__off")
    # second pin: `ranked` feeds BOTH sides of the candidate join — an
    # un-pinned plan rebuilds the offsets subtree per side
    ranked = pin(
        ranked_local.join(F.broadcast(offsets), "__bucket").select(
            F.col(id_col),
            "shingles",
            (F.col("__lrn") + F.col("__off")).alias("__rn"),
        )
    )
    left = ranked.select(
        F.col(id_col).alias("__ida"),
        F.col("shingles").alias("__sha"),
        F.explode(
            F.sequence(F.col("__rn") + 1, F.col("__rn") + window)
        ).alias("__rn"),
    )
    right = ranked.select(
        F.col(id_col).alias("__idb"), F.col("shingles").alias("__shb"), "__rn"
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    uni = F.size("__sha") + F.size("__shb") - inter
    jac = inter.cast("double") / uni
    return (
        left.join(right, "__rn")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _band_buckets(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) band table of a MinHash signature frame — the
    exploded form lsh_candidate_pairs self-joins, factored out so the
    incremental path can join a NEW batch's bands against a persisted
    corpus band table instead of re-banding the corpus per batch."""
    band_hashes = F.expr(
        "array(%s)"
        % ",".join(
            "xxhash64(%s)"
            % ",".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
            for b in range(bands)
        )
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")
    )


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup: every pair (>= threshold Jaccard) with at
    least one side in the NEW batch — batch-vs-corpus and batch-internal
    — without ever self-joining the corpus.

    This is the steady-state form of minhash_dedup_pairs for a live
    ingest: the corpus signature/band tables are write-once artifacts
    (in production, persisted next to the corpus and appended after
    each accepted batch), so per batch the work is (1) shingle+sign the
    new docs only, (2) join the SMALL new band table against the corpus
    band table — Catalyst broadcasts the new side, so the corpus bands
    stream through with NO shuffle and no corpus×corpus candidate
    blow-up — and (3) exact-verify candidates against the union shingle
    store. Cost per batch is O(|batch| + matched corpus bands), not
    O(|corpus|^2); a full re-dedup never happens again.
    """
    from ..cache import pin

    # hashed-shingle arrays, same decide-small rationale (and collision
    # + recall-hash arguments) as minhash_dedup_pairs
    def _hashed(src: DataFrame) -> DataFrame:
        return word_shingles(src, text_col, id_col, n).select(
            F.col(id_col),
            F.transform("shingles", lambda s: F.xxhash64(s)).alias(
                "shingles"
            ),
        )

    shing_c = pin(_hashed(corpus))
    shing_b = pin(_hashed(batch))
    sig_c = minhash_signatures(shing_c, id_col, k)
    sig_b = minhash_signatures(shing_b, id_col, k)
    bk_c = _band_buckets(sig_c, id_col, bands, rows_per_band)
    bk_b = pin(_band_buckets(sig_b, id_col, bands, rows_per_band))

    # new side vs (corpus ∪ new): one pass over the corpus band table;
    # both-new pairs arrive twice with swapped roles and fold in the
    # distinct after least/greatest normalization.
    all_bk = bk_c.unionByName(bk_b)
    a = bk_b.select(
        F.col(id_col).alias("__na"), "band", "bucket"
    )
    b = all_bk.select(F.col(id_col).alias("__nb"), "band", "bucket")
    cands = (
        a.join(b, ["band", "bucket"])
        .where(F.col("__na") != F.col("__nb"))
        .select(
            F.least("__na", "__nb").alias("id_a"),
            F.greatest("__na", "__nb").alias("id_b"),
        )
        .distinct()
    )
    shing_all = shing_c.unionByName(shing_b)
    return jaccard_verify_pairs(shing_all, cands, id_col, threshold)


def prefix_filtered_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact CONTAINMENT join: pairs (a, b) with
    C(a,b) = |Sa ∩ Sb| / |Sa| >= t — the asymmetric near-dup test that
    catches a short document duplicated INSIDE a longer one, which
    symmetric Jaccard structurally misses (a 100-word doc pasted into a
    10,000-word doc has J ≈ 0.01 but C = 1.0). The standard second pass
    after dd2/dd3 in corpus dedup (Broder's containment, the
    quotation/boilerplate-absorption case).

    Prefix filter, containment form: if C(a,b) >= t then b must hit one
    of a's first |Sa| - ceil(t*|Sa|) + 1 shingles in the global hash
    order (pigeonhole on a's suffix; any total order works, recall 1.0
    by the same theorem as prefix_filtered_jaccard_pairs). The query
    side therefore explodes only its prefix (~(1-t)|Sa|+1 rows), while
    the candidate side must stream ALL its shingles — containment has
    no symmetric size bound, so the b-side stream is the honest cost;
    the only sound size prune is |Sb| >= t*|Sa|. At 100 TB: shuffle
    carries shingle streams keyed by (block, gram-hash), never the pair
    space; pair multiplicity collapses via dropDuplicates on ids before
    the exact verify."""
    from ..cache import pin

    t = float(threshold)
    # pinned relation carries ONLY the sorted hash array (r12
    # decide-small, same collision argument as
    # prefix_filtered_jaccard_pairs): containment sizes over hash sets
    # equal the string-set sizes, strings never enter cache/exchange
    shingled = (
        word_shingles(df, text_col, id_col, n)
        .join(df.select(id_col, block_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.array_sort(
                F.transform(F.col("shingles"), lambda s: shared_hash60(s))
            ).alias("hs"),
        )
    )
    sz = F.size("hs")
    plen = sz + F.floor(-sz * F.lit(t)).cast("int") + 1
    pinned = pin(shingled)
    # the exploded candidate streams carry IDS + sizes ONLY — hanging the
    # full shingle arrays on every exploded row multiplied the shuffle by
    # ~|shingles| per doc (measured 154 MB -> ~2 MB at sf0.1, r8 shuffle
    # audit); the arrays rejoin once per surviving candidate id below
    a = pinned.select(
        F.col("id").alias("id_a"), F.col("blk").alias("blk_a"),
        F.size("hs").alias("na"),
        F.explode(F.slice("hs", 1, plen)).alias("ph"),
    )
    b = pinned.select(
        F.col("id").alias("id_b"), F.col("blk").alias("blk_b"),
        F.size("hs").alias("nb"),
        F.explode("hs").alias("ph"),
    )
    cand_ids = (
        a.join(b, ["ph"], "inner")
        .where(
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("id_a") != F.col("id_b"))
            # sound prune: C >= t implies |Sb| >= |Sa ∩ Sb| >= t|Sa|
            & (F.col("nb") * F.lit(1.0) >= F.col("na") * t)
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    cands = cand_ids.join(
        pinned.select(F.col("id").alias("id_a"), F.col("hs").alias("sh_a")),
        "id_a",
    ).join(
        pinned.select(F.col("id").alias("id_b"), F.col("hs").alias("sh_b")),
        "id_b",
    )
    c = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        "sh_a"
    )
    return cands.select("id_a", "id_b", c.alias("containment")).where(
        F.col("containment") >= threshold
    )


def _lsh_scurve_sql(r: int, bands: int) -> str:
    """Theoretical banding s-curve at the bin midpoint, as SHARED SQL
    TEXT (Spark F.expr and DuckDB evaluate the identical string, so
    the float arithmetic is pinned op-for-op): P(candidate | s) =
    1 - (1 - s^r)^b expanded to left-associated multiplications —
    no POWER(), whose non-integer-exponent rounding is engine-owned."""
    mid = "(CAST(bin AS DOUBLE) * 0.1 + 0.05)"
    p = " * ".join([mid] * r)
    q = f"(1.0 - ({p}))"
    miss = " * ".join([q] * bands)
    return f"(1.0 - ({miss}))"


def lsh_calibration(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    sample_mod: int = 5,
) -> DataFrame:
    """Empirical MinHash-LSH banding calibration — the tuning artifact
    you read BEFORE trusting dd3's (bands, rows_per_band) at a new
    corpus or threshold: on a deterministic 1/sample_mod hash-sample,
    compute EVERY within-block pair's exact Jaccard, band the sampled
    signatures with the current config, and report per-Jaccard-bin
    (floor(j*10)) the true pair count, the banded-candidate count,
    the measured recall, and the theoretical s-curve 1-(1-s^r)^b at
    the bin midpoint. Production picks (b, r) where measured recall
    crosses the target above the dedup threshold and collision mass
    below it stays affordable.

    Calibration is all-pairs BY DESIGN — that is why it runs on a
    hash-sample (bounded by construction; sample_mod scales with the
    corpus) and within blocks, never on the full corpus. The band
    bucket here is the md5-combiner (shared_hash60 of the band's
    minhash tuple) rather than dd3's xxhash64 — same collision
    behavior, but replayable in the oracle, where xxhash64 is
    Spark-only (the reason dd3's own oracle checks recall via brute
    force instead of replaying buckets)."""
    cal = df.where(
        shared_hash60(F.concat(F.lit("cal:"), F.col(id_col).cast("string")))
        % sample_mod
        == 0
    )
    base = cal.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        tokenize(F.col(text_col)).alias("toks"),
    ).where(F.size("toks") >= n)
    toks = F.col("toks")
    shingle = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)],
            ),
        )
    )
    # Decide-small + hash-once (optimization r12): the relation carries
    # shared_hash60 VALUES per shingle, computed ONE time here — the
    # all-pairs tp join (the quadratic term) intersects 8-byte longs
    # instead of ~20-30-byte strings, and the signature stream reads
    # `% P` off the array instead of re-hashing. shared_hash60 (not
    # xxhash64) because THIS operator's oracle replays the signature and
    # banding hashes verbatim. Jaccard-bin equality: distinct shingles
    # map to distinct 60-bit hashes (within-pair collision ~2^-60 — the
    # dd9 argument); a collision changes a set SIZE and the string-set
    # oracle fails loudly. Pinned: four consumers (both tp sides, the
    # signature stream, the block rejoin) re-tokenized + re-hashed the
    # sample once EACH before this.
    from ..cache import pin

    sh = pin(base.select(
        F.col(id_col), "__blk",
        F.transform(shingle, shared_hash60).alias("shingles"),
    ))

    # The all-pairs join key is the block alone, and blocks (languages)
    # are FEW: every within-block pair — the deliberate quadratic term —
    # landed in one task per block (measured: one 8 s task holding ~80%
    # of the sf0.1 wall while 31 cores idled; guide §2.5 skew). Salt it:
    # the A side keeps its id-hash bucket, the B side replicates across
    # all `n_salt` buckets, so each unordered pair meets in EXACTLY one
    # cell (as A the lower id passes id_a < id_b once; the swapped-role
    # meeting fails the inequality) and the per-block pair space splits
    # into n_salt parallel cells. n_salt follows the session's
    # parallelism, not a local constant; jaccard is evaluated once per
    # surviving pair, exactly as before.
    n_salt = max(1, sh.sparkSession.sparkContext.defaultParallelism)
    sa = sh.select(
        F.col(id_col).alias("id_a"), F.col("__blk"),
        F.col("shingles").alias("sh_a"),
        F.pmod(F.xxhash64(id_col), F.lit(n_salt)).alias("__cell"),
    ).hint("shuffle_hash")
    sb = sh.select(
        F.col(id_col).alias("id_b"), F.col("__blk"),
        F.col("shingles").alias("sh_b"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__cell"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    tp = (
        sa.join(sb, ["__blk", "__cell"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.floor(jac * 10).cast("bigint").alias("bin"))
    )

    hstream = sh.select(
        F.col(id_col), F.explode("shingles").alias("s")
    ).select(
        F.col(id_col), (F.col("s") % MINHASH_P).alias("h")
    )
    aggs = []
    for i in range(k):
        a, b = perm_params(i)
        aggs.append(F.expr(f"min((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"))
    sig = hstream.groupBy(id_col).agg(*aggs).join(
        sh.select(F.col(id_col), "__blk"), id_col
    )
    band_arr = F.array(*[
        shared_hash60(
            F.concat_ws(
                "|",
                *[
                    F.col(f"mh_{bi * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        for bi in range(bands)
    ])
    bnd = sig.select(
        F.col(id_col), "__blk", F.posexplode(band_arr).alias("band", "bucket")
    )
    ba = bnd.alias("a").hint("shuffle_hash")
    bb = bnd.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        .withColumn("__is_cand", F.lit(1))
    )
    binned = tp.join(cand, ["id_a", "id_b"], "left").groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.coalesce(F.col("__is_cand"), F.lit(0)))
        .cast("bigint")
        .alias("n_candidates"),
    )
    return binned.select(
        "bin",
        "n_pairs",
        "n_candidates",
        (F.col("n_candidates").cast("double") / F.col("n_pairs").cast("double"))
        .alias("recall"),
        F.expr(_lsh_scurve_sql(rows_per_band, bands)).alias("s_curve_mid"),
    )


def lsh_calibration_oracle_sql(
    table: str,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    sample_mod: int = 5,
) -> str:
    """DuckDB replay of lsh_calibration — sample, shingles, the k-
    permutation signature mins, the md5-combiner band buckets, the
    all-pairs-within-block truth, and the binned rollup, generated
    from the same constants as the Spark expressions."""
    h60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
    shingles = (
        "list_distinct(list_transform(range(1, len(toks) - "
        f"{n - 2}), i -> "
        + " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
        + "))"
    )
    mins = ", ".join(
        f"MIN((h * {perm_params(i)[0]} + {perm_params(i)[1]}) % {MINHASH_P})"
        f" AS mh_{i}"
        for i in range(k)
    )
    buckets = ", ".join(
        h60.format(
            x="concat_ws('|', "
            + ", ".join(
                f"mh_{bi * rows_per_band + r}::VARCHAR"
                for r in range(rows_per_band)
            )
            + ")"
        )
        for bi in range(bands)
    )
    return f"""
    WITH cal AS (
      SELECT {id_col}, {block_col} AS blk, {text_col} AS text
      FROM {table}
      WHERE {h60.format(x=f"'cal:' || CAST({id_col} AS VARCHAR)")}
            % {sample_mod} = 0
    ),
    sh AS (
      SELECT {id_col}, blk, {shingles} AS shingles
      FROM (SELECT {id_col}, blk,
                   string_split_regex(lower(text), '\\s+') AS toks
            FROM cal)
      WHERE len(toks) >= {n}
    ),
    tp AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
             CAST(floor(
               (len(list_intersect(a.shingles, b.shingles))::DOUBLE
                / len(list_distinct(
                    list_concat(a.shingles, b.shingles)))) * 10
             ) AS BIGINT) AS bin
      FROM sh a JOIN sh b
        ON a.blk = b.blk AND a.{id_col} < b.{id_col}
    ),
    hs AS (
      SELECT {id_col}, {h60.format(x='s')} % {MINHASH_P} AS h
      FROM (SELECT {id_col}, unnest(shingles) AS s FROM sh)
    ),
    sig AS (SELECT {id_col}, {mins} FROM hs GROUP BY {id_col}),
    bnd AS (
      SELECT s.{id_col}, h.blk,
             generate_subscripts(bl, 1) - 1 AS band, unnest(bl) AS bucket
      FROM (SELECT {id_col}, [{buckets}] AS bl FROM sig) s
      JOIN sh h USING ({id_col})
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM bnd a JOIN bnd b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.blk = b.blk AND a.{id_col} < b.{id_col}
    )
    SELECT bin,
           COUNT(*)::BIGINT AS n_pairs,
           CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_candidates,
           SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*)::DOUBLE AS recall,
           {_lsh_scurve_sql(rows_per_band, bands)} AS s_curve_mid
    FROM tp LEFT JOIN cand c USING (id_a, id_b)
    GROUP BY bin
    """


def embedding_lsh_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bands: int = 4,
    band_bits: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Batch range search (radius query): for EVERY query vector, all
    corpus vectors with cosine >= threshold — the dedupe-against-index
    primitive (new-batch-vs-corpus, the embedding twin of dd13's
    MinHash incremental dedup). Asymmetric by construction: corpus and
    batch are signed with the SAME deterministic hyperplanes as
    embedding_lsh_pairs, but the bucket join is batch-vs-corpus, so
    the corpus NEVER self-joins — cost is O(|batch| x bucket density),
    not O(|corpus|^2 / buckets). The batch side (bucket table and
    vectors) is broadcast: a batch is small next to its corpus by
    construction (the ingest shape).

    Query/corpus ids must be disjoint; output (query_id, match_id,
    cos_sim). Recall follows the embedding_lsh_pairs s-curve; at the
    planted-duplicate regime (identical vectors -> identical sign
    bits) it is structurally 1.0."""
    from ..cache import pin

    W = _hyperplanes(bands * band_bits, dim)

    def buckets_of(df: DataFrame, side: str) -> DataFrame:
        sigs = _arrow_signatures(df, id_col, vec_col, W, bands, band_bits)
        return sigs.select(
            F.col(id_col).alias(f"{side}_id"),
            F.posexplode("sig").alias("band", "chunk"),
        )

    qb = buckets_of(queries, "query")
    cb = buckets_of(corpus, "match")
    cands = (
        cb.join(F.broadcast(qb), ["band", "chunk"])
        .select("query_id", "match_id")
        .distinct()
    )
    v = F.col(vec_col).cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            F.transform("nv", lambda x: x * x), F.lit(0.0), lambda s, x: s + x
        )
    )

    def norms_of(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{side}_id"), v.alias("nv")
        ).select(
            f"{side}_id",
            F.col("nv").alias(f"v_{side}"),
            nrm.alias(f"n_{side}"),
        )

    qn = pin(norms_of(queries, "query"))
    cn = norms_of(corpus, "match")
    dot = F.aggregate(
        F.zip_with("v_query", "v_match", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return (
        cands.join(F.broadcast(qn), "query_id")
        .join(cn, "match_id")
        .select(
            "query_id",
            "match_id",
            (dot / (F.col("n_query") * F.col("n_match"))).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
