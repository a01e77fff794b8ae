"""Distributed cardinality sketches (100 TB path for COUNT DISTINCT).

An exact distinct count shuffles every distinct key; at 100 TB that is
the dominant cost of dashboard measures like SURVEY.md §2.D D6
("Guarantors"/"Borrowers" cards). The built-in `approx_count_distinct`
is the production answer, but its HLL++ register layout is
engine-private — it cannot be oracle-checked. This module implements
HyperLogLog from first principles as a composition of DataFrame ops so
the DuckDB oracle can replay the identical algorithm bit-for-bit:

- hash: the repo-wide 60-bit md5 hash (operators.dedup.shared_hash60);
- rho (first-set-bit position): a generated integer-only CASE cascade —
  no log2/floats, so no libm last-ulp divergence between engines;
- registers: groupBy(bucket).max(rho) — mergeable partial aggregates,
  which is exactly what makes the sketch distributed: the shuffle
  carries at most m=2^b rows per group regardless of input size;
- estimator: alpha_m * m^2 / sum(2^-M) with linear-counting correction,
  the register sum in exact decimal (2^-M is decimal-representable for
  M <= cap, so the reduction is associative and order-free), the final
  estimate rounded to an integer so the one libm call (ln in the
  linear-counting branch) cannot surface an ulp across engines.

Spark expression and oracle SQL are generated from the same Python
loops (`hll_oracle_sql`), guaranteeing congruence.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shared_hash60

DEFAULT_B = 9  # 2^9 = 512 registers: ~4.6% standard error
RHO_CAP = 20  # max first-set-bit position tracked; 2^-20 fits DECIMAL(38,21)


def _alpha(m: int) -> float:
    # standard HLL bias constant for m >= 128
    return 0.7213 / (1.0 + 1.079 / m)


def _rho_spark(w: Column, cap: int = RHO_CAP) -> Column:
    """Position of the lowest set bit of `w` (1-based), capped; integer
    arithmetic only. w == 0 (no bits in the hash remainder) -> cap."""
    expr = F.lit(cap)
    for k in range(cap - 1, 0, -1):
        expr = F.when(w % (2 ** k) == 2 ** (k - 1), k).otherwise(expr)
    return expr


def _rho_sql(w: str, cap: int = RHO_CAP) -> str:
    whens = " ".join(
        f"WHEN ({w}) % {2 ** k} = {2 ** (k - 1)} THEN {k}"
        for k in range(1, cap)
    )
    return f"CASE {whens} ELSE {cap} END"


def hll_registers(
    df: DataFrame,
    col: str,
    group_by: Sequence[str],
    b: int = DEFAULT_B,
    cap: int = RHO_CAP,
) -> DataFrame:
    """Per-group HLL registers: (group..., bucket, M=max rho). Mergeable:
    registers of two datasets union + max to the sketch of their union."""
    m = 2 ** b
    h = shared_hash60(F.col(col).cast("string"))
    hashed = df.select(
        *group_by,
        (h % m).alias("bucket"),
        # h >> b, NOT h/m: double division rounds above 2^53 (h is 60-bit)
        _rho_spark(F.shiftright(h, b), cap).alias("rho"),
    )
    return hashed.groupBy(*group_by, "bucket").agg(F.max("rho").alias("m_reg"))


def hll_estimate(
    registers: DataFrame, group_by: Sequence[str], b: int = DEFAULT_B
) -> DataFrame:
    """Collapse registers to one cardinality estimate per group."""
    m = 2 ** b
    alpha_m2 = _alpha(m) * m * m
    z_present = F.sum(F.pow(F.lit(2.0), -F.col("m_reg")).cast("decimal(38,21)"))
    n_present = F.count(F.lit(1))
    agg = registers.groupBy(*group_by).agg(
        z_present.alias("z_present"), n_present.alias("n_present")
    )
    v = F.lit(m) - F.col("n_present")  # zero (absent) registers
    z = (v.cast("decimal(38,21)") + F.col("z_present")).cast("double")
    raw = F.lit(alpha_m2) / z
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(
        *group_by, F.round(est).cast("bigint").alias("est_distinct")
    )


def hll_distinct(
    df: DataFrame,
    col: str,
    group_by: Sequence[str],
    b: int = DEFAULT_B,
) -> DataFrame:
    """Approximate COUNT(DISTINCT col) per group via the shared-hash HLL."""
    return hll_estimate(hll_registers(df, col, group_by, b), group_by, b)


def hll_oracle_sql(
    table: str,
    col: str,
    group_by: Sequence[str],
    b: int = DEFAULT_B,
    cap: int = RHO_CAP,
) -> str:
    """DuckDB replay of hll_distinct — same hash, same rho cascade, same
    decimal register sum, same estimator literals."""
    m = 2 ** b
    alpha_m2 = _alpha(m) * m * m
    g = ", ".join(group_by)
    h = f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT)"
    rho = _rho_sql(f"h // {m}", cap)
    return f"""
    WITH hashed AS (
      SELECT {g}, h % {m} AS bucket, {rho} AS rho
      FROM (SELECT {g}, {h} AS h FROM {table})
    ),
    registers AS (
      SELECT {g}, bucket, MAX(rho) AS m_reg FROM hashed GROUP BY {g}, bucket
    ),
    collapsed AS (
      SELECT {g},
             SUM(CAST(POWER(2.0, -m_reg) AS DECIMAL(38,21))) AS z_present,
             COUNT(*) AS n_present
      FROM registers GROUP BY {g}
    )
    SELECT {g},
           CAST(ROUND(
             CASE WHEN ({alpha_m2!r} / CAST(CAST({m} - n_present AS DECIMAL(38,21))
                          + z_present AS DOUBLE)) <= {2.5 * m}
                   AND ({m} - n_present) > 0
                  THEN {float(m)!r} * LN({float(m)!r} / ({m} - n_present))
                  ELSE {alpha_m2!r} / CAST(CAST({m} - n_present AS DECIMAL(38,21))
                         + z_present AS DOUBLE)
             END) AS BIGINT) AS est_distinct
    FROM collapsed
    """


def hll_merge(regs_a: DataFrame, regs_b: DataFrame) -> DataFrame:
    """Register-wise MAX merge: the sketch of the UNION of the two
    underlying sets — the property that makes HLL the 100 TB distinct
    path (partial sketches merge associatively; no re-scan of either
    input). Inputs are group-less (bucket, m_reg) register tables."""
    return (
        regs_a.select("bucket", "m_reg")
        .union(regs_b.select("bucket", "m_reg"))
        .groupBy("bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )


def hll_collapse_sql(regs_cte: str, b: int = DEFAULT_B) -> str:
    """DuckDB scalar-subquery replay of hll_estimate over a group-less
    register CTE `regs_cte(bucket, m_reg)` — same decimal register sum,
    same estimator literals as the Spark path."""
    m = 2 ** b
    alpha_m2 = _alpha(m) * m * m
    z = (
        f"CAST(CAST({m} - (SELECT COUNT(*) FROM {regs_cte}) AS DECIMAL(38,21))"
        f" + (SELECT SUM(CAST(POWER(2.0, -m_reg) AS DECIMAL(38,21)))"
        f" FROM {regs_cte}) AS DOUBLE)"
    )
    v = f"({m} - (SELECT COUNT(*) FROM {regs_cte}))"
    return (
        f"CAST(ROUND(CASE WHEN ({alpha_m2!r} / {z}) <= {2.5 * m} AND {v} > 0 "
        f"THEN {float(m)!r} * LN({float(m)!r} / {v}) "
        f"ELSE {alpha_m2!r} / {z} END) AS BIGINT)"
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    group_by: Sequence[str],
    bins: int = 64,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Approximate per-group quantiles from a fixed-width histogram — the
    one-pass, mergeable replacement for exact percentiles (which need a
    full sort / all values per group through the shuffle; D9 has the
    exact version). The shuffle here carries at most `bins` counts per
    group, and bin counts from separate datasets merge by addition.

    Estimator: with per-group lo/hi, width w = (hi-lo)/bins, target rank
    t = q*(n-1)+1, find the first bin whose cumulative count reaches t
    and interpolate linearly inside it. Error is bounded by one bin
    width. Every arithmetic step is the same IEEE double expression the
    DuckDB oracle (histogram_quantiles_oracle_sql) runs, so results are
    bit-identical.

    Degenerate group (hi == lo, one distinct value): all rows land in
    bin 0 and the interpolation collapses to lo exactly.
    """
    g = list(group_by)
    # NULLs: n = count(col) already excludes them, so binning them would
    # shift every cumulative rank (and Spark orders a NULL bin first where
    # DuckDB orders it last) — drop them before binning, as the oracle does
    df = df.where(F.col(col).isNotNull())
    stats = df.groupBy(*g).agg(
        F.min(col).alias("lo"),
        F.max(col).alias("hi"),
        F.count(col).alias("n"),
    )
    w = (F.col("hi") - F.col("lo")) / bins
    idx = F.when(F.col("hi") == F.col("lo"), 0).otherwise(
        F.least(
            F.lit(bins - 1),
            F.floor((F.col(col) - F.col("lo")) / w).cast("int"),
        )
    )
    binned = (
        df.join(F.broadcast(stats), g)
        .groupBy(*g, idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    cum = F.sum("cnt").over(
        Window.partitionBy(*g).orderBy("bin").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    cdf = binned.withColumn("cum", cum).join(F.broadcast(stats), g)
    out = None
    for q in qs:
        t = F.lit(q) * (F.col("n") - 1) + 1  # rank in [1, n]
        frac = (t - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        est = F.when(
            F.col("hi") == F.col("lo"), F.col("lo")
        ).otherwise(
            F.col("lo")
            + ((F.col("hi") - F.col("lo")) / bins)
            * (F.col("bin") + F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0)))
        )
        # first bin whose cumulative count reaches the target rank
        hit = (
            cdf.where(F.col("cum") >= t)
            .groupBy(*g)
            .agg(F.min_by(est, F.col("bin")).alias("est"))
            .select(*g, F.lit(q).alias("q"), F.col("est"))
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def histogram_quantiles_oracle_sql(
    table: str,
    col: str,
    group_by: Sequence[str],
    bins: int = 64,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB replay of histogram_quantiles (same binning, same target
    rank, same interpolation arithmetic)."""
    g = ", ".join(group_by)
    parts = []
    for q in qs:
        # CAST the literal: DuckDB parses bare 0.9 as DECIMAL(1,1) and
        # would carry decimal arithmetic where Spark uses doubles
        t = f"(CAST({q!r} AS DOUBLE) * (n - 1) + 1)"
        frac = f"({t} - (cum - cnt)) / cnt"
        est = (
            f"CASE WHEN hi = lo THEN lo ELSE"
            f" lo + ((hi - lo) / {bins})"
            f" * (bin + LEAST(GREATEST({frac}, 0.0), 1.0)) END"
        )
        parts.append(f"""
        SELECT {g}, CAST({q!r} AS DOUBLE) AS q,
               MIN_BY({est}, bin) AS est
        FROM cdf WHERE cum >= {t} GROUP BY {g}
        """)
    union = " UNION ALL ".join(parts)
    return f"""
    WITH stats AS (
      SELECT {g}, MIN({col}) AS lo, MAX({col}) AS hi, COUNT({col}) AS n
      FROM {table} GROUP BY {g}
    ),
    binned AS (
      SELECT {g}, bin, COUNT(*) AS cnt FROM (
        SELECT t.{col},
               CASE WHEN s.hi = s.lo THEN 0 ELSE
                 LEAST({bins} - 1,
                   CAST(FLOOR((t.{col} - s.lo) / ((s.hi - s.lo) / {bins}))
                        AS INT)) END AS bin,
               {_joincols('t', 's', group_by)}
        FROM {table} t JOIN stats s ON {_joinpred('t', 's', group_by)}
        WHERE t.{col} IS NOT NULL
      ) GROUP BY {g}, bin
    ),
    cdf AS (
      SELECT b.*, s.lo, s.hi, s.n,
             SUM(cnt) OVER (PARTITION BY {_qual('b', group_by)}
                            ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM binned b JOIN stats s ON {_joinpred('b', 's', group_by)}
    )
    {union}
    """


def _qual(alias: str, cols: Sequence[str]) -> str:
    return ", ".join(f"{alias}.{c}" for c in cols)


def _joinpred(a: str, b: str, cols: Sequence[str]) -> str:
    return " AND ".join(f"{a}.{c} = {b}.{c}" for c in cols)


def _joincols(a: str, b: str, cols: Sequence[str]) -> str:
    return ", ".join(f"{a}.{c} AS {c}" for c in cols)


# ---------------------------------------------------------------------------
# Count-min sketch — frequency estimation in sublinear state.
#
# At 100 TB an exact per-key frequency table shuffles every distinct key;
# the count-min sketch caps the shuffled state at d*w counter cells no
# matter how many keys exist. Each map task pre-aggregates its local
# (row, depth) increments, the shuffle carries <= d*w rows per task, and
# the counter table is small enough to BROADCAST back to the probe side —
# the estimate join never shuffles the key stream. Overestimation is
# bounded by e*N/w with probability 1 - e^-d (Cormode & Muthukrishnan,
# J.Algorithms 55(1), 2005); estimates here replay bit-for-bit in the
# oracle because row hashing reuses the repo-wide 60-bit md5 hash with a
# per-depth salt.

CM_D = 4     # sketch depth (independent hash rows)
CM_W = 256   # sketch width (cells per row)


def _salted_cell_spark(key: Column, salt: str, w: int) -> Column:
    return (
        shared_hash60(F.concat(F.lit(salt), key.cast("string"))) % w
    ).cast("bigint")


def _salted_cell_sql(key: str, salt: str, w: int) -> str:
    return (
        f"CAST('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 15) "
        f"AS BIGINT) % {w}"
    )


def countmin_counters(
    df: DataFrame, key_col: str, d: int = CM_D, w: int = CM_W
) -> DataFrame:
    """(j, cell, cnt) counter table, one row per touched cell (<= d*w)."""
    rows = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("j"),
                _salted_cell_spark(F.col(key_col), f"cm{j}|", w).alias("cell"),
            )
            for j in range(d)
        ]
    )
    return (
        df.select(F.explode(rows).alias("s"))
        .select("s.j", "s.cell")
        .groupBy("j", "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def countmin_estimate(
    df: DataFrame,
    keys: DataFrame,
    key_col: str,
    d: int = CM_D,
    w: int = CM_W,
) -> DataFrame:
    """Point-query the sketch for every distinct key in `keys`:
    est = min over depths of the key's cell counter. The counter table
    (<= d*w rows) is broadcast; the probe side never shuffles."""
    counters = countmin_counters(df, key_col, d, w)
    probe_rows = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("j"),
                _salted_cell_spark(F.col(key_col), f"cm{j}|", w).alias("cell"),
            )
            for j in range(d)
        ]
    )
    probes = (
        keys.select(key_col)
        .distinct()
        .select(F.col(key_col), F.explode(probe_rows).alias("s"))
        .select(key_col, "s.j", "s.cell")
    )
    return (
        probes.join(F.broadcast(counters), ["j", "cell"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def countmin_oracle_sql(
    src: str, probe_src: str, key: str, d: int = CM_D, w: int = CM_W
) -> str:
    """DuckDB replay generated from the same loops as the Spark plan."""
    inc = " UNION ALL ".join(
        f"SELECT {j} AS j, {_salted_cell_sql(key, f'cm{j}|', w)} AS cell "
        f"FROM {src}"
        for j in range(d)
    )
    pr = " UNION ALL ".join(
        f"SELECT {key}, {j} AS j, {_salted_cell_sql(key, f'cm{j}|', w)} AS cell "
        f"FROM (SELECT DISTINCT {key} FROM {probe_src})"
        for j in range(d)
    )
    return f"""
    counters AS (
      SELECT j, cell, COUNT(*)::BIGINT AS cnt FROM ({inc}) GROUP BY j, cell
    ),
    probes AS ({pr})
    SELECT p.{key}, MIN(COALESCE(c.cnt, 0)) AS est_count
    FROM probes p LEFT JOIN counters c ON p.j = c.j AND p.cell = c.cell
    GROUP BY p.{key}
    """


# ---------------------------------------------------------------------------
# Bloom filter — set membership in sublinear state.
#
# The filter state is the DISTINCT set of set bit positions (<= m rows of
# one bigint) rather than a packed bitmap: identical semantics, mergeable
# through a groupBy, trivially broadcastable, and cross-engine exact with
# no 64-bit shift edge cases. Build aggregates the corpus once
# (map-side-combined distinct), probe broadcasts the <= m-row bit set and
# never shuffles the key stream. A key is `maybe_member` iff ALL of its k
# positions are set — false positives at the standard (1 - e^-kn/m)^k
# rate, never false negatives, and bit-for-bit identical in the oracle
# (same salted md5 hash).

BF_M = 4096  # filter bits
BF_K = 4     # hash functions


def bloom_bits(
    df: DataFrame, key_col: str, m: int = BF_M, k: int = BF_K
) -> DataFrame:
    """The filter: DISTINCT positions set by the corpus keys (<= m rows)."""
    pos = F.array(
        *[_salted_cell_spark(F.col(key_col), f"bf{j}|", m) for j in range(k)]
    )
    return (
        df.select(F.explode(pos).alias("pos")).distinct()
    )


def bloom_probe(
    df: DataFrame,
    keys: DataFrame,
    key_col: str,
    m: int = BF_M,
    k: int = BF_K,
) -> DataFrame:
    """(key, maybe_member) for every distinct key in `keys`."""
    bits = bloom_bits(df, key_col, m, k).withColumn("__set", F.lit(1))
    pos = F.array(
        *[_salted_cell_spark(F.col(key_col), f"bf{j}|", m) for j in range(k)]
    )
    probes = (
        keys.select(key_col)
        .distinct()
        .select(F.col(key_col), F.explode(pos).alias("pos"))
    )
    return (
        probes.join(F.broadcast(bits), "pos", "left")
        .groupBy(key_col)
        .agg(
            (F.min(F.when(F.col("__set").isNotNull(), 1).otherwise(0)) == 1).alias(
                "maybe_member"
            )
        )
    )


def bloom_oracle_sql(
    src: str, probe_src: str, key: str, m: int = BF_M, k: int = BF_K
) -> str:
    """DuckDB replay generated from the same loops as the Spark plan."""
    setpos = " UNION ALL ".join(
        f"SELECT {_salted_cell_sql(key, f'bf{j}|', m)} AS pos FROM {src}"
        for j in range(k)
    )
    pr = " UNION ALL ".join(
        f"SELECT {key}, {_salted_cell_sql(key, f'bf{j}|', m)} AS pos "
        f"FROM (SELECT DISTINCT {key} FROM {probe_src})"
        for j in range(k)
    )
    return f"""
    bits AS (SELECT DISTINCT pos FROM ({setpos})),
    bprobes AS ({pr})
    SELECT p.{key},
           MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = 1
             AS maybe_member
    FROM bprobes p LEFT JOIN bits b ON p.pos = b.pos
    GROUP BY p.{key}
    """


def bloom_semijoin(
    fact: DataFrame,
    dim_keys: DataFrame,
    key_col: str,
    m: int = BF_M,
    k: int = BF_K,
) -> DataFrame:
    """Bloom semi-join pushdown — SCALE.md's "classic 100 TB use" made
    a first-class operator. Build the filter over the SMALL side's keys,
    carry it to the fact scan as a ≤m-char bitmask LITERAL (driver
    state, like the IVF centroids), and drop non-member rows inside the
    scan's codegen'd filter BEFORE any join machinery runs; the exact
    `left_semi` afterwards removes the Bloom's false positives, so the
    output is row-for-row the plain semi-join (the oracle). The win at
    scale: the expensive side of the join sees only ~|match| + FP rows
    instead of the full fact — the same shape Spark's own
    `spark.sql.optimizer.runtime.bloomFilter` injects, but explicit,
    deterministic and oracle-checkable.

    The prefilter is pure codegen (element_at into an int-array literal
    at k salted-hash positions — O(1) per probe; a STRING mask literal
    is the trap here: substring() on UTF8String walks bytes to find the
    char position, O(m) per row per probe, measured 9x slower), no
    shuffle, no broadcast join; the bitmap collect is m bits of driver
    state regardless of dim cardinality. Built as ONE parsed expression
    (the module's py4j plan-build lesson)."""
    set_pos = {r[0] for r in bloom_bits(dim_keys, key_col, m, k).collect()}
    arr_sql = "array(" + ",".join(
        "1" if i in set_pos else "0" for i in range(m)
    ) + ")"
    cell = (
        f"CAST(conv(substr(md5(concat('bf{{j}}|', CAST({key_col} AS STRING)"
        f")), 1, 15), 16, 10) AS BIGINT) % {m}"
    )
    member = " AND ".join(
        f"element_at({arr_sql}, CAST(({cell.format(j=j)}) AS INT) + 1) = 1"
        for j in range(k)
    )
    return fact.filter(F.expr(member)).join(
        dim_keys.select(key_col).distinct(), key_col, "left_semi"
    )


def hll_sliding_distinct(
    df: DataFrame,
    col: str,
    ts_col: str,
    window_days: int = 2,
    b: int = DEFAULT_B,
) -> DataFrame:
    """Trailing-W-day approximate distinct count evaluated at every day
    present in the data — the sliding-window cardinality problem that
    makes exact COUNT(DISTINCT) intractable at 100 TB (every day would
    re-shuffle W days of raw keys).

    Shape: the events are hashed and register-reduced ONCE per day
    (bounded: <= 2^b rows/day); each day's registers are then exploded
    into the <= W window anchors they contribute to and max-merged per
    (anchor, bucket) — HLL's register-wise-max mergeability is exactly
    what turns a sliding distinct into an O(W * 2^b)-state problem. The
    shuffle after the first reduction carries register rows only, never
    raw keys.
    """
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp")).cast("date")
    regs = hll_registers(df.select(day.alias("__day"), col), col, ["__day"], b)
    days = regs.select(F.col("__day").alias("window_day")).distinct()
    contrib = regs.select(
        "__day",
        "bucket",
        "m_reg",
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__k"),
    ).select(
        F.date_add(F.col("__day"), F.col("__k")).alias("window_day"),
        "bucket",
        "m_reg",
    )
    merged = (
        contrib.join(F.broadcast(days), "window_day")  # windows anchored at real days
        .groupBy("window_day", "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    return hll_estimate(merged, ["window_day"], b)


def hll_sliding_oracle_sql(
    table: str,
    col: str,
    ts_col: str,
    window_days: int = 2,
    b: int = DEFAULT_B,
    cap: int = RHO_CAP,
) -> str:
    """DuckDB replay of hll_sliding_distinct — same hash, rho cascade,
    per-day registers, window contribution explode, and estimator."""
    m = 2 ** b
    alpha_m2 = _alpha(m) * m * m
    h = f"CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT)"
    rho = _rho_sql(f"h // {m}", cap)
    return f"""
    WITH hashed AS (
      SELECT day, h % {m} AS bucket, {rho} AS rho
      FROM (SELECT CAST(date_trunc('day', {ts_col}) AS DATE) AS day,
                   {h} AS h
            FROM {table})
    ),
    regs AS (
      SELECT day, bucket, MAX(rho) AS m_reg FROM hashed GROUP BY day, bucket
    ),
    contrib AS (
      SELECT CAST(day + CAST(t.k AS INTEGER) AS DATE) AS window_day,
             bucket, m_reg
      FROM regs, range(0, {window_days}) t(k)
    ),
    merged AS (
      SELECT window_day, bucket, MAX(m_reg) AS m_reg
      FROM contrib
      WHERE window_day IN (SELECT DISTINCT day FROM regs)
      GROUP BY window_day, bucket
    ),
    collapsed AS (
      SELECT window_day,
             SUM(CAST(POWER(2.0, -m_reg) AS DECIMAL(38,21))) AS z_present,
             COUNT(*) AS n_present
      FROM merged GROUP BY window_day
    )
    SELECT window_day,
           CAST(ROUND(
             CASE WHEN ({alpha_m2!r} / CAST(CAST({m} - n_present AS DECIMAL(38,21))
                          + z_present AS DOUBLE)) <= {2.5 * m}
                   AND ({m} - n_present) > 0
                  THEN {float(m)!r} * LN({float(m)!r} / ({m} - n_present))
                  ELSE {alpha_m2!r} / CAST(CAST({m} - n_present AS DECIMAL(38,21))
                         + z_present AS DOUBLE)
             END) AS BIGINT) AS est_distinct
    FROM collapsed
    """


def hll_estimate_sql(
    regs_cte: str, group_by: Sequence[str], b: int = DEFAULT_B
) -> str:
    """DuckDB replay of hll_estimate over a PER-GROUP register CTE
    `regs_cte(group..., bucket, m_reg)` — the grouped twin of
    hll_collapse_sql, generated from the same literals as the Spark
    expressions. Yields (group..., est_distinct) rows."""
    m = 2 ** b
    alpha_m2 = _alpha(m) * m * m
    g = ", ".join(group_by)
    raw = (
        f"{alpha_m2!r} / CAST(CAST({m} - n_present AS DECIMAL(38,21))"
        f" + z_present AS DOUBLE)"
    )
    return f"""
    SELECT {g},
           CAST(ROUND(
             CASE WHEN ({raw}) <= {2.5 * m} AND ({m} - n_present) > 0
                  THEN {float(m)!r} * LN({float(m)!r} / ({m} - n_present))
                  ELSE {raw}
             END) AS BIGINT) AS est_distinct
    FROM (
      SELECT {g},
             SUM(CAST(POWER(2.0, -m_reg) AS DECIMAL(38,21))) AS z_present,
             COUNT(*) AS n_present
      FROM {regs_cte} GROUP BY {g}
    )
    """
