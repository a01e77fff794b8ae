"""Window operators (SURVEY.md §2.E).

The reference's one window op is a global-order forward-fill
(pyspark_dag2.py:371-379): `last(col, ignorenulls=True)` over
`Window.orderBy(key).rowsBetween(-inf, 0)` with NO partitionBy — a
single-task global sort. We keep that exact semantic for parity, and
`forward_fill` runs it through the scalable two-pass variant a 100 TB run
needs: one deterministic bucket map over an ordinal of the order key, one
bucket exchange, no sampler and no pin.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType


def forward_fill(
    df: DataFrame,
    order_by: Sequence[str],
    target: str,
    single_task: bool = False,
) -> DataFrame:
    """E1 — forward-fill nulls in `target` in `order_by` order.

    The reference computes the global fill as ONE unpartitioned window
    (pyspark_dag2.py:375-379) — a single-task sort. This keeps those
    exact semantics but executes them through the distributed two-pass
    algorithm over forward_fill_scalable's ordinal bucket map: for a
    TOTAL order key the two are equivalent row-for-row (the oracle
    checks it), and the fill stage runs as many tasks as buckets
    instead of one (VERDICT r5 item 6). `single_task=True` runs the
    literal reference plan — the reference the tests compare against.

    Under a NON-total order key ties make `last(ignorenulls)` order-
    dependent in both shapes — the single-task plan is just as
    nondeterministic there, so the delegation loses nothing.
    """
    if not single_task:
        return forward_fill_scalable(df, order_by, target)
    w = Window.orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(target, F.last(target, ignorenulls=True).over(w))


def forward_fill_scalable(
    df: DataFrame,
    order_by: Sequence[str],
    target: str,
    num_buckets: int | None = None,
) -> DataFrame:
    """E1 at scale — distributed global forward-fill without a single-task sort.

    Two-pass algorithm over ordered buckets of the order key:
    1. map rows to `num_buckets` ordered buckets (default: 2x the
       session's shuffle parallelism) and compute the bucket-local fill;
    2. broadcast the tiny per-bucket "carry" table and fill each
       bucket's leading nulls from the nearest preceding bucket's carry.
    Equivalent to the global window for a total order key, at the cost
    of one hash exchange on the bucket id instead of a 1-task sort.

    Bucket map (`_bucket_expr`): floor((v - lo) * B / span) over a
    monotone ordinal v of the leading order key, bounds from one MIN/MAX
    aggregate. ANY monotone map gives the same fill, because bucket-local
    fill plus nearest preceding carry replays the global scan order; a
    skewed key costs balance (worst case the 1-task shape), not
    correctness. An integral key is its own ordinal. A string key maps
    to the 7 UTF-8 bytes after the common byte prefix of MIN and MAX,
    zero-padded: every key between them shares that prefix and Spark's
    default string order is byte order, so the map is monotone. Other
    key types raise TypeError. The bucket id is a pure function of the
    row, so there is no sampler pass and no pin.

    The carry is the filled value on the bucket's last row IN THE ORDER
    THE FILL USED: max_by over `__rn`, a row_number over the fill's own
    partition+sort (one Sort, one Window node). A max_by on the raw order
    key would pick an arbitrary row of a tied final key group and diverge
    on mixed-value ties at bucket boundaries (caught by the sf0.01 oracle
    at a duplicated (orderkey, linenumber)).

    The carry aggregates a struct of EVERY input column, not just
    `target`: otherwise column pruning narrows the carry branch below
    the fill branch on any input wider than key + target, and the two
    plan different bucket exchanges. With it both branches plan the
    identical scan->project->exchange subtree, so the carry reads the
    fill's own shuffle output (ReusedExchange): one shuffle write, and
    one map output ordering the ties of both passes. A consumer that
    projects columns away above the fill narrows only the fill branch
    and brings the second exchange back; drop them before the fill.
    """
    if num_buckets is None:
        num_buckets = 2 * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    bucketed = df.withColumn("__bucket", _bucket_expr(df, order_by[0], num_buckets))
    rank_w = Window.partitionBy("__bucket").orderBy(*order_by)
    local_w = rank_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled_local = bucketed.withColumn(
        target, F.last(target, ignorenulls=True).over(local_w)
    ).withColumn("__rn", F.row_number().over(rank_w))
    # num_buckets rows — trivially small; null only if the whole bucket
    # saw no non-null
    carries = filled_local.groupBy("__bucket").agg(
        F.max_by(F.struct(*df.columns), F.col("__rn"))[target].alias("__carry")
    )
    prev_w = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = carries.withColumn(
        "__carry_prev", F.last("__carry", ignorenulls=True).over(prev_w)
    ).select("__bucket", "__carry_prev")
    return (
        filled_local.join(F.broadcast(carries), "__bucket", "left")
        .withColumn(target, F.coalesce(F.col(target), F.col("__carry_prev")))
        .drop("__bucket", "__rn", "__carry_prev")
    )


def _bucket_expr(df: DataFrame, key: str, num_buckets: int) -> Column:
    """forward_fill_scalable's bucket id for leading order key `key`:
    `floor((v - lo) * B / span)` over the key's monotone ordinal `v`,
    -1 for a NULL key, 0 for every row when the key has no non-NULL."""
    key_type = df.schema[key].dataType
    if not isinstance(key_type, (IntegralType, StringType)):
        raise TypeError(
            f"forward_fill_scalable: order key {key!r} is {key_type.simpleString()};"
            " only integral and string keys have a bucket map"
        )
    bounds = df.select(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        # empty input or all-null leading key: one bucket
        return F.lit(0)
    ordinal = F.col(key)
    if isinstance(key_type, StringType):
        # the 7 bytes after the common byte prefix of lo and hi
        a, b = lo.encode("utf-8"), hi.encode("utf-8")
        n = next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b))
        )
        suffix = F.substring(F.encode(ordinal, "utf-8"), n + 1, 7)
        ordinal = F.conv(F.rpad(F.hex(suffix), 14, "0"), 16, 10).cast("long")
        lo, hi = (int.from_bytes(v[n:n + 7].ljust(7, b"\0"), "big") for v in (a, b))
    span = float(hi) - float(lo) + 1.0
    bucket = F.floor(
        (ordinal.cast("double") - float(lo)) * float(num_buckets) / span
    ).cast("int")
    # nulls sort first under the default ASC ordering
    return F.when(F.col(key).isNull(), F.lit(-1)).otherwise(bucket)


def global_rank_scalable(
    df: DataFrame,
    order_by: Sequence[str],
    rank_col: str = "global_rank",
    num_buckets: int | None = None,
) -> DataFrame:
    """Distributed global row_number over a TOTAL UNIQUE order — the
    scalable form of `row_number() OVER (ORDER BY ...)` (which Spark
    executes as a single-task sort, the e1 caveat). A two-pass
    range-bucket scheme; unlike forward_fill_scalable's deterministic
    bucket map, it takes its split points from the range partitioner's
    sampler, so it works for any order-key type:

    1. range-partition by the order key (one range shuffle — the same
       cost a production layout job pays, zorder.py rationale);
    2. bucket-local row_number, plus a broadcast num_buckets-row
       offsets table (cumulative bucket counts) added back in.

    `order_by` MUST be a unique total order (append a tiebreak id) —
    with duplicate keys the bucket-local ordering is a valid but not
    oracle-reproducible row_number assignment. The bucketed frame is
    pinned: it feeds BOTH the local-rank branch and the counts branch,
    and the two must see identical range boundaries (the range
    partitioner samples; an unpinned recompute may draw different
    splits and corrupt every offset).
    """
    if num_buckets is None:
        num_buckets = 2 * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    from ..cache import pin

    bucketed = pin(
        df.repartitionByRange(num_buckets, *order_by).withColumn(
            "__bucket", F.spark_partition_id()
        )
    )
    local_w = Window.partitionBy("__bucket").orderBy(*order_by)
    local = bucketed.withColumn("__lr", F.row_number().over(local_w))
    counts = bucketed.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__c")
    )
    off_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "__off",
        F.coalesce(F.sum("__c").over(off_w), F.lit(0)).cast("bigint"),
    ).select("__bucket", "__off")
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .withColumn(rank_col, (F.col("__lr") + F.col("__off")).cast("bigint"))
        .drop("__bucket", "__lr", "__off")
    )


def rolling_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value: str,
    preceding: int = 3,
    dec: str = "decimal(18,4)",
) -> DataFrame:
    """Rolling-frame analytics per key: lag/lead neighbors and a trailing
    rows-frame SUM over `value` (`preceding` rows back through current).

    The frame sum runs in fixed-point decimal so it is reduction-order
    exact (functions/exact.py rationale) — a rolling double sum would
    drift in the last bit between engines and partitionings. Partitioned
    window => fully distributed; one shuffle on the partition keys.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    frame = w.rowsBetween(-preceding, Window.currentRow)
    return (
        df.withColumn("prev_value", F.lag(value).over(w))
        .withColumn("next_value", F.lead(value).over(w))
        .withColumn(
            "trailing_sum",
            F.round(F.sum(F.col(value).cast(dec)).over(frame), 2).cast("double"),
        )
    )


def time_range_rolling(
    df: DataFrame,
    partition_by: Sequence[str],
    ts_col: str,
    value: str,
    trailing_seconds: int = 3600,
    dec: str = "decimal(18,4)",
) -> DataFrame:
    """Time-RANGE rolling frame: per key, count and decimal-exact sum of
    every row whose event time falls in the trailing `trailing_seconds`
    window ending at the current row — the frame is defined by TIME
    distance, not row count, so bursts widen the frame and quiet periods
    shrink it (what `rolling_agg`'s ROWS frame cannot express).

    The order key is integer epoch seconds (rangeBetween needs a numeric
    order), and ties — rows at the same second — are PEERS: RANGE frames
    include all of them on both engines, which is also why the result is
    deterministic without an id tie-break. Same scale shape as any
    partitioned window: one shuffle on the keys, frames never leave
    their partition."""
    # TIMESTAMP_NTZ has no direct long cast; via TIMESTAMP it is exact
    # because the session timezone is pinned UTC (session.py)
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(epoch)
        .rangeBetween(-trailing_seconds, Window.currentRow)
    )
    return df.withColumn("trailing_n", F.count(F.lit(1)).over(w)).withColumn(
        "trailing_sum",
        F.round(F.sum(F.col(value).cast(dec)).over(w), 2).cast("double"),
    )


def ranking_family(
    df: DataFrame,
    partition_by: Sequence[str],
    order_cols: Sequence,
    tiles: int = 4,
) -> DataFrame:
    """The full SQL ranking surface over one window: rank, dense_rank,
    percent_rank, cume_dist, ntile. percent_rank/cume_dist are exact
    rational values ((rank-1)/(n-1), frac of rows <= current) — identical
    across engines given a deterministic order, so callers must include a
    unique tiebreak in `order_cols`."""
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn("rnk", F.rank().over(w))
        .withColumn("dense_rnk", F.dense_rank().over(w))
        .withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("cume", F.cume_dist().over(w))
        .withColumn("tile", F.ntile(tiles).over(w))
    )


def date_spine_fill(
    df: DataFrame,
    key: str,
    ts_col: str,
    aggs: Sequence,
    fill: dict[str, object],
) -> DataFrame:
    """Gap-free per-key daily series: build a date spine spanning the
    data's [min, max] day, cross-join it with the distinct keys, and left
    join the per-(key, day) aggregates, filling absent days with `fill`
    literals. A training-data pipeline needs this shape for per-source
    ingest monitoring and time-series featurization (no silent gaps).

    Scale: the spine is days x keys — broadcast (days is small, the
    cross join replicates it per key partition-locally); the only shuffle
    is the groupBy on (key, day), which AQE coalesces."""
    day = F.to_date(F.col(ts_col)).alias("day")
    bounds = df.select(
        F.min(F.to_date(F.col(ts_col))).alias("d0"),
        F.max(F.to_date(F.col(ts_col))).alias("d1"),
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    keys = df.select(F.col(key)).distinct()
    daily = df.groupBy(F.col(key), day).agg(*aggs)
    out = keys.crossJoin(F.broadcast(spine)).join(daily, [key, "day"], "left")
    return out.fillna(fill)


def top_n_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_cols: Sequence,
    n: int,
    rank_col: str = "rn",
) -> DataFrame:
    """E2/F4 — dashboard-style top-N: rank within group by a measure and
    keep the first `n`. (The BI layer only sorts; rank is the top-N
    generalization the dashboard parity needs.) `order_cols` are Column
    expressions — include a tiebreak key for determinism."""
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= n)


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order_tiebreak: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign gap-based session numbers per user and aggregate one row
    per session (start/end/duration/event count).

    The id-assignment twin of the session_window aggregate (h3): where
    session_window only yields per-window aggregates, this labels the
    SESSIONS (1-based, in time order per user) so events can be joined
    back to their session — the shape attribution/replay pipelines
    need.

    A session break is a gap > gap_seconds between consecutive events
    of the same user; the session number is the running count of breaks
    (classic gaps-and-islands). Gap arithmetic is integer microseconds
    (unix_micros) — no float, no timezone, bit-identical cross-engine.

    Scale: both windows and the final aggregate partition on user_id —
    high-cardinality and hash-uniform, so parallelism is user count;
    per-task memory is one user's event run. The two windows and the
    groupBy share one (user) exchange.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # parquet timestamps load as TIMESTAMP_NTZ; the session TZ is pinned
    # UTC (session.py) so the cast is a pure reinterpretation, and
    # unix_micros then gives exact integer microseconds.
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_us = F.lit(gap_seconds * 1_000_000)
    # two projections: a window expression can't nest inside another
    # window aggregate; both windows share the same (user) sort, so
    # Catalyst plans them in ONE WindowExec pipeline after one exchange.
    flagged = df.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(order_tiebreak),
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("__is_new"),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled = flagged.select(
        F.col(user_col),
        F.col(ts_col),
        F.sum("__is_new").over(wsum).alias("session_no"),
    )
    return labeled.groupBy(user_col, "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("t_start"),
        F.max(ts_col).alias("t_end"),
        (
            F.unix_micros(F.max(ts_col).cast("timestamp"))
            - F.unix_micros(F.min(ts_col).cast("timestamp"))
        ).alias("duration_us"),
    )
