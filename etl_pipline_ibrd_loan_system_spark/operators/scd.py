"""SCD Type 1 + Type 2 engine (SURVEY.md §2.G) — the reference's most
complex operator, re-expressed without per-row UPDATEs.

The reference runs the SSIS Slowly Changing Dimension transform in 7
packages (`project SSIS::bor_dim.dtsx:1272-1447` and siblings). Decoded
semantics:

- probe: existing dimension restricted to current rows
  (`CurrentRowWhere [start_date] IS NOT NULL AND [end_date] IS NULL`)
- per-column roles: business key / Changing (Type-1 overwrite) /
  Historical (Type-2 version) / Fixed
- routing: New Output -> insert with start_date := load time;
  Changing-Attr Output -> in-place UPDATE of T1 columns on the current row;
  Historical-Attr Output -> close the current row (end_date := load time,
  loan_type variant also is_current := 0, `loan_type_dim.dtsx:450`) and
  insert a fresh version.

Spark has no row UPDATE, so the engine *rebuilds* the dimension as a union
of disjoint slices — the classic MERGE-free SCD2:

    history                                (non-current rows, untouched)
  ∪ current keys absent from staging       (still current)
  ∪ matched-unchanged                      (still current)
  ∪ matched-T1                             (T1 columns overwritten in place)
  ∪ matched-T2 closed                      (end_date := asof, is_current := F)
  ∪ matched-T2 new versions ∪ brand-new    (fresh SKs, start_date := asof)

The four matched/new slices derive from ONE broadcast-probe left join
(staging ⟕ current), classified once; each classified row then passes
once through one routing generator (`_route`), which emits its old-side
row and/or its fresh version — no per-slice re-filter, no cache. The
rebuild is shuffle-free apart from that join (current dims are small) and
the optional dense surrogate-key window, which covers only the routed
(staging-grain) rows, never history. At 100 TB the `hash` SK strategy
removes the only global sort.

Invariants (property-tested in tests/test_scd.py): at most one current row
per business key; version intervals [start_date, end_date) never overlap;
rebuild is idempotent (re-applying the same staging is a no-op).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CHANGE_NEW = "new"
CHANGE_T1 = "t1"
CHANGE_T2 = "t2"
CHANGE_NONE = "unchanged"


def _any_differs(cols: Sequence[str]) -> Column:
    """Null-safe 'any column changed' between staging (s_ prefix) and dim."""
    terms = [~F.col(f"s_{c}").eqNullSafe(F.col(c)) for c in cols]
    return reduce(lambda a, b: a | b, terms, F.lit(False))


def scd_classify(
    dim: DataFrame,
    staging: DataFrame,
    key: str,
    t1_cols: Sequence[str] = (),
    t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (),
    sk_col: str = "sk",
    current_col: str = "is_current",
) -> DataFrame:
    """The SCD probe join + routing decision (SSIS outputs New / Changing /
    Historical / no-op), as a single classified DataFrame.

    The probe is a left join of staging against the BROADCAST current
    slice — the SSIS full-cache lookup (dims are broadcastable by
    construction here), so classification never shuffles staging.

    Returns staging columns (s_-prefixed attrs), the matched current dim row's
    columns, and `change_type` ∈ {new, t1, t2, unchanged}. A staging row
    with no current match (including a NULL staging key) is `new`; attrs
    compare null-safely. T2 takes priority over T1 when both change (SSIS
    routes such rows to the Historical output).
    """
    attrs = [*t1_cols, *t2_cols, *fixed_cols]
    s_ren = staging.select(
        F.col(key), *[F.col(c).alias(f"s_{c}") for c in attrs]
    )
    current = dim.filter(F.col(current_col))
    routing = (
        F.when(F.col(sk_col).isNull(), F.lit(CHANGE_NEW))
        .when(_any_differs(t2_cols), F.lit(CHANGE_T2))
        .when(_any_differs(t1_cols), F.lit(CHANGE_T1))
        .otherwise(F.lit(CHANGE_NONE))
    )
    probe = s_ren.join(F.broadcast(current), key, "left")
    return probe.withColumn("change_type", routing)


def dedupe_staging(
    staging: DataFrame, key: str, attr_cols: Sequence[str]
) -> DataFrame:
    """Collapse staging to AT MOST ONE row per business key.

    Two staging rows with the same key but different attrs would otherwise
    BOTH classify (e.g. both `new`) and both insert as current versions,
    violating the 'one current row per business key' invariant. The winner
    is the attr-wise smallest row — arbitrary but stable; feeds with a
    meaningful recency column should pre-sort/filter upstream.

    Implemented as groupBy(key).min(struct(attrs)): struct comparison is
    field-by-field in declaration order with NULLs smallest, the same
    winner a row_number window over `ORDER BY attrs ASC NULLS FIRST`
    picks — but min() is a partial aggregate, so each map task collapses
    its local duplicates BEFORE the shuffle and no task ever sorts a
    whole key group. On an SCD load whose staging feed is mostly repeats
    (the common case), the shuffle carries one row per (task, key)
    instead of the raw feed."""
    packed = F.struct(*[F.col(c) for c in attr_cols])
    return (
        staging.select(key, packed.alias("__attrs"))
        .groupBy(key)
        .agg(F.min("__attrs").alias("__attrs"))
        .select(key, *[F.col(f"__attrs.{c}").alias(c) for c in attr_cols])
    )


def scd2_init(
    staging: DataFrame,
    key: str,
    attr_cols: Sequence[str],
    asof: str,
    sk_col: str = "sk",
    start_col: str = "start_date",
    end_col: str = "end_date",
    current_col: str = "is_current",
    sk_strategy: str = "hash",
    date_type: str = "date",
) -> DataFrame:
    """Initial dimension load: every distinct staging key becomes a current
    version starting at `asof` (SSIS first-run behavior: all rows exit the
    New Output).

    sk_strategy defaults to "hash" (xxhash64(key, asof) — distributed, no
    global max, the snaptable MERGE production path's only mode). "dense"
    is the explicit SSIS-IDENTITY parity mode: a row_number over a global
    unpartitioned window (single-task sort at dimension grain) — pin it
    only where an oracle or a downstream IDENTITY contract encodes the
    dense numbering (VERDICT r7 "What's wrong" #4)."""
    distinct = dedupe_staging(staging, key, attr_cols).withColumn(sk_col, F.lit(None))
    keyed = _assign_sks(distinct, key, sk_col, F.lit(True), sk_strategy, asof)
    return keyed.select(
        sk_col,
        key,
        *attr_cols,
        F.lit(asof).cast(date_type).alias(start_col),
        F.lit(None).cast(date_type).alias(end_col),
        F.lit(True).alias(current_col),
    )


def _assign_sks(
    rows: DataFrame, key: str, sk_col: str, fresh: Column, strategy: str,
    asof: str, max_sk: DataFrame | None = None,
) -> DataFrame:
    """Number the rows `fresh` selects; every other row keeps its sk_col.

    hash: xxhash64(key, asof), no coordination with the dimension.
    dense (IDENTITY parity): the fresh rows numbered 1..n in key order,
    plus `max_sk` — a 1-row [__max_sk] DataFrame, broadcast, never
    collected — when continuing an existing dimension."""
    if strategy == "hash":
        sk = F.xxhash64(F.col(key), F.lit(asof))
    elif strategy == "dense":
        # Dense mode IS a single-task sort per fresh flag (IDENTITY
        # parity). A foldable flag (scd2_init's lit(True)) folds back to
        # an unpartitioned window, whose WindowExec WARN sweep tooling
        # suppresses at the logger (bench.py / tools/selfcheck.py).
        sk = F.row_number().over(Window.partitionBy(fresh).orderBy(key))
        if max_sk is not None:
            rows = rows.crossJoin(F.broadcast(max_sk))
            sk = sk + F.coalesce(F.col("__max_sk"), F.lit(0))
    else:
        raise ValueError(f"unknown sk_strategy {strategy!r}")
    return rows.withColumn(
        sk_col, F.when(fresh, sk).otherwise(F.col(sk_col))
    ).drop("__max_sk")


def _route(
    rows: DataFrame, cols: Sequence[str],
    outputs: Sequence[tuple[Column, dict[str, Column]]],
) -> DataFrame:
    """Send each row to every output whose condition it meets, in one pass.

    Each output is (condition, overrides): one `when(condition,
    struct(cols))` slot, each field taken from `overrides` or else from
    the row's own column. The non-NULL slots of a row come out as rows
    (`inline` over the filtered slot array) — the SSIS SCD transform's
    per-row routing to its outputs, without re-reading `rows` per
    output."""
    slots = [
        F.when(cond, F.struct(*[over.get(c, F.col(c)).alias(c) for c in cols]))
        for cond, over in outputs
    ]
    return rows.select(F.inline(F.filter(F.array(*slots), lambda s: s.isNotNull())))


def scd2_apply(
    dim: DataFrame,
    staging: DataFrame,
    key: str,
    t1_cols: Sequence[str] = (),
    t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (),
    asof: str = "1970-01-01",
    sk_col: str = "sk",
    start_col: str = "start_date",
    end_col: str = "end_date",
    current_col: str = "is_current",
    sk_strategy: str = "hash",
    date_type: str = "date",
) -> DataFrame:
    """Apply one staging snapshot to an SCD2 dimension; returns the rebuilt
    dimension (same schema/column order as `dim`).

    Keys present in the dimension but absent from staging stay current —
    matching SSIS, which only routes *incoming* rows.
    """
    attrs = [*t1_cols, *t2_cols, *fixed_cols]
    dim_cols = dim.columns

    # one row per business key FIRST — duplicate-key staging rows would
    # each classify and each insert a current version (invariant breach)
    staging = dedupe_staging(staging, key, attrs)

    # Probe and the untouched anti-join both broadcast, so a fact-free
    # apply plans ZERO shuffles (tests/test_plan_regressions.py
    # g8/g8b/dq10 guard exactly this).
    classified = scd_classify(
        dim, staging, key, t1_cols, t2_cols, fixed_cols, sk_col, current_col,
    )

    history = dim.filter(~F.col(current_col))
    # untouched = current dim keys staging never mentions (SSIS only
    # routes incoming rows); staging keys are the small side
    untouched = dim.filter(F.col(current_col)).join(
        staging.select(key).distinct(), key, "left_anti"
    ).select(*dim_cols)

    change = F.col("change_type")
    asof_d = F.lit(asof).cast(date_type)
    routed = _route(classified, dim_cols, [
        (change == CHANGE_NONE, {}),
        (change == CHANGE_T1, {c: F.col(f"s_{c}") for c in t1_cols}),
        (change == CHANGE_T2, {end_col: asof_d, current_col: F.lit(False)}),
        # the fresh version; its NULL sk marks it for numbering (every
        # matched row carries the dim row's non-NULL sk)
        (change.isin(CHANGE_NEW, CHANGE_T2), {
            sk_col: F.lit(None).cast(dim.schema[sk_col].dataType),
            **{c: F.col(f"s_{c}") for c in attrs},
            start_col: asof_d,
            end_col: F.lit(None).cast(date_type),
            current_col: F.lit(True),
        }),
    ])
    # the global-max offset only exists for dense (IDENTITY-continuation)
    # numbering; hash sks need no coordination with the existing dimension
    max_sk = (
        dim.agg(F.max(sk_col).alias("__max_sk")) if sk_strategy == "dense" else None
    )
    routed = _assign_sks(
        routed, key, sk_col, F.col(sk_col).isNull(), sk_strategy, asof, max_sk
    )
    return history.unionByName(untouched).unionByName(routed)


def _null_safe_differs_sql(left: str, right: str, cols: Sequence[str]) -> str:
    """SQL twin of _any_differs: any column null-safely different."""
    if not cols:
        return "FALSE"
    return " OR ".join(f"NOT ({left}.{c} <=> {right}.{c})" for c in cols)


def scd2_merge_sql(
    dim_table: str,
    staging_source: str,
    key: str,
    t1_cols: Sequence[str] = (),
    t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (),
    asof: str = "1970-01-01",
    sk_col: str = "sk",
    start_col: str = "start_date",
    end_col: str = "end_date",
    current_col: str = "is_current",
    key_type: str = "bigint",
) -> str:
    """The MERGE INTO twin of scd2_apply — the production path on a
    Delta/Iceberg table, replacing the reference's per-row UPDATE
    commands (`project SSIS::bor_dim.dtsx:454,566`) with ONE declarative
    statement the table format executes as a distributed join + rewrite
    of only the touched files.

    Single-statement SCD2 via the merge-key trick: staging enters the
    USING side twice — once keyed (matches the current dim row: closes a
    T2 change, overwrites T1 columns in place, no-ops when unchanged)
    and once with a NULL merge key for T2-changed rows only (never
    matches, falls through to INSERT as the fresh current version).
    Brand-new keys match nothing and insert directly. Dimension keys
    absent from staging are untouched, exactly like scd2_apply.

    `staging_source` must already be one-row-per-key (dedupe_staging);
    surrogate keys use the `hash` strategy (`xxhash64(key, asof)`) —
    the strategy SCALE.md prescribes at scale anyway, since MERGE offers
    no global row_number. Semantics mirror scd2_apply slice-for-slice;
    the overwrite-rebuild remains the sandbox-executable twin (no Delta
    here), so this generator is validated by parser + text tests and by
    shape parity with the rebuild's routing slots.
    """
    attrs = [*t1_cols, *t2_cols, *fixed_cols]
    t2_pred_sd = _null_safe_differs_sql("s", "d", t2_cols)
    t2_pred_du = _null_safe_differs_sql("d", "u", t2_cols)
    t1_pred_du = _null_safe_differs_sql("d", "u", t1_cols)
    attr_list = ", ".join(f"s.{c}" for c in attrs)
    insert_cols = ", ".join([sk_col, key, *attrs, start_col, end_col, current_col])
    insert_vals = ", ".join(
        [
            f"xxhash64(u.{key}, '{asof}')",
            f"u.{key}",
            *[f"u.{c}" for c in attrs],
            f"DATE'{asof}'",
            "CAST(NULL AS DATE)",
            "TRUE",
        ]
    )
    t1_sets = ", ".join(f"d.{c} = u.{c}" for c in t1_cols)
    when_t1 = (
        f"WHEN MATCHED AND ({t1_pred_du}) THEN UPDATE SET {t1_sets}\n" if t1_cols else ""
    )
    return (
        f"MERGE INTO {dim_table} AS d\n"
        f"USING (\n"
        f"  SELECT s.{key} AS __merge_key, s.{key}, {attr_list}\n"
        f"  FROM {staging_source} AS s\n"
        f"  UNION ALL\n"
        f"  SELECT CAST(NULL AS {key_type}) AS __merge_key, s.{key}, {attr_list}\n"
        f"  FROM {staging_source} AS s\n"
        f"  JOIN {dim_table} AS d ON s.{key} = d.{key} AND d.{current_col}\n"
        f"  WHERE {t2_pred_sd}\n"
        f") AS u\n"
        f"ON d.{key} = u.__merge_key AND d.{current_col}\n"
        f"WHEN MATCHED AND ({t2_pred_du}) THEN UPDATE SET\n"
        f"  d.{end_col} = DATE'{asof}', d.{current_col} = FALSE\n"
        f"{when_t1}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols})\n"
        f"VALUES ({insert_vals})"
    )


def scd2_apply_merge(
    spark,
    dim_table: str,
    staging: DataFrame,
    key: str,
    t1_cols: Sequence[str] = (),
    t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (),
    asof: str = "1970-01-01",
    **kwargs,
) -> str:
    """Run the MERGE twin against a catalog table that supports MERGE
    (Delta/Iceberg). Dedupes staging, registers it as a temp view, and
    executes the generated statement. Returns the SQL it ran.

    The sandbox has no MERGE-capable table format, so this path is
    exercised by tests only up to statement generation + parsing; on a
    v1 (parquet) table Spark itself rejects the MERGE and we surface
    that with the overwrite-rebuild pointer instead of a raw error."""
    attrs = [*t1_cols, *t2_cols, *fixed_cols]
    view = "__scd2_staging"
    dedupe_staging(staging, key, attrs).createOrReplaceTempView(view)
    sql = scd2_merge_sql(
        dim_table, view, key, t1_cols, t2_cols, fixed_cols, asof, **kwargs
    )
    try:
        spark.sql(sql)
    except Exception as exc:
        raise RuntimeError(
            f"MERGE INTO failed on {dim_table!r} — the table format must "
            "support MERGE (Delta/Iceberg). On plain parquet use "
            "scd2_apply (overwrite-rebuild), which is semantically "
            "identical."
        ) from exc
    return sql


def scd2_snapshot(
    dim: DataFrame,
    asof: str,
    start_col: str = "start_date",
    end_col: str = "end_date",
) -> DataFrame:
    """Point-in-time read of an SCD2 dimension: the version of each key
    that was in effect on `asof` (half-open validity [start, end)).

    This is the query side of the SCD2 contract the reference's per-row
    UPDATE machinery exists to enable (project SSIS::bor_dim.dtsx —
    EndDate/StartDate column roles): any historical date reconstructs
    that day's dimension exactly. Keys first valid after `asof` simply
    drop out; T1-overwritten attributes show their rewritten values
    (T1 rewrites history by design).

    At scale both predicates are plain column comparisons: stored
    partitioned/clustered on the date columns (or is_current), they
    partition-prune, so a snapshot reads only the version slices that
    can match — never the full history."""
    d = F.lit(asof).cast("date")
    return dim.where(
        (F.col(start_col) <= d)
        & (F.col(end_col).isNull() | (F.col(end_col) > d))
    )


def scd2_pointintime_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    fact_date_col: str,
    *,
    start_col: str = "start_date",
    end_col: str = "end_date",
    how: str = "inner",
    dim_broadcastable: bool = True,
) -> DataFrame:
    """Per-row point-in-time join: each fact row joins the dimension
    version that was in effect on ITS OWN date (half-open validity
    [start, end), the scd2_snapshot convention) — the query pattern the
    reference's SCD2 column roles exist to serve (project
    SSIS::bor_dim.dtsx start_date/end_date/is_current; scd2_snapshot is
    the single-date special case, this is the per-row general case).

    Two physical shapes, chosen by `dim_broadcastable`:

    * True (the warehouse default — dimensions are small by definition):
      ONE broadcast hash join on the business key with the validity
      range as a residual condition. The fact side never shuffles and
      never sorts — at 100 TB this is a map-only pass over the fact,
      identical in cost to the C2 surrogate-key cascade. Each fact row
      meets only its key's version chain (a handful of rows), and
      exactly one version satisfies the residual because well-formed
      SCD2 intervals tile without overlap (property-tested in
      tests/test_scd.py).

    * False (dimension history too large to broadcast): the as-of
      union+window shape — tag fact probes and dim versions, union,
      one hash exchange on the key, per-key sort by (date, tag),
      forward-fill the version struct, keep probe rows whose filled
      version still satisfies the end-bound. One shuffle of the fact,
      no all-pairs anywhere (operators/asof.py is the same shape).

    `how` is 'inner' (probes before the key's first version drop out)
    or 'left' (they survive with NULL version columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner/left, got {how!r}")
    d = F.col(fact_date_col).cast("date")
    dim_cols = [c for c in dim.columns if c != key]
    if dim_broadcastable:
        dimr = dim.withColumnRenamed(key, f"__dim_{key}")
        cond = (
            (fact[fact_date_col].cast("date") >= dimr[start_col])
            & (F.col(key) == F.col(f"__dim_{key}"))
            & (
                dimr[end_col].isNull()
                | (fact[fact_date_col].cast("date") < dimr[end_col])
            )
        )
        return fact.join(F.broadcast(dimr), cond, how).drop(f"__dim_{key}")

    # Union+window as-of shape: version rows carry their payload as one
    # struct (the ADVICE r5 asof lesson — the validity end travels WITH
    # the payload, so the end-bound check and the attributes always come
    # from the same filled version).
    ver_struct = F.struct(
        F.col(start_col), F.col(end_col),
        *[F.col(c) for c in dim_cols if c not in (start_col, end_col)],
    )
    tagged_dim = dim.select(
        F.col(key),
        F.col(start_col).cast("date").alias("__pit_ts"),
        F.lit(0).alias("__pit_tag"),
        ver_struct.alias("__pit_ver"),
    )
    probe_cols = fact.columns
    tagged_fact = fact.select(
        F.col(key),
        d.alias("__pit_ts"),
        F.lit(1).alias("__pit_tag"),
        F.lit(None).cast(tagged_dim.schema["__pit_ver"].dataType).alias("__pit_ver"),
        *[F.col(c) for c in probe_cols if c != key],
    )
    w = (
        Window.partitionBy(key)
        .orderBy("__pit_ts", "__pit_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        tagged_dim.select(
            key, "__pit_ts", "__pit_tag", "__pit_ver",
            *[F.lit(None).cast(fact.schema[c].dataType).alias(c)
              for c in probe_cols if c != key],
        )
        .unionByName(tagged_fact)
        .withColumn("__pit_fill", F.last("__pit_ver", ignorenulls=True).over(w))
        .where(F.col("__pit_tag") == 1)
    )
    valid = F.col("__pit_fill").isNotNull() & (
        F.col(f"__pit_fill.{end_col}").isNull()
        | (F.col("__pit_ts") < F.col(f"__pit_fill.{end_col}"))
    )
    keep = F.when(valid, F.col("__pit_fill"))
    out = filled.select(
        key,
        *[F.col(c) for c in probe_cols if c != key],
        *[keep[c].alias(c) for c in (start_col, end_col)],
        *[keep[c].alias(c) for c in dim_cols if c not in (start_col, end_col)],
        valid.alias("__pit_valid"),
    )
    if how == "inner":
        out = out.where("__pit_valid")
    return out.drop("__pit_valid")


def scd3_apply(
    dim: DataFrame,
    staging: DataFrame,
    key: str,
    tracked_cols: Sequence[str],
    *,
    prev_prefix: str = "prev_",
) -> DataFrame:
    """SCD Type 3: limited history as a previous-value COLUMN instead of
    a version row. On change, the old current value moves into
    `prev_<col>` and the new value takes `<col>`; unchanged rows keep
    their existing previous values; brand-new keys start with NULL
    previous values; keys absent from staging survive untouched (SSIS
    routes only incoming rows — the scd2_apply contract). The
    reference's SSIS SCD transform offers only Type 1/2 (project
    SSIS::bor_dim.dtsx changeType roles 2/3); Type 3 is the third
    classical variant, included so the dimension toolkit covers the
    full taxonomy.

    Same physical shape as scd2_apply: staging ⟕ broadcast(dim) probe
    join + key-projected left_anti for the untouched slice + union —
    pure projections after the probe, no window, no extra shuffle.
    """
    dim_cols = [key]
    for c in tracked_cols:
        dim_cols += [c, f"{prev_prefix}{c}"]
    d = dim.select(
        F.col(key).alias("__d_key"),
        *[F.col(c).alias(f"__d_{c}") for c in tracked_cols],
        *[
            F.col(f"{prev_prefix}{c}").alias(f"__d_prev_{c}")
            for c in tracked_cols
        ],
    )
    joined = staging.join(F.broadcast(d), staging[key] == F.col("__d_key"), "left")
    out_cols: list[Column] = [staging[key].alias(key)]
    for c in tracked_cols:
        new_v, old_v, old_prev = (
            staging[c], F.col(f"__d_{c}"), F.col(f"__d_prev_{c}"),
        )
        changed = F.col("__d_key").isNotNull() & ~new_v.eqNullSafe(old_v)
        out_cols.append(new_v.alias(c))
        out_cols.append(
            F.when(changed, old_v).otherwise(old_prev).alias(f"{prev_prefix}{c}")
        )
    updated = joined.select(*out_cols)
    untouched = dim.join(
        staging.select(key).distinct(), key, "left_anti"
    ).select(*dim_cols)
    return updated.select(*dim_cols).unionByName(untouched)


def bitemporal_init(
    staging: DataFrame,
    key: str,
    attr_cols: Sequence[str],
    asof: str,
    date_type: str = "date",
) -> DataFrame:
    """Initial bitemporal load: every row becomes effective at `asof`
    (valid time) and known since `asof` (transaction time), both
    open-ended. Schema: key, attrs, valid_from, valid_to, tx_from,
    tx_to — the SCD2 validity pair plus the as-KNOWN pair."""
    d = F.lit(asof).cast(date_type)
    n = F.lit(None).cast(date_type)
    return staging.select(
        F.col(key),
        *[F.col(c) for c in attr_cols],
        d.alias("valid_from"),
        n.alias("valid_to"),
        d.alias("tx_from"),
        n.alias("tx_to"),
    )


def bitemporal_apply(
    dim: DataFrame,
    staging: DataFrame,
    key: str,
    t1_cols: Sequence[str] = (),
    t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (),
    asof: str = "1970-01-01",
    date_type: str = "date",
) -> DataFrame:
    """Apply one staging snapshot to a BITEMPORAL dimension at
    transaction time `asof` (Snodgrass/Jensen two-axis model): valid
    time says when a fact was true in the world, transaction time says
    when the warehouse believed it. SCD2 only keeps the valid axis, so
    a T1 correction silently rewrites history — after it, yesterday's
    report can no longer be reproduced. Bitemporal keeps both:

    - T1 change = RETROACTIVE CORRECTION: the open row is tx-closed
      (tx_to := asof) and re-inserted with the corrected T1 columns,
      SAME valid interval, tx_from := asof. As-known-before-asof still
      shows the wrong value (reproducibility); as-known-after shows the
      correction applied to all of history.
    - T2 change = REAL-WORLD CHANGE: the open row is tx-closed; the
      now-known truth re-inserts as TWO rows at tx_from := asof — the
      old attrs with valid_to := asof, and the staged attrs with
      valid_from := asof, open-ended.
    - New keys insert valid and known from asof; keys absent from
      staging, rows already tx-closed, and tx-open historical versions
      are untouched.

    Point query: tx_from <= X < tx_to AND valid_from <= V < valid_to
    gives "the state effective at V, as the warehouse knew it at X" —
    exactly one row per key per (X, V) (invariant-tested).

    Scale: identical physical shape to scd2_apply — ONE broadcast probe
    join of staging against the open slice, then one routing pass
    (`_route`) and a union; never a window, never a row UPDATE.
    Reference anchor: the per-row UPDATEs of `project
    SSIS::bor_dim.dtsx:454,566` are the T1 path here, with the audit
    trail those UPDATEs destroy."""
    attrs = [*t1_cols, *t2_cols, *fixed_cols]
    dim_cols = dim.columns
    staging = dedupe_staging(staging, key, attrs)
    is_open = F.col("tx_to").isNull() & F.col("valid_to").isNull()
    dim2 = dim.withColumn("__open", is_open)
    # valid_from doubles as the new-key detector (never NULL in a dim row)
    cls = scd_classify(
        dim2, staging, key, t1_cols, t2_cols, fixed_cols,
        sk_col="valid_from", current_col="__open",
    )

    asof_d = F.lit(asof).cast(date_type)
    null_d = F.lit(None).cast(date_type)
    change = F.col("change_type")

    untouched = dim.filter(~is_open).select(*dim_cols).unionByName(
        dim.filter(is_open)
        .join(staging.select(key).distinct(), key, "left_anti")
        .select(*dim_cols)
    )
    routed = _route(cls, dim_cols, [
        (change == CHANGE_NONE, {}),
        # tx-close the open row on any change
        (change.isin(CHANGE_T1, CHANGE_T2), {"tx_to": asof_d}),
        # T1 correction: same valid interval, corrected T1 columns
        (change == CHANGE_T1,
         {**{c: F.col(f"s_{c}") for c in t1_cols}, "tx_from": asof_d}),
        # T2: the old version re-known with its valid interval closed
        (change == CHANGE_T2, {"valid_to": asof_d, "tx_from": asof_d}),
        (change.isin(CHANGE_NEW, CHANGE_T2), {
            **{c: F.col(f"s_{c}") for c in attrs},
            "valid_from": asof_d,
            "valid_to": null_d,
            "tx_from": asof_d,
            "tx_to": null_d,
        }),
    ])
    return untouched.unionByName(routed)


def bitemporal_at(
    dim: DataFrame, tx_at: Column, valid_at: Column
) -> DataFrame:
    """The bitemporal point filter: rows the warehouse believed at
    tx_at that were effective at valid_at (both half-open)."""
    return dim.filter(
        (F.col("tx_from") <= tx_at)
        & (F.col("tx_to").isNull() | (F.col("tx_to") > tx_at))
        & (F.col("valid_from") <= valid_at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > valid_at))
    )


def scd2_compact(
    dim: DataFrame,
    key: str,
    attr_cols: Sequence[str],
    sk_col: str = "sk",
    start_col: str = "start_date",
    end_col: str = "end_date",
    current_col: str = "is_current",
) -> DataFrame:
    """Merge maximal runs of CONTIGUOUS, attribute-identical SCD2
    versions into single rows — the maintenance pass for dimensions fed
    by version-on-every-load pipelines (a full-refresh feed that closes
    and re-inserts every row versions the whole dimension daily; after
    a year every key drags ~365 identical rows through every probe
    join). Two versions merge iff the earlier one's end equals the
    later one's start (no gap) AND every attribute is null-safe equal;
    the merged row spans [first start, last end), keeps the FIRST
    version's surrogate key (stable: rows that were already compact
    keep their sk), and is current iff the run's last version was.

    Point-in-time semantics are preserved EXACTLY (property-tested:
    scd2_snapshot of the compacted dim equals the original for any
    date) — compaction only removes rows a validity probe could never
    distinguish.

    Shape: one window per key ordered by start (island detection — the
    e18 interval-compaction pattern on attr-equality runs) and one
    groupBy on (key, run): a single key-partitioned exchange, state
    bounded by versions-per-key."""
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    w = Window.partitionBy(key).orderBy(start_col)
    flagged = dim.withColumn(
        "__new_run",
        (
            ~attrs.eqNullSafe(F.lag(attrs).over(w))
            | ~F.lag(F.col(end_col)).over(w).eqNullSafe(F.col(start_col))
        ).cast("int"),
    ).withColumn(
        "__run",
        F.sum(F.coalesce(F.col("__new_run"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = flagged.groupBy(key, "__run").agg(
        F.min(sk_col).alias(sk_col),
        *[F.first(c).alias(c) for c in attr_cols],
        F.min(start_col).alias(start_col),
        F.when(
            F.max(F.col(end_col).isNull().cast("int")) == 1, F.lit(None)
        )
        .otherwise(F.max(end_col))
        .cast("date")
        .alias(end_col),
        F.max(F.col(current_col).cast("int")).cast("boolean").alias(
            current_col
        ),
    )
    return merged.select(
        sk_col, key, *attr_cols, start_col, end_col, current_col
    )


def scd6_project(
    dim: DataFrame,
    key: str,
    t2_cols: list[str],
    current_col: str = "is_current",
    prefix: str = "current_",
) -> DataFrame:
    """SCD Type 6 (hybrid 1+2+3) read view over a Type-2 dimension:
    every HISTORICAL row additionally carries the key's CURRENT value
    of each tracked attribute — the Kimball "type 6" pattern that lets
    one fact join answer both "as it was" (the row's own columns) and
    "as it is" (the current_ columns) without a second dimension
    lookup. Derived, not stored: the projection is a key-partitioned
    window MAX over the single is_current row per key (SCD2 invariant,
    audited by dq16), so it stays correct after every merge with no
    extra bookkeeping.

    Scale shape: ONE hash exchange on the business key (the window),
    no join, no new state; per-partition row count is the key's
    version count."""
    w = Window.partitionBy(key)
    out = dim
    for c in t2_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            F.max(F.when(F.col(current_col), F.col(c))).over(w),
        )
    return out
