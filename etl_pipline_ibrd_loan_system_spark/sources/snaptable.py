"""Minimal snapshot-log table format over parquet: bucket-level
copy-on-write MERGE, snapshot isolation, time travel, rollback, vacuum.

Why this exists: the reference's SCD dimension sinks are per-row UPDATE
commands (`project SSIS::bor_dim.dtsx:454,566`) whose Spark-native
production twin is MERGE INTO on a Delta/Iceberg table
(operators/scd.py::scd2_merge_sql). This sandbox has no MERGE-capable
format (delta-spark cannot be installed — recorded tripwire in
tests/test_scd.py), so the MERGE twin stopped at validated SQL text.
This module supplies the missing half: the EXECUTION shape a table
format gives that statement, built from first principles on plain
parquet + JSON manifests, so merge semantics run for real here and the
claims about them are tested, not asserted.

Design (the Delta/Iceberg core, minus what 100 TB doesn't need here):

- Immutable data files under `data/commit-v{N}/__bucket=k/`, written
  once, never modified. Each table row lives in bucket
  `pmod(xxhash64(key), n_buckets)` — a pure function of the business
  key, so any writer can locate a key's bucket without reading data.
- A JSON manifest per version (`_snapshots/v{N}.json`) listing the data
  files of EVERY bucket, plus schema, key and parent version. Manifests
  are created with O_CREAT|O_EXCL: two concurrent committers racing to
  the same version — one wins, the other gets ConflictError (optimistic
  concurrency, the Delta protocol's log-entry rule).
- A CURRENT pointer published by atomic rename. Readers resolve CURRENT
  once and then read immutable files: full snapshot isolation; a crash
  anywhere before the rename leaves the previous snapshot intact and
  the half-commit unreachable (orphan files for vacuum).
- MERGE = bucket-level copy-on-write: a staging batch touches only the
  buckets its keys hash into; the merge reads THOSE buckets' files,
  applies scd2_apply to that slice, writes replacement files, and the
  new manifest re-references every untouched bucket's files verbatim.
  Merge cost scales with the touched key set, not the table — the
  entire point of MERGE over rewrite-the-world (with uniform hashing a
  small batch still touches most buckets; raise n_buckets so bucket
  count >> batch keys when batches are narrow).
- Time travel = read any retained manifest. Rollback = repoint CURRENT
  (data untouched). Vacuum = delete files no retained manifest
  references.

Scale notes: the manifest holds file PATHS only — O(n_buckets x files
per bucket), fine into the tens of thousands of files; beyond that
Iceberg splits manifests per partition and this module's layout would
grow the same second level. The touched-bucket discovery collects at
most n_buckets ints (bounded driver state, the IVF-centroid rule).
Surrogate keys in merged loads use the hash strategy — stable without
any global row_number, which is also SCALE.md's prescription.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SNAP_DIR = "_snapshots"
DATA_DIR = "data"


class ConflictError(RuntimeError):
    """Another committer published this version first (optimistic
    concurrency): re-read CURRENT and retry the merge on top of it."""


def _snap_dir(root: str) -> str:
    return os.path.join(root, SNAP_DIR)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_snap_dir(root), f"v{version:08d}.json")


def _current_path(root: str) -> str:
    return os.path.join(_snap_dir(root), "CURRENT")


def current_version(root: str) -> int | None:
    try:
        with open(_current_path(root), encoding="utf-8") as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        return None


def read_manifest(root: str, version: int | None = None) -> dict:
    if version is None:
        version = current_version(root)
        if version is None:
            raise FileNotFoundError(f"no CURRENT snapshot under {root!r}")
    with open(_manifest_path(root, version), encoding="utf-8") as fh:
        return json.load(fh)


def _next_version(root: str) -> int:
    """Smallest unused version number: one past the MAX existing manifest
    (not parent+1 — after a rollback the abandoned versions' manifests
    still exist until vacuum, and a new commit must not collide with
    them; parentage records lineage, the version number is just a slot)."""
    try:
        versions = [
            int(n[1:-5])
            for n in os.listdir(_snap_dir(root))
            if n.startswith("v") and n.endswith(".json")
        ]
    except FileNotFoundError:
        return 1
    return max(versions, default=0) + 1


def _bucket_col(key: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))


def _write_commit(
    spark: SparkSession, root: str, df: DataFrame, key: str,
    n_buckets: int, version: int,
) -> dict[str, list[str]]:
    """Write df's rows into per-bucket parquet under an immutable commit
    dir; return {bucket: [file paths]}. The __bucket partition column is
    directory-encoded, so data files carry only the table schema."""
    outdir = os.path.join(root, DATA_DIR, f"commit-v{version:08d}")
    (
        df.withColumn("__bucket", _bucket_col(key, n_buckets))
        .repartition("__bucket")
        .write.partitionBy("__bucket")
        .mode("errorifexists")
        .parquet(outdir)
    )
    from .maintenance import _hadoop

    fs, hpath, _ = _hadoop(spark, outdir)
    files: dict[str, list[str]] = {}
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        if p.getName().startswith(("_", ".")):
            continue
        parent = p.getParent().getName()  # "__bucket=k"
        bucket = parent.split("=", 1)[1]
        files.setdefault(bucket, []).append(p.toString())
    return files


def _publish(root: str, manifest: dict) -> None:
    """Two-phase commit: exclusive-create the manifest (conflict gate),
    then atomically repoint CURRENT."""
    os.makedirs(_snap_dir(root), exist_ok=True)
    path = _manifest_path(root, manifest["version"])
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as exc:
        raise ConflictError(
            f"version {manifest['version']} already committed under {root!r}"
        ) from exc
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    tmp = _current_path(root) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"version": manifest["version"]}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _current_path(root))


def create(
    spark: SparkSession, root: str, df: DataFrame, key: str,
    n_buckets: int = 16, sk_col: str = "sk",
) -> dict:
    """Initialize the table at version 1 from `df` (e.g. an scd2_init
    result). `sk_col` names the surrogate-key column merges extend
    (recorded in the manifest so callers with non-default SCD column
    names — the loan warehouse's `pk_<dim>_sk` — merge correctly).
    Returns the published manifest."""
    if current_version(root) is not None:
        raise FileExistsError(f"snapshot table already exists at {root!r}")
    if sk_col in df.columns:
        # canonicalize the surrogate key to bigint at create time: merge
        # commits assign xxhash64 sks (64-bit by necessity), and a
        # dense-int create would otherwise leave the manifest schema
        # narrower than post-merge data files — a v1(int)+v2(int64)
        # multi-version read (changes(), time travel across the merge)
        # then fails the parquet type check. Found by the g7c CDF oracle.
        df = df.withColumn(sk_col, F.col(sk_col).cast("bigint"))
    files = _write_commit(spark, root, df, key, n_buckets, version=1)
    manifest = {
        "version": 1,
        "parent": None,
        "key": key,
        "n_buckets": n_buckets,
        "sk_col": sk_col,
        "schema": df.schema.json(),
        "buckets": files,
    }
    _publish(root, manifest)
    return manifest


def read(
    spark: SparkSession, root: str, version: int | None = None,
    buckets: Sequence[int] | None = None,
) -> DataFrame:
    """Snapshot read: the file list comes from one immutable manifest, so
    concurrent commits never tear a scan. `buckets` restricts the read to
    the named buckets (the merge's pruning path)."""
    m = read_manifest(root, version)
    wanted = (
        set(str(b) for b in buckets) if buckets is not None
        else set(m["buckets"])
    )
    paths = [p for b, fl in m["buckets"].items() if b in wanted for p in fl]
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def scd2_merge(
    spark: SparkSession, root: str, staging: DataFrame, *,
    t1_cols: Sequence[str] = (), t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (), asof: str = "1970-01-01",
    date_type: str = "date", manifest_extra: dict | None = None,
) -> dict:
    """Execute one SCD2 merge as a bucket-level copy-on-write commit.

    Semantics are exactly operators/scd.scd2_apply (the overwrite-rebuild
    the oracle checks), restricted to the touched buckets: staged keys
    all hash into them, and SCD2 decisions are per-key, so every other
    bucket's rows are unchanged by construction and their files are
    re-referenced without being read OR rewritten. Surrogate keys use
    the hash strategy (stable under any partitioning; a dense sequence
    would need a global max over the untouched buckets this merge never
    reads). Returns the published manifest, with `touched_buckets` noted.
    """
    from ..operators.scd import scd2_apply

    m = read_manifest(root)
    key, n_buckets = m["key"], m["n_buckets"]
    sk_col = m.get("sk_col", "sk")
    touched = sorted(
        r["__b"]
        for r in staging.select(
            _bucket_col(key, n_buckets).alias("__b")
        ).distinct().collect()
    )  # bounded driver state: <= n_buckets ints
    old_slice = read(spark, root, buckets=touched)
    new_slice = scd2_apply(
        old_slice, staging, key,
        t1_cols=t1_cols, t2_cols=t2_cols, fixed_cols=fixed_cols,
        asof=asof, sk_col=sk_col, sk_strategy="hash",
        date_type=date_type,
    )
    version = _next_version(root)
    files = _write_commit(spark, root, new_slice, key, n_buckets, version)
    buckets = {b: fl for b, fl in m["buckets"].items()
               if int(b) not in set(touched)}
    buckets.update(files)
    manifest = {
        "version": version,
        "parent": m["version"],
        "key": key,
        "n_buckets": n_buckets,
        "sk_col": sk_col,  # spec travels with every manifest (rebucket rule)
        "schema": m["schema"],
        "buckets": buckets,
        "touched_buckets": touched,
        **(manifest_extra or {}),
    }
    _publish(root, manifest)
    return manifest


def rollback(root: str, to_version: int) -> None:
    """Repoint CURRENT at a retained snapshot — data files untouched, so
    this is O(1) and reversible until vacuum drops the newer files."""
    # validate the target exists before flipping the pointer
    read_manifest(root, to_version)
    tmp = _current_path(root) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"version": to_version}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _current_path(root))


def vacuum(spark: SparkSession, root: str, retain_last: int = 2) -> dict:
    """Delete data files referenced by NO retained snapshot. Retained =
    the last `retain_last` manifests on the parent chain from CURRENT
    (time travel keeps working for those); everything else — older
    versions and unreachable half-commits alike — is garbage."""
    head = current_version(root)
    if head is None:
        raise FileNotFoundError(f"no CURRENT snapshot under {root!r}")
    chain: list[dict] = []
    v: int | None = head
    while v is not None and len(chain) < retain_last:
        mf = read_manifest(root, v)
        chain.append(mf)
        v = mf["parent"]
    keep = {p for mf in chain for fl in mf["buckets"].values() for p in fl}
    from .maintenance import _hadoop

    datadir = os.path.join(root, DATA_DIR)
    fs, hpath, jvm = _hadoop(spark, datadir)
    deleted = 0
    it = fs.listFiles(hpath, True)
    doomed = []
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        if p.getName().startswith(("_", ".")):
            continue
        if p.toString() not in keep:
            doomed.append(p)
    for p in doomed:
        fs.delete(p, False)
        deleted += 1
    # drop manifests older than the retained chain (their files are gone)
    retained_versions = {mf["version"] for mf in chain}
    for name in os.listdir(_snap_dir(root)):
        if name.startswith("v") and name.endswith(".json"):
            ver = int(name[1:-5])
            if ver not in retained_versions:
                os.unlink(os.path.join(_snap_dir(root), name))
    return {"deleted_files": deleted, "retained_versions": sorted(retained_versions)}


def changes(
    spark: SparkSession, root: str, from_version: int, to_version: int,
    compare_cols: Sequence[str] | None = None,
    include_values: bool = False,
) -> DataFrame:
    """Change-data-feed read: the keyed row delta between two retained
    snapshots (added / removed / changed + which columns), computed by
    reconcile.snapshot_diff over the two manifests' file sets. With
    `include_values` the delta is APPLICABLE — apply_snapshot_diff
    reconstructs the newer snapshot exactly — so downstream consumers
    can subscribe to table changes without re-reading the table: the
    delta's size tracks the merge's change mass, not the table.

    Keyed on (key, sk): in an SCD2 table the business key recurs across
    versions, and the surrogate key identifies the exact row slice a
    merge closed or opened."""
    from ..operators.reconcile import snapshot_diff

    old = read(spark, root, version=from_version)
    new = read(spark, root, version=to_version)
    m = read_manifest(root, to_version)
    key = m["key"]
    sk_col = m.get("sk_col", "sk")
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in (key, sk_col)]
    return snapshot_diff(
        old, new, [key, sk_col], list(compare_cols),
        include_values=include_values,
    )


def scd2_merge_sink(
    spark: SparkSession, root: str, *,
    t1_cols: Sequence[str] = (), t2_cols: Sequence[str] = (),
    fixed_cols: Sequence[str] = (), asof_base: str = "2024-01-01",
):
    """foreachBatch sink merging each micro-batch into the snapshot table
    with EXACTLY-ONCE EFFECT over Spark's at-least-once delivery.

    The manifest a sink commit publishes carries the epoch id IN the
    committed content (manifest_extra), so the epoch watermark and the
    version become visible in the same atomic pointer flip — the same
    skip rule as streaming/microbatch.py's rollup state machine, here
    enforced by the table format itself: a re-delivered epoch (epoch <=
    the CURRENT manifest's sink_epoch) publishes nothing, a crash
    between merge and publish re-delivers into a clean retry, a crash
    after publish re-delivers into a no-op.

    `asof_base` + epoch days gives each micro-batch a deterministic,
    strictly increasing SCD2 effective date (replays of an epoch reuse
    its date, so retries are also semantically idempotent).

    Usage: `stream.writeStream.foreachBatch(scd2_merge_sink(...))`.
    """
    import datetime

    base = datetime.date.fromisoformat(asof_base)

    def batch_fn(batch_df: DataFrame, epoch: int) -> bool:
        m = read_manifest(root)
        last = m.get("sink_epoch")
        if last is not None and epoch <= last:
            return False  # re-delivered epoch: already folded in
        asof = (base + datetime.timedelta(days=epoch)).isoformat()
        scd2_merge(
            spark, root, batch_df,
            t1_cols=t1_cols, t2_cols=t2_cols, fixed_cols=fixed_cols,
            asof=asof, manifest_extra={"sink_epoch": epoch},
        )
        return True

    return batch_fn


def lookup(
    spark: SparkSession, root: str, keys: Sequence,
    version: int | None = None,
) -> DataFrame:
    """Point-read path: serve a bounded key list by reading ONLY the
    buckets those keys hash into — the table format's answer to
    "fetch these entities" without a full scan (hash bucketing gives
    O(keys/n_buckets) of the table's files, the same pruning the merge
    path uses for writes). The key->bucket map is computed by one tiny
    Spark job over the key list (xxhash64 is a JVM function; the list
    is bounded, so the collect is bounded driver state)."""
    m = read_manifest(root, version)
    key, n_buckets = m["key"], m["n_buckets"]
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    key_type = schema[key].dataType
    kdf = spark.createDataFrame(
        [(k,) for k in keys], T.StructType([T.StructField(key, key_type)])
    )
    buckets = sorted(
        r["__b"]
        for r in kdf.select(
            _bucket_col(key, n_buckets).alias("__b")
        ).distinct().collect()
    )
    slice_df = read(spark, root, version=version, buckets=buckets)
    return slice_df.join(F.broadcast(kdf), key, "left_semi")


def rebucket(spark: SparkSession, root: str, new_n_buckets: int) -> dict:
    """Partition-spec evolution: rewrite the CURRENT snapshot under a
    new bucket count and publish it as a fresh version — the operation
    a table needs when merges started narrow (few keys per batch, small
    n_buckets fine) and the key population outgrew the spec (every
    batch now touches every bucket, so copy-on-write degenerates to
    rewrite-the-world; raising n_buckets restores merge locality).

    Like Iceberg's spec evolution this is metadata-versioned: the new
    manifest carries the new n_buckets and SUBSEQUENT merges pick it up
    from the manifest automatically (scd2_merge reads the spec, it
    never trusts create-time arguments); time travel to pre-rebucket
    versions still reads the old layout because each manifest is
    self-describing. Unlike Iceberg's lazy spec change this rewrites
    eagerly — one full pass — because a mixed-spec bucket listing would
    make touched-bucket discovery spec-dependent per file, complexity a
    single rewrite commit avoids. Rollback undoes it; vacuum reclaims
    whichever layout falls out of retention."""
    m = read_manifest(root)
    if int(new_n_buckets) == int(m["n_buckets"]):
        return m
    snapshot = read(spark, root)
    version = _next_version(root)
    files = _write_commit(
        spark, root, snapshot, m["key"], int(new_n_buckets), version
    )
    manifest = {
        "version": version,
        "parent": m["version"],
        "key": m["key"],
        "n_buckets": int(new_n_buckets),
        "sk_col": m.get("sk_col", "sk"),
        "schema": m["schema"],
        "buckets": files,
        "rebucketed_from": int(m["n_buckets"]),
    }
    _publish(root, manifest)
    return manifest
