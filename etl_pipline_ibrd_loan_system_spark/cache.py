"""Session-scoped persist registry (ADVICE r5: mm6's `blocked.persist()`
and the dedup diamond-DAG persists were never unpersisted, so cached
partitions accumulated for the rest of a driver/bench session).

Operators that persist an intermediate because their DAG references it
twice (shingle sets, LSH signatures, normalized vectors) call `pin`
instead of `persist`. Pins are registered here and released by
`release_pinned` — the query registry invokes it at the START of every
query call, so in the driver's sequential query loop at most one
query's pins are cached at a time (the previous query's result has been
materialized by then; unpersisting a never-materialized pin is a no-op).

Storage level is MEMORY_AND_DISK for every pin: bounded memory (spills,
never recomputes), which is also the 100 TB-correct level — see the
minhash_dedup_pairs rationale.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """persist + register for deferred release."""
    df.persist(level)
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every registered pin (best-effort: a pin whose
    SparkSession has stopped is dropped silently). Returns the number
    of pins released."""
    n = len(_PINNED)
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
        except Exception:  # session gone / already unpersisted
            pass
    return n
