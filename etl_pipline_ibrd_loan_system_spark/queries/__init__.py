"""Oracle-checked query catalog — the driver contract surface.

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline operators) registers here as a named query `(spark, sf_dir) ->
DataFrame`, optionally with the ANSI-SQL oracle DuckDB runs on the same
parquet tables. `__spark_entry__.py` re-exports this registry.

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name before
hashing). Float aggregates go through functions.exact so both engines
produce bit-identical doubles.

Registry order is the driver's verification order: the driver checks the
first 50 entries each round and writes CORRECTNESS_rNN.json. load_registry()
sorts by the round of each query's newest CORRECTNESS row when that row is
green, and puts queries with no row or a red newest row first; ties keep
registration order. The driver's first 50 are thus always the
least-recently-verified queries, and the whole registry rotates through
it with no hand-kept schedule.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
REGISTRY_ERRORS: dict[str, str] = {}

# Queries DECLARED non-SQL-expressible (custom stateful streaming,
# iterative algorithms): registering one without an oracle is only legal
# if its name is listed here — selfcheck fails the registry otherwise,
# so an accidentally-dropped oracle can't silently downgrade a query to
# the driver's weaker rows-only check. Currently EVERY query carries an
# oracle; keep it that way unless genuinely impossible.
ROWS_ONLY: frozenset[str] = frozenset()

_CORRECTNESS_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _driver_staleness(repo_root: str | None = None) -> dict[str, int]:
    """Driver-order key per query name with a CORRECTNESS row: the round
    of its NEWEST row if that row is green, else -1. Green means rows and
    schema match and the hash is not False (None = rows-only check).
    Callers give names with no row -1 too, so a red newest row never
    retires a query: it sorts with the never-checked names."""
    import glob
    import json
    import os

    root = repo_root or os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    newest: dict[str, tuple[int, bool]] = {}
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _CORRECTNESS_FILE.fullmatch(os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(f, encoding="utf-8") as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if rnd > newest.get(name, (-1, False))[0]:
                newest[name] = (rnd, (
                    row.get("rows_match") is True
                    and row.get("schema_match") is True
                    and row.get("hash_match") is not False
                ))
    return {n: rnd if green else -1 for n, (rnd, green) in newest.items()}


def query(name: str, sql: str | None = None):
    """Register a query; `sql=None` -> rows-only check (non-SQL-expressible).

    The registered callable releases the PREVIOUS query's cache pins
    (cache.release_pinned) before building its plan — the cleanup hook
    in the driver/bench sequential loop that keeps persisted
    intermediates from accumulating across a session (ADVICE r5)."""

    def deco(fn):
        import functools

        from ..cache import release_pinned

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_pinned()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def registry_lint() -> list[str]:
    """Numbering-collision lint; returns the violations (empty = clean).

    No two registered names may share a numbering code (`dq17_`, `tx17_`
    …): ledger greps and humans key on the code, so a collision silently
    mis-credits driver rows. Letter-suffixed variants (dd3 vs dd3b) are
    distinct codes by construction.

    Call after load_registry() (QUERIES must be populated)."""
    by_code: dict[str, list[str]] = {}
    for n in QUERIES:
        m = re.match(r"^([a-z]+[0-9]+[a-z]*)_", n)
        if m:
            by_code.setdefault(m.group(1), []).append(n)
    return [
        f"numbering collision on '{code}': {sorted(names)} — rename "
        "all but one before a driver row freezes the ambiguity"
        for code, names in by_code.items()
        if len(names) > 1
    ]


def _driver_order(d: dict, repo_root: str | None = None) -> dict:
    """`d` stably sorted by _driver_staleness: never-green and red-newest
    names first, then by the round of the newest green row, oldest first;
    ties keep registration order."""
    stale = _driver_staleness(repo_root)
    return {n: d[n] for n in sorted(d, key=lambda n: stale.get(n, -1))}


def load_registry():
    """Import every query module (side-effect registration).

    A failing module must not silently shrink the registry — the driver
    would then under-report coverage with no error anywhere. EVERY import
    failure (including ImportError) is recorded in REGISTRY_ERRORS and
    printed to stderr; nothing is tolerated silently.

    Returns (QUERIES, ORACLE) ordered by driver staleness (_driver_order):
    a query whose newest CORRECTNESS row is green sorts by that row's
    round, oldest first; a query with no row, or whose newest row is red,
    sorts before all of them; ties keep registration order. The driver's
    50-entry gate therefore always lands on the least-recently-verified
    queries, and the whole registry rotates through it."""
    import sys
    import traceback

    from . import core  # noqa: F401

    for mod in ("star_queries", "measure_queries", "dedup_queries",
                "text_queries", "similarity_queries", "multimodal_queries",
                "stream_queries", "prep_queries", "tpch_queries",
                "tpch_full", "analytics_queries", "udtf_queries", "quality_queries",
                "advanced_queries", "reconcile_queries"):
        try:
            __import__(f"{__name__}.{mod}", fromlist=[mod])
        except Exception:  # noqa: BLE001 — recorded and surfaced, not dropped
            REGISTRY_ERRORS[mod] = traceback.format_exc()
            print(
                f"[queries.load_registry] FAILED to import {mod}:\n"
                f"{REGISTRY_ERRORS[mod]}",
                file=sys.stderr,
            )
    return _driver_order(QUERIES), _driver_order(ORACLE)
