"""Headline benchmark — one JSON line for the driver (BASELINE.md contract).

Runs the representative query set at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Each query executes to completion via the
`noop` sink (full computation, no driver-side result transfer) four
times: a cold pass (JIT + first-touch I/O, reported as `cold_value`)
and three steady-state passes on freshly built plans. Each pass goes
through the measurement core (`measure.run_pass`), which also reports
the pass's jobs, stages, shuffle and spill. Per-query min is
the headline (damps shuffle jitter; summed as `value`); the median is
reported alongside (`queries_median` / `median_value`) so cross-round
noise is self-evident, and `loadavg_start` / `loadavg_end` record machine
contention at run start AND after the last query (a multi-minute run
can drift).

LOAD GATE (VERDICT r5, tightened per VERDICT r6 item 7: threshold 2.5
let a 16.5s loaded run become official while the quiet truth was
14.0s; made FAIL-CLOSED per VERDICT r10 item 3: the r10 official
number was stamped after the 480 s budget expired with 5-min load
still 1.84): before measuring, wait for max(1-min, 5-min) loadavg to
fall below $SPARK_GRAFT_LOAD_GATE (default 1.5), polling every 15 s
up to $SPARK_GRAFT_LOAD_WAIT seconds (default 480), then — instead of
giving up — keep waiting in 60 s sleeps up to a further
$SPARK_GRAFT_LOAD_WAIT_HARD seconds (default 2400; the r9/r10 quiet
companion runs prove this box does go quiet well inside that). Only
if the HARD budget also expires does the run proceed — the driver
must always get its JSON line — and then the artifact self-labels
`"official": false` alongside `load_gate.exceeded: true`, so an
exceeded-gate run can never silently become the round's headline
record.

MIN-OF-N SWEEPS (VERDICT r6 item 7): steady-state passes run as TWO
full time-separated sweeps over the whole headline set (2 passes per
query each), and the headline is the per-query min across all 4. A
load spike localized in time now has to span BOTH sweeps (minutes
apart) to inflate a query's min — the r5/r6 "regressions" that turned
out to be ambient load would have been damped to noise. Output:

    {"metric": "...", "value": <steady total sec>, "unit": "sec",
     "queries": {...per-query min sec...},
     "median_value": <steady median total>, "queries_median": {...},
     "cold_value": <cold total sec>, "queries_cold": {...},
     "queries_profile": {name: {"jobs", "stages", "skipped_stages",
                                "shuffle_write_mb", "spill_mb"}},
     "loadavg": [1m, 5m, 15m at start],
     "loadavg_end": [1m, 5m, 15m after the loop],
     "load_gate": {"threshold": 2.5, "waited_sec": N, "exceeded": bool},
     "sf": 0.1}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per capability family (SURVEY.md §2 + training-data ops).
HEADLINE = [
    "q1_pricing_summary",     # flagship agg (D2/D3/E2 shape)
    "b1_isin_snapshot_filter",  # scan + pushed-down predicate (B1)
    "c2_lookup_cascade",      # star-join SK cascade (C2, loan_fact shape)
    "c3_role_playing_dates",  # role-playing date dim x4 (C3)
    "e1b_forward_fill_scalable",  # partitioned window fill (E1 scale path)
    "g1_scd2_apply",          # SCD2 merge rebuild (§2.G)
    "m6_dashboard_visual",    # measure layer over the star (D2-D7)
    "dd1_exact_dedup",        # exact dedup hash-groupBy
    # Near-dup headline entries are the PRODUCTION collapse twins
    # (VERDICT r8 item 2 / next-round #3): exact-collapse first, banded
    # LSH over the collapsed survivors — the plan you'd run at 100×.
    # The raw pair-enumeration forms (dd3_minhash_lsh,
    # dd7_embedding_lsh_neardup) stay registered + oracle-checked as
    # labeled exactness baselines; SCALE.md proves them quadratic under
    # copy mass at sf10, so the tracked number is no longer theirs.
    # One overlap run with BOTH raw and twin entries is recorded as
    # BENCH_r09_overlap.json for trend continuity.
    "dd3b_neardup_after_exact_collapse",  # MinHash+LSH on collapsed survivors
    "dd5_simhash_near_pairs",  # SimHash banded near-dup (pigeonhole-exact)
    "dd7b_vector_dedup_collapsed",  # hyperplane-LSH cosine on collapsed
    "sm1_cosine_topk",            # exact ANN baseline
    "sm2_ivf_topk",               # IVF ANN scale path
    "tx2_quality_score",          # text quality signals
    "tx4_doc_fingerprint",        # rolling-hash fingerprint
    "mm2_decode_stats",           # Arrow mapInPandas decode path
    "h1_tumbling_window_batch",   # event-time tumbling window agg
    "h3_session_window_batch",    # gap-based session windows
]


def _load_gate() -> dict:
    """Block (bounded) until the machine is quiet enough to measure.

    Gates on BOTH the 1-minute and 5-minute averages (VERDICT r9
    item 1): the r9 official number was stamped at 1-min 1.4 while the
    5-min average was 7.82 and climbing — a mid-burst lull. Requiring
    max(1m, 5m) under threshold means an official number can never be
    taken inside a decaying or incoming load spike. `loadavg_end`
    being high afterwards is normal (bench's own local[32] run drives
    it to ~7-10) — the gate is about a quiet START.

    FAIL-CLOSED (VERDICT r10 item 3): after the 15 s-poll soft budget
    ($SPARK_GRAFT_LOAD_WAIT, default 480 s) expires, the gate does NOT
    proceed - it keeps waiting in 60 s sleeps up to a further hard
    budget ($SPARK_GRAFT_LOAD_WAIT_HARD, default 2400 s). Proceeding
    with `exceeded: true` is now the double-expiry last resort, and
    main() marks such a run `official: false`."""
    threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1.5"))
    max_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "480"))
    hard_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_HARD", "2400"))
    waited = 0.0
    while max(os.getloadavg()[:2]) > threshold:
        if waited >= max_wait + hard_wait:
            break  # double expiry: proceed, self-labeled non-official
        step = 15 if waited < max_wait else 60
        time.sleep(step)
        waited += step
    la = os.getloadavg()
    return {
        "threshold": threshold,
        "waited_sec": round(waited),
        "soft_budget_sec": round(max_wait),
        "hard_budget_sec": round(max_wait + hard_wait),
        "gated_on": "max(loadavg_1m, loadavg_5m)",
        "loadavg_1m_at_start": round(la[0], 2),
        "loadavg_5m_at_start": round(la[1], 2),
        "exceeded": max(la[:2]) > threshold,
    }


def _steal_ticks() -> int | None:
    """Hypervisor steal time (ticks) from /proc/stat — host contention
    the load gate CANNOT see (optimization r11: three same-code official
    runs spanned 11.9-19.0 s with the gate green each time; sampling
    steal found ~95 stolen CPU-seconds inside one 122 s run). None when
    the platform does not expose it."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])  # cpu user nice system idle iowait irq softirq STEAL
    except Exception:  # pragma: no cover - non-Linux
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0.1)
    gate = _load_gate()
    steal0 = _steal_ticks()
    t_run0 = time.perf_counter()

    from etl_pipline_ibrd_loan_system_spark.session import get_session

    spark = get_session("bench")
    # Echo the session's ACTUAL parallelism contract (VERDICT r11 item 2:
    # the artifact couldn't prove $SPARK_GRAFT_CPUS was honored, so the
    # driver's scaling heuristic false-flagged a compliant run): the
    # resolved master string and sc.defaultParallelism come from the live
    # SparkContext, not from re-reading the env.
    resolved_master = spark.sparkContext.master
    default_parallelism = spark.sparkContext.defaultParallelism
    from etl_pipline_ibrd_loan_system_spark.session import (
        silence_bounded_window_warn,
    )

    # shared structural silencer (VERDICT r7 item 6 / r8 item 5) — see
    # session.silence_bounded_window_warn for the audit rationale
    silence_bounded_window_warn(spark)
    import __spark_entry__ as entrymod
    from etl_pipline_ibrd_loan_system_spark.measure import (
        STAGE_METRICS,
        run_pass,
    )

    qs = entrymod.queries()
    all_passes: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    load_start = os.getloadavg()
    live = [n for n in HEADLINE if n in qs]
    profile: dict[str, dict] = {}
    # Sweep 0 starts with the cold pass per query (whole-stage-codegen
    # JIT + first-touch parquet decode — one-time JVM costs, 3-5x steady
    # state at sf0.1, reported separately), then 2 steady passes on
    # freshly built plans (nothing cached survives — each query persists
    # only within its own lineage). Sweep 1 re-measures every query 2
    # more times AFTER the whole set has gone around once: the per-query
    # min across both sweeps is immune to a load spike unless it spans
    # the entire run. A pass's time is its plan build plus its noop
    # write (measure.run_pass); cache drops and metric reads fall outside.
    for sweep in range(2):
        for name in live:
            fn = qs[name]
            if sweep == 0:
                rec = run_pass(spark, fn, sf_dir)
                cold[name] = round(rec["build_s"] + rec["exec_s"], 3)
            for _ in range(2):
                rec = run_pass(spark, fn, sf_dir)
                all_passes.setdefault(name, []).append(
                    rec["build_s"] + rec["exec_s"]
                )
            profile[name] = {k: rec[k] for k in STAGE_METRICS}
    timings = {}
    medians = {}
    for name, passes in all_passes.items():
        passes.sort()
        timings[name] = round(passes[0], 3)
        medians[name] = round(passes[len(passes) // 2], 3)

    # Steal verdict (r11): stolen CPU beyond 0.5% of the run's total CPU
    # capacity (wall x cpus x 100 ticks/s) means the hypervisor was
    # de-scheduling our vCPUs mid-run — the measurement is contaminated
    # in a way loadavg cannot show (measured skew: +25-60% per query at
    # ~2.4% steal). Such a run self-labels non-official, exactly like an
    # exceeded load gate.
    steal1 = _steal_ticks()
    wall = time.perf_counter() - t_run0
    steal = None if steal0 is None or steal1 is None else steal1 - steal0
    # budget sized by the SESSION's cores (r12; was os.cpu_count()): a
    # reduced-core run (local[8]) must not get a 32-core steal allowance
    steal_budget = int(0.005 * wall * default_parallelism * 100)
    steal_clean = steal is None or steal <= steal_budget

    print(
        json.dumps(
            {
                "metric": "headline_query_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "median_value": round(sum(medians.values()), 3),
                "queries_median": medians,
                "cold_value": round(sum(cold.values()), 3),
                # per-query cold passes (VERDICT r10 item 7: cold_value
                # drifted 36->39 s across rounds with no per-query
                # attribution — this names the movers; cold-min ≈ JIT +
                # whole-stage-codegen compile + first-touch I/O, paid
                # once per JVM per generated class)
                "queries_cold": cold,
                # the last steady pass's Spark work per query: jobs,
                # executed and skipped stages, shuffle write and spill
                # (MB = 1e6 bytes), read from the JVM status store
                "queries_profile": profile,
                # parallelism proof (r12): what the session actually ran
                "master": resolved_master,
                "default_parallelism": default_parallelism,
                "loadavg": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "load_gate": gate,
                "steal": {
                    "ticks": steal,
                    "budget_ticks": steal_budget,
                    "clean": steal_clean,
                },
                # Fail-closed contract (VERDICT r10 item 3, extended by
                # r11's steal finding): a run that started with the gate
                # still exceeded OR that lost >0.5% of its CPU capacity
                # to hypervisor steal self-labels as non-official — it
                # must never be read as the round's headline record.
                "official": (not gate["exceeded"]) and steal_clean,
                "sweeps": 2,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
