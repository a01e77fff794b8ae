"""bench.py is a driver contract: one JSON line with a fixed key set.
This guards the schema (the r7 two-sweep restructure must not have
changed what the driver parses) without paying for an sf0.1 run —
the HEADLINE set executes at sf0.001 through the same code path."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_emits_contract_json_line():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_LOAD_GATE="999",  # never wait in the suite
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True, text=True, env=env, timeout=900,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith('{"metric"')]
    assert len(lines) == 1, f"expected exactly one JSON line, got {lines}"
    d = json.loads(lines[0])
    for key in ("metric", "value", "unit", "queries", "median_value",
                "queries_median", "cold_value", "loadavg", "loadavg_end",
                "load_gate", "official", "sweeps", "sf"):
        assert key in d, f"missing contract key {key}"
    # gate released (threshold 999) -> officialness is decided by the
    # steal gate alone. The suite cannot demand the hypervisor behaved
    # during the run (r12: ambient steal flipped this to False on a
    # green tree), so assert the self-labeling CONTRACT instead: the
    # flag must equal "gate clean AND steal clean", never be stamped
    # official while either gate tripped.
    assert d["load_gate"]["exceeded"] is False
    assert d["official"] == (d["steal"]["ticks"] is None or d["steal"]["clean"])
    assert d["metric"] == "headline_query_wall_sec"
    assert d["unit"] == "sec"
    assert d["sweeps"] == 2
    assert d["queries"] and set(d["queries"]) == set(d["queries_median"])
    # value is the sum of per-query minima
    assert abs(d["value"] - round(sum(d["queries"].values()), 3)) < 0.01
    # every min <= its median (4 passes, sorted)
    for name, v in d["queries"].items():
        assert v <= d["queries_median"][name] + 1e-9, name
    # parallelism proof (r12): the artifact echoes the live session's
    # master + defaultParallelism so the driver's scaling check can see
    # $SPARK_GRAFT_CPUS was honored without trusting the env
    assert d["master"].startswith("local["), d["master"]
    assert d["default_parallelism"] >= 1
    # per-query Spark work from the measurement core (last steady pass)
    assert set(d["queries_profile"]) == set(d["queries"])
    for name, prof in d["queries_profile"].items():
        assert prof["jobs"] >= 1 and prof["stages"] >= 1, (name, prof)


def test_headline_near_dup_entries_are_the_collapse_twins():
    """VERDICT r8 item 2/3: the tracked bench number must measure the
    production near-dup plans (exact-collapse twins), with the raw
    pair-enumeration forms kept only as registered labeled baselines."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import HEADLINE

    assert "dd3b_neardup_after_exact_collapse" in HEADLINE
    assert "dd7b_vector_dedup_collapsed" in HEADLINE
    assert "dd3_minhash_lsh" not in HEADLINE
    assert "dd7_embedding_lsh_neardup" not in HEADLINE


def test_twin_set_bar_is_recorded_in_baseline():
    """VERDICT r9 item 3: from r10 on, the ≤2x contract is judged
    against the TWIN-set bar (15.919 s, the r9 load-gated quiet run of
    the headline actually benched), kept alongside the historical r1
    raw-set bar (14.668 s). Pin both numbers so a BASELINE.md edit
    that moves a bar is a visible, deliberate act."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BASELINE.md"), encoding="utf-8") as fh:
        text = fh.read()
    assert "14.668" in text  # r1 raw-set bar, historical
    assert "15.919" in text  # twin-set bar, ongoing reference
    assert "twin-set bar" in text


def test_load_gate_covers_the_5min_average():
    """VERDICT r9 item 1: the r9 official number was stamped at 1-min
    load 1.4 while the 5-min average was 7.82 — the gate must require
    BOTH averages under threshold so an official number can never be
    taken mid-burst."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib

    import bench

    importlib.reload(bench)
    import unittest.mock as mock

    calls = iter([
        (0.2, 9.0, 5.0),   # quiet 1m, loaded 5m -> must wait
        (0.2, 0.3, 5.0),   # both quiet -> release
        (0.2, 0.3, 5.0),   # final read for the report
    ])
    with mock.patch.object(bench.os, "getloadavg", lambda: next(calls)), \
         mock.patch.object(bench.time, "sleep", lambda s: None):
        gate = bench._load_gate()
    assert gate["exceeded"] is False
    assert gate["waited_sec"] > 0          # it DID wait on the 5-min avg
    assert gate["gated_on"] == "max(loadavg_1m, loadavg_5m)"


def test_load_gate_fail_closed_keeps_waiting_past_soft_budget():
    """VERDICT r10 item 3: soft-budget expiry must NOT release the gate
    onto a loaded box — the gate switches to 60 s sleeps and keeps
    waiting (up to the hard budget) until the box is actually quiet."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib
    import unittest.mock as mock

    import bench

    importlib.reload(bench)
    # soft budget 30 s -> two 15 s polls, then 60 s fail-closed sleeps
    calls = iter([
        (9.0, 9.0, 9.0),   # loaded -> sleep 15 (waited 0 < 30)
        (9.0, 9.0, 9.0),   # loaded -> sleep 15 (waited 15 < 30)
        (9.0, 9.0, 9.0),   # loaded -> soft budget spent -> sleep 60
        (0.2, 0.3, 5.0),   # quiet -> release
        (0.2, 0.3, 5.0),   # final read for the report
    ])
    slept: list[float] = []
    with mock.patch.dict(bench.os.environ,
                         {"SPARK_GRAFT_LOAD_WAIT": "30",
                          "SPARK_GRAFT_LOAD_WAIT_HARD": "2400"}), \
         mock.patch.object(bench.os, "getloadavg", lambda: next(calls)), \
         mock.patch.object(bench.time, "sleep", slept.append):
        gate = bench._load_gate()
    assert gate["exceeded"] is False       # released only when quiet
    assert slept == [15, 15, 60]           # fail-closed long sleeps kicked in
    assert gate["waited_sec"] == 90


def test_load_gate_double_expiry_is_labeled_exceeded():
    """Only a DOUBLE budget expiry (soft + hard) lets the run proceed,
    and then `exceeded` must be True so main() stamps official: false."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import importlib
    import unittest.mock as mock

    import bench

    importlib.reload(bench)
    with mock.patch.dict(bench.os.environ,
                         {"SPARK_GRAFT_LOAD_WAIT": "15",
                          "SPARK_GRAFT_LOAD_WAIT_HARD": "60"}), \
         mock.patch.object(bench.os, "getloadavg",
                           lambda: (9.0, 9.0, 9.0)), \
         mock.patch.object(bench.time, "sleep", lambda s: None):
        gate = bench._load_gate()
    assert gate["exceeded"] is True
    assert gate["waited_sec"] == 75        # 15 soft + 60 hard, then break
    assert gate["hard_budget_sec"] == 75
