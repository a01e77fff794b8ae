"""Tests of the benchmark's own parts: the seeded generator, the span
arithmetic, and BENCHMARK.json against what run.py prints.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402

SIZES = {"backfill_pages": 2, "increments": 1, "page_rows": 500}


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_same_seed_gives_byte_identical_pages(tmp_path):
    one = gen.prepare_loans(str(tmp_path / "a"), 7, **SIZES)
    two = gen.prepare_loans(str(tmp_path / "b"), 7, **SIZES)
    other = gen.prepare_loans(str(tmp_path / "c"), 8, **SIZES)
    assert _same_tree(one.root, two.root)
    assert not filecmp.cmp(os.path.join(one.jsonl_dir, "page-1.jsonl"),
                           os.path.join(other.jsonl_dir, "page-1.jsonl"), shallow=False)
    c1 = gen.prepare_corpus(str(tmp_path / "a"), 7, 200)
    c2 = gen.prepare_corpus(str(tmp_path / "b"), 7, 200)
    assert filecmp.cmp(c1.docs_path, c2.docs_path, shallow=False)
    assert c1.bench_ids == c2.bench_ids and c1.dups == c2.dups


def test_loan_plan_shape():
    plan = gen.loan_plan(3, backfill_pages=4, increments=2, page_rows=2000)
    raw = [r for p in plan.backfill_pages for r in p]
    assert [len(p) for p in plan.backfill_pages] == [2000] * 4
    assert all(len(r) == len(gen.raw_field_names()) for r in raw)
    off = sum(not r[0].startswith("30-Jun-") for r in raw) / len(raw)
    assert 0.05 < off < 0.09
    assert len(plan.backfill_clean) == sum(r[0].startswith("30-Jun-") for r in raw)
    # project names are constant per loan, so the forward fill is order-free
    names: dict = {}
    for r in raw:
        assert names.setdefault(r[1], r[13]) == r[13]
    nulls = sum(v is None for v in names.values()) / len(names)
    assert 0.05 < nulls < 0.15
    assert all(r["project_name_"] is not None for r in plan.backfill_clean)
    # every increment issues its edits on countries it stages
    for page, t2, t1 in zip(plan.increment_clean, plan.t2_renames, plan.t1_edits):
        staged = {r["country_bk"] for r in page}
        assert len(t2) == gen.T2_RENAMES_PER_INCREMENT and len(t1) == gen.T1_EDITS_PER_INCREMENT
        assert {c + 1 for c in t2 + t1} <= staged


def test_renames_keep_their_business_key():
    u = gen.universe()
    for c in u.countries:
        assert u.bk_maps["country"][c.name.lower()] == \
            u.bk_maps["country"][gen.renamed(c.name).lower()]
        assert u.maps["country"][c.misspelling.lower()] == c.name.lower()
    assert len(u.countries) == gen.N_COUNTRIES
    assert len(gen.REGIONS) == 7 and len(gen.STATUSES) == 10 and len(gen.LOAN_TYPES) == 8


def _span(name, start, end, parent=None, **counters):
    s = tracer.Span(name, start, end, parent=parent, counters=counters)
    if parent is not None:
        parent.children.append(s)
    return s


def test_self_time_subtracts_the_union_of_children():
    root = _span("root", 0.0, 10.0)
    _span("a", 1.0, 3.0, root)
    _span("b", 2.0, 5.0, root)      # overlaps a: [1, 5] counted once
    _span("c", 7.0, 8.0, root)
    _span("d", 9.5, 12.0, root)     # clipped to the parent's end
    assert tracer.self_time(root) == 10.0 - 4.0 - 1.0 - 0.5
    leaf = root.children[0]
    assert tracer.self_time(leaf) == 2.0


def test_exclusive_counters_and_per_layer_sums():
    root = _span("loan_pipeline.build_fact_loan", 0.0, 4.0, jit_ms=100, gc_ms=10,
                 codegen_classes=5, codegen_ns=2e6)
    _span("measures.dashboard_query", 1.0, 2.0, root, jit_ms=30, gc_ms=4,
          codegen_classes=2, codegen_ns=1e6)
    root.own = {"executor_run_s": 6.0, "jobs": 3}
    t = tracer.Tracer(traced=False)
    t.roots.append(root)
    out = t.per_layer(cores=4)
    assert out["loan_pipeline.build_fact_loan.wall_s"] == 3.0
    assert out["loan_pipeline.build_fact_loan.jit_ms"] == 70
    assert out["loan_pipeline.build_fact_loan.codegen_ms"] == 1.0
    assert out["loan_pipeline.build_fact_loan.idle_core_s"] == 3.0 * 4 - 6.0
    assert out["measures.dashboard_query.wall_s"] == 1.0
    assert out["corpus_pipeline.run_corpus_pipeline.wall_s"] == 0.0


def test_benchmark_json_matches_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        b = json.load(fh)
    assert [m["name"] for m in b["per_layer"]] == tracer.per_layer_names()
    assert all(m["unit"] == run._unit(m["name"]) for m in b["per_layer"])
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    import workloads

    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
