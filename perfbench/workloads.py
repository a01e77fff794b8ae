"""The benchmark's workloads. Each runs in the fresh process `run.py`
starts, calls only the package's public functions on the generated inputs,
and wraps every call into a layer in a tracer span.

A span covers the call and the action that materialises its output (the
parquet write, the snaptable commit, or the collect of a visual), because
the DataFrame calls themselves only build plans.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

import checks
import gen
import procfs
from etl_pipline_ibrd_loan_system_spark.functions import measures
from etl_pipline_ibrd_loan_system_spark.plans import loan_pipeline as lp
from etl_pipline_ibrd_loan_system_spark.plans.corpus_pipeline import run_corpus_pipeline
from etl_pipline_ibrd_loan_system_spark.sources import paged_source, rest_datasource, snaptable
from tracer import SESSION_SPAN, Tracer

# a twentieth of the reference's 50k-row page (pyspark_dag2.py:38): the
# cold costs this benchmark exposes barely depend on the page size, and a
# cold run of the chain already takes about 45 s on 4 vCPUs
PAGE_ROWS = 2_500
BACKFILL_PAGES = 4
INCREMENTS = 1
CORPUS_DOCS = 2_000
BACKFILL_ASOF = "2024-07-01"
YEARS = (2011, 2024)

# two of the report pages' visuals (SURVEY §3 entry point 4): group
# attributes, measures, the slicer each takes, and the sort measure. The
# cards carry 9 measures with 3 COUNT DISTINCTs; the country page joins a
# dimension whose T2 renames left closed versions the fact still points at.
SHAPES = {
    "cards": ([], ["loans", "number_of_loans", "loan_amount", "disbursed_amount", "repaid",
                   "due1", "average_interest_rate", "guarantors", "borrowers"], "year", None),
    "country": (["country"], ["loan_amount", "number_of_loans", "borrowers", "guarantors"],
                "region", "loan_amount"),
}
# dimension holding each attribute a visual groups or slices by
ATTR_DIMS = {"country": "country", "region": "region"}


@dataclass
class Context:
    seed: int
    work: str
    cache: str
    tracer: Tracer
    checks: checks.Checks = field(default_factory=checks.Checks)
    spark: object = None
    record: dict = field(default_factory=dict)
    run_s: float = 0.0
    run_cpu_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def timed(self, label: str):
        """One section of the timed body: its wall time and the CPU seconds
        of this process tree (driver, JVM, Python workers) are added to the
        run's totals and kept per section in the record."""
        w, c = time.perf_counter(), procfs.tree_cpu_s(os.getpid())
        yield
        w, c = time.perf_counter() - w, procfs.tree_cpu_s(os.getpid()) - c
        self.run_s += w
        self.run_cpu_s += c
        self.record.setdefault("sections", []).append({"label": label, "wall_s": w, "cpu_s": c})

    def start_session(self) -> float:
        """Start the package's session and run a first job; returns the
        wall time."""
        t = time.perf_counter()
        with self.tracer.span(SESSION_SPAN) as s:
            from etl_pipline_ibrd_loan_system_spark.session import get_session

            self.spark = get_session("perfbench")
            self.spark.range(1).count()
        self.tracer.attach(self.spark, s)
        return time.perf_counter() - t


def _asof(k: int) -> str:
    """Increment k lands on its own day, so every SCD2 version it opens has
    a distinct validity start."""
    return f"2024-07-{1 + k:02d}"


def run_backfill(ctx: Context, inputs: gen.LoanInputs, out: str) -> None:
    """Pages -> raw parquet -> staging -> 7-dim snaptable star -> fact."""
    spark, tr = ctx.spark, ctx.tracer
    raw, staging, wh, fact = (os.path.join(out, d) for d in ("raw", "staging", "wh", "fact"))
    with tr.span("rest_datasource.read_pages"):
        rest_datasource.read_pages(
            spark, inputs.jsonl_dir, inputs.n_backfill_pages, gen.raw_schema_ddl()
        ).write.parquet(raw)
    u = gen.universe()
    with tr.span("loan_pipeline.run_clean_pipeline"):
        lp.run_clean_pipeline(spark.read.parquet(raw), u.maps, u.bk_maps).write.parquet(staging)
    st = spark.read.parquet(staging)
    with tr.span("loan_pipeline.init_star_snaptable") as s:
        manifests = lp.init_star_snaptable(spark, st, BACKFILL_ASOF, wh)
        s.own.update(_snaptable_counts(manifests, touched_only=False))
    with tr.span("loan_pipeline.build_fact_loan"):
        lp.build_fact_loan(st, lp.load_star_snaptable(spark, st, wh)).write.parquet(fact)


def _snaptable_counts(manifests: dict, touched_only: bool) -> dict:
    """Buckets and files a snaptable commit wrote, summed over the dims,
    from the manifests the package returns."""
    buckets = files = 0
    for m in manifests.values():
        written = ({str(b) for b in m.get("touched_buckets", ())} if touched_only
                   else set(m["buckets"]))
        buckets += len(written)
        files += sum(len(fl) for b, fl in m["buckets"].items() if b in written)
    return {"touched_buckets": buckets, "files_written": files}


# --------------------------------------------------------------------------
# etl_chain: the backfill, then hourly increments and dashboard refreshes


def _visuals(rng: random.Random, clean: list[dict]) -> list[dict]:
    """One visual per shape with seeded slicer values, drawn from values
    present in the data so no visual is empty."""
    a = rng.randint(YEARS[0], YEARS[1] - 3)
    slicers = {"year": {"year_range": (a, rng.randint(a + 2, YEARS[1])), "slicers": {}},
               "region": {"year_range": None,
                          "slicers": {"region": rng.choice(sorted({r["region"] for r in clean}))}}}
    return [{"group_by": g, "measures": ms, "order_by": order, **slicers[slicer]}
            for g, ms, slicer, order in SHAPES.values()]


def run_visual(spark, fact, wh: str, visual: dict) -> list:
    """One visual: the fact joined on FK = PK to each dimension it groups or
    slices by, then `measures.dashboard_query`, collected."""
    frame = (fact.withColumn("year", (F.col("end_of_period_sk") / 10000).cast("int"))
             .withColumnRenamed("loan_number", "pk_loan_number_sk"))
    for attr in [*visual["group_by"], *visual["slicers"]]:
        if attr in ATTR_DIMS:
            dim = ATTR_DIMS[attr]
            d = snaptable.read(spark, os.path.join(wh, f"dim_{dim}")).select(
                F.col(f"pk_{dim}_sk").alias(f"__pk_{dim}"), attr)
            frame = frame.join(d, frame[f"fk_{dim}"] == d[f"__pk_{dim}"])
    return measures.dashboard_query(
        frame, visual["group_by"], visual["measures"],
        year_col="year" if visual["year_range"] else None,
        year_range=visual["year_range"], slicers=visual["slicers"],
        order_by_measure=visual["order_by"],
    ).collect()


def run_increment(ctx: Context, ingest, inputs: gen.LoanInputs, k: int, wh: str,
                  fact_dir: str, visuals: list[dict]) -> tuple[int, list]:
    """One hourly run: land page k, clean it, merge it into the 7 SCD2
    dimensions, append its fact rows, refresh the visuals. Returns the
    pages ingested and the collected visuals."""
    spark, tr = ctx.spark, ctx.tracer
    u = gen.universe()
    with tr.span("paged_source.IncrementalPagedIngest.run"):
        pages = ingest.run(spark, max_pages=1)
    landed = os.path.join(ctx.path("landing"), f"page={inputs.json_page_offset(k)}")
    with tr.span("loan_pipeline.run_clean_pipeline"):
        lp.run_clean_pipeline(spark.read.parquet(landed), u.maps, u.bk_maps) \
            .write.parquet(ctx.path(f"staging{k}"))
    st = spark.read.parquet(ctx.path(f"staging{k}"))
    with tr.span("loan_pipeline.apply_star_increment_snaptable") as s:
        manifests = lp.apply_star_increment_snaptable(spark, st, _asof(k), wh)
        s.own.update(_snaptable_counts(manifests, touched_only=True))
    with tr.span("loan_pipeline.build_fact_loan"):
        lp.build_fact_loan(st, lp.load_star_snaptable(spark, st, wh)) \
            .write.mode("append").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    results = []
    for v in visuals:
        with tr.span("measures.dashboard_query") as s:
            rows = run_visual(spark, fact, wh, v)
            s.own["rows_out"] = len(rows)
        results.append(rows)
    return pages, results


def etl_chain(ctx: Context) -> float:
    from tests.test_loan_pipeline import RAW_SCHEMA

    inputs = gen.prepare_loans(ctx.cache, ctx.seed, backfill_pages=BACKFILL_PAGES,
                               increments=INCREMENTS, page_rows=PAGE_ROWS)
    plan, c = inputs.plan, ctx.checks
    rng = random.Random(ctx.seed)
    setup = ctx.start_session()
    out = ctx.path("out")
    wh, fact_dir = os.path.join(out, "wh"), os.path.join(out, "fact")
    ops = (["landing", "staging", "fact"]
           + [f"increment{k}" for k in range(1, INCREMENTS + 1)]
           + [f"visual{k}.{i}" for k in range(1, INCREMENTS + 1)
              for i in range(len(SHAPES))]
           + ["star_v1", "warehouse"])
    try:
        with ctx.timed("backfill"):
            run_backfill(ctx, inputs, out)
    except Exception:
        c.skipped(ops, "backfill raised")
        raise
    # DuckDB-only checks between steps, so no check runs a Spark job
    # inside the timed chain; the dimension checks read snapshots at the end
    c.record("landing", checks.eq("raw rows", checks.parquet_rows(os.path.join(out, "raw")),
                                   sum(map(len, plan.backfill_pages))))
    c.record("staging", checks.check_staging(os.path.join(out, "staging"), plan.backfill_clean))
    c.record("fact", checks.check_fact(fact_dir, plan.backfill_clean))
    fetcher = paged_source.http_json_page_fetcher(
        "file://" + os.path.abspath(inputs.json_dir) + "/page-{offset}.json", RAW_SCHEMA)
    ingest = paged_source.IncrementalPagedIngest(
        fetcher, ctx.path("landing"),
        paged_source.OffsetStore(ctx.path("offset.json"), initial=inputs.json_page_offset(1)),
        limit=PAGE_ROWS)
    clean_so_far = list(plan.backfill_clean)
    for k in range(1, INCREMENTS + 1):
        expect = plan.increment_clean[k - 1]
        visuals = _visuals(rng, clean_so_far + expect)
        fact_before = checks.parquet_rows(fact_dir)
        try:
            with ctx.timed(f"increment{k}"):
                pages, results = run_increment(ctx, ingest, inputs, k, wh, fact_dir, visuals)
        except Exception:
            c.skipped(ops[3 + k - 1:], f"increment{k} raised")
            raise
        clean_so_far += expect
        landed = os.path.join(ctx.path("landing"), f"page={inputs.json_page_offset(k)}")
        c.record(f"increment{k}", checks.eq("pages ingested", pages, 1)
                 + checks.eq("landed rows", checks.parquet_rows(landed),
                              len(plan.increment_pages[k - 1]))
                 + checks.check_staging(ctx.path(f"staging{k}"), expect)
                 + checks.eq("fact rows appended",
                              checks.parquet_rows(fact_dir) - fact_before, len(expect)))
        gt = duckdb.connect()
        gt.register("gt", checks.clean_table(clean_so_far))
        for i, (v, rows) in enumerate(zip(visuals, results)):
            c.record(f"visual{k}.{i}", checks.check_visual(gt, v, rows))
    c.record("star_v1", checks.check_star(ctx.spark, wh, plan.backfill_clean, 0, version=1))
    c.record("warehouse", checks.check_star(ctx.spark, wh, clean_so_far,
                                            sum(map(len, plan.t2_renames)))
             + checks.check_fact(fact_dir, clean_so_far))
    return setup


# --------------------------------------------------------------------------
# corpus_prep


def corpus_prep(ctx: Context) -> float:
    ci = gen.prepare_corpus(ctx.cache, ctx.seed, CORPUS_DOCS)
    setup = ctx.start_session()
    spark, tr = ctx.spark, ctx.tracer
    deduped, packed = ctx.path("deduped"), ctx.path("packed")
    try:
        with ctx.timed("corpus"):
            docs = spark.read.parquet(ci.docs_path)
            bench = docs.where(F.col("doc_id").isin(ci.bench_ids)).select("doc_id", "text")
            with tr.span("corpus_pipeline.run_corpus_pipeline"):
                out = run_corpus_pipeline(docs, bench, decontaminate_n=5)
            with tr.span("corpus_pipeline.write_outputs"):
                out["deduped"].write.parquet(deduped)
                out["packed"].write.parquet(packed)
    except Exception:
        ctx.checks.skipped(["deduped", "packed"], "corpus pipeline raised")
        raise
    ctx.checks.record("deduped", checks.check_corpus_deduped(deduped, ci.docs_path, ci.dups))
    ctx.checks.record("packed", checks.check_corpus_packed(packed, deduped, ci.bench_ids))
    return setup


WORKLOADS = {
    "etl_chain": etl_chain,
    "corpus_prep": corpus_prep,
}
