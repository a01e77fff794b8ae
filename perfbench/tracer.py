"""Outside-in tracing: spans around the benchmark's calls into each layer.

A span covers one public call of the package and the action that
materialises its output. With tracing on, each span sets its own Spark job
group, so the stage metrics the JVM status store keeps for that group are
the span's own work (a child span sets its own group while it runs and
hands the parent's back when it closes). JVM-wide counters (codegen, JIT,
GC) are read at both ends of a span; a span's own share is its delta minus
its children's deltas. Self wall time is the span's duration minus the part
of it its children cover.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

# counters every traced span carries; the session span carries the subset
# a session start has (it runs before any job group can be set)
SPAN_METRICS = (
    "wall_s", "idle_core_s", "executor_run_s", "jobs", "stages",
    "shuffle_write_mb", "spill_mb", "codegen_classes", "codegen_ms", "jit_ms",
    "gc_ms", "rows_out", "failed_tasks",
)
SESSION_METRICS = ("wall_s", "jit_ms", "gc_ms", "codegen_classes")
SNAPTABLE_METRICS = ("touched_buckets", "files_written", "bytes_written")

# span name -> extra counters on top of SPAN_METRICS
SESSION_SPAN = "session.get_session"
SPANS = {
    SESSION_SPAN: (),
    "rest_datasource.read_pages": (),
    "paged_source.IncrementalPagedIngest.run": (),
    "loan_pipeline.run_clean_pipeline": (),
    "loan_pipeline.init_star_snaptable": SNAPTABLE_METRICS,
    "loan_pipeline.apply_star_increment_snaptable": SNAPTABLE_METRICS,
    "loan_pipeline.build_fact_loan": (),
    "measures.dashboard_query": (),
    "corpus_pipeline.run_corpus_pipeline": (),
    "corpus_pipeline.write_outputs": (),
}
OVERHEAD_METRIC = "trace.overhead_s"

JVM_COUNTERS = ("codegen_classes", "codegen_ns", "jit_ms", "gc_ms")


def span_metric_names(span: str) -> tuple:
    base = SESSION_METRICS if span == SESSION_SPAN else SPAN_METRICS
    return base + SPANS[span]


def per_layer_names() -> list[str]:
    names = [f"{s}.{m}" for s in SPANS for m in span_metric_names(s)]
    return names + [OVERHEAD_METRIC]


@dataclass
class Span:
    name: str
    start: float = 0.0
    end: float = 0.0
    parent: "Span | None" = None
    children: list = field(default_factory=list)
    group: str = ""
    counters: dict = field(default_factory=dict)  # inclusive JVM counter deltas
    own: dict = field(default_factory=dict)       # counters of this span alone

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span) -> float:
    """The span's duration minus the union of its children's intervals,
    clipped to the span."""
    covered = 0.0
    lo_run = hi_run = None
    for lo, hi in sorted((max(c.start, span.start), min(c.end, span.end))
                         for c in span.children):
        if hi <= lo:
            continue
        if hi_run is None or lo > hi_run:
            if hi_run is not None:
                covered += hi_run - lo_run
            lo_run, hi_run = lo, hi
        else:
            hi_run = max(hi_run, hi)
    if hi_run is not None:
        covered += hi_run - lo_run
    return span.duration - covered


def exclusive(span: Span, key: str) -> float:
    """An inclusive counter delta minus the children's inclusive deltas."""
    return span.counters.get(key, 0) - sum(c.counters.get(key, 0) for c in span.children)


class Tracer:
    """Records a span tree. Without a probe (the untraced run) a span costs
    two clock reads and carries no Spark counters; `attach` adds the probe
    once a session exists."""

    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.probe: SparkProbe | None = None
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self.overhead_s = 0.0

    def attach(self, spark, session_span: Span) -> None:
        """Start probing. Everything the JVM counted so far belongs to the
        session span, which ran before a probe could exist."""
        if not self.traced:
            return
        t = time.perf_counter()
        self.probe = SparkProbe(spark)
        session_span.counters = self.probe.counters()
        self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        s = Span(name, parent=parent, group=f"perfbench-{self._seq}")
        probe = self.probe
        before = None
        if probe is not None:
            t = time.perf_counter()
            before = probe.counters()
            probe.set_group(s.group)
            self.overhead_s += time.perf_counter() - t
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if probe is not None:
                t = time.perf_counter()
                after = probe.counters()
                s.counters = {k: after[k] - before[k] for k in JVM_COUNTERS}
                for k, v in probe.stage_metrics(s.group).items():
                    s.own[k] = s.own.get(k, 0) + v
                probe.set_group(parent.group if parent else None)
                self.overhead_s += time.perf_counter() - t

    def walk(self):
        todo = list(self.roots)
        while todo:
            s = todo.pop(0)
            yield s
            todo.extend(s.children)

    def span_metrics(self, s: Span, cores: int) -> dict:
        """One span's counters, its own share only."""
        wall = self_time(s)
        m = {
            "wall_s": wall,
            "codegen_classes": exclusive(s, "codegen_classes"),
            "codegen_ms": exclusive(s, "codegen_ns") / 1e6,
            "jit_ms": exclusive(s, "jit_ms"),
            "gc_ms": exclusive(s, "gc_ms"),
        }
        m.update(s.own)
        if "executor_run_s" in s.own:
            m["idle_core_s"] = wall * cores - s.own["executor_run_s"]
        return m

    def per_layer(self, cores: int) -> dict:
        """Every per-layer metric, summed over the calls of each span; a
        span that did not run on this workload reports 0."""
        out = {n: 0.0 for n in per_layer_names()}
        for s in self.walk():
            if s.name not in SPANS:
                continue
            m = self.span_metrics(s, cores)
            for k in span_metric_names(s.name):
                out[f"{s.name}.{k}"] += m.get(k, 0.0)
        out[OVERHEAD_METRIC] = self.overhead_s
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent.name if s.parent else None,
             "start": s.start, "end": s.end, "self_s": self_time(s),
             "counters": s.counters, "own": s.own}
            for s in self.walk()
        ]


class SparkProbe:
    """Reads a span's Spark work from outside the package: job-group stage
    metrics from the JVM status store, janino codegen counters, and the
    JVM's JIT and GC MXBeans, all through py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_time = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._tracker = self.sc.statusTracker()

    def counters(self) -> dict:
        return {
            "codegen_classes": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "codegen_ns": self._codegen_time.compileTime(),
            "jit_ms": self._jit.getTotalCompilationTime(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gcs),
        }

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def stage_metrics(self, group: str) -> dict:
        """Stage metrics of every job in `group`, read as the span closes
        (before `spark.ui.retainedStages` can evict them). Skipped stages
        (reused shuffle output) count as neither stages nor work."""
        self._bus.waitUntilEmpty()
        jobs = self._tracker.getJobIdsForGroup(group)
        m = {"jobs": len(jobs), "stages": 0, "executor_run_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0, "rows_out": 0,
             "failed_tasks": 0, "bytes_written": 0}
        seen = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    d = self._store.lastStageAttempt(int(sid))
                except Exception:  # py4j error: the store never saw the stage
                    continue
                if d.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["executor_run_s"] += d.executorRunTime() / 1000
                m["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
                m["spill_mb"] += d.diskBytesSpilled() / 2**20
                m["rows_out"] += d.outputRecords()
                m["failed_tasks"] += d.numFailedTasks()
                m["bytes_written"] += d.outputBytes()
        return m
