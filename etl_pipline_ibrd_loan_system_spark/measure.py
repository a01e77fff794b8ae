"""One measured pass of a registry query: wall split and Spark stage metrics.

`run_pass` builds the query's plan and executes it to completion through
the `noop` sink (full computation, no driver-side result transfer) under
a job group of its own. It times the plan build (`fn(spark, sf_dir)`,
including any action the builder runs itself, such as materialising a
pin or a `localCheckpoint`) separately from the execution (the noop
write). Only those two calls are timed; releasing the group, dropping
caches and reading the metrics happen after the clock stops.

The stage metrics come from the JVM status store, so they cover every job
of the group, not only the final action's plan. The status store works
with `spark.ui.enabled=false`; it keeps the last `spark.ui.retainedStages`
stages, so the metrics are read as soon as the pass ends; it evicts
skipped stages first, so a stage of the pass it no longer holds counts
as skipped. A stage whose
shuffle output an earlier stage already wrote (AQE runs each shuffle map
stage as its own job, and the result job then skips it) is counted under
`skipped_stages`, not `stages`, and carries no work. A stage that several
jobs of the pass share counts once. MB is 1e6 bytes.
"""

from __future__ import annotations

import time
import uuid

STAGE_METRICS = ("jobs", "stages", "skipped_stages", "shuffle_write_mb", "spill_mb")


def run_pass(spark, fn, sf_dir: str) -> dict:
    """Run `fn(spark, sf_dir)` once into the noop sink and return
    `build_s`, `exec_s`, `jobs`, `stages` (executed only),
    `skipped_stages`, `shuffle_write_mb` and `spill_mb` (disk)."""
    sc = spark.sparkContext
    group = f"measure-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc._jsc.clearJobGroup()
    spark.catalog.clearCache()
    return {"build_s": t1 - t0, "exec_s": t2 - t1, **_stage_metrics(sc, group)}


def _stage_metrics(sc, group: str) -> dict:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    m = {"jobs": len(jobs), "stages": 0, "skipped_stages": 0,
         "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        # the store evicts stages with no completion time, i.e. skipped
        # ones, before any stage that ran, so a stage of this pass that it
        # no longer holds was skipped
        if tracker.getStageInfo(sid) is None:
            m["skipped_stages"] += 1
            continue
        d = store.lastStageAttempt(sid)
        if d.status().toString() == "SKIPPED":
            m["skipped_stages"] += 1
            continue
        m["stages"] += 1
        m["shuffle_write_mb"] += d.shuffleWriteBytes() / 1e6
        m["spill_mb"] += d.diskBytesSpilled() / 1e6
    m["shuffle_write_mb"] = round(m["shuffle_write_mb"], 3)
    m["spill_mb"] = round(m["spill_mb"], 3)
    return m
