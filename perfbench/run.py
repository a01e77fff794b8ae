#!/usr/bin/env python3
"""Benchmark entry point: runs one workload for one seed in this fresh process.

    python3 perfbench/run.py --workload etl_chain --seed 1 --seconds 45 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 they are
the per-layer ones, read through a tracer whose own cost is reported as
`trace.overhead_s`. The line before it is the run's record: the pinned
environment, load and steal, per-operation timings and failures.

Generated inputs are cached under perfbench/.cache; each run works in its
own directory under perfbench/.work and removes it at the end. The exit
code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")

E2E_UNITS = {"setup_s": "s", "run_s": "s", "run_cpu_s": "s"}


def _load() -> dict:
    """Host load now, and the wall time of a fixed single-threaded Python
    loop: the host's speed drifts by more than steal explains."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return {"loadavg": list(os.getloadavg()), "steal_ticks": procfs.steal_ticks(),
            "python_loop_s": time.perf_counter() - t}


def pin_environment(work: str) -> dict:
    """Pin cores, scratch and temp dirs inside the run's work dir, so the
    run writes only inside the checkout. SPARK_LOCAL_DIRS would override
    the package's scratch choice, so it is dropped, as are the package's
    master and driver-memory overrides: every run uses its defaults."""
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(scratch)
    os.makedirs(tmp)
    dropped = os.environ.pop("SPARK_LOCAL_DIRS", None)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_LOCAL_DIR": scratch,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
    })
    return {"cores": cores, "dropped_SPARK_LOCAL_DIRS": dropped}


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python worker it
    forked) has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=45)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # import before any work: in a directory without the package this
    # fails here, before a result could be printed
    import workloads
    from tracer import Tracer

    name = args.workload
    if name not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(HERE, ".work", f"{name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = {"workload": name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "start": _load(), **pin_environment(work)}
    ctx = workloads.Context(seed=args.seed, work=work, cache=CACHE,
                            tracer=Tracer(traced=args.trace == 1), record=record)
    result = None
    try:
        t = time.perf_counter()
        setup = workloads.WORKLOADS[name](ctx)
        record["body_wall_s"] = time.perf_counter() - t
        result = {"setup_s": setup, "run_s": ctx.run_s, "run_cpu_s": ctx.run_cpu_s}
        sc = ctx.spark.sparkContext
        record.update({
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_local_dir": sc.getConf().get("spark.local.dir", None),
        })
        # VmHWM of the JVM (driver and executors in local mode) plus this
        # process; kept in the record only: it follows GC timing, and
        # across seeds it spread by 16-27% of its median
        record["peak_rss_mb"] = procfs.vm_hwm_mb(sc._gateway.proc.pid) + procfs.vm_hwm_mb("self")
        cores = sc.defaultParallelism
    except Exception:
        traceback.print_exc()
        record["error"] = traceback.format_exc(limit=3)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    record["end"] = _load()
    record["failures"] = ctx.checks.problems
    record.update(result or {})
    print(json.dumps({"record": record}), flush=True)
    if result is None:
        return 1
    if args.trace:
        os.makedirs(RUNS, exist_ok=True)
        with open(os.path.join(RUNS, f"{name}-s{args.seed}-trace.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({"record": record, "spans": ctx.tracer.dump()}, fh, indent=1)
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in ctx.tracer.per_layer(cores).items()}
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in E2E_UNITS.items()}
    c = ctx.checks
    print(json.dumps({"correct": c.failed == 0 and c.attempted > 0, "attempted": c.attempted,
                      "failed": c.failed, "metrics": metrics}), flush=True)
    return 0 if c.failed == 0 else 1


def _unit(metric: str) -> str:
    suffix = metric.rsplit(".", 1)[1]
    for end, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if suffix.endswith(end):
            return unit
    return "bytes" if suffix == "bytes_written" else "count"


if __name__ == "__main__":
    sys.exit(main())
