"""Profile registry queries: wall time split and Spark stage metrics.

Usage: python tools/query_profile.py [sf_dir] [query ...]
       (defaults: sf0.1 beside the catalog's default testdata dir, and
       the bench.py HEADLINE set)

Each query runs one cold pass and two steady passes through the
measurement core (`measure.run_pass`: a freshly built plan, fully
executed into the noop sink). Prints one JSON line per query:
  {"name": ..., "steady_s": <steady min>, "cold_s": ...,
   "build_s": [cold, s1, s2], "exec_s": [cold, s1, s2],
   "jobs": N, "stages": N, "skipped_stages": N,
   "shuffle_write_mb": x, "spill_mb": x}
The stage metrics are the last steady pass's, summed over every job of
the pass (pinned caches and checkpoints included); MB is 1e6 bytes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from etl_pipline_ibrd_loan_system_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from etl_pipline_ibrd_loan_system_spark.measure import (  # noqa: E402
    STAGE_METRICS,
    run_pass,
)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
    from etl_pipline_ibrd_loan_system_spark.session import (
        get_session,
        silence_bounded_window_warn,
    )

    spark = get_session("query-profile")
    silence_bounded_window_warn(spark)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in args[1:] or HEADLINE:
        recs = [run_pass(spark, qs[name], sf_dir) for _ in range(3)]
        walls = [r["build_s"] + r["exec_s"] for r in recs]
        out = {
            "name": name,
            "steady_s": round(min(walls[1:]), 3),
            "cold_s": round(walls[0], 3),
            "build_s": [round(r["build_s"], 3) for r in recs],
            "exec_s": [round(r["exec_s"], 3) for r in recs],
        }
        out.update((k, recs[-1][k]) for k in STAGE_METRICS)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
