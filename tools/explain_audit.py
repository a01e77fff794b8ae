"""Plan audit: print `.explain("formatted")` plus a one-line verdict
(pushdown? pruned read? join strategies? shuffle count?) for the bench
headline queries — the reproducible evidence behind SCALE.md.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
       (defaults: sf0.01 beside the catalog's default testdata dir, and
       the bench.py HEADLINE set)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE  # noqa: E402
from etl_pipline_ibrd_loan_system_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from etl_pipline_ibrd_loan_system_spark.session import get_session  # noqa: E402


def _codegen_subtrees(df) -> int:
    """AQE hides codegen stars in simple/formatted mode pre-finalization;
    codegen mode lists the actual WholeStageCodegen subtrees."""
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf.getvalue())
    return int(m.group(1)) if m else 0


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    names = args[1:] or HEADLINE
    spark = get_session("explain-audit")
    qs = entrymod.queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"== {name}: NOT FOUND")
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        verdict = {
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "shj": plan.count("ShuffledHashJoin"),
            "exchanges": plan.count("Exchange"),
            "pushed": "PushedFilters: []" not in plan and "PushedFilters" in plan,
            "codegen_spans": _codegen_subtrees(df),
        }
        print(f"== {name}: {verdict}")
        print(plan)


if __name__ == "__main__":
    main()
