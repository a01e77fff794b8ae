"""Set operators (SURVEY.md §2.F).

The reference accumulates API pages with iterative `df.union(df_temp)`
(spark_airflow.ipynb:113-114) — lineage grows one Union node per page.
Catalyst flattens adjacent Unions (CombineUnions), but at 100 TB / thousands
of micro-batches the logical plan itself becomes the bottleneck, so
`union_pages` folds with periodic `localCheckpoint` to truncate lineage.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame


def union_pages(
    pages: Iterable[DataFrame], checkpoint_every: int | None = None
) -> DataFrame:
    """F1 — UNION ALL accumulate by name (schema-aligned), optionally
    truncating lineage every `checkpoint_every` pages."""
    acc: DataFrame | None = None
    for i, page in enumerate(pages, start=1):
        acc = page if acc is None else acc.unionByName(page)
        if checkpoint_every and i % checkpoint_every == 0:
            acc = acc.localCheckpoint(eager=True)
    if acc is None:
        raise ValueError("union_pages: no pages")
    return acc


def union_evolving(pages: Iterable[DataFrame]) -> DataFrame:
    """Schema-drift tolerant UNION ALL: later pages may add or drop
    columns (API envelope evolution — the failure mode a long-lived paged
    ingest WILL hit); missing columns null-fill via
    `unionByName(allowMissingColumns=True)`. The result schema is the
    union of all page schemas in first-seen column order. Narrow op, no
    shuffle — identical scale behavior to union_pages."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), pages
    )
