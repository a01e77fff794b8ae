"""A1/A2 — resumable paged ingest (SURVEY.md §2.A, §2.H).

The reference pulls the World Bank catalog API in 50k-row pages, persisting
the next offset in an Airflow Variable (`pyspark_dag2.py:38-42,52-77`):
offset is read, a page is fetched, the offset is advanced — an at-least-once
micro-batch stream with a driver-side resume cursor.

Engine version: a generic incremental-batch runner with

- a pluggable page fetcher `(spark, offset, limit) -> DataFrame | None`
- a file-backed `OffsetStore` (the Variable analog) committed only AFTER
  the page lands in the sink -> re-running after a crash re-appends the
  same page path idempotently (overwrite-by-page), never duplicates rows
- a parquet sink laid out one directory per page
  (`page=<offset>/part-*.parquet`), so each page commit is atomic.

Scale note: page fetch parallelism comes from running many offsets at once
(`fetch_range`), not from a bigger page — on a cluster, distribute offsets
with `spark.range(n_pages)` + `mapInPandas(fetch)` so executors fetch in
parallel. The runner here is the orchestration-correctness piece.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PageFetcher = Callable[[SparkSession, int, int], "DataFrame | None"]


class OffsetStore:
    """Airflow-Variable-style persisted integer cursor (pyspark_dag2.py:40-42,
    70-74), committed only after a successful page append."""

    def __init__(self, path: str, initial: int = 0) -> None:
        self.path = path
        self.initial = initial

    def get(self) -> int:
        if not os.path.exists(self.path):
            return self.initial
        with open(self.path, encoding="utf-8") as fh:
            return int(json.load(fh)["offset"])

    def commit(self, offset: int) -> None:
        tmp = f"{self.path}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"offset": offset}, fh)
        os.replace(tmp, self.path)  # atomic


def http_json_page_fetcher(
    url_template: str,
    schema,
    rows_key: str | None = None,
    timeout: float = 10.0,
) -> PageFetcher:
    """The reference's actual transport (`pyspark_dag2.py:52-77`: one
    `requests.get` per `top`/`skip` page) on stdlib urllib — no external
    dependency. `url_template` is formatted with `{offset}` and `{limit}`;
    the response body is either a bare JSON list of records or a dict
    holding the list under `rows_key` (the catalog API wraps rows in an
    envelope). Returns None on an empty page so the ingest loop stops.

    The fetch is DRIVER-side: one page per micro-batch is the reference's
    cadence, and a page (50k rows) is driver-sized by design. Bulk
    backfills over HTTP should use rest_datasource's one-partition-per-page
    reader (`read_pages_http`, or the partitioned stream reader in `url`
    mode) so executors fetch concurrently."""
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    fields = [f.name for f in st.fields]

    def fetch(spark: SparkSession, offset: int, limit: int) -> DataFrame | None:
        import urllib.request

        url = url_template.format(offset=offset, limit=limit)
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            payload = json.loads(resp.read().decode("utf-8"))
        if rows_key is None:
            rows = payload
        elif rows_key not in payload:
            # a missing/renamed envelope key must fail loudly — treating it
            # as an empty page would silently end ingestion as "drained"
            raise KeyError(
                f"page payload has no {rows_key!r} key (got "
                f"{sorted(payload)[:10]}); API envelope changed?"
            )
        else:
            rows = payload[rows_key]
        if not rows:
            return None
        return spark.createDataFrame(
            [tuple(rec.get(f) for f in fields) for rec in rows], schema=st
        )

    return fetch


def parquet_page_fetcher(path: str, order_col: str) -> PageFetcher:
    """Deterministic 'API dump' pager for tests: rows [offset, offset+limit)
    of `path` ordered by `order_col` — emulates the REST `top`/`skip` paging
    (pyspark_dag2.py:54-60)."""

    def fetch(spark: SparkSession, offset: int, limit: int) -> DataFrame | None:
        from pyspark.sql import Window

        df = spark.read.parquet(path)
        w = Window.orderBy(order_col)
        page = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") > offset) & (F.col("__rn") <= offset + limit))
            .drop("__rn")
        )
        return page

    return fetch


class IncrementalPagedIngest:
    """The resumable micro-batch loop: fetch page at cursor -> idempotent
    append -> advance cursor. `run()` processes up to `max_pages` pages (one
    hourly DAG run = one page in the reference; the notebook backfill loop =
    many, `spark_airflow.ipynb:100-116`)."""

    def __init__(
        self,
        fetcher: PageFetcher,
        sink_dir: str,
        offsets: OffsetStore,
        limit: int,
        total_rows: int | None = None,
    ) -> None:
        self.fetcher = fetcher
        self.sink_dir = sink_dir
        self.offsets = offsets
        self.limit = limit
        self.total_rows = total_rows

    def _page_dir(self, offset: int) -> str:
        return os.path.join(self.sink_dir, f"page={offset}")

    def run(self, spark: SparkSession, max_pages: int | None = None) -> int:
        """Returns number of pages ingested this run."""
        pages = 0
        while max_pages is None or pages < max_pages:
            offset = self.offsets.get()
            if self.total_rows is not None and offset >= self.total_rows:
                break
            page = self.fetcher(spark, offset, self.limit)
            if page is None:
                break
            n = page.count()
            if n == 0:
                break
            # idempotent append: the page directory is overwritten whole, so
            # a crash between write and commit just rewrites the same rows
            page.write.mode("overwrite").parquet(self._page_dir(offset))
            # advance by ROWS RECEIVED, not by `limit`: committing
            # offset+limit on a partial page would permanently skip
            # [offset+n, offset+limit) if an append-only source later grows.
            # Page dirs are keyed by the fetch cursor, so the next (denser)
            # page starts at offset+n and never collides.
            self.offsets.commit(offset + n)
            pages += 1
            if n < self.limit:
                break
        return pages

    def read_sink(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.sink_dir).parquet(
            os.path.join(self.sink_dir, "page=*")
        ).drop("page")

    def reset_sink(self) -> None:
        shutil.rmtree(self.sink_dir, ignore_errors=True)
