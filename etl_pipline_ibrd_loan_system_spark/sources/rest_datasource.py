"""Paged ingestion (SURVEY §2.A A1's at-scale path).

The reference fetches API pages sequentially on the driver
(`pyspark_dag2.py:52-77`: one `requests.get` per `top`/`skip` page,
accumulated via XCom). Here every page lands as part of one ordinary
DataFrame feeding the one continuous plan — no driver accumulation, no
XCom — by one of two readers:

- `read_pages` lands staged `page-N.jsonl` files through Spark's own JSON
  file source. It is a plain file scan: no Python planner or worker
  starts, and rows are parsed in the JVM.
- `read_pages_http` fetches each page with stdlib urllib INSIDE an
  executor task through the Spark 4 Python DataSource `paged_jsonl`
  (`url`, a template with `{page}`; one input partition per page) —
  tested against a localhost HTTP server in `tests/test_http_source.py`.
  Pages are independent, so throughput scales with executors, bounded
  only by the API's rate limit.

STREAMING uses the same partitioned fan-out over either a staged
directory (`path`) or HTTP (`url`): the default stream reader
(`PagedJsonlPartitionedStreamReader`) probes availability driver-side
(listdir / HTTP HEAD — metadata only) and fetches every page of the
micro-batch executor-side via `partitions(start, end)`. `mode=simple`
opts back into the driver-side Simple reader for the reference's exact
one-page-per-run cadence.

The DataSource class is built by a FACTORY inside a function scope so
cloudpickle ships it by value to Python workers — no package import
needed executor-side (same constraint as operators/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

FORMAT_NAME = "paged_jsonl"


def make_paged_jsonl_datasource():
    """Build (by value) the DataSource class for `paged_jsonl`."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    def _page_lines(path, url_template, timeout, page):
        """Shared page transport (executor-side): an HTTP GET of the page
        URL — stdlib urllib only, one fetch per task — or, for the
        streaming readers only, a staged `page-N.jsonl` file."""
        if url_template:
            import urllib.request

            url = url_template.format(page=page)
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                yield from resp.read().decode("utf-8").splitlines()
            return
        import os

        with open(
            os.path.join(path, f"page-{page}.jsonl"), encoding="utf-8"
        ) as fh:
            yield from (line for line in fh)

    class PagedJsonlPartitionedStreamReader(DataSourceStreamReader):
        """Streaming variant with EXECUTOR-side page fetch: offset = next
        page index — the reference's Airflow-Variable resume cursor
        (`pyspark_dag2.py:40-42,70-74`) as a first-class Structured
        Streaming offset, checkpointed and replayable by Spark itself.

        Unlike the Simple reader (driver-side fetch of the whole batch),
        `partitions(start, end)` turns every page in the micro-batch into
        one input partition, so executors fetch pages concurrently and no
        page body ever lands on the driver. Only the availability PROBE
        (listdir / HTTP HEAD — metadata, not data) runs driver-side in
        `latestOffset()`. A micro-batch of P new pages is P parallel
        tasks; batch memory is bounded per-executor by one page, not
        per-driver by the batch."""

        def __init__(self, schema, options):
            self.schema_obj = schema
            self.path = options.get("path")
            self.url_template = options.get("url")
            self.timeout = float(options.get("timeout", "10"))
            self._known = 0  # probe floor: pages are contiguous from 0

        def initialOffset(self):
            return {"page": 0}

        def _contiguous_available(self):
            """Count contiguous pages [0, n) available at the source.
            Monotone (pages never retract), so the returned offset never
            regresses — safe across checkpoint restarts."""
            if self.url_template:
                import urllib.error
                import urllib.request

                p = self._known
                while True:
                    req = urllib.request.Request(
                        self.url_template.format(page=p), method="HEAD"
                    )
                    try:
                        with urllib.request.urlopen(req, timeout=self.timeout):
                            pass
                    except (urllib.error.HTTPError, urllib.error.URLError):
                        break
                    p += 1
                self._known = p
                return p
            import os
            import re

            avail = set()
            for name in os.listdir(self.path):
                m = re.fullmatch(r"page-(\d+)\.jsonl", name)
                if m:
                    avail.add(int(m.group(1)))
            p = self._known
            while p in avail:
                p += 1
            self._known = p
            return p

        def latestOffset(self):
            return {"page": self._contiguous_available()}

        def partitions(self, start, end):
            # one input partition per page in [start, end) — the
            # micro-batch fans out to executors exactly like the batch
            # reader's top/skip windows
            return [InputPartition(p) for p in range(start["page"], end["page"])]

        def read(self, partition):
            import json

            fields = [f.name for f in self.schema_obj.fields]
            for line in _page_lines(
                self.path, self.url_template, self.timeout, partition.value
            ):
                if line.strip():
                    rec = json.loads(line)
                    yield tuple(rec.get(f) for f in fields)

        def commit(self, end):
            pass  # pages are retained at the source; nothing to clean up

    class PagedJsonlStreamReader(SimpleDataSourceStreamReader):
        """Driver-side streaming fallback (`mode=simple`), kept for the
        reference's exact cadence — one 50k-row page per hourly run is
        driver-sized by design (`pyspark_dag2.py:52-77`). The default
        streaming path is PagedJsonlPartitionedStreamReader above."""

        def __init__(self, schema, options):
            self.schema_obj = schema
            self.path = options.get("path")

        def initialOffset(self):
            return {"page": 0}

        def _available_pages(self):
            import os
            import re

            pages = []
            for name in os.listdir(self.path):
                m = re.fullmatch(r"page-(\d+)\.jsonl", name)
                if m:
                    pages.append(int(m.group(1)))
            return sorted(pages)

        def _read_page(self, page):
            import json
            import os

            fields = [f.name for f in self.schema_obj.fields]
            with open(
                os.path.join(self.path, f"page-{page}.jsonl"), encoding="utf-8"
            ) as fh:
                for line in fh:
                    rec = json.loads(line)
                    yield tuple(rec.get(f) for f in fields)

        def read(self, start):
            # contiguous new pages since `start` become one micro-batch
            begin = start["page"]
            avail = set(self._available_pages())
            contiguous = []
            p = begin
            while p in avail:
                contiguous.append(p)
                p += 1
            rows = [r for page in contiguous for r in self._read_page(page)]
            return iter(rows), {"page": begin + len(contiguous)}

        def readBetweenOffsets(self, start, end):
            rows = [
                r
                for page in range(start["page"], end["page"])
                for r in self._read_page(page)
            ]
            return iter(rows)

    class PagedJsonlReader(DataSourceReader):
        """One input partition per page, fetched over HTTP (`url` — a
        template formatted with `{page}`) with stdlib urllib INSIDE the
        executor task: executors pull pages concurrently, Spark retries
        a failed fetch per-task, and no page ever accumulates on the
        driver — the scale-out version of the reference's sequential
        `requests.get` loop (`pyspark_dag2.py:52-77`)."""

        def __init__(self, schema, options):
            self.schema_obj = schema
            self.url_template = options["url"]
            self.n_pages = int(options.get("npages", "0"))
            self.timeout = float(options.get("timeout", "10"))

        def partitions(self):
            # one partition per page == the reference's top/skip windows
            return [InputPartition(i) for i in range(self.n_pages)]

        def read(self, partition):
            import json

            fields = [f.name for f in self.schema_obj.fields]
            for line in _page_lines(
                None, self.url_template, self.timeout, partition.value
            ):
                if line.strip():
                    rec = json.loads(line)
                    yield tuple(rec.get(f) for f in fields)

    class PagedJsonlDataSource(DataSource):
        @classmethod
        def name(cls):
            return FORMAT_NAME

        def schema(self):
            return self.options["schema"]

        def reader(self, schema):
            return PagedJsonlReader(schema, self.options)

        def streamReader(self, schema):
            # default streaming path: executor-side partitioned fetch;
            # `mode=simple` opts into the driver-side Simple reader
            # (pyspark falls back to simpleStreamReader on
            # NotImplementedError)
            if self.options.get("mode", "").lower() == "simple":
                from pyspark.errors import PySparkNotImplementedError

                # the exact error type datasource_internal._streamReader
                # catches to fall back to simpleStreamReader()
                raise PySparkNotImplementedError(
                    errorClass="NOT_IMPLEMENTED",
                    messageParameters={"feature": "streamReader"},
                )
            return PagedJsonlPartitionedStreamReader(schema, self.options)

        def simpleStreamReader(self, schema):
            return PagedJsonlStreamReader(schema, self.options)

    return PagedJsonlDataSource


def register(spark: SparkSession) -> None:
    spark.dataSource.register(make_paged_jsonl_datasource())


def read_pages(
    spark: SparkSession, path: str, n_pages: int, schema: str
) -> DataFrame:
    """Land the staged pages `path/page-{i}.jsonl`, i in [0, n_pages),
    through Spark's JSON file source with the declared `schema`.

    The explicit page list makes a missing page fail the read and leaves
    any other file in `path` unread. FAILFAST makes a malformed line
    raise instead of landing as a NULL row; blank lines are skipped,
    fields outside `schema` are ignored and a missing field reads NULL."""
    import os

    return (
        spark.read.schema(schema)
        .option("mode", "FAILFAST")
        .json([os.path.join(path, f"page-{i}.jsonl") for i in range(n_pages)])
    )


def read_pages_http(
    spark: SparkSession, url_template: str, n_pages: int, schema: str
) -> DataFrame:
    """`spark.read.format("paged_jsonl")` fetching each page over HTTP in
    its own executor task; `url_template` is formatted with `{page}`."""
    register(spark)
    return (
        spark.read.format(FORMAT_NAME)
        .option("url", url_template)
        .option("npages", str(n_pages))
        .option("schema", schema)
        .load()
    )


def stage_pages_from_parquet(
    parquet_path: str,
    out_dir: str,
    page_size: int,
    columns: list[str],
    order_col: str,
) -> int:
    """Test/container stand-in for the remote API: export a parquet table
    as deterministic `page-N.jsonl` files (ordered, fixed page size).
    Returns the page count."""
    import json
    import os

    import pyarrow.parquet as pq

    table = pq.read_table(parquet_path, columns=columns)
    rows = sorted(
        (tuple(r[c] for c in columns) for r in table.to_pylist()),
        key=lambda t: t[columns.index(order_col)],
    )
    os.makedirs(out_dir, exist_ok=True)
    n_pages = 0
    for i in range(0, len(rows), page_size):
        with open(
            os.path.join(out_dir, f"page-{n_pages}.jsonl"), "w", encoding="utf-8"
        ) as fh:
            for t in rows[i : i + page_size]:
                fh.write(json.dumps(dict(zip(columns, t))) + "\n")
        n_pages += 1
    return n_pages
