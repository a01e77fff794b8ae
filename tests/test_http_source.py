"""HTTP transport for A1/A2 (VERDICT r1 item 4 / r2 item 4 / r3 item 4).

A real localhost HTTP server (stdlib ThreadingHTTPServer, ephemeral port)
stands in for the paged REST catalog API the reference polls with
`requests.get` (`pyspark_dag2.py:52-77`). Two endpoints:

- /api?offset=N&limit=M  -> {"value": rows[N:N+M]} — the envelope shape
  the driver-side `http_json_page_fetcher` pages through with the
  file-backed resume cursor (IncrementalPagedIngest).
- /pages/page-K.jsonl    -> one jsonl page — fetched INSIDE executor
  tasks by the `paged_jsonl` DataSource in HTTP mode (one input
  partition per page).

The server's row list is mutable so tests can grow the "API" between
runs and prove offset-resume picks up exactly where it stopped.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from etl_pipline_ibrd_loan_system_spark.sources import rest_datasource
from etl_pipline_ibrd_loan_system_spark.sources.paged_source import (
    IncrementalPagedIngest,
    OffsetStore,
    http_json_page_fetcher,
)

SCHEMA = "id BIGINT, name STRING"
PAGE_SIZE = 50


def _rows(n, start=0):
    return [{"id": i, "name": f"rec-{i}"} for i in range(start, start + n)]


class _ApiState:
    def __init__(self):
        self.rows = _rows(237)


@pytest.fixture(scope="module")
def api():
    state = _ApiState()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_GET(self):
            u = urlparse(self.path)
            if u.path == "/api":
                q = parse_qs(u.query)
                off = int(q.get("offset", ["0"])[0])
                lim = int(q.get("limit", ["50"])[0])
                body = json.dumps({"value": state.rows[off : off + lim]})
            elif u.path.startswith("/pages/page-") and u.path.endswith(".jsonl"):
                page = int(u.path[len("/pages/page-") : -len(".jsonl")])
                chunk = state.rows[page * PAGE_SIZE : (page + 1) * PAGE_SIZE]
                body = "\n".join(json.dumps(r) for r in chunk)
            else:
                self.send_error(404)
                return
            payload = body.encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield {"base": f"http://127.0.0.1:{srv.server_address[1]}", "state": state}
    finally:
        srv.shutdown()


def test_http_fetcher_ingests_all_pages(api, spark, tmp_path):
    fetcher = http_json_page_fetcher(
        api["base"] + "/api?offset={offset}&limit={limit}", SCHEMA, rows_key="value"
    )
    ingest = IncrementalPagedIngest(
        fetcher,
        sink_dir=str(tmp_path / "sink"),
        offsets=OffsetStore(str(tmp_path / "cursor.json")),
        limit=PAGE_SIZE,
    )
    pages = ingest.run(spark)
    assert pages == 5  # 4 full pages + the 37-row tail
    got = ingest.read_sink(spark)
    assert got.count() == 237
    assert sorted(r.id for r in got.collect()) == list(range(237))
    assert ingest.offsets.get() == 237


def test_http_fetcher_resumes_from_cursor(api, spark, tmp_path):
    fetcher = http_json_page_fetcher(
        api["base"] + "/api?offset={offset}&limit={limit}", SCHEMA, rows_key="value"
    )
    store = OffsetStore(str(tmp_path / "cursor.json"))
    ingest = IncrementalPagedIngest(
        fetcher, sink_dir=str(tmp_path / "sink"), offsets=store, limit=PAGE_SIZE
    )
    assert ingest.run(spark) == 5
    # drained: a second run fetches the (empty) page at 237 and stops
    assert ingest.run(spark) == 0
    # the API grows; the next run starts at exactly 237, no re-fetch
    api["state"].rows.extend(_rows(30, start=237))
    try:
        assert ingest.run(spark) == 1
        assert store.get() == 267
        assert ingest.read_sink(spark).count() == 267
    finally:
        del api["state"].rows[237:]


def test_datasource_http_mode_one_partition_per_page(api, spark):
    df = rest_datasource.read_pages_http(
        spark, api["base"] + "/pages/page-{page}.jsonl", n_pages=5, schema=SCHEMA
    )
    assert df.rdd.getNumPartitions() == 5  # executor-side fetch per page
    rows = df.collect()
    assert len(rows) == 237
    assert sorted(r.id for r in rows) == list(range(237))
    assert [f.name for f in df.schema.fields] == ["id", "name"]


def test_streaming_http_pages_fetch_executor_side(spark, tmp_path):
    """A2 at scale: the PARTITIONED stream reader over HTTP — the driver
    only probes page existence (HEAD); each micro-batch's pages are
    GET-fetched inside executor tasks, one partition per page. Growing
    the API between batches delivers the new pages exactly once."""
    state = _ApiState()
    state.rows = _rows(200)  # 4 page-aligned pages: pages stay immutable

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _page_body(self):
            u = urlparse(self.path)
            if not (u.path.startswith("/pages/page-") and u.path.endswith(".jsonl")):
                return None
            page = int(u.path[len("/pages/page-") : -len(".jsonl")])
            chunk = state.rows[page * PAGE_SIZE : (page + 1) * PAGE_SIZE]
            if not chunk:
                return None
            return "\n".join(json.dumps(r) for r in chunk).encode("utf-8")

        def do_HEAD(self):  # the driver-side availability probe
            body = self._page_body()
            if body is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()

        def do_GET(self):  # the executor-side page fetch
            body = self._page_body()
            if body is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/pages/page-{{page}}.jsonl"

    rest_datasource.register(spark)
    stream = (
        spark.readStream.format(rest_datasource.FORMAT_NAME)
        .option("url", url)
        .option("schema", SCHEMA)
        .load()
    )
    batches: list[tuple[int, int]] = []  # (rows, partitions) per micro-batch

    def probe(batch_df, _bid):
        batches.append((batch_df.count(), batch_df.rdd.getNumPartitions()))

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert batches[0] == (200, 4)  # 4 pages -> 4 executor-side tasks
        state.rows.extend(_rows(PAGE_SIZE, start=200))  # API grows one page
        q.processAllAvailable()
    finally:
        q.stop()
        srv.shutdown()
    assert batches[-1] == (PAGE_SIZE, 1)  # exactly the new page, once


def _serve_dir(directory):
    """A localhost HTTP server over `directory`; returns (server, base URL)."""
    import functools
    from http.server import SimpleHTTPRequestHandler

    class Quiet(SimpleHTTPRequestHandler):
        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0), functools.partial(Quiet, directory=str(directory))
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def _write_pages(directory, pages):
    directory.mkdir()
    for i, text in enumerate(pages):
        (directory / f"page-{i}.jsonl").write_text(text, encoding="utf-8")


EDGE_SCHEMA = "id BIGINT, name STRING, amount DOUBLE"


def test_staged_and_http_landing_agree_on_page_edges(spark, tmp_path):
    """`read_pages` (Spark's JSON file source) and `read_pages_http` (the
    Python DataSource over HTTP) land the same page set alike: a blank
    line, a whitespace-only line, an extra field, a missing field and
    ints in a `double` column. A page past `n_pages` is not read, and a
    missing page fails the staged read."""
    from collections import Counter

    pages = tmp_path / "pages"
    _write_pages(pages, [
        '{"id": 1, "name": "a", "amount": 2}\n'
        "\n"
        '{"id": 2, "name": "b", "amount": 1.5, "extra": "x"}\n'
        " \t \n"
        '{"id": 3, "amount": 7}\n',
        '{"id": 4, "name": "d", "amount": 0.25}\n',
        '{"id": 99, "name": "stray", "amount": 0}\n',
    ])
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        rest_datasource.read_pages(spark, str(pages), 4, EDGE_SCHEMA)
    srv, base = _serve_dir(pages)
    try:
        staged = rest_datasource.read_pages(spark, str(pages), 2, EDGE_SCHEMA)
        http = rest_datasource.read_pages_http(
            spark, base + "/page-{page}.jsonl", 2, EDGE_SCHEMA
        )
        assert staged.schema == http.schema
        got = Counter(map(tuple, staged.collect()))
        assert got == Counter(map(tuple, http.collect()))
    finally:
        srv.shutdown()
    assert got == Counter([
        (1, "a", 2.0), (2, "b", 1.5), (3, None, 7.0), (4, "d", 0.25),
    ])


def test_malformed_page_line_fails_both_landings(spark, tmp_path):
    """A malformed line raises on both paths; it never lands as a dropped
    row or a NULL row."""
    pages = tmp_path / "pages"
    _write_pages(pages, ['{"id": 1, "name": "a", "amount": 1.0}\n{"id": 2, "name": \n'])
    srv, base = _serve_dir(pages)
    try:
        for df, error in (
            (rest_datasource.read_pages(spark, str(pages), 1, EDGE_SCHEMA),
             "MALFORMED_RECORD_IN_PARSING"),
            (rest_datasource.read_pages_http(
                spark, base + "/page-{page}.jsonl", 1, EDGE_SCHEMA
            ), "JSONDecodeError"),
        ):
            with pytest.raises(Exception, match=error):
                df.collect()
    finally:
        srv.shutdown()
