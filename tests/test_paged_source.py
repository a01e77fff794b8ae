"""Resumable paged ingest tests (SURVEY.md §2.A A1/A2, FIXTURES.md §D):
offset persistence, crash-idempotence, page accounting."""

from __future__ import annotations

import os

import pytest

from etl_pipline_ibrd_loan_system_spark.sources.paged_source import (
    IncrementalPagedIngest,
    OffsetStore,
    parquet_page_fetcher,
)


@pytest.fixture()
def dump(spark, tmp_path):
    src = str(tmp_path / "api_dump")
    spark.range(100).withColumnRenamed("id", "rid").write.parquet(src)
    return src


def _ingest(tmp_path, src, limit=30, total=100):
    return IncrementalPagedIngest(
        fetcher=parquet_page_fetcher(src, "rid"),
        sink_dir=str(tmp_path / "sink"),
        offsets=OffsetStore(str(tmp_path / "offset.json")),
        limit=limit,
        total_rows=total,
    )


def test_full_backfill(spark, tmp_path, dump):
    ing = _ingest(tmp_path, dump)
    assert ing.run(spark) == 4  # 30+30+30+10
    out = ing.read_sink(spark)
    assert out.count() == 100
    assert out.select("rid").distinct().count() == 100
    # cursor advances by ROWS RECEIVED: the final short page (10 rows)
    # commits 100, not 120 — rows 100-119 arriving later are not skipped
    assert ing.offsets.get() == 100


def test_partial_page_then_source_grows(spark, tmp_path, dump):
    """A partial page must not advance the cursor past the rows actually
    received: when an append-only source grows later, the gap rows are
    ingested on the next run, exactly once."""
    ing = _ingest(tmp_path, dump)
    ing.run(spark)  # drains all 100 rows; cursor at 100
    # source grows by 20 rows
    spark.range(100, 120).withColumnRenamed("id", "rid").write.mode(
        "append"
    ).parquet(dump)
    ing2 = _ingest(tmp_path, dump, total=120)
    assert ing2.run(spark) == 1
    out = ing2.read_sink(spark)
    assert out.count() == 120
    assert out.select("rid").distinct().count() == 120


def test_resume_across_runs(spark, tmp_path, dump):
    ing = _ingest(tmp_path, dump)
    assert ing.run(spark, max_pages=2) == 2
    assert ing.read_sink(spark).count() == 60
    # new runner instance, same offset store -> resumes where it stopped
    ing2 = _ingest(tmp_path, dump)
    assert ing2.run(spark) == 2
    assert ing2.read_sink(spark).count() == 100


def test_crash_before_commit_is_idempotent(spark, tmp_path, dump):
    ing = _ingest(tmp_path, dump)
    ing.run(spark, max_pages=1)
    # simulate a crash AFTER the page write but BEFORE the offset commit:
    # rewind the cursor and re-run -> page is rewritten, not duplicated
    ing.offsets.commit(0)
    ing.run(spark, max_pages=1)
    out = ing.read_sink(spark)
    assert out.count() == 30
    assert out.select("rid").distinct().count() == 30


def test_offset_store_atomic(tmp_path):
    store = OffsetStore(str(tmp_path / "off.json"), initial=600_000)
    assert store.get() == 600_000  # reference's initial backfill offset
    store.commit(650_000)
    assert store.get() == 650_000
    assert not os.path.exists(str(tmp_path / "off.json") + ".tmp")


def test_read_pages_scans_staged_pages_as_json_files(spark, sf_dir, tmp_path):
    """Staged pages land through Spark's JSON file source: the plan scans
    a JSON `FileScan` and starts no Python data-source scan (the
    one-partition-per-page Python reader serves HTTP only; see
    `test_http_source.py`)."""
    import os

    from etl_pipline_ibrd_loan_system_spark.sources.rest_datasource import (
        read_pages,
        stage_pages_from_parquet,
    )

    out = str(tmp_path / "pages")
    n = stage_pages_from_parquet(
        os.path.join(sf_dir, "documents.parquet"), out,
        page_size=50, columns=["doc_id", "n_chars"], order_col="doc_id",
    )
    assert n == 10  # 500 docs / 50
    df = read_pages(spark, out, n, schema="doc_id bigint, n_chars bigint")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan json" in plan, plan
    assert "BatchScan" not in plan and "(Python)" not in plan, plan
    assert df.count() == 500
    assert df.agg({"doc_id": "min"}).collect()[0][0] == 0


def test_streaming_datasource_resumes_offsets(spark, sf_dir, tmp_path):
    """§2.H: the resume cursor as a true Structured Streaming offset —
    pages arriving between micro-batches are picked up exactly once."""
    import json
    import os

    from etl_pipline_ibrd_loan_system_spark.sources.rest_datasource import (
        make_paged_jsonl_datasource,
    )

    src = str(tmp_path / "pages")
    os.makedirs(src)

    def write_page(i, ids):
        with open(os.path.join(src, f"page-{i}.jsonl"), "w") as fh:
            for x in ids:
                fh.write(json.dumps({"doc_id": x}) + "\n")

    write_page(0, [0, 1])
    write_page(1, [2])

    spark.dataSource.register(make_paged_jsonl_datasource())
    stream = (
        spark.readStream.format("paged_jsonl")
        .option("path", src)
        .option("schema", "doc_id bigint")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("paged_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert {r.doc_id for r in spark.table("paged_stream").collect()} == {0, 1, 2}
        write_page(2, [3, 4])
        q.processAllAvailable()
        got = [r.doc_id for r in spark.table("paged_stream").collect()]
    finally:
        q.stop()
    assert sorted(got) == [0, 1, 2, 3, 4]  # new page once, no replays


def test_streaming_partitioned_reader_fans_pages_to_tasks(spark, tmp_path):
    """The default stream reader is the PARTITIONED one: a micro-batch of
    P pages arrives as P input partitions (executor-side fetch), not as a
    driver-materialized row list."""
    import json
    import os

    from etl_pipline_ibrd_loan_system_spark.sources.rest_datasource import (
        make_paged_jsonl_datasource,
    )

    src = str(tmp_path / "pages")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"page-{i}.jsonl"), "w") as fh:
            for x in range(i * 10, i * 10 + 10):
                fh.write(json.dumps({"doc_id": x}) + "\n")

    spark.dataSource.register(make_paged_jsonl_datasource())
    stream = (
        spark.readStream.format("paged_jsonl")
        .option("path", src)
        .option("schema", "doc_id bigint")
        .load()
    )
    seen: list[tuple[int, int]] = []  # (rows, partitions) per micro-batch

    def probe(batch_df, _bid):
        seen.append((batch_df.count(), batch_df.rdd.getNumPartitions()))

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen and seen[0] == (30, 3)  # 3 pages -> 3 partitions, 30 rows


def test_streaming_simple_mode_still_supported(spark, tmp_path):
    """`mode=simple` keeps the driver-side SimpleDataSourceStreamReader
    path alive (the reference's one-page-per-run cadence)."""
    import json
    import os

    from etl_pipline_ibrd_loan_system_spark.sources.rest_datasource import (
        make_paged_jsonl_datasource,
    )

    src = str(tmp_path / "pages")
    os.makedirs(src)
    with open(os.path.join(src, "page-0.jsonl"), "w") as fh:
        for x in range(5):
            fh.write(json.dumps({"doc_id": x}) + "\n")

    spark.dataSource.register(make_paged_jsonl_datasource())
    stream = (
        spark.readStream.format("paged_jsonl")
        .option("path", src)
        .option("mode", "simple")
        .option("schema", "doc_id bigint")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("paged_stream_simple")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.doc_id for r in spark.table("paged_stream_simple").collect()}
    finally:
        q.stop()
    assert got == {0, 1, 2, 3, 4}
