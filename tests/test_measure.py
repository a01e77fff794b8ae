"""The measurement core counts every job of a pass, from the status store.

The old final-plan walk missed the jobs that build pinned caches, and the
old stage count included skipped (reused) map stages; these pin both."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.cache import pin, release_pinned
from etl_pipline_ibrd_loan_system_spark.measure import run_pass


def _repartitioned(spark):
    return spark.range(0, 20000, numPartitions=2).repartition(4, "id")


def test_shuffle_write_covers_the_pin_and_the_final_aggregate(spark):
    def final_only(spark, _):
        return (_repartitioned(spark).groupBy((F.col("id") % 7).alias("k"))
                .count())

    def pinned(spark, _):
        rep = pin(_repartitioned(spark))
        rep.count()  # materialise the pin in its own job
        return rep.groupBy((F.col("id") % 7).alias("k")).count()

    try:
        pinned_rec = run_pass(spark, pinned, None)
    finally:
        release_pinned()
    final_rec = run_pass(spark, final_only, None)
    # both passes run the same two shuffles; the pinned pass runs the
    # repartition in an earlier job, which a final-plan walk never sees
    assert pinned_rec["jobs"] > final_rec["jobs"] >= 1
    assert final_rec["shuffle_write_mb"] > 0
    assert pinned_rec["shuffle_write_mb"] >= 0.99 * final_rec["shuffle_write_mb"]
    assert pinned_rec["build_s"] > 0 and pinned_rec["exec_s"] > 0


def test_reused_map_stage_counts_as_skipped(spark):
    def actions(n):
        def fn(spark, _):
            rep = _repartitioned(spark)
            for _ in range(n):
                rep.collect()  # one plan: later actions reuse its shuffle
            return spark.range(1)
        return fn

    once = run_pass(spark, actions(1), None)
    twice = run_pass(spark, actions(2), None)
    # the second action runs only its result stage; its map stage is
    # reused, so it adds a skipped stage and no shuffle write
    assert twice["stages"] == once["stages"] + 1
    assert twice["skipped_stages"] == once["skipped_stages"] + 1
    assert abs(twice["shuffle_write_mb"] - once["shuffle_write_mb"]) < 1e-9


def test_job_after_the_pass_is_not_in_the_group(spark):
    sc = spark.sparkContext
    run_pass(spark, lambda spark, _: _repartitioned(spark), None)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    spark.range(10).repartition(2).count()
    after = set(sc.statusTracker().getJobIdsForGroup(None))
    # the new job carries no group, so no measured group can claim it
    assert after - before


def test_stage_evicted_from_the_status_store_counts_as_skipped():
    """The status store evicts stages with no completion time (skipped
    ones) first, so a long session can drop a skipped stage of the pass
    being measured before it is read; the pass still reports."""
    from types import SimpleNamespace as NS

    from etl_pipline_ibrd_loan_system_spark.measure import _stage_metrics

    held = {1: NS(status=lambda: NS(toString=lambda: "COMPLETE"),
                  shuffleWriteBytes=lambda: 2e6, diskBytesSpilled=lambda: 0)}
    tracker = NS(getJobIdsForGroup=lambda g: [7],
                 getJobInfo=lambda j: NS(stageIds=[1, 2]),
                 getStageInfo=held.get)
    jsc = NS(listenerBus=lambda: NS(waitUntilEmpty=lambda: None),
             statusStore=lambda: NS(lastStageAttempt=held.__getitem__))
    sc = NS(_jsc=NS(sc=lambda: jsc), statusTracker=lambda: tracker)
    assert _stage_metrics(sc, "g") == {
        "jobs": 1, "stages": 1, "skipped_stages": 1,
        "shuffle_write_mb": 2.0, "spill_mb": 0.0,
    }
