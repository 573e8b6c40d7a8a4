"""Spark job budget of the lake's hot operations.

Each count below is the number of Spark jobs one operation launches on a
small table, read from the status tracker under a job group. The counts
are pinned: a change that adds a job to a merge, a compaction or an
incremental MV refresh fails here and has to justify the new job (or
lower the pin when it removes one).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_fs_spark.plans.lake import LakeTable
from kafka_connect_fs_spark.plans.materialized import IncrementalRollup

from tests.test_lake import edf, ev

MERGE_JOBS = 2
COMPACT_JOBS = 4
MV_PARTIAL_REFRESH_JOBS = 18


def jobs_of(spark, fn, group: str):
    """(result of fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def batch(spark, b, convs=range(8)):
    return edf(
        spark,
        [ev(f"c{c}", t, f"text-{b}-{c}-{t}", b * 1000 + c * 10 + t, off=b)
         for c in convs for t in range(3)],
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "base"), keys=["conv_id", "turn_idx"],
        ts_col="ts", n_buckets=4,
    )
    t.merge(batch(spark, 0), "b0")
    t.merge(batch(spark, 1), "b1")
    return t


def test_merge_job_budget(spark, table):
    commit, n = jobs_of(spark, lambda: table.merge(batch(spark, 2), "b2"), "budget-merge")
    assert commit.batch_id == "b2" and commit.metrics["files_added"] > 0
    assert n == MERGE_JOBS, n


def test_compact_job_budget(spark, table):
    commit, n = jobs_of(
        spark, lambda: table.compact(min_files_per_bucket=2), "budget-compact"
    )
    assert commit is not None and commit.metrics["files_removed"] > 0
    assert n == COMPACT_JOBS, n


def test_mv_partial_refresh_job_budget(spark, table, tmp_path):
    mv = IncrementalRollup(
        table, str(tmp_path / "mv"), group_cols=["conv_id"],
        aggs={"n_turns": F.count(F.lit(1)), "chars": F.sum(F.length("text"))},
        n_buckets=4,
    )
    mv.refresh()
    # one conversation changes: the refresh is partial and single-scheme
    table.merge(batch(spark, 3, convs=[5]), "b3")
    stats, n = jobs_of(spark, mv.refresh, "budget-mv")
    assert stats.partial and 0 < stats.n_files_read < stats.n_live_files
    assert n == MV_PARTIAL_REFRESH_JOBS, n
