"""bench.JobGroup: the per-query work counters bench.py and
tools/timeq.py record, read on the shared test session."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from bench import JobGroup


def _grouped_count(spark, group: str):
    df = spark.range(0, 20_000, numPartitions=4).withColumn("k", F.col("id") % 97)
    with JobGroup(spark.sparkContext, group) as jobs:
        rows = df.groupBy("k").count().collect()
    assert len(rows) == 97
    return jobs.counters()


def test_group_by_count_reports_its_shuffle(spark):
    tag = uuid.uuid4().hex
    first, stages = _grouped_count(spark, f"counters-a-{tag}")
    assert first["jobs"] >= 1
    assert first["stages"] == len(stages) >= 1
    assert first["tasks"] == sum(s["tasks"] for s in stages) > 0
    assert first["shuffle_write_bytes"] > 0
    assert first["shuffle_read_bytes"] > 0

    second, _ = _grouped_count(spark, f"counters-b-{tag}")
    assert second["shuffle_write_bytes"] == first["shuffle_write_bytes"]
    assert second["shuffle_read_bytes"] == first["shuffle_read_bytes"]


def test_back_to_back_groups_share_no_jobs(spark):
    tag = uuid.uuid4().hex
    tracker = spark.sparkContext.statusTracker()
    _grouped_count(spark, f"counters-c-{tag}")
    _grouped_count(spark, f"counters-d-{tag}")
    jobs_c = set(tracker.getJobIdsForGroup(f"counters-c-{tag}"))
    jobs_d = set(tracker.getJobIdsForGroup(f"counters-d-{tag}"))
    assert jobs_c and jobs_d
    assert not jobs_c & jobs_d
    assert max(jobs_c) < min(jobs_d)


def test_evicted_jobs_fail_loudly(spark):
    """A job the block ran that the status store no longer holds raises
    instead of reading as 0 (the block's window is widened to a job id
    that was never started, which the store cannot hold either)."""
    with JobGroup(spark.sparkContext, f"counters-e-{uuid.uuid4().hex}") as jobs:
        spark.range(10).collect()
    jobs._end_job += 1
    with pytest.raises(RuntimeError, match="evicted"):
        jobs.counters()
