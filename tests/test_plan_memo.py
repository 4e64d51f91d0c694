"""The query layer's plan memo: it stores a row's chain only when the
row's first build started no SQL execution, and a hit hands back a fresh
frame over that chain with its persists registered again."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark import StorageLevel

from clickhouse_etl_spark import queries as Q
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def decided(spark):
    """Build every registered row once, so the memo has decided each
    key; maps name -> stored ``(chain, persists)`` or None."""
    for fn in Q.QUERIES.values():
        fn(spark, SF_SMOKE)
    app, sf = spark.sparkContext.applicationId, os.path.abspath(SF_SMOKE)
    return {name: Q._CHAIN_CACHE[(app, sf, name)] for name in Q.QUERIES}


def test_stored_rows_rebuild_without_jobs(spark, decided, count_jobs):
    """The execution count misses jobs that run outside a SQL execution
    (a ``df.rdd`` probe over an adaptive plan). A stored row must build
    again, once its tables are resolved, without firing any job."""
    stored = [name for name, hit in decided.items() if hit is not None]
    assert stored
    busy = {}
    for name in stored:
        build = Q.QUERIES[name].__wrapped__
        _, jobs = count_jobs(lambda: build(spark, SF_SMOKE))
        if jobs:
            busy[name] = jobs
    assert busy == {}


def test_eager_row_is_rebuilt_every_call(spark, decided, count_executions):
    assert decided["ext_quality_gate"] is None
    gate = Q.QUERIES["ext_quality_gate"]
    for _ in range(2):
        _, runs = count_executions(lambda: gate(spark, SF_SMOKE))
        assert runs >= 1


def test_hit_persists_tracked_frames_again(spark, decided):
    _, persisted = decided["pl_monthly_subject_fact"]
    assert persisted
    spark.catalog.clearCache()
    assert all(m.storageLevel == StorageLevel.NONE for m in persisted)
    Q.QUERIES["pl_monthly_subject_fact"](spark, SF_SMOKE)
    assert all(m.storageLevel != StorageLevel.NONE for m in persisted)


def test_hit_returns_fresh_frame_with_same_rows(spark, decided):
    chain, _ = decided["q1_pricing_summary"]
    fn = Q.QUERIES["q1_pricing_summary"]
    a, b = fn(spark, SF_SMOKE), fn(spark, SF_SMOKE)
    jdfs = [chain._jdf, a._jdf, b._jdf]
    assert not any(x.equals(y) for i, x in enumerate(jdfs) for y in jdfs[i + 1:])
    fresh = Counter(map(tuple, fn.__wrapped__(spark, SF_SMOKE).collect()))
    assert Counter(map(tuple, a.collect())) == fresh
    assert Counter(map(tuple, b.collect())) == fresh
