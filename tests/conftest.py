"""Shared Spark fixture — one local[4] session for the whole test run.

Deliberately built WITHOUT the engine's session factory defaults: queries
must be self-sufficient on any session (the external driver supplies its
own), so tests exercising table loads go through catalog.load_table /
ensure_runtime_confs just like production callers.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("clickhouse_etl_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        # one JVM serves the whole suite (thousands of accumulated
        # stages + codegen classes); the 1g default heap OOMed once the
        # round-6 URL expressions grew — 4g is still tiny for the box
        .config("spark.driver.memory", "4g")
        # static conf: catalog tables (bucketed-write tests) land in a tmp
        # warehouse, not the repo
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark_wh_"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), jobs)``: run ``fn`` under a fresh job
    group and count the Spark jobs it fired (the status tracker's
    per-group job ids — works with the UI disabled)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def count_executions(spark):
    """``count_executions(fn) -> (fn(), n)``: run ``fn`` and count the
    SQL executions it started (``util.count_sql_executions``)."""
    from clickhouse_etl_spark.util import count_sql_executions

    return lambda fn: count_sql_executions(spark, fn)


def rows_set(df, *cols):
    """Collect as a set of tuples (order-insensitive compare)."""
    sel = df.select(*cols) if cols else df
    return {tuple(r) for r in sel.collect()}
