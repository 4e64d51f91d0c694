"""Small engine utilities shared across operator modules."""

from __future__ import annotations

import contextlib
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# Active sink for :func:`track_materialized` (None = not tracking).
_TRACK_SINK: list[DataFrame] | None = None


@contextlib.contextmanager
def track_materialized(sink: list[DataFrame]):
    """Collect every DataFrame :func:`materialize` persists inside the
    block. The query layer's plan memo uses it: ``clearCache()`` drops
    those persists between bench passes, so a memo hit persists the
    tracked set again and shares cache entries within a pass exactly
    like a fresh build. Lineage cuts are not collected; a block that
    makes one starts a SQL execution, and the memo never stores it."""
    global _TRACK_SINK
    prev = _TRACK_SINK
    _TRACK_SINK = sink
    try:
        yield sink
    finally:
        _TRACK_SINK = prev


def count_sql_executions(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, int]:
    """Run ``fn`` and count the SQL executions it started: one per
    action (an eager checkpoint included), however many jobs AQE splits
    it into. Read from the SQL status store, which works with the UI
    disabled. Executions another thread starts meanwhile count too. A
    ``df.rdd`` probe over an adaptive plan runs jobs outside any SQL
    execution and is not counted."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = int(store.executionsCount())
        if not n:
            return -1
        return int(store.executionsList(n - 1, 1).head().executionId())

    before = last_id()
    out = fn()
    return out, last_id() - before


def materialize(df: DataFrame, cut_lineage: bool = False) -> DataFrame:
    """Keep an intermediate that several downstream branches consume.

    - ``materialize(df)`` persists lazily (MEMORY_AND_DISK): lineage is
      kept, so a lost executor recomputes, and nothing runs until the
      first action. The frame is recorded in an active
      :func:`track_materialized` sink.
    - ``materialize(df, cut_lineage=True)`` is for fixed-point loops
      whose plans would otherwise grow each iteration. It checkpoints
      eagerly and truncates lineage: to the reliable checkpoint dir when
      ``spark.sparkContext.setCheckpointDir(...)`` was called (survives
      executor loss), with an executor-local ``localCheckpoint``
      otherwise (single-JVM runs).
    """
    if cut_lineage:
        if df.sparkSession.sparkContext.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)
    out = df.persist()
    if _TRACK_SINK is not None:
        _TRACK_SINK.append(out)
    return out


def rebalance_for_compute(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Spread a *byte-small but CPU-heavy* input across the cluster.

    Parquet splits by bytes (spark.sql.files.maxPartitionBytes), so a few-MB
    documents table arrives as 1 partition and a per-row-expensive operator
    (MinHash shingling, SimHash, feature extraction) runs on one core. When
    the input is estimated to yield fewer partitions than the available
    parallelism, repartition up; when the input is already wide (the 100 TB
    case) this is a no-op — no shuffle added.

    The width check is STATIC — the optimizer's size estimate divided by
    ``spark.sql.files.maxPartitionBytes`` — never ``df.rdd``: under AQE,
    converting a DataFrame to an RDD finalizes the adaptive plan, which
    EXECUTES every shuffle stage beneath it. The old
    ``df.rdd.getNumPartitions()`` probe silently ran (and threw away) the
    upstream join/aggregate stages at plan-construction time — measured
    r12: 10 ghost jobs per near-dup build. A size estimate can be wrong in
    either direction, but the failure modes are benign: overestimating
    skips a repartition the data didn't need; underestimating adds one
    cheap extra shuffle of a small input.
    """
    sess = df.sparkSession
    sc = sess.sparkContext
    target = sc.defaultParallelism * min_factor
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        raw = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        max_pb = int(
            sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )
        est_parts = max(1, size // max(1, max_pb))
    except Exception:
        # Estimate unavailable (exotic plan): return UNCHANGED (r12
        # ADVICE). The old `repartition(target)` fallback inverted the
        # documented no-op-when-wide guarantee — for an already-wide
        # input it would coalesce thousands of partitions down to
        # defaultParallelism, a full shuffle of a possibly-huge input.
        # Missing a spread on a genuinely narrow input costs one
        # under-parallelized stage; shuffling 100 TB costs hours.
        return df
    if est_parts < target:
        return df.repartition(target)
    return df
