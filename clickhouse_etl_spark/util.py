"""Small engine utilities shared across operator modules."""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame

# Engine-wide materialization strategy (see :func:`materialize`).
_MATERIALIZE_MODE: str | None = None

_MATERIALIZE_MODES = ("localCheckpoint", "checkpoint", "persist", "none")

# Active sink for :func:`track_materialized` (None = not tracking).
_TRACK_SINK: list[DataFrame] | None = None
# Set when an EAGER materialization (checkpoint/localCheckpoint — e.g. a
# cut_lineage escalation) happens inside a track_materialized block: the
# plan memo must refuse to cache such a chain, because checkpointed data
# survives clearCache() and would leak across bench passes (r12 ADVICE).
_TRACK_SAW_EAGER: bool = False


def resolved_materialize_mode(mode: str | None = None) -> str:
    """The mode :func:`materialize` would resolve right now (explicit
    arg → setter → env → 'persist') — lets callers decide whether a
    materialized plan is a pure lazy fragment (persist/none) or carries
    eager executor state (localCheckpoint/checkpoint)."""
    return (
        mode
        or _MATERIALIZE_MODE
        or os.environ.get("SPARK_GRAFT_MATERIALIZE")
        or "persist"
    )


@contextlib.contextmanager
def track_materialized(sink: list[DataFrame]):
    """Collect every DataFrame :func:`materialize` persist-marks inside
    the block. Used by the query layer's plan memo: a memoized chain's
    persist registrations are wiped by ``spark.catalog.clearCache()``
    between bench passes, so the memo re-registers exactly the tracked
    set per invocation to keep the within-pass cache-sharing semantics
    identical to a fresh build. Also resets the eager-materialization
    flag (see :func:`tracked_saw_eager`) for the block."""
    global _TRACK_SINK, _TRACK_SAW_EAGER
    prev = _TRACK_SINK
    prev_eager = _TRACK_SAW_EAGER
    _TRACK_SINK = sink
    _TRACK_SAW_EAGER = False
    try:
        yield sink
    finally:
        _TRACK_SINK = prev
        _TRACK_SAW_EAGER = prev_eager


def tracked_saw_eager() -> bool:
    """True when the CURRENT track_materialized block saw an eager
    (checkpoint/localCheckpoint) materialization — e.g. a cut_lineage
    escalation under persist mode. Read it INSIDE the with-block, before
    it exits (exit restores the outer flag)."""
    return _TRACK_SAW_EAGER


def set_materialize_mode(mode: str | None) -> None:
    """Set the engine-wide default for :func:`materialize`.

    ``persist`` (default) | ``localCheckpoint`` | ``checkpoint`` | ``none``.
    ``None`` resets to the built-in default, which the
    ``SPARK_GRAFT_MATERIALIZE`` environment variable overrides (the
    explicit setter wins over both).
    """
    if mode is not None and mode not in _MATERIALIZE_MODES:
        raise ValueError(f"materialize mode must be one of {_MATERIALIZE_MODES}")
    global _MATERIALIZE_MODE
    _MATERIALIZE_MODE = mode


def materialize(
    df: DataFrame, mode: str | None = None, cut_lineage: bool = False
) -> DataFrame:
    """Cache / checkpoint an intermediate that multiple downstream
    branches consume, with a cluster-appropriate strategy:

    - ``persist`` (default) — lazy MEMORY_AND_DISK cache; keeps lineage
      (fault recovery recomputes — cluster-safe), no eager barrier, no
      serialize-everything job. Measured fastest on local[32] too (the
      eager localCheckpoint serialization of wide intermediates cost
      more than it saved).
    - ``localCheckpoint`` — eager, executor-local blocks, TRUNCATES
      lineage. The blocks are unreplicated executor state: on a real
      cluster an executor loss kills the job — local-mode only.
    - ``checkpoint`` — eager, written to the reliable checkpoint dir
      (HDFS/object store), truncates lineage AND survives executor
      loss. The cluster mode for lineage cuts. Requires
      ``spark.sparkContext.setCheckpointDir(...)`` first.
    - ``none`` — pass-through (recompute per consumer).

    ``cut_lineage=True`` marks call sites that NEED plan truncation
    (fixed-point loops whose plans would otherwise grow each iteration):
    when the resolved mode doesn't truncate (persist/none), it is
    escalated to ``checkpoint`` if a checkpoint dir is configured, else
    ``localCheckpoint``.

    Resolution order: explicit ``mode`` arg → ``set_materialize_mode`` →
    ``$SPARK_GRAFT_MATERIALIZE`` → ``persist``.
    """
    mode = resolved_materialize_mode(mode)
    if mode not in _MATERIALIZE_MODES:
        raise ValueError(f"materialize mode must be one of {_MATERIALIZE_MODES}")
    if cut_lineage and mode in ("persist", "none"):
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
        mode = "checkpoint" if has_dir else "localCheckpoint"
    if mode == "none":
        return df
    if mode == "localCheckpoint":
        global _TRACK_SAW_EAGER
        _TRACK_SAW_EAGER = True
        return df.localCheckpoint(eager=True)
    if mode == "checkpoint":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise RuntimeError(
                "materialize(mode='checkpoint') needs a reliable checkpoint "
                "dir: call spark.sparkContext.setCheckpointDir('<hdfs/s3 path>')"
            )
        _TRACK_SAW_EAGER = True
        return df.checkpoint(eager=True)
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
