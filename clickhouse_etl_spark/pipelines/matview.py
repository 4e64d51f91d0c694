"""Materialized views — derived-table maintenance as an engine object.

The reference maintains every derived table by re-running an entire
Airflow DAG daily: re-extract the source, rebuild the table, swap the
staging copy in (apps/airflow/dags/student_scores_subject/
etl_student_scores_subject_month_to_clickhouse.py:590,648 — full
rebuild regardless of how little changed). ClickHouse itself has the
better primitive — a MATERIALIZED VIEW folds inserted rows into the
target incrementally — but the reference never uses it. This module is
that primitive, Spark-first: a named view = source query + merge
strategy + snapshot store + watermark, refreshable either way:

- ``refresh_full``  — rebuild from scratch and publish a new snapshot
  (the reference's behavior, kept for backfills and logic changes).
- ``refresh_incremental`` — read only source rows past the committed
  watermark, fold them into the current snapshot with the strategy's
  merge (``summing_merge`` states or ``merge_upsert`` last-write-wins),
  publish, then commit max(ts) of the batch actually folded. O(delta +
  touched keys) per refresh.

The invariant that makes the view trustworthy — pinned in tests —
is refresh-path equivalence: any interleaving of incremental refreshes
produces the same published table as one full rebuild over the same
source state.

Watermark/publish ordering: the snapshot publish happens BEFORE the
watermark commit, so a crash between the two re-folds the same delta on
the next refresh. That is idempotent for ``replace`` (last-write-wins)
but would double-count ``summing`` — so the summing path snapshots the
batch (see ``incremental_read``'s lineage-cut rationale) and publishes
the watermark INSIDE the same refresh call, and a re-run after a crash
re-reads from the OLD watermark against the OLD snapshot only when the
publish also didn't land (the _CURRENT flip is atomic). A torn refresh
(published but uncommitted watermark) is repaired by ``repair_check``:
it detects max(ts-in-snapshot) > watermark and re-commits the watermark
without re-folding.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_etl_spark.sinks.staging import (
    current_version,
    publish_snapshot,
    read_current,
)
from clickhouse_etl_spark.sinks.upsert import merge_upsert, summing_merge
from clickhouse_etl_spark.sources.watermark import WatermarkLedger
from clickhouse_etl_spark.util import materialize


@dataclass
class MaterializedView:
    """A named derived table over a source query.

    ``source``: ``(spark) -> DataFrame`` producing the CURRENT full
    source relation; incremental refreshes filter it by ``ts_col`` >
    watermark (the predicate pushes down to the source scan, so the
    "full relation" is never materialized).

    ``strategy``: ``'summing'`` (aggregate states per key:
    ``sum_cols``/``min_cols``/``max_cols``) or ``'replace'``
    (last-write-wins row per key ordered by ``ts_col``).
    """

    name: str
    table_root: str
    source: Callable[[SparkSession], DataFrame]
    keys: Sequence[str]
    ts_col: str
    strategy: str = "summing"
    sum_cols: Sequence[str] = field(default_factory=tuple)
    min_cols: Sequence[str] = field(default_factory=tuple)
    max_cols: Sequence[str] = field(default_factory=tuple)
    #: state_col -> source_col HLL sketch states (see summing_merge)
    hll_cols: dict | None = None
    #: state_col -> (source_expr, lo, hi, nbins) histogram states
    hist_cols: dict | None = None
    #: state_col -> source_expr mergeable centered (n, mean, m2) moment
    #: states, combined via Chan's parallel update (see moment_state_agg)
    moment_cols: dict | None = None
    ledger: WatermarkLedger | None = None

    def __post_init__(self) -> None:
        if self.strategy not in ("summing", "replace"):
            raise ValueError("strategy must be 'summing' or 'replace'")
        if self.strategy == "summing" and not (
            self.sum_cols or self.min_cols or self.max_cols
            or self.hll_cols or self.hist_cols or self.moment_cols
        ):
            raise ValueError(
                "summing views need sum/min/max/hll/hist/moment cols"
            )
        if self.strategy == "replace" and (
            self.sum_cols or self.min_cols or self.max_cols
            or self.hll_cols or self.hist_cols or self.moment_cols
        ):
            # these configs are only consumed by the summing merge; a
            # replace view would silently publish snapshots WITHOUT the
            # requested state columns
            raise ValueError(
                "replace views carry whole rows — sum/min/max/hll/hist/"
                "moment cols only apply to strategy='summing'"
            )
        if self.ledger is None:
            self.ledger = WatermarkLedger(f"{self.table_root}/_watermarks.jsonl")
        # Torn-refresh repair is only needed for state left by a PRIOR
        # process (publish landed, watermark commit lost to a crash).
        # Within one live instance every refresh either completes both
        # steps or raises before the next call, so after one repair
        # probe the instance can trust its own bookkeeping — the probe
        # (a snapshot read + max aggregation per refresh) is skipped
        # from then on. A fresh process starts unproven again. Single
        # writer per table_root is already the module's concurrency
        # contract (the version counter has no CAS).
        self._repair_probed = False

    # -- internals ---------------------------------------------------------

    def _next_version(self) -> str:
        self._guard_ownership()
        ver = current_version(self.table_root)
        return f"{(int(ver) + 1) if ver is not None else 0:020d}"

    def _guard_ownership(self) -> None:
        """Refuse a ``table_root`` owned by a streaming summing sink
        (``streaming.foreach_batch_summing`` leaves a
        ``_SUMMING_SINK.json`` marker). A view publishing there would
        bump the version past upcoming batch ids, and the sink's
        ``version >= batch_id`` replay guard would then silently skip
        live batches — data loss. The sink checks one way (it refuses
        roots with foreign snapshots); this is the other direction."""
        import os

        marker = os.path.join(self.table_root, "_SUMMING_SINK.json")
        if os.path.exists(marker):
            raise RuntimeError(
                f"{self.table_root!r} is owned by a streaming summing "
                "sink (_SUMMING_SINK.json present) — a MaterializedView "
                "publishing here would advance the version past the "
                "sink's replay guard and lose live batches; use a "
                "separate table_root"
            )

    def _wm_expr(self) -> F.Column:
        """max(ts_col) in the ledger's canonical string form — every
        commit site MUST use this one format; mixed formats (str(ts) vs
        ISO-T) would break the ledger's lexicographic comparisons."""
        return F.max(
            F.date_format(
                F.col(self.ts_col).cast("timestamp"),
                "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
            )
        )

    def _max_ts_string(self, df: DataFrame) -> str | None:
        """max(ts_col) in the ledger's canonical string form, computed
        executor-side (see :meth:`_wm_expr`)."""
        return df.agg(self._wm_expr()).collect()[0][0]

    def _merge(self, current: DataFrame | None, delta: DataFrame) -> DataFrame:
        if self.strategy == "summing":
            # ts_col is folded as a max state so the view itself records
            # how far it has seen — repair_check reads it back.
            max_cols = list(self.max_cols)
            if self.ts_col not in max_cols:
                max_cols.append(self.ts_col)
            return summing_merge(
                current, delta, self.keys, self.sum_cols, self.min_cols,
                max_cols, self.hll_cols, self.hist_cols, self.moment_cols,
            )
        if current is None:
            return merge_upsert(delta.limit(0), delta, list(self.keys), self.ts_col)
        return merge_upsert(current, delta, list(self.keys), self.ts_col)

    def _read_current(self, spark: SparkSession) -> DataFrame | None:
        try:
            return read_current(spark, self.table_root)
        except FileNotFoundError:
            return None

    # -- public API --------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """The published view (raises until first refresh)."""
        return read_current(spark, self.table_root)

    def refresh_full(self, spark: SparkSession) -> str:
        """Rebuild from the full source and publish. Also commits the
        watermark at max(ts) of the source, so a later incremental
        refresh continues from here."""
        src = materialize(self.source(spark), cut_lineage=True)
        merged = self._merge(None, src)
        version = self._next_version()
        # Dis-arm the probe memo across the publish→commit window: if
        # publish succeeds but the commit raises, the next refresh on
        # this instance must re-run repair_check or it would re-read the
        # stale watermark and double-count the published delta (r12
        # ADVICE). Re-armed only after a commit completes.
        self._repair_probed = False
        publish_snapshot(merged, self.table_root, version=version)
        wm = self._max_ts_string(src)
        if wm is not None:
            self.ledger.commit(self.name, wm)
            self._repair_probed = True  # proven only by a commit
        return version

    def refresh_incremental(self, spark: SparkSession) -> str | None:
        """Fold source rows past the watermark into the snapshot.
        Returns the published version, or None when there was no new
        data (no snapshot churn, no watermark movement).

        Runs :meth:`repair_check` FIRST: after a crash between publish
        and watermark commit, a bare re-run would otherwise re-read the
        already-folded delta and double-count it in a summing view —
        recovery must not depend on an operator remembering to repair
        by hand."""
        # Probe for a torn refresh only until this instance has proven
        # its state once (see __post_init__): in-process, every
        # completed refresh leaves publish and watermark consistent, so
        # re-probing per refresh pays a snapshot read + max aggregation
        # for nothing. The PUBLIC repair_check stays a full probe for
        # callers checking externally-modified state.
        if not self._repair_probed:
            self.repair_check(spark)
            self._repair_probed = True
        wm = self.ledger.get(self.name)
        delta = self.source(spark).filter(
            F.col(self.ts_col) > F.lit(wm).cast("timestamp")
        )
        # Snapshot the batch: consumed by the merge AND the watermark
        # max — an unsnapshotted plan could re-scan a LIVE source
        # between the two and commit past unfolded rows.
        delta = materialize(delta, cut_lineage=True)
        # ONE probe over the snapshotted batch serves both the
        # empty-batch short-circuit and the new watermark (previously an
        # isEmpty job plus a separate max job). Computing the watermark
        # before the publish is safe: the delta is snapshotted, so the
        # value cannot drift, and a crash between publish and commit is
        # still repaired by repair_check as before.
        probe = delta.agg(
            F.count(F.lit(1)).alias("__n"), self._wm_expr().alias("__wm")
        ).collect()[0]
        if not probe["__n"]:
            return None
        merged = self._merge(self._read_current(spark), delta)
        version = self._next_version()
        # Dis-arm across the publish→commit window (see refresh_full):
        # a torn publish/commit must re-arm the repair probe for the
        # next refresh on this same live instance (r12 ADVICE).
        self._repair_probed = False
        publish_snapshot(merged, self.table_root, version=version)
        if probe["__wm"] is not None:
            self.ledger.commit(self.name, probe["__wm"])
            self._repair_probed = True  # proven only by a commit
        return version

    def repair_check(self, spark: SparkSession) -> bool:
        """Detect (and repair) a torn refresh: snapshot published but
        watermark commit lost. Summing views carry max(ts) as a state
        column, so the repair is a watermark re-commit — no re-fold.
        Returns True when a repair happened. Replace views need no
        repair (re-folding the same delta is idempotent there)."""
        if self.strategy != "summing":
            return False
        current = self._read_current(spark)
        if current is None:
            return False
        # Collect the max in the LEDGER's canonical string form on the
        # executor side — a driver-side strftime would crash on string
        # ts columns and mis-format dates (date has no time component,
        # so its str() form never matches the committed format).
        seen_s = self._max_ts_string(current)
        if seen_s is None:
            return False
        committed = self.ledger.get(self.name)
        if seen_s > committed:
            self.ledger.commit(self.name, seen_s)
            return True
        return False
