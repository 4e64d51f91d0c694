"""The workloads. Each has a ``setup`` (timed into ``setup_s``) and a
``round`` of operations (timed into ``run_s``); every operation carries
the check that decides whether it succeeded. Checks run after the
round, outside the timed body.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

from clickhouse_etl_spark.catalog import load_table
from clickhouse_etl_spark.pipelines.reference_etl import (
    copy_entity,
    monthly_subject_fact,
    monthly_subject_fact_incremental,
    student_transcript,
    synthetic_warehouse,
)
from clickhouse_etl_spark.sinks.staging import publish_snapshot, read_current
from clickhouse_etl_spark.sources.readers import commit_watermark, incremental_read
from clickhouse_etl_spark.sources.watermark import WatermarkLedger
from clickhouse_etl_spark.text.curation import curate_corpus

import checks

# newest l_shipdate in the test tables; the last fold's window reaches past it
LAST_SHIP_DAY = dt.date(2001, 11, 4)
WATERMARK_PIPELINE = "score_fact"
FOLDS = 2
CARD_STAGES = ["input", "exact_dedup", "near_dedup", "span_cut", "quality_filter", "final"]


@dataclass
class Op:
    """One operation: its name, its wall time and the check of its output
    (``None`` when the operation raised before producing one)."""

    name: str
    seconds: float
    check: Callable[[], str | None] | None


@dataclass
class Round:
    """One round's timed body, its operations, and the times of its
    batches when it delivers its input in several (otherwise the round
    is one batch)."""

    body_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    batches: list[float] = field(default_factory=list)
    export_bytes: int = 0


@dataclass
class Ctx:
    spark: object
    tracer: object
    in_dir: str
    tables_dir: str
    work_dir: str
    seed: int
    state: dict = field(default_factory=dict)

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name)


def _month_later(d: dt.date, months: int) -> dt.date:
    y, m = divmod(d.month - 1 + months, 12)
    return dt.date(d.year + y, m + 1, min(d.day, 28))


def fold_windows(seed: int, folds: int = FOLDS) -> tuple[dt.date, list[dt.date | None]]:
    """The cut date of the base snapshot and the end of each fold's
    ``markedAt`` window: month-wide windows, the last one open-ended so
    it reaches past the newest score. The seed shifts the cut back by
    0-9 days."""
    cut = _month_later(LAST_SHIP_DAY, -folds) - dt.timedelta(days=seed % 10)
    ends: list[dt.date | None] = [_month_later(cut, i + 1) for i in range(folds - 1)]
    return cut, ends + [None]


def _ts(d: dt.date):
    return F.lit(d.isoformat()).cast("timestamp")


def _register_inputs(ctx: Ctx, tables) -> dict:
    with ctx.span("catalog", "load_table"):
        return {t: load_table(ctx.spark, ctx.in_dir, t) for t in tables}


def _timed(rnd: Round, name: str, check_factory, fn) -> None:
    """Run ``fn`` as one operation; its check is built from its result.
    An exception fails the operation and leaves the rest of the round
    running."""
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        rnd.ops.append(Op(name, time.perf_counter() - t0, None))
        return
    rnd.ops.append(Op(name, time.perf_counter() - t0, check_factory(result)))


def _with_oracle(make_oracle, check, *args) -> Callable[[], str | None]:
    def run():
        o = make_oracle()
        try:
            return check(o, *args)
        finally:
            o.close()
    return run


# ---------------------------------------------------------------------------
# warehouse_nightly: the full rebuild as of the cut date, then daily folds
# ---------------------------------------------------------------------------

def nightly_setup(ctx: Ctx) -> None:
    _register_inputs(ctx, checks.WAREHOUSE_INPUTS)
    ctx.state["cut"], ctx.state["ends"] = fold_windows(ctx.seed)


def _dashboard(df):
    return (
        df.groupBy("monthName", "scoreSource")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("percentage").alias("avg_pct"))
        .orderBy("monthName", "scoreSource")
    )


def nightly_round(ctx: Ctx, r: int) -> Round:
    """Rebuild the student copy, the wide fact and the transcript over
    the scores marked before the cut date, commit that load's watermark,
    then fold the later scores into the fact one month-wide batch at a
    time, each fold followed by a dashboard read."""
    cut, ends = ctx.state["cut"], ctx.state["ends"]
    out = os.path.join(ctx.tables_dir, f"round{r}")
    fact_root = f"{out}/fact"
    ledger = WatermarkLedger(os.path.join(ctx.work_dir, f"ledger-round{r}.jsonl"))
    rnd = Round()

    def oracle(before: dt.date | None = None):
        return lambda: checks.Oracle(
            ctx.in_dir, checks.WAREHOUSE_INPUTS,
            lineitem_before=None if before is None else before.isoformat(),
        )

    t0 = time.perf_counter()
    with ctx.span("pipelines", "synthetic_warehouse"):
        wh = synthetic_warehouse(ctx.spark, ctx.in_dir)
    scores = wh["scores"]
    before_cut = scores.filter(F.col("markedAt") < _ts(cut))
    dims = (wh["evaluations"], before_cut, wh["students"], wh["structures"], wh["subject_dim"])

    def students():
        # two source versions per student, as pl_copy_students builds them
        with ctx.span("pipelines", "copy_entity"):
            s = wh["students"]
            v1 = s.withColumn("updatedAt", _ts(dt.date(2024, 1, 1))).withColumn(
                "firstName", F.concat(F.col("firstName"), F.lit("_stale"))
            )
            v2 = s.withColumn("updatedAt", _ts(dt.date(2024, 2, 1)))
            df = copy_entity(v1.unionByName(v2))
        with ctx.span("sinks", "publish_snapshot"):
            return publish_snapshot(df, f"{out}/students", "1")

    def fact():
        with ctx.span("pipelines", "monthly_subject_fact"):
            df = monthly_subject_fact(*dims)
        with ctx.span("sinks", "publish_snapshot"):
            snap = publish_snapshot(df, fact_root, "base")
        with ctx.span("sources", "commit_watermark"):
            commit_watermark(before_cut, ledger, WATERMARK_PIPELINE, ts_col="markedAt")
        return snap

    def transcript():
        with ctx.span("pipelines", "student_transcript"):
            df = student_transcript(*dims)
        with ctx.span("sinks", "publish_snapshot"):
            return publish_snapshot(df, f"{out}/transcript", "1")

    _timed(rnd, "publish_students",
           lambda snap: _with_oracle(oracle(), checks.check_students, snap), students)
    _timed(rnd, "publish_fact",
           lambda snap: _with_oracle(oracle(cut), checks.check_fact, snap), fact)
    _timed(rnd, "publish_transcript",
           lambda snap: _with_oracle(oracle(cut), checks.check_transcript, snap), transcript)

    for i, end in enumerate(ends):
        def fold(end=end, version=f"fold{i}"):
            arrived = scores if end is None else scores.filter(F.col("markedAt") < _ts(end))
            with ctx.span("sources", "incremental_read"):
                new = incremental_read(arrived, ledger, WATERMARK_PIPELINE, ts_col="markedAt")
            with ctx.span("sinks", "read_current"):
                prev = read_current(ctx.spark, fact_root)
            with ctx.span("pipelines", "monthly_subject_fact_incremental"):
                df = monthly_subject_fact_incremental(
                    wh["evaluations"], arrived, new, prev,
                    wh["students"], wh["structures"], wh["subject_dim"],
                )
            with ctx.span("sinks", "publish_snapshot"):
                snap = publish_snapshot(df, fact_root, version)
            with ctx.span("sources", "commit_watermark"):
                commit_watermark(new, ledger, WATERMARK_PIPELINE, ts_col="markedAt")
            with ctx.span("export", "dashboard_to_arrow"):
                board = _dashboard(read_current(ctx.spark, fact_root)).toArrow()
            rnd.export_bytes += board.nbytes
            return snap, board, ledger.get(WATERMARK_PIPELINE)

        _timed(rnd, f"fold{i}",
               lambda res, end=end: _with_oracle(oracle(end), _check_fold, *res, end is None),
               fold)
        rnd.batches.append(rnd.ops[-1].seconds)
    rnd.body_s = time.perf_counter() - t0
    return rnd


def _check_fold(o: checks.Oracle, snap, board, watermark, last: bool) -> str | None:
    """The snapshot after a fold equals a full rebuild over the scores
    that had arrived; the dashboard covers every row; after the last
    fold the watermark is the newest score's ``markedAt``."""
    bad = checks.check_fact(o, snap)
    if bad is None:
        rows = o.scalar(f"SELECT count(*) FROM {checks.snapshot_sql(snap)}")
        counted = sum(board.column("n").to_pylist())
        if counted != rows:
            bad = f"dashboard counts {counted} of {rows} rows"
    if bad is None and last:
        bad = checks.check_watermark(o, watermark)
    return bad


# ---------------------------------------------------------------------------
# corpus_curation: the composed curation chain with its data card
# ---------------------------------------------------------------------------

def curation_setup(ctx: Ctx) -> None:
    docs = _register_inputs(ctx, ["documents"])["documents"]
    ctx.state["docs"] = docs.select("doc_id", "text")


def curation_round(ctx: Ctx, r: int) -> Round:
    root = os.path.join(ctx.tables_dir, f"round{r}", "corpus")
    rnd = Round()
    oracle = lambda: checks.Oracle(ctx.in_dir, ["documents"])  # noqa: E731
    done: dict = {}
    t0 = time.perf_counter()

    def curate():
        with ctx.span("text", "curate_corpus"):
            done["res"] = curate_corpus(
                ctx.state["docs"], span_k=8, minhash_threshold=0.2, min_tokens=5,
                hash_family="poly", minhash_max_bucket_size=None,
            )
        return done["res"].report

    def publish():
        if "res" not in done:
            raise RuntimeError("curate_corpus produced no corpus to publish")
        with ctx.span("sinks", "publish_snapshot"):
            snap = publish_snapshot(done["res"].corpus, root, "1")
        return snap, done["res"].report.get("final")

    _timed(rnd, "curate_corpus",
           lambda card: _with_oracle(oracle, checks.check_card, card, CARD_STAGES), curate)
    _timed(rnd, "publish_corpus",
           lambda out: _with_oracle(oracle, checks.check_corpus, *out), publish)
    rnd.body_s = time.perf_counter() - t0
    return rnd


WORKLOADS = {
    "warehouse_nightly": (nightly_setup, nightly_round),
    "corpus_curation": (curation_setup, curation_round),
}
