"""Materialized-view maintenance: refresh-path equivalence + repair.

The trust invariant: any interleaving of incremental refreshes equals
one full rebuild over the same source state — for both the summing and
the replace strategies — and a torn refresh (snapshot published,
watermark commit lost) is detected and repaired without re-folding.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_etl_spark.pipelines.matview import MaterializedView
from tests.conftest import rows_set


def _mk_source(spark, batches):
    """Source closure over a growing list of row batches (each row:
    (k, v, ts_string)) — models a table receiving appends between
    refreshes."""

    def source(_spark):
        rows = [r for b in batches for r in b]
        return spark.createDataFrame(
            rows, "k string, v double, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    return source


B1 = [("a", 1.0, "2024-01-01 10:00:00"), ("b", 2.0, "2024-01-01 11:00:00")]
B2 = [("a", 3.0, "2024-01-02 09:00:00"), ("c", 4.0, "2024-01-02 10:00:00")]
B3 = [("b", 5.0, "2024-01-03 08:00:00"), ("a", 6.0, "2024-01-03 09:00:00")]


def test_summing_view_incremental_equals_full(spark, tmp_path):
    batches = [B1]
    view = MaterializedView(
        name="totals",
        table_root=str(tmp_path / "totals"),
        source=_mk_source(spark, batches),
        keys=["k"],
        ts_col="ts",
        strategy="summing",
        sum_cols=["v"],
    )
    assert view.refresh_full(spark) == f"{0:020d}"
    batches.append(B2)
    assert view.refresh_incremental(spark) is not None
    # no new data -> no-op, version unchanged
    assert view.refresh_incremental(spark) is None
    batches.append(B3)
    view.refresh_incremental(spark)

    full = MaterializedView(
        name="totals_full",
        table_root=str(tmp_path / "totals_full"),
        source=_mk_source(spark, batches),
        keys=["k"],
        ts_col="ts",
        strategy="summing",
        sum_cols=["v"],
    )
    full.refresh_full(spark)
    assert rows_set(view.read(spark)) == rows_set(full.read(spark))
    got = {r.k: r.v for r in view.read(spark).collect()}
    assert got == {"a": 10.0, "b": 7.0, "c": 4.0}


def test_replace_view_incremental_equals_full(spark, tmp_path):
    batches = [B1]
    view = MaterializedView(
        name="latest",
        table_root=str(tmp_path / "latest"),
        source=_mk_source(spark, batches),
        keys=["k"],
        ts_col="ts",
        strategy="replace",
    )
    view.refresh_full(spark)
    batches.append(B2)
    view.refresh_incremental(spark)
    batches.append(B3)
    view.refresh_incremental(spark)
    got = {r.k: r.v for r in view.read(spark).collect()}
    assert got == {"a": 6.0, "b": 5.0, "c": 4.0}  # newest row per key


def test_summing_view_repair_after_lost_watermark(spark, tmp_path):
    """Torn refresh: publish landed, watermark commit lost. repair_check
    re-commits from the snapshot's own max-ts state; the next
    incremental refresh then skips the already-folded delta instead of
    double-adding it."""
    batches = [B1]
    view = MaterializedView(
        name="torn",
        table_root=str(tmp_path / "torn"),
        source=_mk_source(spark, batches),
        keys=["k"],
        ts_col="ts",
        strategy="summing",
        sum_cols=["v"],
    )
    view.refresh_full(spark)
    batches.append(B2)
    view.refresh_incremental(spark)
    before = {r.k: r.v for r in view.read(spark).collect()}

    # simulate the lost commit: roll the ledger back to B1's watermark
    from pathlib import Path

    ledger_path = Path(view.ledger._path)
    lines = ledger_path.read_text().strip().splitlines()
    ledger_path.write_text(lines[0] + "\n")  # keep only the full-refresh commit

    assert view.repair_check(spark) is True
    # repaired: re-running incremental does NOT re-fold B2
    assert view.refresh_incremental(spark) is None
    after = {r.k: r.v for r in view.read(spark).collect()}
    assert after == before
    assert view.repair_check(spark) is False  # idempotent


def test_incremental_without_watermark_stays_unproven(spark, tmp_path):
    """A refresh whose batch yields no watermark (``__wm`` NULL) publishes
    but commits nothing, so the instance must not mark its state proven:
    the next refresh re-runs the repair probe."""
    batches = [B1]
    view = MaterializedView(
        name="totals",
        table_root=str(tmp_path / "totals"),
        source=_mk_source(spark, batches),
        keys=["k"],
        ts_col="ts",
        strategy="summing",
        sum_cols=["v"],
    )
    view.refresh_full(spark)
    assert view._repair_probed
    committed = view.ledger.get("totals")
    batches.append(B2)
    view._wm_expr = lambda: F.max(F.lit(None).cast("string"))
    assert view.refresh_incremental(spark) is not None
    assert view.ledger.get("totals") == committed
    assert view._repair_probed is False


def test_view_validation(spark, tmp_path):
    with pytest.raises(ValueError):
        MaterializedView(
            name="bad", table_root=str(tmp_path / "bad"),
            source=lambda s: None, keys=["k"], ts_col="ts",
            strategy="summing",
        )
    with pytest.raises(ValueError):
        MaterializedView(
            name="bad2", table_root=str(tmp_path / "bad2"),
            source=lambda s: None, keys=["k"], ts_col="ts",
            strategy="nonsense",
        )


def test_summing_view_with_hll_distinct(spark, tmp_path):
    """A view can maintain approximate distinct counts incrementally:
    HLL estimates after two incremental folds equal the full rebuild."""
    batches = [[("a", 1.0, "2024-01-01 10:00:00"), ("a", 2.0, "2024-01-01 11:00:00")]]
    # reuse (k, v, ts); distinct-count v per k
    def mk(b):
        return MaterializedView(
            name="uniq",
            table_root=str(tmp_path / f"uniq{id(b)}"),
            source=_mk_source(spark, b),
            keys=["k"],
            ts_col="ts",
            strategy="summing",
            sum_cols=[],
            hll_cols={"u": "CAST(v AS STRING)"},
        )

    view = mk(batches)
    view.refresh_full(spark)
    batches.append([("a", 2.0, "2024-01-02 09:00:00"),  # duplicate value
                    ("a", 3.0, "2024-01-02 10:00:00"),
                    ("b", 9.0, "2024-01-02 11:00:00")])
    view.refresh_incremental(spark)

    full_batches = [b for b in batches]
    full = mk(full_batches)
    full.refresh_full(spark)

    est = lambda v: {
        r.k: r.est
        for r in v.read(spark).select(
            "k", F.expr("hll_sketch_estimate(u)").alias("est")
        ).collect()
    }
    assert est(view) == est(full)
    assert round(est(view)["a"]) == 3 and round(est(view)["b"]) == 1


def test_matview_refuses_summing_sink_root(spark, tmp_path):
    """A MaterializedView must refuse a table_root owned by a streaming
    summing sink: publishing there would bump the version past upcoming
    batch ids and the sink's replay guard would silently drop batches."""
    import json

    import pytest

    from clickhouse_etl_spark.pipelines.matview import MaterializedView

    root = tmp_path / "sink_root"
    root.mkdir()
    (root / "_SUMMING_SINK.json").write_text(
        json.dumps({"checkpoint": str(tmp_path / "ckpt")})
    )
    view = MaterializedView(
        name="v",
        table_root=str(root),
        source=lambda s: s.createDataFrame(
            [("a", 1, "2024-01-01 00:00:00")], "k string, v int, ts string"
        ).selectExpr("k", "v", "CAST(ts AS timestamp) AS ts"),
        keys=["k"],
        ts_col="ts",
        sum_cols=["v"],
    )
    with pytest.raises(RuntimeError, match="summing sink"):
        view.refresh_full(spark)


def test_summing_view_with_moment_states(spark, tmp_path):
    """Incremental refreshes maintain mean/variance through the
    (n, sum, sum_sq) moment state: three refreshes equal the one-shot
    statistics over all rows."""
    import statistics

    from clickhouse_etl_spark.sinks.upsert import moment_avg, moment_var

    batches = [B1]
    view = MaterializedView(
        name="vstats",
        table_root=str(tmp_path / "vstats"),
        source=_mk_source(spark, batches),
        keys=["k"],
        ts_col="ts",
        sum_cols=["v"],
        moment_cols={"v_state": "v"},
    )
    view.refresh_incremental(spark)
    batches.append(B2)
    view.refresh_incremental(spark)
    batches.append(B3)
    view.refresh_incremental(spark)

    snap = view.read(spark)
    got = {r.k: (r.avg, r.var)
           for r in snap.select(
               "k",
               F.round(moment_avg("v_state"), 9).alias("avg"),
               F.round(moment_var("v_state"), 9).alias("var"),
           ).collect()}
    vals = {"a": [1.0, 3.0, 6.0], "b": [2.0, 5.0], "c": [4.0]}
    for k, vs in vals.items():
        assert got[k][0] == round(statistics.mean(vs), 9)
        want_var = (round(statistics.variance(vs), 9)
                    if len(vs) > 1 else None)
        assert got[k][1] == want_var

    # state configs on a replace view are consumed by nothing — refuse
    with pytest.raises(ValueError, match="replace views"):
        MaterializedView(
            name="bad",
            table_root=str(tmp_path / "bad"),
            source=_mk_source(spark, batches),
            keys=["k"],
            ts_col="ts",
            strategy="replace",
            moment_cols={"v_state": "v"},
        )
