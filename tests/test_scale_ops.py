"""Scale-shape operators: salting equivalence, bucketed co-located joins,
and the K4 nested-array warehouse write."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_etl_spark.catalog import load_table
from clickhouse_etl_spark.operators.skew import salted_join, salted_sum_count
from clickhouse_etl_spark.sinks.bucketed import colocated_join, write_bucketed_table
from clickhouse_etl_spark.sinks.writers import write_mergetree_mapped
from tests.conftest import SF_SMOKE, rows_set


# --- materialization strategy ---------------------------------------------

def test_materialize_modes(spark, tmp_path):
    """``materialize(df)`` persists lazily; ``cut_lineage=True`` cuts the
    lineage, through the reliable checkpoint dir when one is set and a
    localCheckpoint otherwise. Same rows every way. The suite-wide
    session gets its checkpoint dir back, so later tests see the cut
    they would see alone."""
    from clickhouse_etl_spark.util import materialize

    df = spark.range(100).withColumn("x", F.col("id") * 2)
    expect = df.collect()

    def lineage_cut(out):
        plan = out._jdf.queryExecution().analyzed().toString()
        return "LogicalRDD" in plan and "Range" not in plan

    p = materialize(df)
    assert p.storageLevel.useMemory and not lineage_cut(p)
    assert p.collect() == expect
    p.unpersist()

    sc = spark.sparkContext
    set_dir = getattr(sc._jsc.sc(), "checkpointDir_$eq")
    prev = sc.getCheckpointDir()
    set_dir(sc._jvm.scala.Option.empty())
    try:
        local = materialize(df, cut_lineage=True)
        assert lineage_cut(local) and local.collect() == expect

        ckpt = tmp_path / "ckpt"
        sc.setCheckpointDir(str(ckpt))
        reliable = materialize(df, cut_lineage=True)
        assert lineage_cut(reliable) and reliable.collect() == expect
        assert list(ckpt.glob("*/rdd-*")), "no reliable checkpoint written"
    finally:
        set_dir(sc._jvm.scala.Option.apply(prev))
    assert sc.getCheckpointDir() == prev


# --- salting ---------------------------------------------------------------

def test_salted_aggregate_matches_plain(spark):
    events = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r["event_type"]): (r["s"], r["n"])
        for r in events.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = salted_sum_count(
        events, ["event_type"], "value", salt_from=["event_id"], salt_buckets=8
    )
    for r in salted.collect():
        s, n = plain[r["event_type"]]
        assert r["n_rows"] == n
        assert r["sum_value"] == pytest.approx(s, rel=1e-9)


def test_salted_join_matches_plain(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    plain = rows_set(
        orders.join(customer, orders.o_custkey == customer.c_custkey).select(
            "o_orderkey", "c_custkey", "c_mktsegment"
        )
    )
    salted = rows_set(
        salted_join(
            orders.withColumnRenamed("o_custkey", "c_custkey"),
            customer,
            on=["c_custkey"],
            salt_from=["o_orderkey"],
            salt_buckets=8,
        ).select("o_orderkey", "c_custkey", "c_mktsegment")
    )
    assert salted == plain


# --- bucketed co-located join ---------------------------------------------

def test_bucketed_join_has_no_shuffle(spark):
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    ).withColumnRenamed("c_custkey", "o_custkey")
    write_bucketed_table(orders, "b_orders", "o_custkey", 8, sort_by=["o_custkey"])
    write_bucketed_table(customer, "b_customer", "o_custkey", 8, sort_by=["o_custkey"])

    # disable auto-broadcast so the join would OTHERWISE shuffle both sides
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_customer", on="o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucket-aligned: zero shuffle
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


# --- approximate aggregates -------------------------------------------------

def test_approx_count_distinct_within_bound(spark):
    events = load_table(spark, SF_SMOKE, "events")
    r = events.agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
    ).collect()[0]
    assert abs(r["approx"] - r["exact"]) <= max(3, 0.15 * r["exact"])


def test_approx_percentile_within_bound(spark):
    """The 100 TB twin of ext_percentiles: exact percentile buffers every
    group's values in memory, approx_percentile keeps a bounded sketch
    (Greenwald-Khanna, accuracy=1/eps). Pinned: the sketch's p50/p95 stay
    within 2% relative error of the exact interpolated quantile on every
    o_orderpriority group."""
    orders = load_table(spark, SF_SMOKE, "orders")
    rows = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.expr("percentile(o_totalprice, 0.95)").alias("exact_p95"),
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("apx_p50"),
        F.expr("approx_percentile(o_totalprice, 0.95, 1000)").alias("apx_p95"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r["apx_p50"] - r["exact_p50"]) <= 0.02 * r["exact_p50"]
        assert abs(r["apx_p95"] - r["exact_p95"]) <= 0.02 * r["exact_p95"]


# --- K4: nested Array(Struct) warehouse write ------------------------------

def test_wide_fact_write_roundtrip(spark, tmp_path):
    """The 35-column fact written with the MergeTree mapping of its DDL
    (PARTITION BY schoolId, ORDER BY (monthEvaluationId,
    subjectEvaluationId, studentId)) survives a round trip typed and
    partition-prunable."""
    from clickhouse_etl_spark.pipelines import (
        monthly_subject_fact,
        synthetic_warehouse,
    )

    wh = synthetic_warehouse(spark, SF_SMOKE)
    fact = monthly_subject_fact(
        wh["evaluations"], wh["scores"], wh["students"],
        wh["structures"], wh["subject_dim"],
    ).drop("subjectParentId")
    out = str(tmp_path / "fact")
    write_mergetree_mapped(
        fact, out, partition_by="schoolId",
        order_by=["monthEvaluationId", "subjectEvaluationId", "studentId"],
    )
    back = spark.read.parquet(out)
    assert back.count() == fact.count()
    assert set(back.columns) == set(fact.columns)
    # JSON detail + timestamp columns survive typed
    types = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert types["customEvaluations"] == "string"
    assert types["monthStartDate"].startswith("timestamp")
    one = back.filter(F.col("schoolId") == "sch0")
    assert 0 < one.count() < back.count()


def test_nested_transcript_write_roundtrip(spark, tmp_path):
    from clickhouse_etl_spark.pipelines import student_transcript, synthetic_warehouse

    wh = synthetic_warehouse(spark, SF_SMOKE)
    t = student_transcript(
        wh["evaluations"], wh["scores"], wh["students"],
        wh["structures"], wh["subject_dim"],
    )
    out = str(tmp_path / "transcripts")
    write_mergetree_mapped(
        t, out, partition_by="schoolId", order_by=["studentId"]
    )
    back = spark.read.parquet(out)
    assert back.count() == t.count()
    # the nested array<struct> column survives the round trip typed
    field = {f.name: f for f in back.schema.fields}["subjectDetails"]
    assert isinstance(field.dataType, T.ArrayType)
    assert isinstance(field.dataType.elementType, T.StructType)
    # partition pruning works on the MergeTree-mapped layout (transcript
    # schoolId comes from the subject evaluations: 'sch0'/'sch1')
    one_school = back.filter(F.col("schoolId") == "sch0")
    assert 0 < one_school.count() < back.count()


# --- LSH bucket-skew guard -------------------------------------------------

def test_cap_bucket_membership_semantics(spark):
    """Oversized buckets keep exactly the cap lowest members; normal
    buckets pass untouched; log_fn reports the drop count."""
    from clickhouse_etl_spark.operators.skew import cap_bucket_membership

    rows = [("hot", i) for i in range(10)] + [("cold", 100), ("cold", 101)]
    df = spark.createDataFrame(rows, ["bucket", "id"])
    msgs = []
    out = cap_bucket_membership(df, ["bucket"], "id", 3, log_fn=msgs.append)
    got = sorted((r.bucket, r.id) for r in out.collect())
    assert got == [("cold", 100), ("cold", 101), ("hot", 0), ("hot", 1), ("hot", 2)]
    assert msgs == [
        "cap_bucket_membership: capped 1 buckets over 3, dropped 7 memberships"
    ]
    # no-op when nothing is oversized, and cap >= 1 is enforced
    assert cap_bucket_membership(df, ["bucket"], "id", 10).count() == 12
    with pytest.raises(ValueError):
        cap_bucket_membership(df, ["bucket"], "id", 0)
    with pytest.raises(ValueError):
        cap_bucket_membership(df, ["bucket"], "id", 3, order="bogus")


def test_cap_hashed_order_varies_survivors_per_bucket(spark):
    """order='hashed': the same members capped in two different buckets
    keep DIFFERENT survivor subsets (the multi-band LSH requirement),
    deterministically across calls."""
    from clickhouse_etl_spark.operators.skew import cap_bucket_membership

    rows = [(b, i) for b in ("b1", "b2", "b3") for i in range(200)]
    df = spark.createDataFrame(rows, ["bucket", "id"])
    out = cap_bucket_membership(df, ["bucket"], "id", 20, order="hashed")
    kept = {}
    for r in out.collect():
        kept.setdefault(r.bucket, set()).add(r.id)
    assert all(len(s) == 20 for s in kept.values())
    assert kept["b1"] != kept["b2"] != kept["b3"]
    # union coverage strictly exceeds one bucket's worth
    assert len(kept["b1"] | kept["b2"] | kept["b3"]) > 20
    # deterministic
    again = cap_bucket_membership(df, ["bucket"], "id", 20, order="hashed")
    kept2 = {}
    for r in again.collect():
        kept2.setdefault(r.bucket, set()).add(r.id)
    assert kept == kept2


def test_minhash_flood_stays_bounded(spark):
    """Adversarial skew: thousands of IDENTICAL documents land in one
    (band, hash) bucket per band. With the cap the self-join pairs at
    most cap^2 ids instead of n^2 — the candidate pair set (and hence
    runtime) is bounded by the cap, not the flood size."""
    import time

    from clickhouse_etl_spark.text.dedup import minhash_near_duplicates

    n = 4000
    flood = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same flood document body repeated").alias("text"),
    )
    distinct = spark.createDataFrame(
        [(900001, "an unrelated document about entirely different things"),
         (900002, "yet another unique body with its own shingles")],
        ["doc_id", "text"],
    )
    docs = flood.unionByName(distinct)
    msgs = []
    t0 = time.perf_counter()
    pairs = minhash_near_duplicates(
        docs, max_bucket_size=50, log_fn=msgs.append
    )
    got = pairs.collect()
    took = time.perf_counter() - t0
    # every surviving pair is flood x flood; the candidate set is bounded
    # by bands x C(cap, 2) regardless of flood size (hashed order keeps a
    # DIFFERENT survivor subset per band, so coverage spans > one cap)
    assert got, "flood must still produce near-dup pairs"
    assert all(r.doc_a < n and r.doc_b < n for r in got)
    assert len(got) <= 4 * (50 * 49 // 2)
    assert msgs and "dropped" in msgs[0]
    # uncapped would verify ~8M pairs; the capped run is a small job.
    # Generous wall bound: this is a smoke guard against the quadratic
    # path, not a microbenchmark.
    assert took < 120, f"capped flood run took {took:.1f}s"


def test_embedding_flood_stays_bounded(spark):
    """Same adversarial shape for the hyperplane-LSH pair generator:
    identical vectors collide in every table's bucket; the cap bounds
    the candidate set and the verify join carries ids only."""
    from clickhouse_etl_spark.text.similarity import embedding_cosine_neardup

    n = 3000
    flood = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("array(1.0, 0.5, 0.25, 0.125)").alias("embedding"),
    )
    other = spark.createDataFrame(
        [(900001, [0.0, 1.0, 0.0, 0.0])],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
    )
    msgs = []
    pairs = embedding_cosine_neardup(
        flood.unionByName(other), threshold=0.99,
        max_bucket_size=40, log_fn=msgs.append,
    ).collect()
    assert pairs, "identical vectors must pair"
    assert all(r.id_a < n and r.id_b < n for r in pairs)
    assert len(pairs) <= 6 * (40 * 39 // 2)  # tables x C(cap, 2)
    # num_planes='auto' (the round-6 default) logs its sizing first
    assert msgs and any("capped" in m for m in msgs)


# --- distributed prefix sum ------------------------------------------------

def test_running_total_matches_global_window(spark):
    """Two-level prefix sum == the single-partition window oracle, across
    many partitions and unordered input."""
    from clickhouse_etl_spark.operators.prefix import running_total

    df = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 5000).alias("k"),  # permuted order key
        ((F.col("id") % 13) + 1).alias("v"),
    )
    out = running_total(df, "k", "v", partitions=16)
    got = {r.k: r.running_total for r in out.collect()}
    rows = sorted((r.k, r.v) for r in df.collect())
    acc, expect = 0, {}
    for k, v in rows:
        expect[k] = acc
        acc += v
    assert got == expect


def test_running_total_double_values_and_empty(spark):
    from clickhouse_etl_spark.operators.prefix import running_total

    df = spark.createDataFrame(
        [(1, 0.5), (2, 1.25), (3, 2.0)], ["k", "v"]
    )
    got = {r.k: r.running_total for r in running_total(df, "k", "v").collect()}
    assert got == {1: 0.0, 2: 0.5, 3: 1.75}

    empty = df.filter("k < 0")
    assert running_total(empty, "k", "v").count() == 0


def test_plan_shards_budget_contract(spark):
    """Every shard's token total stays under budget + its last document
    (assignment by start offset), shards are contiguous in id order, and
    the planner feeds pack_contiguous's parallel per-shard path."""
    from clickhouse_etl_spark.text.packing import pack_contiguous, plan_shards

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = plan_shards(docs, tokens_per_shard=2000)
    rows = sorted(
        (r.doc_id, r.n_tokens, r.stream_offset, r.shard) for r in plan.collect()
    )
    assert rows, "empty plan"
    # contiguity + budget
    for (d1, n1, o1, s1), (d2, n2, o2, s2) in zip(rows, rows[1:]):
        assert o2 == o1 + n1  # exclusive prefix sum
        assert s2 >= s1  # shards are contiguous runs
    import collections

    per_shard = collections.Counter()
    last_doc = {}
    for d, n, o, s in rows:
        per_shard[s] += n
        last_doc[s] = n
    for s, tot in per_shard.items():
        assert tot < 2000 + last_doc[s] + 1
    # composes with the per-shard packing pass
    packed = pack_contiguous(
        plan.withColumnRenamed("n_tokens", "nt").join(
            docs.select("doc_id", "text"), on="doc_id"
        ),
        seq_len=256,
        shard_col="shard",
    )
    assert packed.count() == len(rows)


def test_running_total_decimal_values(spark):
    """Decimal value columns keep their exact type through the offset
    table (the partial-sum dtype is reused, not guessed)."""
    from decimal import Decimal

    from clickhouse_etl_spark.operators.prefix import running_total

    df = spark.createDataFrame(
        [(1, Decimal("1.10")), (2, Decimal("2.25")), (3, Decimal("0.65"))],
        "k int, v decimal(18,2)",
    )
    out = running_total(df, "k", "v", partitions=2)
    got = {r.k: r.running_total for r in out.collect()}
    assert got == {1: Decimal("0"), 2: Decimal("1.10"), 3: Decimal("3.35")}


def test_skew_report_detects_hot_key(spark):
    """The diagnostic must rank the planted hot key first and report a
    ratio matching the planted distribution."""
    from clickhouse_etl_spark.operators.skew import skew_report

    # 5000 rows on key 0, 1 row each on keys 1..1000
    df = spark.range(6000).selectExpr(
        "CASE WHEN id < 5000 THEN 0 ELSE id - 4999 END AS k"
    )
    rep = skew_report(df, ["k"], top=3)
    assert rep.n_rows == 6000 and rep.n_keys == 1001
    assert rep.max_count == 5000
    assert rep.top_keys[0] == ((0,), 5000)
    assert rep.top_keys[1][1] == 1
    expected_mean = 6000 / 1001
    assert abs(rep.mean_count - expected_mean) < 0.01
    assert abs(rep.ratio - 5000 / expected_mean) < 1

    uniform = spark.range(1000).selectExpr("id % 100 AS k")
    assert skew_report(uniform, ["k"]).ratio == 1.0


# --- measured-skew dedup plan choice ---------------------------------------

def _hot_urls(spark, n_hot=20_000, n_tail=500):
    """One canonical URL re-crawled n_hot times + a uniform tail."""
    hot = spark.range(n_hot).selectExpr(
        "id AS doc_id", "'http://hot.com/page' AS url"
    )
    tail = spark.range(n_tail).selectExpr(
        "id + 1000000 AS doc_id",
        "concat('http://site', CAST(id AS STRING), '.com/') AS url",
    )
    return hot.unionByName(tail)


def test_latest_row_adaptive_picks_agg_on_hot_key(spark):
    """The measured decision: a 20k-row hot key flips the plan to the
    max_by aggregation form (no Window in the physical plan), and the
    result still equals the ranking-window form row for row."""
    from clickhouse_etl_spark.operators.dedup import (
        latest_row_per_key,
        latest_row_per_key_adaptive,
    )

    urls = _hot_urls(spark)
    msgs = []
    adaptive = latest_row_per_key_adaptive(
        urls, ["url"], order_col="doc_id", log_fn=msgs.append
    )
    assert msgs and msgs[0].endswith("-> agg"), msgs
    phys = adaptive._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in phys and "max_by" in phys
    want = sorted(
        (r.url, r.doc_id)
        for r in latest_row_per_key(
            urls, ["url"], order_col="doc_id"
        ).collect()
    )
    got = sorted((r.url, r.doc_id) for r in adaptive.collect())
    assert got == want


def test_latest_row_adaptive_keeps_window_when_balanced(spark):
    from clickhouse_etl_spark.operators.dedup import (
        latest_row_per_key_adaptive,
    )

    df = spark.range(2000).selectExpr(
        "id % 500 AS k", "id AS v"
    )
    msgs = []
    out = latest_row_per_key_adaptive(
        df, ["k"], order_col="v", log_fn=msgs.append
    )
    assert msgs and msgs[0].endswith("-> window"), msgs
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in phys
    assert out.count() == 500


def test_url_dedup_auto_strategy_equivalence(spark):
    """url_dedup(strategy='auto') on a re-crawl flood: agg plan chosen,
    rows identical to the default window strategy."""
    from clickhouse_etl_spark.text.web import url_dedup

    urls = _hot_urls(spark)
    msgs = []
    auto = url_dedup(urls, "url", order_col="doc_id", strategy="auto",
                     log_fn=msgs.append)
    window = url_dedup(urls, "url", order_col="doc_id")
    assert msgs and msgs[0].endswith("-> agg")
    assert sorted((r.doc_id, r.canonical_url) for r in auto.collect()) == \
        sorted((r.doc_id, r.canonical_url) for r in window.collect())
    agg = url_dedup(urls, "url", order_col="doc_id", strategy="agg")
    assert agg.count() == auto.count()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        url_dedup(urls, "url", strategy="sideways")


def test_curate_records_url_dedup_plan_decision(spark):
    """curate_corpus stage 0 consults skew_report; the decision lands in
    the data-card report."""
    from clickhouse_etl_spark.text import curate_corpus

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta", f"http://s{i}.com/")
         for i in range(20)],
        "doc_id long, text string, url string",
    )
    res = curate_corpus(df, url_col="url", min_tokens=2)
    assert res.report.get("url_dedup_plan") == "window"  # balanced
    # the card as one count() per stage reported it
    assert dict(res.report) == {
        "input": 20, "url_dedup_plan": "window", "url_dedup": 20,
        "exact_dedup": 20, "neardup_keep": "min_id", "near_dedup": 20,
        "span_cut": 20, "quality_filter": 20, "final": 20,
    }
    # pinned strategies skip the measurement and still record the plan
    res2 = curate_corpus(
        df, url_col="url", min_tokens=2, url_dedup_strategy="agg"
    )
    assert res2.report.get("url_dedup_plan") == "agg"
    assert res2.corpus.count() == res.corpus.count()
