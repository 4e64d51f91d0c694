"""G1-G3 pipeline graph + M4 lifecycle invariants + S4 document source."""

from __future__ import annotations

import contextlib
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_etl_spark.pipelines import (
    Pipeline,
    copy_entity,
    student_transcript,
    synthetic_warehouse,
)
from clickhouse_etl_spark.sources.documents import (
    normalize_object_id,
    read_document_collection,
)
from tests.conftest import SF_SMOKE


# --- G1-G3 graph -----------------------------------------------------------

def test_pipeline_chains_stages_through_context(spark):
    pipe = Pipeline("p")

    @pipe.stage("extract")
    def extract(ctx):
        return {"a": spark.range(5)}

    @pipe.stage("transform")
    def transform(ctx):
        return {"b": ctx["a"].withColumn("x", F.col("id") * 2)}

    out = pipe.run({})
    assert set(out) == {"a", "b"}
    assert out["b"].agg(F.sum("x")).collect()[0][0] == 20


def test_stage_retries_then_succeeds(spark):
    pipe = Pipeline("flaky")
    attempts = []

    @pipe.stage("boom", retries=2)
    def boom(ctx):
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("transient")
        return {"ok": spark.range(1)}

    out = pipe.run({})
    assert len(attempts) == 3 and "ok" in out


def test_stage_retry_budget_exhausted(spark):
    pipe = Pipeline("dead")

    @pipe.stage("boom", retries=1)
    def boom(ctx):
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        pipe.run({})


def test_materialize_persists_output(spark):
    pipe = Pipeline("mat")

    @pipe.stage("s", materialize=("a",))
    def s(ctx):
        return {"a": spark.range(10), "b": spark.range(3)}

    out = pipe.run({})
    assert out["a"].storageLevel.useMemory
    assert not out["b"].storageLevel.useMemory
    assert sorted(r.id for r in out["a"].collect()) == list(range(10))
    out["a"].unpersist()


# --- M4 lifecycles ---------------------------------------------------------

def test_copy_entity_keeps_latest_version(spark):
    wh = synthetic_warehouse(spark, SF_SMOKE)
    students = wh["students"]
    v1 = students.withColumn(
        "updatedAt", F.lit("2024-01-01 00:00:00").cast("timestamp")
    ).withColumn("firstName", F.concat(F.col("firstName"), F.lit("_stale")))
    v2 = students.withColumn(
        "updatedAt", F.lit("2024-02-01 00:00:00").cast("timestamp")
    )
    out = copy_entity(v1.unionByName(v2))
    assert out.count() == students.count()  # one row per student
    assert out.filter(F.col("firstName").endswith("_stale")).count() == 0
    profile = json.loads(out.limit(1).collect()[0]["profile"])
    assert set(profile) == {"program", "idCard"}


def test_transcript_nested_invariants(spark):
    wh = synthetic_warehouse(spark, SF_SMOKE)
    t = student_transcript(
        wh["evaluations"], wh["scores"], wh["students"],
        wh["structures"], wh["subject_dim"],
    )
    # subjectCount must equal the nested array size (SURVEY §5.4 property)
    bad = t.filter(F.col("subjectCount") != F.size("subjectDetails")).count()
    assert bad == 0
    # nested column is a real ArrayType(StructType) with ancestry fields
    field = dict(zip(t.schema.names, t.schema.fields))["subjectDetails"]
    assert isinstance(field.dataType, T.ArrayType)
    names = {f.name for f in field.dataType.elementType.fields}
    assert {"subjectName", "grade", "gpa", "monthName", "semesterName"} <= names
    # totals are bounded: gpa in [0,4] ⇒ weighted mean in [0,4]
    r = t.agg(F.min("totalGPA"), F.max("totalGPA")).collect()[0]
    assert 0.0 <= float(r[0]) and float(r[1]) <= 4.0


def test_incremental_fact_equals_full_rebuild(spark):
    """Slice-scoped incremental maintenance must reproduce the full
    rebuild EXACTLY — including precedence flips where the new batch adds
    a direct score to a slice that previously had only custom scores."""
    from clickhouse_etl_spark.pipelines.reference_etl import (
        monthly_subject_fact,
        monthly_subject_fact_incremental,
    )

    wh = synthetic_warehouse(spark, SF_SMOKE)
    scores = wh["scores"]
    old = scores.filter(F.col("scoreId") % 7 != 0)
    new = scores.filter(F.col("scoreId") % 7 == 0)
    assert new.count() > 0

    prev_fact = monthly_subject_fact(
        wh["evaluations"], old, wh["students"], wh["structures"], wh["subject_dim"]
    )
    incremental = monthly_subject_fact_incremental(
        wh["evaluations"], scores, new, prev_fact,
        wh["students"], wh["structures"], wh["subject_dim"],
    )
    full = monthly_subject_fact(
        wh["evaluations"], scores, wh["students"], wh["structures"],
        wh["subject_dim"],
    )

    def canon(df):
        return sorted(
            tuple(str(v) for v in row) for row in df.collect()
        )

    assert incremental.columns == full.columns
    assert canon(incremental) == canon(full)


# --- adaptively planned persisted intermediates ----------------------------


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _completed_tasks(sc, group):
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(job) for job in tracker.getJobIdsForGroup(group)]
    assert None not in jobs, "status tracker dropped a job of the group"
    stage_ids = [stage for job in jobs for stage in job.stageIds]
    infos = [tracker.getStageInfo(stage) for stage in stage_ids]
    missing = [s for s, info in zip(stage_ids, infos) if info is None]
    assert not missing, f"status tracker dropped stages {missing}"
    return sum(info.numCompletedTasks for info in infos)


def test_materialized_rollup_is_planned_adaptively(spark, count_jobs):
    """A persist on any session the engine set up is planned with AQE: a
    small cached groupBy reads back coalesced, so a scan over it runs a
    few tasks, not one per spark.sql.shuffle.partitions partition."""
    from clickhouse_etl_spark.catalog import ensure_runtime_confs
    from clickhouse_etl_spark.util import materialize

    sc = spark.sparkContext
    ensure_runtime_confs(spark)
    spark.catalog.clearCache()
    with _shuffle_partitions(spark, 32):
        rollup = materialize(
            spark.range(6000)
            .groupBy((F.col("id") % 97).alias("k"))
            .agg(F.sum("id").alias("s"))
        )
        assert rollup.count() == 97  # fills the cache

        def rescan():
            group = sc.getLocalProperty("spark.jobGroup.id")
            return rollup.count(), _completed_tasks(sc, group)

        (n, tasks), jobs = count_jobs(rescan)
        partitions = rollup.rdd.getNumPartitions()
    rollup.unpersist()
    assert n == 97 and jobs >= 1
    assert partitions < 32
    assert 0 < tasks < 32


def test_fact_snapshot_is_not_one_file_per_shuffle_partition(spark, tmp_path):
    """The wide fact's persisted rollups coalesce like any other AQE
    exchange, so its snapshot lands as a few files, not 32+."""
    from clickhouse_etl_spark.pipelines.reference_etl import monthly_subject_fact
    from clickhouse_etl_spark.sinks.staging import publish_snapshot

    wh = synthetic_warehouse(spark, SF_SMOKE)
    spark.catalog.clearCache()
    with _shuffle_partitions(spark, 32):
        fact = monthly_subject_fact(
            wh["evaluations"], wh["scores"], wh["students"],
            wh["structures"], wh["subject_dim"],
        )
        snap = publish_snapshot(fact, str(tmp_path / "fact"), "1")
    spark.catalog.clearCache()
    files = list(Path(snap).glob("part-*.parquet"))
    assert 0 < len(files) < 32


# --- S4 document source ----------------------------------------------------

DOCS = [
    {"_id": {"$oid": "65f1c0ffee00112233445566"}, "name": "Mid-term",
     "type": "subject", "parent": {"id": "se1", "kind": "semester"},
     "maxScore": 100.0},
    {"_id": "plain-string-id", "name": "Quiz 1", "type": "custom",
     "parent": {"id": "su5", "kind": "subject"}, "maxScore": 10.0},
    {"_id": {"$oid": "65f1c0ffee001122334455aa"}, "name": "NoParent",
     "type": "month", "parent": None, "maxScore": None},
]

DOC_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField(
            "parent",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("kind", T.StringType()),
                ]
            ),
        ),
        T.StructField("maxScore", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def landing_zone(tmp_path_factory):
    zone = tmp_path_factory.mktemp("mongo_landing")
    with open(zone / "evaluations.jsonl", "w") as f:
        for d in DOCS:
            f.write(json.dumps(d) + "\n")
    return str(zone)


def test_document_read_with_projection(spark, landing_zone):
    df = read_document_collection(
        spark,
        landing_zone,
        DOC_SCHEMA,
        projection={"_id": 1, "name": 1, "parent.id": 1},
        predicate=F.col("type") != "month",
    )
    assert df.columns == ["_id", "name", "parent_id"]
    rows = {r["name"]: r["parent_id"] for r in df.collect()}
    assert rows == {"Mid-term": "se1", "Quiz 1": "su5"}


def test_object_id_normalization(spark, landing_zone):
    df = read_document_collection(spark, landing_zone, DOC_SCHEMA)
    out = sorted(
        r["oid"]
        for r in df.select(normalize_object_id("_id").alias("oid")).collect()
    )
    assert out == sorted(
        ["65f1c0ffee00112233445566", "plain-string-id", "65f1c0ffee001122334455aa"]
    )


def test_malformed_documents_degrade_to_nulls(spark, tmp_path):
    """PERMISSIVE boundary: a malformed JSONL line must not kill the read
    — its fields come back NULL (and are filterable), valid rows parse."""
    zone = tmp_path / "dirty"
    zone.mkdir()
    (zone / "docs.jsonl").write_text(
        '{"_id": "ok1", "name": "Valid", "type": "subject", '
        '"parent": {"id": "p", "kind": "k"}, "maxScore": 10.0}\n'
        "{this is not json at all\n"
        '{"_id": "ok2", "name": "Valid2", "type": "custom", '
        '"parent": null, "maxScore": 5.0}\n'
    )
    df = read_document_collection(spark, str(zone), DOC_SCHEMA)
    rows = df.collect()
    assert len(rows) == 3  # malformed row present, all-NULL, not fatal
    names = sorted(r["name"] for r in rows if r["name"] is not None)
    assert names == ["Valid", "Valid2"]
    # and the standard scrub drops it
    from clickhouse_etl_spark.operators.dedup import scrub_invalid_keys

    assert scrub_invalid_keys(df, ["_id"]).count() == 2


def test_document_source_as_pipeline_extract(spark, landing_zone):
    """The Mongo-analog extract feeding a pipeline stage (S4 → transform)."""
    pipe = Pipeline("mongo_etl")

    @pipe.stage("extract")
    def extract(ctx):
        return {
            "evaluations": read_document_collection(
                spark, landing_zone, DOC_SCHEMA,
                projection=["_id", "name", "type", "maxScore"],
            )
        }

    @pipe.stage("transform")
    def transform(ctx):
        return {
            "out": ctx["evaluations"].filter(F.col("maxScore").isNotNull())
        }

    out = pipe.run({})["out"]
    assert out.count() == 2


def test_transcript_incremental_matches_full_rebuild(spark):
    """Per-student slice recompute + splice == full rebuild, including
    precedence flips (a new direct score superseding a custom-only
    subject) and representative-driven structureRecord moves."""
    from clickhouse_etl_spark.pipelines.reference_etl import (
        student_transcript,
        student_transcript_incremental,
    )

    wh = synthetic_warehouse(spark, SF_SMOKE)
    scores = wh["scores"]
    # the held-out batch includes DIRECT subject scores (linenumber%3==0
    # rows have 'su' evaluations), so precedence flips are exercised
    old = scores.filter(F.col("scoreId") % 3 != 0)
    new = scores.filter(F.col("scoreId") % 3 == 0)
    assert new.count() > 0
    assert new.filter(F.col("evaluationId").startswith("su")).count() > 0

    args = (wh["students"], wh["structures"], wh["subject_dim"])
    prev = student_transcript(wh["evaluations"], old, *args)
    incremental = student_transcript_incremental(
        wh["evaluations"], scores, new, prev, *args
    )
    full = student_transcript(wh["evaluations"], scores, *args)

    def canon(df):
        return sorted(tuple(str(v) for v in row) for row in df.collect())

    assert incremental.columns == full.columns
    assert canon(incremental) == canon(full)
