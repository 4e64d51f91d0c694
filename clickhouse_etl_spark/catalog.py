"""Engine catalog: explicit schemas + table loading.

The reference declares schemas only at the ClickHouse sink (DDL under
apps/clickhouse/migrations/) while the in-flight batches are schemaless
dicts whose columns come from ``data[0].keys()`` (reference:
apps/airflow/dags/school/etl_school_to_clickhouse.py:90). The engine
inverts that: every table has an explicit StructType here and writes are
strict (no mergeSchema), so a drifted upstream fails loudly at the
boundary instead of silently widening the warehouse.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver-provided test tables (/root/testdata/sf*/ — see TESTDATA.md)
# ---------------------------------------------------------------------------

TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime SQL confs the engine's semantics depend on — the one home of
# these keys. session.get_spark applies them at build time; load_table
# applies them again on every load because callers may hand us a session
# we didn't build:
#  - nanosAsLong: events.parquet stores ts as TIMESTAMP(NANOS), which
#    vanilla Spark rejects with PARQUET_TYPE_ILLEGAL; read as long and
#    convert in load_table.
#  - UTC timezone: window/date_trunc boundaries must match the oracle.
#  - ANSI off: bad casts return null (reference to_float semantics,
#    apps/airflow/dags/student_scores_subject/
#    etl_student_scores_subject_month_to_clickhouse.py:45-53), not errors.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (no-timezone) parquet timestamps must read as plain TIMESTAMP
    # (LTZ under the pinned UTC session tz), not TIMESTAMP_NTZ: every
    # operator and the DuckDB oracle agree on wall-clock values either
    # way, but NTZ breaks TIMESTAMP-only expressions (unix_micros) and
    # NTZ/LTZ comparisons across tables.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # Perf (not semantics): HotSpot never JIT-compiles methods over 8 KB
    # of bytecode, so whole-stage-codegen output past that size runs
    # interpreted anyway — falling back to volcano there skips
    # multi-second Janino compiles of the widest fused stages (the
    # 35-column fact select) with no steady-state loss.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # Perf: plan persisted intermediates with AQE (see the session module
    # doc): a table written from a cached rollup lands as a few files,
    # not one per spark.sql.shuffle.partitions partition. The trade: a
    # cached plan's partitioning is no longer known statically, so a
    # join on its keys may add one exchange.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the semantics-bearing runtime confs to any session."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            spark.conf.set(key, value)


# Resolved-relation memo — the engine's catalog cache. A real catalog
# resolves a table to a relation ONCE per session; re-running
# ``spark.read.parquet`` per query re-lists the path and re-reads the
# parquet footer (~0.1 s of driver work each, measured r12), which the
# 50-query inventory paid hundreds of times per bench run. The cached
# value is a LAZY plan handle (a leaf relation + the events-ts
# normalization projection): no data, no shuffle, no execution state is
# cached — every action on top still scans the parquet files. Keyed by
# applicationId so handles never cross Spark contexts. The cache is
# always on: table files are taken as immutable for the life of a
# Spark context (regenerated dirs come with a fresh process), so a
# caller that rewrites a table's files under a live session must read
# them with ``spark.read.parquet`` itself.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table as a DataFrame (parquet scan).

    Plain ``spark.read.parquet`` so Catalyst gets full column pruning and
    row-group predicate pushdown on whatever the caller selects/filters.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark reads
    only as a nanos-epoch long (``spark.sql.legacy.parquet.nanosAsLong``);
    we normalize it back to TimestampType here so every consumer sees a
    real timestamp column. Nanos→micros uses integer division (``ts div
    1000``): going through a double loses precision at ~1.7e18 (ulp ≈ 256
    ns) and can disagree with the oracle's truncation by 1 µs.
    """
    ensure_runtime_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    _RELATION_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql() queries."""
    for name in TEST_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Reference-domain warehouse schemas (ClickHouse DDL → Spark StructType).
# Type mapping per SURVEY.md §1.2: UUID→String, Nullable(T)→nullable field,
# Decimal(p,s)→DecimalType, Array(Tuple(...))→ArrayType(StructType).
# ---------------------------------------------------------------------------


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


# reference: apps/clickhouse/migrations/2024_12_03_17_41_create_subject_table.sql:2-29
SUBJECT_SCHEMA = T.StructType(
    [
        _f("subjectId", T.StringType(), False),
        _f("structureRecordId", T.StringType()),
        _f("schoolId", T.StringType(), False),
        _f("campusId", T.StringType()),
        _f("groupStructureId", T.StringType()),
        _f("curriculumId", T.StringType()),
        _f("name", T.StringType()),
        _f("nameNative", T.StringType()),
        _f("description", T.StringType()),
        _f("credit", T.FloatType()),
        _f("code", T.StringType()),
        _f("coe", T.IntegerType()),
        _f("practiceHour", T.ByteType()),
        _f("theoryHour", T.ByteType()),
        _f("fieldHour", T.ByteType()),
        _f("totalHour", T.ByteType()),
        _f("archiveStatus", T.ByteType()),
        _f("lmsCourseId", T.StringType()),
        _f("updatedAt", T.TimestampType()),
    ]
)

# reference: apps/airflow/dags/student_scores_subject/
# etl_student_scores_subject_month_to_clickhouse.py:445-450 (Mongo projection)
EVALUATION_SCHEMA = T.StructType(
    [
        _f("evaluationId", T.StringType(), False),
        _f("name", T.StringType()),
        _f("description", T.StringType()),
        _f("sort", T.IntegerType()),
        _f("maxScore", T.DoubleType()),
        _f("coe", T.IntegerType()),
        _f("type", T.StringType()),  # semester | month | subject | custom
        _f("parentId", T.StringType()),  # parent evaluationId or 'na'
        _f("schoolId", T.StringType()),
        _f("campusId", T.StringType()),
        _f("groupStructureId", T.StringType()),
        _f("structurePath", T.StringType()),  # '#<structureRecordId>#...'
        _f("templateId", T.StringType()),
        _f("configGroupId", T.StringType()),
        _f("referenceId", T.StringType()),
        _f("createdAt", T.StringType()),  # ISO8601 string at source
    ]
)

# reference: apps/airflow/dags/student_scores_subject/…:451-454
SCORE_SCHEMA = T.StructType(
    [
        _f("scoreId", T.StringType(), False),
        _f("score", T.StringType()),  # numeric-as-string at source (to_float)
        _f("evaluationId", T.StringType()),
        _f("studentId", T.StringType()),
        _f("idCard", T.StringType()),
        _f("scorerId", T.StringType()),
        _f("markedAt", T.StringType()),  # ISO8601 / legacy literal
        _f("structurePath", T.StringType()),
    ]
)

# reference: apps/airflow/dags/student/etl_students_to_clickhouse.py:37-45
STUDENT_SCHEMA = T.StructType(
    [
        _f("studentId", T.StringType(), False),
        _f("uniqueKey", T.StringType()),
        _f("firstName", T.StringType()),
        _f("lastName", T.StringType()),
        _f("firstNameNative", T.StringType()),
        _f("lastNameNative", T.StringType()),
        _f("dob", T.DateType()),
        _f("gender", T.StringType()),
        _f("idCard", T.StringType()),
        _f("program", T.StringType()),
        _f("remark", T.StringType()),
        _f("profile", T.StringType()),  # JSON-in-string dynamic column
        _f("noAttendance", T.BooleanType()),
        _f("status", T.StringType()),
        _f("finalAcademicStatus", T.StringType()),
        _f("enrolledAt", T.TimestampType()),
        _f("createdAt", T.TimestampType()),
        _f("updatedAt", T.TimestampType()),
        _f("schoolId", T.StringType()),
    ]
)

# reference: apps/clickhouse/migrations/
# 2025_02_24_10_02_create_student_score_subject_month_table.sql:1-58
STUDENT_MONTH_SUBJECT_SCORE_SCHEMA = T.StructType(
    [
        _f("monthEvaluationId", T.StringType(), False),
        _f("monthName", T.StringType()),
        _f("subjectEvaluationId", T.StringType(), False),
        _f("subjectName", T.StringType()),
        _f("studentId", T.StringType(), False),
        _f("studentFirstName", T.StringType()),
        _f("studentLastName", T.StringType()),
        _f("idCard", T.StringType()),
        _f("gender", T.StringType()),
        _f("dob", T.DateType()),
        _f("schoolId", T.StringType()),
        _f("campusId", T.StringType()),
        _f("groupStructureId", T.StringType()),
        _f("structureRecordId", T.StringType()),
        _f("structureRecordName", T.StringType()),
        _f("subjectId", T.StringType()),
        _f("subjectDimName", T.StringType()),
        _f("credit", T.FloatType()),
        _f("score", T.DoubleType()),
        _f("maxScore", T.DoubleType()),
        _f("percentage", T.DoubleType()),
        _f("grade", T.StringType()),
        _f("gpa", T.DoubleType()),
        _f("meaning", T.StringType()),
        _f("scorerId", T.StringType()),
        _f("markedAt", T.TimestampType()),
        _f("customEvaluations", T.StringType()),  # JSON array string
        _f("customEvaluationCount", T.IntegerType()),
    ]
)

# Transcript subjectDetails element — 18-field named tuple
# reference: apps/clickhouse/migrations/
# 2025_02_25_15_30_create_transcript_table.sql:24-49
SUBJECT_DETAIL_SCHEMA = T.StructType(
    [
        _f("subjectEvaluationId", T.StringType()),
        _f("subjectName", T.StringType()),
        _f("subjectNameNative", T.StringType()),
        _f("subjectCode", T.StringType()),
        _f("credit", T.DecimalType(5, 2)),
        _f("coe", T.IntegerType()),
        _f("score", T.DecimalType(5, 2)),
        _f("maxScore", T.DecimalType(5, 2)),
        _f("percentage", T.DecimalType(5, 2)),
        _f("grade", T.StringType()),
        _f("gpa", T.DecimalType(5, 2)),
        _f("meaning", T.StringType()),
        _f("monthEvaluationId", T.StringType()),
        _f("monthName", T.StringType()),
        _f("semesterEvaluationId", T.StringType()),
        _f("semesterName", T.StringType()),
        _f("scorerId", T.StringType()),
        _f("markedAt", T.TimestampType()),
    ]
)

# reference: …create_transcript_table.sql:2-64
STUDENT_TRANSCRIPT_SCHEMA = T.StructType(
    [
        _f("studentId", T.StringType(), False),
        _f("studentFirstName", T.StringType()),
        _f("studentLastName", T.StringType()),
        _f("idCard", T.StringType()),
        _f("gender", T.StringType()),
        _f("dob", T.DateType()),
        _f("schoolId", T.StringType()),
        _f("campusId", T.StringType()),
        _f("groupStructureId", T.StringType()),
        _f("structureRecordId", T.StringType()),
        _f("structureRecordName", T.StringType()),
        _f("structurePath", T.StringType()),
        _f("subjectDetails", T.ArrayType(SUBJECT_DETAIL_SCHEMA)),
        _f("totalCredits", T.DecimalType(7, 2)),
        _f("totalGPA", T.DecimalType(5, 2)),
        _f("subjectCount", T.IntegerType()),
    ]
)

WAREHOUSE_SCHEMAS: dict[str, T.StructType] = {
    "subject": SUBJECT_SCHEMA,
    "evaluation": EVALUATION_SCHEMA,
    "score": SCORE_SCHEMA,
    "student": STUDENT_SCHEMA,
    "student_month_subject_score": STUDENT_MONTH_SUBJECT_SCORE_SCHEMA,
    "student_transcript": STUDENT_TRANSCRIPT_SCHEMA,
}
