"""Registered queries for the M4 reference-lifecycle pipelines.

Each lifecycle runs over the deterministic synthetic warehouse
(pipelines/reference_etl.synthetic_warehouse) so the DuckDB oracle can
mirror the whole chain — fixture derivation included — in pure SQL.

The oracles re-express every engine policy exactly:
- W2 representative score = arg_max over the fixed-width
  epoch||scoreId||scorerId||path||description order string
- J7 last-write-wins subject info = ROW_NUMBER by version DESC
- A1 (fact) vs A2 (transcript) averaging denominators
- A3 coe-weighted (fact) vs A4 unweighted (transcript) custom rollups
- JSON detail parity: to_json(sort_array(collect_list(struct))) ==
  to_json(list_sort(list(struct_pack))) with rounded DOUBLE fields
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_etl_spark.functions.grading import (
    grade_band_sql,
    grade_gpa_sql,
    grade_meaning_sql,
)
from clickhouse_etl_spark.pipelines.graph import Pipeline
from clickhouse_etl_spark.pipelines.reference_etl import (
    copy_entity,
    monthly_subject_fact,
    student_transcript,
    synthetic_warehouse,
)
from clickhouse_etl_spark.queries import register

# ---------------------------------------------------------------------------
# Shared oracle CTE block: the synthetic warehouse in SQL.
# ---------------------------------------------------------------------------

_GENDER_SQL = """CASE WHEN lower({g}) IN ('m', 'male') THEN 'male'
                WHEN lower({g}) IN ('f', 'female') THEN 'female'
                ELSE {g} END"""

# Fixed-width sortable string (epoch seconds || scoreId || scorerId ||
# structurePath || '|' || description): lexicographic == numeric for the
# padded components, no multiplier overflow. The payload fields extend
# the tiebreak because scoreId is NOT unique in the fixtures at sf>=0.1
# (duplicate (orderkey, linenumber) lineitem rows) — without them,
# arg_max vs max_by resolve exact ties differently per engine. The
# engine side (reference_etl._score_order) orders by the equivalent
# STRUCT (arg_max only takes scalar ordering values; the struct avoids
# a per-row java.util.Formatter call) — see _score_order's docstring
# for the order-isomorphism argument on the fixture domain.
_ORD = (
    "lpad(epoch({m})::BIGINT::VARCHAR, 12, '0') || lpad({s}::VARCHAR, 12, '0')"
    " || lpad({sc}::VARCHAR, 12, '0') || COALESCE({sp}, '') || '|'"
    " || COALESCE({d}, '')"
)
# scorer-level order (detail representative): payload == order fields, so
# exact ties are pick-irrelevant and the short form stays total enough.
_SCORER_ORD = (
    "lpad(epoch({m})::BIGINT::VARCHAR, 12, '0') || lpad({s}::VARCHAR, 12, '0')"
)

# `scores` (the lineitem⨝orders fact) and `evals` are AS MATERIALIZED
# (r9): DuckDB 1.0 inlines CTEs by default, and the fact/transcript
# statements reference them 4+ times each (per_eval/per_eval2,
# custom_desc, both reps branches, subj/cust/mon/sem) — under inlining
# the 15M-row join at gen10 re-executed per reference (pl_monthly's
# oracle: 110-340 s, now ~37 s; semantics unchanged, every value
# identical).
_WAREHOUSE_SQL = """
students AS (
  SELECT c_custkey AS studentId, c_name AS firstName,
         'L' || (c_custkey % 97) AS lastName,
         c_name || '-nat' AS firstNameNative,
         'L' || (c_custkey % 97) || '-nat' AS lastNameNative,
         c_mktsegment AS program,
         CASE c_custkey % 5 WHEN 0 THEN 'm' WHEN 1 THEN 'F' WHEN 2 THEN 'male'
              WHEN 3 THEN 'FEMALE' ELSE 'other' END AS gender,
         'id-' || c_custkey AS idCard,
         DATE '1990-01-01' + CAST(c_custkey % 5000 AS INT) AS dob,
         'ca' || (c_custkey % 7) AS campusId,
         CASE WHEN c_custkey % 3 = 0 THEN NULL
              ELSE 'gs' || (c_custkey % 5) END AS student_gs,
         CAST(c_nationkey % 3 AS VARCHAR) AS schoolId
  FROM customer
),
evals AS MATERIALIZED (
  SELECT DISTINCT 'se' || (r_regionkey % 2) AS evaluationId,
         'Semester ' || (r_regionkey % 2) AS name, 'na' AS parentId,
         'semester' AS type, 100.0::DOUBLE AS maxScore, 1 AS coe,
         0.0::DOUBLE AS credit, 'sch' || (r_regionkey % 2) AS schoolId,
         NULL::VARCHAR AS groupStructureId,
         NULL::TIMESTAMP AS startDate, NULL::TIMESTAMP AS endDate
  FROM region
  UNION ALL
  SELECT 'mo' || r_regionkey, r_name, 'se' || (r_regionkey % 2), 'month',
         100.0::DOUBLE, 1, 0.0::DOUBLE, 'sch' || (r_regionkey % 2), NULL,
         TIMESTAMP '2024-01-01' + to_days(CAST(r_regionkey * 30 AS INT)),
         TIMESTAMP '2024-01-01' + to_days(CAST(r_regionkey * 30 + 29 AS INT))
  FROM region
  UNION ALL
  SELECT 'su' || n_nationkey, n_name,
         CASE WHEN n_nationkey % 7 = 0 THEN 'se' || (n_regionkey % 2)
              ELSE 'mo' || n_regionkey END,
         'subject', 100.0::DOUBLE, CAST(n_nationkey % 4 AS INT),
         CAST(n_nationkey % 4 + 1 AS DOUBLE),
         'sch' || (n_regionkey % 2),
         CASE WHEN n_nationkey % 5 = 0 THEN 'gse' || n_nationkey END,
         NULL, NULL
  FROM nation
  UNION ALL
  SELECT 'cu' || s_suppkey, s_name, 'su' || s_nationkey, 'custom',
         (50.0 + (s_suppkey % 3) * 25.0)::DOUBLE,
         CAST((s_suppkey % 5) - 1 AS INT), 0.0::DOUBLE,
         NULL, NULL, NULL, NULL
  FROM supplier
),
scores AS MATERIALIZED (
  SELECT l_orderkey * 10 + l_linenumber AS scoreId, o_custkey AS studentId,
         CASE WHEN l_linenumber % 3 = 0 THEN 'su' || (l_suppkey % 25)
              ELSE 'cu' || l_suppkey END AS evaluationId,
         CAST(l_quantity AS DOUBLE) AS score,
         l_suppkey AS scorerId, l_shipdate AS markedAt,
         '#st' || (l_suppkey % 25) || '#p' || (l_partkey % 3) AS structurePath,
         'd' || ((l_orderkey * 10 + l_linenumber) % 7) AS description
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
structures AS (
  SELECT 'st' || n_nationkey AS structureRecordId,
         'Class ' || n_name AS name,
         'gs' || (n_nationkey % 5) AS groupStructureId
  FROM nation
),
subject_dim AS (
  SELECT structureRecordId, nameNative, code, credit, coe FROM (
    SELECT 'st' || (s_suppkey % 25) AS structureRecordId,
           s_name || '-nat' AS nameNative,
           'SUB' || (s_suppkey % 25) || '-' || s_suppkey AS code,
           CAST(s_suppkey % 4 + 1 AS DOUBLE) AS credit,
           CAST(s_suppkey % 4 AS INT) AS coe,
           ROW_NUMBER() OVER (PARTITION BY s_suppkey % 25
                              ORDER BY s_suppkey DESC) AS rn
    FROM supplier
  ) WHERE rn = 1
),
subj AS (SELECT * FROM evals WHERE type = 'subject'),
cust AS (SELECT * FROM evals WHERE type = 'custom'),
mon AS (SELECT * FROM evals WHERE type = 'month'),
sem AS (SELECT * FROM evals WHERE type = 'semester'),
reps AS (
  SELECT subjectEvaluationId, studentId, scoreSource,
         arg_max(structurePath, ord) AS structurePath,
         arg_max(scorerId, ord) AS scorerId,
         arg_max(markedAt, ord) AS markedAt,
         arg_max(description, ord) AS description
  FROM (
    SELECT s.evaluationId AS subjectEvaluationId, s.studentId,
           'direct' AS scoreSource, s.structurePath, s.scorerId,
           s.markedAt, s.description,
           {ord} AS ord
    FROM scores s JOIN subj ON s.evaluationId = subj.evaluationId
    UNION ALL
    SELECT c.parentId, s.studentId, 'aggregated', s.structurePath,
           s.scorerId, s.markedAt, s.description,
           {ord}
    FROM scores s JOIN cust c ON s.evaluationId = c.evaluationId
  )
  GROUP BY 1, 2, 3
)
""".format(ord=_ORD.format(m="s.markedAt", s="s.scoreId", sc="s.scorerId", sp="s.structurePath", d="s.description"))
# NOTE on reps: arg_max per column is safe because ord is total over
# DISTINCT payloads (epoch+scoreId+scorerId+path+description) — rows that
# still tie are byte-identical, so every arg_max picks the same values.


# ---------------------------------------------------------------------------
# Wide-fact chain (A1 + A3, 'direct'/'aggregated' precedence, full DDL).
# ---------------------------------------------------------------------------

_FACT_SQL = f"""
{_WAREHOUSE_SQL},
per_eval AS (
  SELECT evaluationId, studentId, AVG(score) AS avg_score
  FROM scores GROUP BY 1, 2
),
direct AS (
  SELECT p.evaluationId AS subjectEvaluationId, p.studentId,
         CASE WHEN s.maxScore > 0 THEN p.avg_score / s.maxScore * 100
              ELSE 0 END AS percentage,
         'direct' AS scoreSource
  FROM per_eval p JOIN subj s ON p.evaluationId = s.evaluationId
),
custom_desc AS (
  SELECT s.evaluationId, s.studentId,
         arg_max(s.description, {_ORD.format(m="s.markedAt", s="s.scoreId", sc="s.scorerId", sp="s.structurePath", d="s.description")})
           AS description
  FROM scores s JOIN cust c ON s.evaluationId = c.evaluationId
  GROUP BY 1, 2
),
custom_records AS (
  SELECT c.parentId AS subjectEvaluationId, p.studentId,
         p.evaluationId, c.name, p.avg_score,
         c.maxScore,
         CASE WHEN c.maxScore > 0 THEN p.avg_score / c.maxScore * 100
              ELSE 0 END AS custom_pct,
         c.coe, cd.description
  FROM per_eval p
  JOIN cust c ON p.evaluationId = c.evaluationId
  LEFT JOIN custom_desc cd
    ON cd.evaluationId = p.evaluationId AND cd.studentId = p.studentId
),
custom_json AS (
  SELECT subjectEvaluationId, studentId,
         to_json(list_sort(list(struct_pack(
           evaluationId := evaluationId,
           name := name,
           score := ROUND(avg_score, 6),
           maxScore := maxScore,
           percentage := ROUND(custom_pct, 6),
           grade := {grade_band_sql("ROUND(custom_pct, 6)")},
           gpa := CAST({grade_gpa_sql("ROUND(custom_pct, 6)")} AS DOUBLE),
           meaning := {grade_meaning_sql("ROUND(custom_pct, 6)")},
           coe := coe,
           description := description
         )))) AS customEvaluations,
         CAST(count(*) AS INT) AS customEvaluationCount
  FROM custom_records GROUP BY 1, 2
),
aggregated AS (
  SELECT subjectEvaluationId, studentId,
         SUM(custom_pct * w)
           / SUM(CASE WHEN custom_pct IS NOT NULL THEN w END) AS percentage,
         'aggregated' AS scoreSource
  FROM (
    SELECT *, CASE WHEN coe IS NULL OR coe <= 0 THEN 1.0
                   ELSE CAST(coe AS DOUBLE) END AS w
    FROM custom_records
  ) GROUP BY 1, 2
),
merged AS (
  SELECT * FROM direct
  UNION ALL
  SELECT a.* FROM aggregated a
  WHERE NOT EXISTS (SELECT 1 FROM direct d
                    WHERE d.subjectEvaluationId = a.subjectEvaluationId
                      AND d.studentId = a.studentId)
),
graded AS (
  SELECT m.*, {grade_band_sql("ROUND(m.percentage, 6)")} AS grade,
         CAST({grade_gpa_sql("ROUND(m.percentage, 6)")} AS DOUBLE) AS gpa,
         {grade_meaning_sql("ROUND(m.percentage, 6)")} AS meaning
  FROM merged m
),
fact AS (
  SELECT s.schoolId,
         stu.campusId,
         split_part(r.structurePath, '#', 2) AS structureRecordId,
         st.name AS structureRecordName,
         COALESCE(s.groupStructureId, stu.student_gs, st.groupStructureId)
           AS groupStructureId,
         r.structurePath,
         g.studentId,
         stu.firstName AS studentFirstName,
         stu.lastName AS studentLastName,
         stu.firstNameNative AS studentFirstNameNative,
         stu.lastNameNative AS studentLastNameNative,
         stu.idCard,
         stu.dob,
         {_GENDER_SQL.format(g="stu.gender")} AS gender,
         mo.evaluationId AS monthEvaluationId,
         mo.name AS monthName,
         mo.startDate AS monthStartDate,
         mo.endDate AS monthEndDate,
         g.subjectEvaluationId,
         s.name AS subjectName,
         sd.nameNative AS subjectNameNative,
         s.maxScore AS subjectMaxScore,
         sd.coe,
         sd.code,
         sd.credit,
         ROUND(g.percentage * s.maxScore / 100, 6) AS score,
         ROUND(g.percentage, 6) AS percentage,
         g.grade, g.meaning, g.gpa,
         g.scoreSource,
         COALESCE(cj.customEvaluationCount, 0) AS customEvaluationCount,
         cj.customEvaluations,
         r.scorerId,
         r.markedAt,
         r.description,
         s.parentId AS subjectParentId
  FROM graded g
  LEFT JOIN reps r ON r.subjectEvaluationId = g.subjectEvaluationId
                  AND r.studentId = g.studentId
                  AND r.scoreSource = g.scoreSource
  LEFT JOIN structures st
    ON st.structureRecordId = split_part(r.structurePath, '#', 2)
  LEFT JOIN subject_dim sd
    ON sd.structureRecordId = split_part(r.structurePath, '#', 2)
  JOIN subj s ON g.subjectEvaluationId = s.evaluationId
  LEFT JOIN mon mo ON s.parentId = mo.evaluationId
  LEFT JOIN students stu ON g.studentId = stu.studentId
  LEFT JOIN custom_json cj
    ON cj.subjectEvaluationId = g.subjectEvaluationId
   AND cj.studentId = g.studentId
)
"""

_FACT_COLS = """schoolId, campusId, structureRecordId, structureRecordName,
       groupStructureId, structurePath, studentId, studentFirstName,
       studentLastName, studentFirstNameNative, studentLastNameNative,
       idCard, dob, gender, monthEvaluationId, monthName, monthStartDate,
       monthEndDate, subjectEvaluationId, subjectName, subjectNameNative,
       subjectMaxScore, coe, code, credit, score, percentage, grade,
       meaning, gpa, scoreSource, customEvaluationCount, customEvaluations,
       scorerId, markedAt, description"""


# ---------------------------------------------------------------------------
# Transcript chain (A2 + A4, its own precedence, 18-field details).
# ---------------------------------------------------------------------------

_TRANSCRIPT_SQL = f"""
{_WAREHOUSE_SQL},
per_eval2 AS (
  SELECT evaluationId, studentId, AVG(COALESCE(score, 0)) AS avg_score
  FROM scores GROUP BY 1, 2
),
t_direct AS (
  SELECT p.evaluationId AS subjectEvaluationId, p.studentId,
         p.avg_score AS final_score, 'direct' AS scoreSource
  FROM per_eval2 p JOIN subj s ON p.evaluationId = s.evaluationId
),
t_custom_rolled AS (
  SELECT c.parentId AS subjectEvaluationId, p.studentId,
         AVG(CASE WHEN c.maxScore > 0 THEN p.avg_score / c.maxScore * 100
                  ELSE 0 END) AS custom_mean_pct
  FROM per_eval2 p JOIN cust c ON p.evaluationId = c.evaluationId
  GROUP BY 1, 2
),
t_merged AS (
  SELECT d.subjectEvaluationId, d.studentId, d.scoreSource,
         s.maxScore AS subjectMaxScore,
         d.final_score,
         CASE WHEN s.maxScore > 0 THEN d.final_score / s.maxScore * 100
              ELSE 0 END AS pct
  FROM t_direct d JOIN subj s ON d.subjectEvaluationId = s.evaluationId
  UNION ALL
  SELECT c.subjectEvaluationId, c.studentId, 'aggregated',
         s.maxScore,
         c.custom_mean_pct * s.maxScore / 100,
         c.custom_mean_pct
  FROM t_custom_rolled c
  JOIN subj s ON c.subjectEvaluationId = s.evaluationId
  WHERE NOT EXISTS (SELECT 1 FROM t_direct d
                    WHERE d.subjectEvaluationId = c.subjectEvaluationId
                      AND d.studentId = c.studentId)
),
t_detail AS (
  SELECT m.studentId,
         split_part(r.structurePath, '#', 2) AS structureRecordId,
         st.name AS structureRecordName,
         st.groupStructureId AS structure_gs,
         s.schoolId AS subjectSchoolId,
         r.scorerId, r.markedAt,
         m.subjectEvaluationId,
         s.name AS subjectName,
         COALESCE(sd.nameNative, '') AS subjectNameNative,
         COALESCE(sd.code, '') AS code,
         COALESCE(sd.credit, 0.0) AS credit,
         ROUND(m.final_score, 6) AS score,
         m.subjectMaxScore AS maxScore,
         ROUND(m.pct, 6) AS percentage,
         {grade_band_sql("ROUND(m.pct, 6)")} AS grade,
         {grade_meaning_sql("ROUND(m.pct, 6)")} AS meaning,
         CAST({grade_gpa_sql("ROUND(m.pct, 6)")} AS DOUBLE) AS gpa,
         COALESCE(pe.name, '') AS subjectParentName,
         pe.evaluationId AS subjectParentEvaluationId,
         COALESCE(pe.type, '') AS subjectParentType,
         CASE WHEN pe.type = 'month' THEN pe.name ELSE '' END AS monthName,
         CASE WHEN pe.type = 'month' THEN pe.evaluationId END
           AS monthEvaluationId,
         CASE WHEN pe.type = 'month' THEN COALESCE(hs.name, '')
              WHEN pe.type = 'semester' THEN pe.name
              ELSE '' END AS semesterName,
         CASE WHEN pe.type = 'month' THEN hs.evaluationId
              WHEN pe.type = 'semester' THEN pe.evaluationId END
           AS semesterEvaluationId
  FROM t_merged m
  LEFT JOIN reps r ON r.subjectEvaluationId = m.subjectEvaluationId
                  AND r.studentId = m.studentId
                  AND r.scoreSource = m.scoreSource
  LEFT JOIN structures st
    ON st.structureRecordId = split_part(r.structurePath, '#', 2)
  LEFT JOIN subject_dim sd
    ON sd.structureRecordId = split_part(r.structurePath, '#', 2)
  JOIN subj s ON m.subjectEvaluationId = s.evaluationId
  LEFT JOIN (SELECT * FROM evals WHERE type IN ('month', 'semester')) pe
    ON s.parentId = pe.evaluationId
  LEFT JOIN sem hs ON pe.type = 'month' AND pe.parentId = hs.evaluationId
)
"""


# ---------------------------------------------------------------------------
# Lifecycle 1 — copy_entity (§3.1): dedup latest version, normalize, JSON.
# ---------------------------------------------------------------------------
@register(
    "pl_copy_students",
    oracle=f"""
    WITH {_WAREHOUSE_SQL.strip().lstrip()}
    SELECT studentId, firstName,
           {_GENDER_SQL.format(g="gender")} AS gender,
           to_json(struct_pack(program := program, idCard := idCard)) AS profile,
           schoolId
    FROM students
    """,
)
def pl_copy_students(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two source versions per student (simulating re-extraction); the
    pipeline dedups to the latest, normalizes, serializes the profile.
    Runs through the G1-G3 Pipeline graph (staged, retryable)."""
    students = synthetic_warehouse(spark, sf_dir)["students"]
    v1 = students.withColumn(
        "updatedAt", F.lit("2024-01-01 00:00:00").cast("timestamp")
    ).withColumn("firstName", F.concat(F.col("firstName"), F.lit("_stale")))
    v2 = students.withColumn(
        "updatedAt", F.lit("2024-02-01 00:00:00").cast("timestamp")
    )

    pipe = Pipeline("copy_students")

    @pipe.stage("extract")
    def extract(ctx):
        return {"raw": v1.unionByName(v2)}

    @pipe.stage("transform", retries=2)
    def transform(ctx):
        return {"out": copy_entity(ctx["raw"])}

    return pipe.run({})["out"]


# ---------------------------------------------------------------------------
# Lifecycle 2 — monthly_subject_fact (§3.3 wide fact, full DDL surface).
# ---------------------------------------------------------------------------
@register(
    "pl_monthly_subject_fact",
    oracle=f"""
    WITH {_FACT_SQL.strip()}
    SELECT {_FACT_COLS}
    FROM fact
    """,
)
def pl_monthly_subject_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = synthetic_warehouse(spark, sf_dir)
    fact = monthly_subject_fact(
        wh["evaluations"], wh["scores"], wh["students"],
        wh["structures"], wh["subject_dim"],
    )
    return fact.drop("subjectParentId")


# ---------------------------------------------------------------------------
# Lifecycle 3a — transcript record level: totals (A6) + scorer columns +
# structure/school denormalization, one row per (student, structureRecord).
# ---------------------------------------------------------------------------
@register(
    "pl_transcript_totals",
    oracle=f"""
    WITH {_TRANSCRIPT_SQL.strip()}
    SELECT studentId, structureRecordId,
           CAST(SUM(credit) AS DOUBLE) AS totalCredits,
           ROUND(CASE WHEN SUM(credit) > 0
                      THEN SUM(credit * gpa) / SUM(credit)
                      ELSE 0 END, 6) AS totalGPA,
           count(*) AS subjectCount
    FROM t_detail GROUP BY 1, 2
    """,
)
def pl_transcript_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = synthetic_warehouse(spark, sf_dir)
    t = student_transcript(
        wh["evaluations"], wh["scores"], wh["students"],
        wh["structures"], wh["subject_dim"], include_details=False,
    )
    return t.select(
        "studentId",
        "structureRecordId",
        F.col("totalCredits").cast("double").alias("totalCredits"),
        F.round("totalGPA", 6).alias("totalGPA"),
        F.col("subjectCount").cast("long").alias("subjectCount"),
    )


# ---------------------------------------------------------------------------
# Lifecycle 3b — transcript details re-exploded: proves the nested
# 18-field subjectDetails tuple content AND the record-level columns
# (school/campus/structure/scorer) through a SQL-checkable surface.
# ---------------------------------------------------------------------------
@register(
    "pl_transcript_details",
    oracle=f"""
    WITH {_TRANSCRIPT_SQL.strip()},
    rec AS (
      SELECT studentId, structureRecordId,
             arg_min(subjectSchoolId, subjectEvaluationId) AS schoolId,
             arg_max(scorerId,
                     {_SCORER_ORD.format(m="markedAt", s="scorerId")}) AS recScorerId,
             arg_max(markedAt,
                     {_SCORER_ORD.format(m="markedAt", s="scorerId")}) AS recMarkedAt
      FROM t_detail GROUP BY 1, 2
    )
    SELECT d.studentId, d.structureRecordId, d.structureRecordName,
           d.structure_gs AS groupStructureId,
           '#' || d.structureRecordId AS recStructurePath,
           stu.campusId,
           {_GENDER_SQL.format(g="stu.gender")} AS gender,
           stu.lastName AS studentLastName,
           stu.dob,
           rec.schoolId, rec.recScorerId, rec.recMarkedAt,
           d.subjectEvaluationId, d.subjectName, d.subjectNameNative,
           d.code, d.credit, d.score, d.maxScore, d.percentage, d.grade,
           d.meaning, d.gpa, d.subjectParentName,
           d.subjectParentEvaluationId, d.subjectParentType, d.monthName,
           d.monthEvaluationId, d.semesterName, d.semesterEvaluationId
    FROM t_detail d
    JOIN rec ON rec.studentId = d.studentId
            AND rec.structureRecordId = d.structureRecordId
    LEFT JOIN students stu ON d.studentId = stu.studentId
    """,
)
def pl_transcript_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = synthetic_warehouse(spark, sf_dir)
    t = student_transcript(
        wh["evaluations"], wh["scores"], wh["students"],
        wh["structures"], wh["subject_dim"],
    )
    d = t.select(
        "studentId",
        "structureRecordId",
        "structureRecordName",
        "groupStructureId",
        F.col("structurePath").alias("recStructurePath"),
        "campusId",
        "gender",
        "studentLastName",
        "dob",
        "schoolId",
        F.col("scorerId").alias("recScorerId"),
        F.col("markedAt").alias("recMarkedAt"),
        F.explode("subjectDetails").alias("d"),
    )
    return d.select(
        "studentId",
        "structureRecordId",
        "structureRecordName",
        "groupStructureId",
        "recStructurePath",
        "campusId",
        "gender",
        "studentLastName",
        "dob",
        "schoolId",
        "recScorerId",
        "recMarkedAt",
        F.col("d.subjectEvaluationId").alias("subjectEvaluationId"),
        F.col("d.subjectName").alias("subjectName"),
        F.col("d.subjectNameNative").alias("subjectNameNative"),
        F.col("d.code").alias("code"),
        F.col("d.credit").alias("credit"),
        F.col("d.score").alias("score"),
        F.col("d.maxScore").alias("maxScore"),
        F.col("d.percentage").alias("percentage"),
        F.col("d.grade").alias("grade"),
        F.col("d.meaning").alias("meaning"),
        F.col("d.gpa").alias("gpa"),
        F.col("d.subjectParentName").alias("subjectParentName"),
        F.col("d.subjectParentEvaluationId").alias("subjectParentEvaluationId"),
        F.col("d.subjectParentType").alias("subjectParentType"),
        F.col("d.monthName").alias("monthName"),
        F.col("d.monthEvaluationId").alias("monthEvaluationId"),
        F.col("d.semesterName").alias("semesterName"),
        F.col("d.semesterEvaluationId").alias("semesterEvaluationId"),
    )
