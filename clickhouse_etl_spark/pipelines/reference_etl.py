"""M4 — the reference's three ETL lifecycles as engine pipelines.

1. ``copy_entity``       — the §3.1 incremental entity copy
   (reference: apps/airflow/dags/student/etl_students_to_clickhouse.py:28-116)
2. ``monthly_subject_fact`` — the §3.3 wide denormalized score fact
   (reference: apps/airflow/dags/student_scores_subject/
   etl_student_scores_subject_month_to_clickhouse.py:111-433; DDL
   apps/clickhouse/migrations/2025_02_24_10_02_create_student_score_subject_month_table.sql)
3. ``student_transcript``  — the nested-transcript build with the full
   18-field subjectDetails tuple
   (reference: apps/airflow/dags/student_transcript/
   etl_student_transcript_to_clickhouse.py:177-457; DDL
   apps/clickhouse/migrations/2025_02_25_15_30_create_transcript_table.sql:24-49)

The two analytical lifecycles deliberately do NOT share an averaging
chain, mirroring the reference's (surprising but real) semantics:

- wide fact: A1 null-dropped per-eval averages, A3 coe-weighted custom
  rollup (coe≤0→1), scoreSource 'direct'/'aggregated'
  (…student_scores_subject/…:243-247,284-302)
- transcript: A2 null-as-zero per-eval averages, A4 UNWEIGHTED average of
  custom percentages (…student_transcript/…:240-245,255-265)

Representative-score policy: the reference picks ``score_list[0]``
("assuming chronological order" — nondeterministic dict/list order). The
engine's named policy is W2 latest-marked with an explicit order key
(markedAt, scoreId, then the payload fields — total over distinct
payloads; see ``_score_order``), applied order-equivalently in the
DuckDB oracles via a fixed-width order string (struct ordering on the
engine side — _score_order documents the isomorphism).

``synthetic_warehouse`` derives deterministic warehouse-shaped fixtures
(students / evaluation tree / scores / structure records / the
structure-keyed subject dim) from the driver's TPC-H-ish tables so the
pipelines run — and oracle-check — at every scale factor without bespoke
test data. The derivations are pure column expressions, hence
SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_etl_spark.catalog import load_table
from clickhouse_etl_spark.functions.grading import grade_band
from clickhouse_etl_spark.functions.scalars import (
    gender_normalize,
    json_object,
    path_first_id,
    percentage,
    score_from_percentage,
    weighted_coe,
)
from clickhouse_etl_spark.operators.dedup import (
    last_write_wins,
    latest_row_per_key,
    scrub_invalid_keys,
)
from clickhouse_etl_spark.util import materialize
from clickhouse_etl_spark.operators.joins import (
    anti_join,
    broadcast_dim_join,
)


# ---------------------------------------------------------------------------
# Synthetic warehouse fixtures (deterministic; SQL-mirrorable)
# ---------------------------------------------------------------------------

def synthetic_students(spark: SparkSession, sf_dir: str) -> DataFrame:
    """students dim from customer — raw gender values deliberately dirty
    (m/F/male/FEMALE/other cycle) to exercise F1 normalization; native
    names / dob / campus / nullable groupStructureId mirror the Postgres
    student extraction columns (…etl_students_to_clickhouse.py:38-42)."""
    c = load_table(spark, sf_dir, "customer")
    gender_raw = (
        F.when(F.col("c_custkey") % 5 == 0, "m")
        .when(F.col("c_custkey") % 5 == 1, "F")
        .when(F.col("c_custkey") % 5 == 2, "male")
        .when(F.col("c_custkey") % 5 == 3, "FEMALE")
        .otherwise("other")
    )
    last = F.concat(F.lit("L"), (F.col("c_custkey") % 97))
    return c.select(
        F.col("c_custkey").alias("studentId"),
        F.col("c_name").alias("firstName"),
        last.alias("lastName"),
        F.concat(F.col("c_name"), F.lit("-nat")).alias("firstNameNative"),
        F.concat(last, F.lit("-nat")).alias("lastNameNative"),
        F.col("c_mktsegment").alias("program"),
        gender_raw.alias("gender"),
        F.concat(F.lit("id-"), F.col("c_custkey")).alias("idCard"),
        F.date_add(
            F.lit("1990-01-01").cast("date"), (F.col("c_custkey") % 5000).cast("int")
        ).alias("dob"),
        F.concat(F.lit("ca"), F.col("c_custkey") % 7).alias("campusId"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.lit(None).cast("string")
        ).otherwise(F.concat(F.lit("gs"), F.col("c_custkey") % 5)).alias(
            "groupStructureId"
        ),
        (F.col("c_nationkey") % 3).cast("string").alias("schoolId"),
    )


def synthetic_evaluations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-level evaluation tree: semester(2) ← month(regions) ←
    subject(nations) ← custom(suppliers). coe/maxScore vary to exercise
    the F16/A3 defaulting paths. Every 7th subject parents DIRECTLY to a
    semester (the reference's 'parent could be month or semester' branch,
    …etl_student_transcript_to_clickhouse.py:344-366); every 5th subject
    carries its own groupStructureId to exercise the F12 3-way coalesce.
    Months carry start/end dates (the attendanceColumn analog)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    null_s = F.lit(None).cast("string")
    null_t = F.lit(None).cast("timestamp")

    semesters = (
        region.select((F.col("r_regionkey") % 2).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("se"), F.col("k")).alias("evaluationId"),
            F.concat(F.lit("Semester "), F.col("k")).alias("name"),
            F.lit("na").alias("parentId"),
            F.lit("semester").alias("type"),
            F.lit(100.0).alias("maxScore"),
            F.lit(1).alias("coe"),
            F.lit(0.0).alias("credit"),
            F.concat(F.lit("sch"), F.col("k")).alias("schoolId"),
            null_s.alias("groupStructureId"),
            null_t.alias("startDate"),
            null_t.alias("endDate"),
        )
    )
    base_ts = F.lit("2024-01-01 00:00:00").cast("timestamp")
    months = region.select(
        F.concat(F.lit("mo"), F.col("r_regionkey")).alias("evaluationId"),
        F.col("r_name").alias("name"),
        F.concat(F.lit("se"), F.col("r_regionkey") % 2).alias("parentId"),
        F.lit("month").alias("type"),
        F.lit(100.0).alias("maxScore"),
        F.lit(1).alias("coe"),
        F.lit(0.0).alias("credit"),
        F.concat(F.lit("sch"), F.col("r_regionkey") % 2).alias("schoolId"),
        null_s.alias("groupStructureId"),
        (base_ts + F.make_dt_interval(F.col("r_regionkey") * 30)).alias("startDate"),
        (base_ts + F.make_dt_interval(F.col("r_regionkey") * 30 + 29)).alias(
            "endDate"
        ),
    )
    subjects = nation.select(
        F.concat(F.lit("su"), F.col("n_nationkey")).alias("evaluationId"),
        F.col("n_name").alias("name"),
        F.when(
            F.col("n_nationkey") % 7 == 0,
            F.concat(F.lit("se"), F.col("n_regionkey") % 2),
        ).otherwise(F.concat(F.lit("mo"), F.col("n_regionkey"))).alias("parentId"),
        F.lit("subject").alias("type"),
        F.lit(100.0).alias("maxScore"),
        (F.col("n_nationkey") % 4).cast("int").alias("coe"),
        (F.col("n_nationkey") % 4 + 1).cast("double").alias("credit"),
        F.concat(F.lit("sch"), F.col("n_regionkey") % 2).alias("schoolId"),
        F.when(
            F.col("n_nationkey") % 5 == 0,
            F.concat(F.lit("gse"), F.col("n_nationkey")),
        ).otherwise(null_s).alias("groupStructureId"),
        null_t.alias("startDate"),
        null_t.alias("endDate"),
    )
    customs = supplier.select(
        F.concat(F.lit("cu"), F.col("s_suppkey")).alias("evaluationId"),
        F.col("s_name").alias("name"),
        F.concat(F.lit("su"), F.col("s_nationkey")).alias("parentId"),
        F.lit("custom").alias("type"),
        (50.0 + (F.col("s_suppkey") % 3) * 25.0).alias("maxScore"),
        ((F.col("s_suppkey") % 5) - 1).cast("int").alias("coe"),
        F.lit(0.0).alias("credit"),
        null_s.alias("schoolId"),
        null_s.alias("groupStructureId"),
        null_t.alias("startDate"),
        null_t.alias("endDate"),
    )
    return semesters.unionByName(months).unionByName(subjects).unionByName(customs)


def synthetic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scores fact from lineitem ⨝ orders: every third line is a DIRECT
    subject score (precedence path), the rest hit custom evaluations.
    structurePath is the reference's materialized path ('#<id>#…', J6/F9);
    scorerId/markedAt/description feed the representative-score policy."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    eval_id = F.when(
        F.col("l_linenumber") % 3 == 0,
        F.concat(F.lit("su"), F.col("l_suppkey") % 25),
    ).otherwise(F.concat(F.lit("cu"), F.col("l_suppkey")))
    score_id = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return joined.select(
        score_id.alias("scoreId"),
        F.col("o_custkey").alias("studentId"),
        eval_id.alias("evaluationId"),
        F.col("l_quantity").cast("double").alias("score"),
        F.col("l_suppkey").alias("scorerId"),
        F.col("l_shipdate").alias("markedAt"),
        F.concat(
            F.lit("#st"), F.col("l_suppkey") % 25, F.lit("#p"), F.col("l_partkey") % 3
        ).alias("structurePath"),
        F.concat(F.lit("d"), score_id % 7).alias("description"),
    )


def synthetic_structures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """structure_record dim (the Postgres school-structure extraction,
    …etl_school_structure_to_clickhouse.py:193-199)."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        F.concat(F.lit("st"), F.col("n_nationkey")).alias("structureRecordId"),
        F.concat(F.lit("Class "), F.col("n_name")).alias("name"),
        F.concat(F.lit("gs"), F.col("n_nationkey") % 5).alias("groupStructureId"),
    )


def synthetic_subject_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The structure-keyed subject dimension (Postgres ``subject`` table)
    with DUPLICATE structureRecordId versions, so the J7 last-write-wins
    dedup (…etl_student_scores_subject_month_to_clickhouse.py:149) is a
    real decision. At sf0.001 some structureRecordIds have NO subject row
    at all — exercising the missing-subject-info defaults."""
    supplier = load_table(spark, sf_dir, "supplier")
    srid = F.concat(F.lit("st"), F.col("s_suppkey") % 25)
    return supplier.select(
        srid.alias("structureRecordId"),
        F.concat(F.col("s_name"), F.lit("-nat")).alias("nameNative"),
        F.concat(F.lit("SUB"), F.col("s_suppkey") % 25, F.lit("-"), F.col("s_suppkey"))
        .alias("code"),
        (F.col("s_suppkey") % 4 + 1).cast("double").alias("credit"),
        (F.col("s_suppkey") % 4).cast("int").alias("coe"),
        F.col("s_suppkey").alias("version"),
    )


# Memoized warehouse DataFrames per (Spark context, sf_dir). The five
# derivations are fixed column expressions over the immutable driver
# tables, but CONSTRUCTING them costs ~1.6 s of eager PySpark analysis
# (measured r12: ~15 DataFrame ops, each re-analyzing its subtree), and
# the three pipeline queries each rebuilt the whole set per bench pass.
# The cached values are lazy plan fragments — no data or execution
# state; every consumer still plans and scans from parquet. An extra
# benefit: byte-identical plan objects make the downstream shared
# `materialize` entries (per_eval/custom rollups) cache-key-stable by
# construction.
_WAREHOUSE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def synthetic_warehouse(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _WAREHOUSE_CACHE.get(key)
    if cached is not None:
        return dict(cached)
    wh = {
        "students": synthetic_students(spark, sf_dir),
        "evaluations": synthetic_evaluations(spark, sf_dir),
        "scores": synthetic_scores(spark, sf_dir),
        "structures": synthetic_structures(spark, sf_dir),
        "subject_dim": synthetic_subject_dim(spark, sf_dir),
    }
    _WAREHOUSE_CACHE[key] = dict(wh)
    return wh


# ---------------------------------------------------------------------------
# Lifecycle 1 — copy_entity (§3.1)
# ---------------------------------------------------------------------------

def copy_entity(
    entities: DataFrame,
    key: str = "studentId",
    order_col: str = "updatedAt",
) -> DataFrame:
    """dedup-latest → normalize → JSON profile: the student copy pipeline.

    reference steps: P4 invalid-key scrub (…student_transcript/…:124),
    DISTINCT ON dedup (…:38-45), gender normalization (…:75-80), profile
    JSON serialization (…:82-86). The write step is write_mergetree_mapped
    — separated so the transform stays testable.
    """
    scrubbed = scrub_invalid_keys(entities, [key])
    deduped = latest_row_per_key(scrubbed, [key], order_col=order_col)
    return deduped.select(
        F.col(key),
        F.col("firstName"),
        gender_normalize(F.col("gender")).alias("gender"),
        json_object(
            program=F.col("program"), idCard=F.col("idCard")
        ).alias("profile"),
        F.col("schoolId"),
    )


# ---------------------------------------------------------------------------
# Shared pieces of the two analytical lifecycles
# ---------------------------------------------------------------------------

def _score_order(
    markedAt="markedAt",
    scoreId="scoreId",
    scorerId="scorerId",
    structurePath="structurePath",
    description="description",
) -> F.Column:
    """Representative-score order: latest markedAt, then scoreId, then
    the remaining payload fields (scorerId, structurePath, description),
    compared as a STRUCT (lexicographic by field) rather than as one
    concatenated fixed-width string. Struct comparison is a per-field
    primitive compare — the previous format_string("%012d…") key ran
    java.util.Formatter per input row and, because max_by's buffer is
    not hash-aggregable either way, every row paid it inside a
    SortAggregate; dropping the string build alone halved the per-eval
    rollup's wall time at sf0.1.

    The payload tail exists because scoreId is NOT unique in the driver
    fixtures at sf>=0.1 (lineitem carries duplicate (orderkey,
    linenumber) rows): an exact order tie lets Spark's max_by and
    DuckDB's arg_max pick DIFFERENT physical rows. With the payload in
    the key, order is total over distinct payloads — rows that still
    tie are byte-identical, so the pick cannot diverge.

    ORACLE ISOMORPHISM. The DuckDB oracles still order by the
    fixed-width string ``lpad(epoch)||lpad(scoreId)||lpad(scorerId)||
    path||'|'||description`` (arg_max only accepts scalar ordering
    values). The struct order and the string order induce the same
    ranking on the fixture domain: the three numeric components are
    non-negative and < 10^12, so 12-wide zero-padded lexicographic ==
    numeric; and any rows still tied on them share a scorerId, which in
    the synthetic warehouse fixes structurePath's LENGTH
    ('#st'||(scorerId%25)||'#p'||digit) — equal-length strings make
    concat comparison identical to field-by-field comparison — while
    description ('d'||scoreId%7) is already determined by the tied
    scoreId. NULL payload strings are coalesced to '' on both sides.

    NULL ``markedAt`` must yield a NULL order key (the F.when wrapper):
    max_by skips NULL-ordered rows, so keys where EVERY row is unmarked
    produce a NULL representative — exactly matching the oracle, where
    a NULL epoch nulls the whole concat and arg_max skips the row."""
    return F.when(
        F.col(markedAt).isNotNull(),
        F.struct(
            F.col(markedAt),
            F.col(scoreId),
            F.col(scorerId),
            F.coalesce(F.col(structurePath), F.lit("")),
            F.coalesce(F.col(description), F.lit("")),
        ),
    )


def _per_eval_base(scores: DataFrame, null_as_zero: bool) -> DataFrame:
    """ONE pass over the scores fact: the per-(evaluation, student)
    average PLUS the W2 latest-marked representative payload and its
    order key — avg, rep, and ord in a single shuffle instead of three
    separate scans (averages / custom descriptions / representatives all
    group on the same keys). The whole payload travels as ONE struct so
    structurePath/scorerId/markedAt/description always come from the
    same physical score, and because ``_score_order`` is a TOTAL order,
    the representative of any coarser regrouping (custom children → the
    parent subject) is exactly ``max_by`` over the order key re-derived
    from the winning payload's own (markedAt, scoreId).

    BOTH null semantics (A1 null-dropped for the wide fact, A2
    null-as-zero for the transcript) are computed in the same
    aggregation and the caller's variant selected on top. The select is
    OUTSIDE the shared grouped plan on purpose: ``materialize`` persists
    the identical underlying aggregate, so Spark's CacheManager serves
    the fact's and the transcript's per-eval pass from ONE cache entry
    (one scores shuffle for the whole lifecycle suite) instead of
    computing the scores rollup once per null-semantics variant.

    W2 reference: …etl_student_scores_subject_month_to_clickhouse.py:305-331.
    """
    chosen = "avg_null_as_zero" if null_as_zero else "avg_null_dropped"
    return materialize(_per_eval_both(scores)).select(
        "evaluationId",
        "studentId",
        F.col(chosen).alias("avg_score"),
        "__rep",
    )


def _per_eval_both(scores: DataFrame) -> DataFrame:
    """The shared grouped plan behind :func:`_per_eval_base` — callers
    materialize THIS (variant-independent) shape so both lifecycles
    cache-share it."""
    # scoreId rides inside the payload so the coarser custom→subject
    # re-aggregation can DERIVE the order key from the winning struct
    # (_score_order on __rep fields) instead of carrying a separate
    # max(ord) aggregate + 24-byte order column through the shuffle,
    # the cache, and every downstream projection.
    payload = F.struct(
        "structurePath", "scorerId", "markedAt", "description", "scoreId"
    )
    # Repartition on the group keys FIRST, then aggregate. max_by's
    # struct buffer is not hash-aggregable, so this groupBy always runs
    # as a SortAggregate — and (evaluationId, studentId) is near-unique
    # over scores (a student has FEW scores per evaluation; ~0.93 groups
    # per row in the driver fixtures, same shape in the reference's
    # per-eval marks), so the default partial+final pair sorts the full
    # fact TWICE and evaluates every order key twice to reduce almost
    # nothing. Pre-hash-partitioning satisfies the aggregate's required
    # distribution, so Spark plans ONE complete SortAggregate: one sort,
    # one order-key pass, same single shuffle of raw rows the partial
    # plan would have paid anyway. Measured 2-3x faster at sf0.1; the
    # reasoning is scale-invariant because the group-per-row ratio is a
    # property of the key, not the volume. (For LOW-cardinality keys the
    # partial would win — this shape is deliberate, not a default.)
    return scores.repartition("evaluationId", "studentId").groupBy(
        "evaluationId", "studentId"
    ).agg(
        F.avg("score").alias("avg_null_dropped"),
        F.avg(F.coalesce(F.col("score"), F.lit(0.0))).alias("avg_null_as_zero"),
        F.max_by(payload, _score_order()).alias("__rep"),
    )


def _custom_agg_both(scores: DataFrame, customs: DataFrame) -> DataFrame:
    """ONE rollup of custom evaluations to their parent subject serving
    BOTH lifecycles — the custom-path twin of :func:`_per_eval_both`.

    The fact needs the A3 coe-weighted percentage over A1 (null-dropped)
    averages plus the A8 JSON detail column; the transcript needs the A4
    unweighted mean of A2 (null-as-zero) percentages. Both group the
    same ~|custom scores| rows on the same (subject, student) key, so
    they are computed in the SAME shuffle and materialized once — with
    :func:`_per_eval_both` this makes the whole fact+transcript suite
    two shuffles over score-derived data, total.

    References: A3/A8 …etl_student_scores_subject_month_to_clickhouse.py:284-302,
    A4 …etl_student_transcript_to_clickhouse.py:255-265.
    """
    pe = materialize(_per_eval_both(scores))
    recs = pe.join(
        F.broadcast(
            customs.select("evaluationId", "parentId", "name", "maxScore", "coe")
        ),
        on="evaluationId",
        how="inner",
    ).select(
        F.col("parentId").alias("subjectEvaluationId"),
        "studentId",
        "evaluationId",
        "name",
        "maxScore",
        "coe",
        F.col("avg_null_dropped").alias("avg_a1"),
        percentage(F.col("avg_null_dropped"), F.col("maxScore")).alias("pct_a1"),
        percentage(F.col("avg_null_as_zero"), F.col("maxScore")).alias("pct_a2"),
        F.col("__rep.description").alias("description"),
        "__rep",
    ).withColumn("g", grade_band(F.round("pct_a1", 6)))
    w = weighted_coe(F.col("coe"))
    # NULL-pct evals (all-NULL scores) contribute to NEITHER sum — the
    # numerator skips them via SUM's null handling, and their weight
    # must not stay in the denominator (operators.weighted_average has
    # the same symmetry; the oracle SQL mirrors it).
    w_eff = F.when(F.col("pct_a1").isNotNull(), w)
    return materialize(
        recs.groupBy("subjectEvaluationId", "studentId").agg(
            (F.sum(F.col("pct_a1") * w) / F.sum(w_eff)).alias("agg_percentage"),
            F.to_json(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("evaluationId"),
                            F.col("name"),
                            F.round("avg_a1", 6).alias("score"),
                            F.col("maxScore"),
                            F.round("pct_a1", 6).alias("percentage"),
                            F.col("g.grade").alias("grade"),
                            F.col("g.gpa").alias("gpa"),
                            F.col("g.meaning").alias("meaning"),
                            F.col("coe"),
                            F.col("description"),
                        )
                    )
                )
            ).alias("customEvaluations"),
            F.count(F.lit(1)).cast("int").alias("customEvaluationCount"),
            F.avg("pct_a2").alias("custom_mean_pct"),
            F.max_by(
                "__rep",
                _score_order(
                    "__rep.markedAt",
                    "__rep.scoreId",
                    "__rep.scorerId",
                    "__rep.structurePath",
                    "__rep.description",
                ),
            ).alias("__crep"),
        )
    )


def _attach_dims(
    df: DataFrame,
    structures: DataFrame,
    subject_dim: DataFrame,
) -> DataFrame:
    """J6 path-split + structure join, then J7 last-write-wins subject
    info. ``df`` must carry ``structurePath``; adds structureRecordId,
    structureRecordName, structure groupStructureId (prefixed), and the
    subject-info columns (nameNative/code/credit/coe, nullable when no
    subject row exists for the structure)."""
    with_srid = df.withColumn("structureRecordId", path_first_id(F.col("structurePath")))
    with_struct = broadcast_dim_join(
        with_srid,
        structures.select(
            "structureRecordId",
            F.col("name").alias("structureRecordName"),
            F.col("groupStructureId").alias("structure_gs"),
        ),
        on="structureRecordId",
        how="left",
    )
    subject_info = last_write_wins(
        subject_dim, "structureRecordId", order_col="version"
    ).select(
        "structureRecordId",
        F.col("nameNative").alias("subjectNameNative"),
        F.col("code").alias("subjectCode"),
        F.col("credit").alias("subjectInfoCredit"),
        F.col("coe").alias("subjectInfoCoe"),
    )
    return broadcast_dim_join(
        with_struct, subject_info, on="structureRecordId", how="left"
    )


# ---------------------------------------------------------------------------
# Lifecycle 2 — monthly_subject_fact (§3.3, full DDL surface)
# ---------------------------------------------------------------------------

def monthly_subject_fact(
    evaluations: DataFrame,
    scores: DataFrame,
    students: DataFrame,
    structures: DataFrame,
    subject_dim: DataFrame,
) -> DataFrame:
    """The wide per-(month, subject, student) score fact — every column of
    the staging DDL (…2025_02_24_10_02…sql) except the write-time
    ``createdAt DEFAULT now()`` (the sink applies it), plus an internal
    ``subjectParentId`` the transcript consumes for the J4 ancestry.

    Reference semantics chain (…student_scores_subject/…:111-433):
    P5 type-partition → J1 score⨝eval → A1 per-(eval,student) null-dropped
    average → F7 percentage (custom maxScore) → J2 custom→subject hop →
    A3 coe-weighted subject aggregate (coe≤0→1) → direct-over-aggregated
    precedence (§2.8 anti-join union) → F2 grade banding → W2
    representative score → J6 structurePath split + structure join → J7
    last-write-wins subject info → J5 student dim (F1 gender) → J3
    subject→month hop → F12 groupStructureId coalesce → A8 custom-eval
    JSON detail column.
    """
    months = evaluations.filter(F.col("type") == "month")
    subject_evals = evaluations.filter(F.col("type") == "subject")
    customs = evaluations.filter(F.col("type") == "custom")

    # per-(evaluation, student) mean score (A1 null-dropped semantics,
    # == operators.avg_null_dropped) + the W2 representative in ONE
    # shuffle over the fact. Materialized once: the direct path, the
    # custom path, and the precedence anti-join all consume it.
    per_eval = _per_eval_base(scores, null_as_zero=False)

    # DIRECT path: scores attached straight to subject evaluations.
    # NOT re-materialized — it is one broadcast join away from the
    # checkpointed per_eval, cheaper to recompute than to serialize.
    direct = broadcast_dim_join(
        per_eval,
        subject_evals.select("evaluationId", "maxScore"),
        on="evaluationId",
        how="inner",
    ).select(
        F.col("evaluationId").alias("subjectEvaluationId"),
        "studentId",
        percentage(F.col("avg_score"), F.col("maxScore")).alias("percentage"),
        F.lit("direct").alias("scoreSource"),
        "__rep",
    )

    # CUSTOM path — the fused shared rollup (A3 weighted pct over A1
    # averages + A8 JSON + custom-side W2 rep, computed in the same
    # shuffle that also serves the transcript's A4 rollup).
    custom_agg = _custom_agg_both(scores, customs)

    # precedence: direct wins (but still carries its subject's custom-eval
    # JSON details, like the reference's direct records); aggregated-only
    # pairs fill the rest. ONE full-outer join expresses all three cases
    # (both/direct-only/custom-only) in a single co-partitioned pass —
    # the previous left-join + anti-join + union shape scanned the custom
    # aggregate twice and shuffled the pair keys three times. Both sides
    # grow with the data, so no forced broadcast (AQE picks the
    # strategy); the full outer is the §2.8 precedence merge itself.
    keys = ["subjectEvaluationId", "studentId"]
    has_direct = F.col("scoreSource").isNotNull()  # lit on every direct row
    merged = (
        direct.join(
            custom_agg.select(
                *keys,
                "agg_percentage",
                "customEvaluations",
                "customEvaluationCount",
                "__crep",
            ),
            on=keys,
            how="full",
        )
        .select(
            *keys,
            # direct keeps its percentage even when NULL (all-NULL scores)
            F.when(has_direct, F.col("percentage"))
            .otherwise(F.col("agg_percentage"))
            .alias("percentage"),
            F.coalesce("scoreSource", F.lit("aggregated")).alias("scoreSource"),
            # same for the representative: a direct row with no orderable
            # score keeps NULL rather than borrowing the custom rep
            F.when(has_direct, F.col("__rep"))
            .otherwise(F.col("__crep"))
            .alias("__rep"),
            "customEvaluations",
            "customEvaluationCount",
        )
    )

    graded = merged.withColumn("g", grade_band(F.round("percentage", 6))).select(
        "subjectEvaluationId",
        "studentId",
        "percentage",
        "scoreSource",
        F.col("g.grade").alias("grade"),
        F.col("g.gpa").alias("gpa"),
        F.col("g.meaning").alias("meaning"),
        F.col("__rep.structurePath").alias("structurePath"),
        F.col("__rep.scorerId").alias("scorerId"),
        F.col("__rep.markedAt").alias("markedAt"),
        F.col("__rep.description").alias("description"),
        "customEvaluations",
        "customEvaluationCount",
    )

    # structure/subject-info dims (J6+J7) off the rep's structurePath.
    with_dims = _attach_dims(graded, structures, subject_dim)

    # subject evaluation dim + J3 month hop (month only here: the wide
    # fact leaves month columns NULL when the subject parents straight to
    # a semester — reference month_evaluations.get() → {}).
    with_subject = broadcast_dim_join(
        with_dims,
        subject_evals.select(
            F.col("evaluationId").alias("subjectEvaluationId"),
            F.col("name").alias("subjectName"),
            F.col("maxScore").alias("subjectMaxScore"),
            F.col("parentId").alias("subjectParentId"),
            F.col("schoolId"),
            F.col("groupStructureId").alias("eval_gs"),
        ),
        on="subjectEvaluationId",
        how="inner",
    )
    with_month = broadcast_dim_join(
        with_subject,
        months.select(
            F.col("evaluationId").alias("monthEvaluationId"),
            F.col("name").alias("monthName"),
            F.col("startDate").alias("monthStartDate"),
            F.col("endDate").alias("monthEndDate"),
        ),
        on=[F.col("subjectParentId") == F.col("monthEvaluationId")],
        how="left",
    )

    # J5 students (growing dim — AQE picks the strategy).
    with_students = with_month.join(
        students.select(
            "studentId",
            F.col("firstName").alias("studentFirstName"),
            F.col("lastName").alias("studentLastName"),
            F.col("firstNameNative").alias("studentFirstNameNative"),
            F.col("lastNameNative").alias("studentLastNameNative"),
            "idCard",
            "dob",
            gender_normalize(F.col("gender")).alias("gender"),
            "campusId",
            F.col("groupStructureId").alias("student_gs"),
        ),
        on="studentId",
        how="left",
    )

    return with_students.select(
        # School & campus
        "schoolId",
        "campusId",
        # Structure / class
        "structureRecordId",
        "structureRecordName",
        # F12 — the reference's eval.gs or student.gs or structure.gs
        # (engine policy: NULL-coalesce; the Python `or` also skipped
        # ''/0 — documented divergence, fixtures use NULLs only).
        F.coalesce("eval_gs", "student_gs", "structure_gs").alias(
            "groupStructureId"
        ),
        "structurePath",
        # Student
        "studentId",
        "studentFirstName",
        "studentLastName",
        "studentFirstNameNative",
        "studentLastNameNative",
        "idCard",
        "dob",
        "gender",
        # Month (parent)
        "monthEvaluationId",
        "monthName",
        "monthStartDate",
        "monthEndDate",
        # Subject (child)
        "subjectEvaluationId",
        "subjectName",
        "subjectNameNative",
        "subjectMaxScore",
        F.col("subjectInfoCoe").alias("coe"),
        F.col("subjectCode").alias("code"),
        F.col("subjectInfoCredit").alias("credit"),
        # Score
        F.round(
            score_from_percentage(F.col("percentage"), F.col("subjectMaxScore")), 6
        ).alias("score"),
        F.round("percentage", 6).alias("percentage"),
        "grade",
        "meaning",
        "gpa",
        "scoreSource",
        F.coalesce("customEvaluationCount", F.lit(0)).alias(
            "customEvaluationCount"
        ),
        "customEvaluations",
        "scorerId",
        "markedAt",
        "description",
        # internal (not in the DDL): the transcript's J4 ancestry seed
        "subjectParentId",
    )


def monthly_subject_fact_incremental(
    evaluations: DataFrame,
    all_scores: DataFrame,
    new_scores: DataFrame,
    prev_fact: DataFrame,
    students: DataFrame,
    structures: DataFrame,
    subject_dim: DataFrame,
) -> DataFrame:
    """Incremental wide-fact maintenance: recompute ONLY the
    (subject, student) slices a new score batch touches.

    The reference recomputes the whole fact daily
    (…etl_student_scores_subject_month_to_clickhouse.py, @daily); at
    100 TB the production path is S7 incremental extraction (the
    watermark ledger yields ``new_scores``) + slice-scoped recompute:

    1. Map each new score to its subject-level key (direct → own
       evaluationId, custom → the J2 parent hop) → the affected
       (subjectEvaluationId, studentId) set.
    2. Scope ``all_scores`` down to the affected slices with the SAME
       mapping (left-semi): the slice's aggregates (A1 averages, A3
       rollup, W2 representative, A8 JSON) need every score of the
       slice, not just the new batch — and recomputing the whole slice
       also re-resolves direct-over-aggregated precedence when a new
       direct score supersedes a previously custom-only row.
    3. Run the ordinary fact chain on the scoped scores and splice:
       ``prev_fact`` anti-join affected ∪ recomputed slice.

    Cost ∝ |affected slices|, not |corpus|; equivalence with the full
    rebuild is pinned in tests.
    """
    subject_evals = evaluations.filter(F.col("type") == "subject")
    customs = evaluations.filter(F.col("type") == "custom")

    def to_subject_keys(scores: DataFrame) -> DataFrame:
        direct = scores.join(
            F.broadcast(subject_evals.select("evaluationId")), on="evaluationId"
        ).select(
            F.col("evaluationId").alias("subjectEvaluationId"), "studentId"
        )
        via_custom = scores.join(
            F.broadcast(customs.select("evaluationId", "parentId")),
            on="evaluationId",
        ).select(F.col("parentId").alias("subjectEvaluationId"), "studentId")
        return direct.unionByName(via_custom)

    affected = materialize(to_subject_keys(new_scores).distinct())

    # scope every score whose subject-level key is affected (both the
    # direct rows and every custom child of an affected subject slice).
    keyed = all_scores.join(
        F.broadcast(
            subject_evals.select("evaluationId", F.col("evaluationId").alias("__sk"))
            .unionByName(
                customs.select("evaluationId", F.col("parentId").alias("__sk"))
            )
        ),
        on="evaluationId",
    )
    scoped = (
        keyed.join(
            affected.select(
                F.col("subjectEvaluationId").alias("__sk"), "studentId"
            ),
            on=["__sk", "studentId"],
            how="left_semi",
        ).drop("__sk")
    )
    slice_fact = monthly_subject_fact(
        evaluations, scoped, students, structures, subject_dim
    )
    untouched = anti_join(
        prev_fact,
        affected,
        on=["subjectEvaluationId", "studentId"],
        broadcast=False,
    ).select(*prev_fact.columns)  # using-join moves keys to the front
    return untouched.unionByName(slice_fact).select(*slice_fact.columns)


def student_transcript_incremental(
    evaluations: DataFrame,
    all_scores: DataFrame,
    new_scores: DataFrame,
    prev_transcript: DataFrame,
    students: DataFrame,
    structures: DataFrame,
    subject_dim: DataFrame,
    include_details: bool = True,
) -> DataFrame:
    """Incremental transcript maintenance: recompute ONLY the students a
    new score batch touches.

    The reference rebuilds every transcript daily
    (…etl_student_transcript_to_clickhouse.py:177-457); the incremental
    twin of :func:`monthly_subject_fact_incremental` with a coarser
    slice: the transcript's grain is (studentId, structureRecordId),
    and the structureRecord a subject lands in comes from the W2
    REPRESENTATIVE's structurePath — one new score can move a subject
    between structure records, touching both the old and the new
    transcript row. Per-STUDENT scoping makes that safe by
    construction: every transcript row derives solely from its
    student's scores + dims, so rebuilding the affected students'
    transcripts in full re-resolves representatives, precedence flips,
    and record moves at once. Cost ∝ |affected students|, not |corpus|;
    equivalence with the full rebuild is pinned in tests.
    """
    affected = materialize(new_scores.select("studentId").distinct())
    scoped = all_scores.join(affected, on="studentId", how="left_semi")
    slice_t = student_transcript(
        evaluations, scoped, students, structures, subject_dim,
        include_details=include_details,
    )
    untouched = anti_join(
        prev_transcript, affected, on=["studentId"], broadcast=False
    ).select(*prev_transcript.columns)
    return untouched.unionByName(slice_t).select(*slice_t.columns)


# ---------------------------------------------------------------------------
# Lifecycle 3 — student_transcript (§3.3 nested, full 18-field tuple)
# ---------------------------------------------------------------------------

def student_transcript(
    evaluations: DataFrame,
    scores: DataFrame,
    students: DataFrame,
    structures: DataFrame,
    subject_dim: DataFrame,
    include_details: bool = True,
) -> DataFrame:
    """Nested transcript: one row per (student, structureRecord) with the
    full 18-field ``subjectDetails`` tuple array + A6 totals + the
    record-level scorer columns (transcript DDL
    …2025_02_25_15_30_create_transcript_table.sql:24-49).

    The transcript runs its OWN averaging chain — deliberately different
    from the wide fact (see module docstring): A2 null-as-zero per-eval
    averages (…student_transcript/…:287-290), A4 UNWEIGHTED average of
    custom percentages (…:255-265), direct-over-custom precedence, F2
    banding. Ancestry is the J4 two-hop: direct parent (month OR
    semester), then month→semester when the parent is a month
    (…:344-366). ``include_details=False`` skips the nested collect_list
    for totals-only consumers (same chain, one agg instead of two).
    """
    subject_evals = evaluations.filter(F.col("type") == "subject")
    customs = evaluations.filter(F.col("type") == "custom")
    parents = evaluations.filter(F.col("type").isin("month", "semester"))
    months = evaluations.filter(F.col("type") == "month")
    semesters = evaluations.filter(F.col("type") == "semester")

    # A2 — null-as-zero per-(evaluation, student) averages, fused with
    # the W2 representative in one shuffle (same shape as the fact).
    per_eval = _per_eval_base(scores, null_as_zero=True)

    # DIRECT path (one broadcast join from the checkpoint; not re-
    # materialized): percentage = score/max*100.
    direct = broadcast_dim_join(
        per_eval,
        subject_evals.select("evaluationId", "maxScore"),
        on="evaluationId",
        how="inner",
    ).select(
        F.col("evaluationId").alias("subjectEvaluationId"),
        "studentId",
        F.lit("direct").alias("scoreSource"),
        F.col("maxScore").alias("subjectMaxScore"),
        F.col("avg_score").alias("final_score"),
        percentage(F.col("avg_score"), F.col("maxScore")).alias("pct"),
        "__rep",
    )

    # A4 — unweighted mean of custom A2 percentages + the custom-side W2
    # rep (…student_transcript/…:255-265), served from the SAME fused
    # cached rollup as the fact's A3/A8 pass; rescaled by the SUBJECT max
    # score into a final score below.
    custom_rolled = _custom_agg_both(scores, customs).select(
        "subjectEvaluationId",
        "studentId",
        "custom_mean_pct",
        "__crep",
    )

    # §2.8 precedence as ONE full-outer join (same shape as the fact):
    # direct wins, custom-only rows fill in from the rolled-up mean.
    # Custom-only rows still need the SUBJECT's maxScore to rescale the
    # mean percentage into a score — a broadcast dim join, not the old
    # anti-join + union double pass. Custom-only rows whose parent
    # subject doesn't exist keep a NULL max here and are dropped by the
    # with_subject inner join below, exactly where direct rows without a
    # subject would fall out too.
    keys = ["subjectEvaluationId", "studentId"]
    has_direct = F.col("scoreSource").isNotNull()
    merged = (
        direct.join(custom_rolled, on=keys, how="full")
        .join(
            F.broadcast(
                subject_evals.select(
                    F.col("evaluationId").alias("subjectEvaluationId"),
                    F.col("maxScore").alias("__smax"),
                )
            ),
            on="subjectEvaluationId",
            how="left",
        )
        .select(
            *keys,
            F.coalesce("scoreSource", F.lit("aggregated")).alias("scoreSource"),
            F.coalesce("subjectMaxScore", "__smax").alias("subjectMaxScore"),
            F.when(has_direct, F.col("final_score"))
            .otherwise(score_from_percentage(F.col("custom_mean_pct"), F.col("__smax")))
            .alias("final_score"),
            F.when(has_direct, F.col("pct"))
            .otherwise(F.col("custom_mean_pct"))
            .alias("pct"),
            F.when(has_direct, F.col("__rep")).otherwise(F.col("__crep")).alias("__rep"),
        )
    )

    graded = merged.withColumn("g", grade_band(F.round("pct", 6))).select(
        "*",
        F.col("__rep.structurePath").alias("structurePath"),
        F.col("__rep.scorerId").alias("scorerId"),
        F.col("__rep.markedAt").alias("markedAt"),
    )

    # J6/J7 dims off the rep's structurePath (same policy as the fact).
    with_dims = _attach_dims(graded, structures, subject_dim)

    # subject eval dim + J4 ancestry: direct parent (month or semester),
    # then month→semester second hop.
    with_subject = broadcast_dim_join(
        with_dims,
        subject_evals.select(
            F.col("evaluationId").alias("subjectEvaluationId"),
            F.col("name").alias("subjectName"),
            F.col("parentId").alias("subjectParentId"),
            F.col("schoolId").alias("subjectSchoolId"),
        ),
        on="subjectEvaluationId",
        how="inner",
    )
    with_parent = broadcast_dim_join(
        with_subject,
        parents.select(
            F.col("evaluationId").alias("parentEvaluationId"),
            F.col("name").alias("parentName"),
            F.col("type").alias("parentType"),
            F.col("parentId").alias("parentParentId"),
        ),
        on=[F.col("subjectParentId") == F.col("parentEvaluationId")],
        how="left",
    )
    with_sem = broadcast_dim_join(
        with_parent,
        semesters.select(
            F.col("evaluationId").alias("hopSemesterId"),
            F.col("name").alias("hopSemesterName"),
        ),
        on=[
            (F.col("parentType") == "month")
            & (F.col("parentParentId") == F.col("hopSemesterId"))
        ],
        how="left",
    )

    # the reference initializes ''/None then fills per branch
    # (…student_transcript/…:334-366): monthName '' unless parent is a
    # month; semester fields from the direct parent OR the 2-hop.
    is_month = F.col("parentType") == "month"
    is_sem = F.col("parentType") == "semester"
    detail_base = with_sem.select(
        "studentId",
        "structureRecordId",
        "structureRecordName",
        "structure_gs",
        F.col("subjectSchoolId"),
        "scorerId",
        "markedAt",
        F.struct(
            F.col("subjectEvaluationId"),
            F.col("subjectName"),
            F.coalesce("subjectNameNative", F.lit("")).alias("subjectNameNative"),
            F.coalesce("subjectCode", F.lit("")).alias("code"),
            F.coalesce("subjectInfoCredit", F.lit(0.0)).alias("credit"),
            F.round("final_score", 6).alias("score"),
            F.col("subjectMaxScore").alias("maxScore"),
            F.round("pct", 6).alias("percentage"),
            F.col("g.grade").alias("grade"),
            F.col("g.meaning").alias("meaning"),
            F.col("g.gpa").alias("gpa"),
            F.coalesce("parentName", F.lit("")).alias("subjectParentName"),
            F.col("parentEvaluationId").alias("subjectParentEvaluationId"),
            F.coalesce("parentType", F.lit("")).alias("subjectParentType"),
            F.when(is_month, F.col("parentName")).otherwise(F.lit("")).alias(
                "monthName"
            ),
            F.when(is_month, F.col("parentEvaluationId")).alias(
                "monthEvaluationId"
            ),
            F.when(is_month, F.coalesce("hopSemesterName", F.lit("")))
            .when(is_sem, F.col("parentName"))
            .otherwise(F.lit(""))
            .alias("semesterName"),
            F.when(is_month, F.col("hopSemesterId"))
            .when(is_sem, F.col("parentEvaluationId"))
            .alias("semesterEvaluationId"),
        ).alias("detail"),
    )

    # Each branch below runs one groupBy over this plan. The persist pays
    # off across calls: the totals-only and the detailed transcript
    # (pl_transcript_totals and pl_transcript_details in one bench pass)
    # share this cache entry instead of each recomputing the chain.
    detail_base = detail_base.transform(materialize)

    group_keys = [
        "studentId",
        "structureRecordId",
        "structureRecordName",
        "structure_gs",
    ]
    # A6 totals over the detail credits/gpas (credit from subject info,
    # 0 when missing — …student_transcript/…:409-412).
    credit = F.col("detail.credit")
    gpa = F.col("detail.gpa")
    # Struct comparison, same rationale (and same oracle isomorphism
    # argument) as _score_order: non-negative components compare the
    # same fieldwise as 12-wide zero-padded concat. The null guard
    # matches the oracle's epoch(NULL)-nulls-the-concat behavior —
    # format_string would have rendered a NULL epoch as the text
    # "null", silently keeping unmarked rows orderable.
    scorer_ord = F.when(
        F.col("markedAt").isNotNull(),
        F.struct(F.col("markedAt"), F.col("scorerId")),
    )
    total_aggs = [
        F.sum(credit).alias("totalCredits"),
        F.when(
            F.sum(credit) > 0, F.sum(credit * gpa) / F.sum(credit)
        ).otherwise(F.lit(0.0)).alias("totalGPA"),
        F.count(F.lit(1)).cast("long").alias("subjectCount"),
        # record-level scorer: the engine's deterministic form of the
        # reference's last-iteration-wins dict write (…:330-332).
        F.max_by(F.struct("scorerId", "markedAt"), scorer_ord).alias("__scorer"),
        # schoolId of the first detail in sorted order (…:422).
        F.min_by("subjectSchoolId", F.col("detail.subjectEvaluationId")).alias(
            "schoolId"
        ),
    ]

    if not include_details:
        return detail_base.groupBy(*group_keys).agg(*total_aggs).select(
            "studentId",
            "structureRecordId",
            F.col("totalCredits"),
            F.col("totalGPA"),
            F.col("subjectCount"),
        )

    # ONE groupBy computes the nested details AND the A6 totals: a
    # separate details aggregation joined back on the group keys was
    # both an extra shuffle and a NULL-key dropper (two of the group
    # keys are nullable dim attributes, and an inner equi-join on a
    # NULL key silently deletes that student's transcript row).
    totals = detail_base.groupBy(*group_keys).agg(
        F.sort_array(F.collect_list("detail")).alias("subjectDetails"),
        *total_aggs,
    )

    # per-student join: the aggregate side is already partitioned by
    # the group keys — plain join, AQE decides strategy.
    assembled = totals.join(
        students.select(
            "studentId",
            F.col("firstName").alias("studentFirstName"),
            F.col("lastName").alias("studentLastName"),
            F.col("firstNameNative").alias("studentFirstNameNative"),
            F.col("lastNameNative").alias("studentLastNameNative"),
            "idCard",
            "dob",
            gender_normalize(F.col("gender")).alias("gender"),
            "campusId",
        ),
        on="studentId",
        how="left",
    )
    return assembled.select(
        "schoolId",
        "campusId",
        "structureRecordId",
        "structureRecordName",
        F.col("structure_gs").alias("groupStructureId"),
        F.concat(F.lit("#"), F.col("structureRecordId")).alias("structurePath"),
        "studentId",
        "studentFirstName",
        "studentLastName",
        "studentFirstNameNative",
        "studentLastNameNative",
        "idCard",
        "dob",
        "gender",
        "subjectDetails",
        F.col("totalCredits"),
        F.col("totalGPA"),
        "subjectCount",
        F.col("__scorer.scorerId").alias("scorerId"),
        F.col("__scorer.markedAt").alias("markedAt"),
    )
