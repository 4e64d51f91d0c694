"""Output checks, computed apart from the engine: DuckDB runs the query
registry's oracle SQL over the input parquet files and reads what the
engine published, and the two sides are compared as multisets of rows.
Doubles compare by their 6-decimal text, the canonical form of
``tools/oracle_check.py``'s ``canon_value``; every other type compares
as it is.

Each check returns ``None`` when the output is right, otherwise a
one-line reason.
"""

from __future__ import annotations

import os

import duckdb

from clickhouse_etl_spark.queries import ORACLE_SQL

WAREHOUSE_INPUTS = ("region", "nation", "supplier", "customer", "orders", "lineitem")

TRANSCRIPT_TOTALS = """
SELECT studentId, structureRecordId, CAST(totalCredits AS DOUBLE) AS totalCredits,
       totalGPA, CAST(subjectCount AS BIGINT) AS subjectCount
FROM {t}
"""
TRANSCRIPT_DETAILS = """
SELECT studentId, structureRecordId, structureRecordName, groupStructureId,
       structurePath AS recStructurePath, campusId, gender, studentLastName,
       dob, schoolId, scorerId AS recScorerId, markedAt AS recMarkedAt,
       d.subjectEvaluationId, d.subjectName, d.subjectNameNative, d.code,
       d.credit, d.score, d.maxScore, d.percentage, d.grade, d.meaning,
       d.gpa, d.subjectParentName, d.subjectParentEvaluationId,
       d.subjectParentType, d.monthName, d.monthEvaluationId,
       d.semesterName, d.semesterEvaluationId
FROM (SELECT *, unnest(subjectDetails) AS d FROM {t})
"""


def snapshot_sql(path: str) -> str:
    return f"read_parquet('{path}/*.parquet', hive_partitioning = false)"


class Oracle:
    """A DuckDB connection with the benchmark inputs as views."""

    def __init__(self, in_dir: str, tables, lineitem_before: str | None = None):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        self.con.execute("SET enable_progress_bar = false")
        for t in tables:
            where = ""
            if t == "lineitem" and lineitem_before is not None:
                where = f" WHERE l_shipdate < TIMESTAMP '{lineitem_before}'"
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'{where}"
            )

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str):
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def same(self, engine_sql: str, oracle_name: str) -> str | None:
        """Compare the engine rows ``engine_sql`` selects with the rows
        of the registry oracle ``oracle_name``."""
        sides = {"engine": engine_sql, "oracle": ORACLE_SQL[oracle_name]}
        cols = {}
        for side, sql in sides.items():
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE {side} AS {sql}")
            cols[side] = dict(self.rows(f"SELECT column_name, column_type FROM (DESCRIBE {side})")[1])
        if sorted(cols["engine"]) != sorted(cols["oracle"]):
            return f"{oracle_name}: columns {sorted(cols['engine'])} != {sorted(cols['oracle'])}"

        def canon(side):
            return ", ".join(
                f"printf('%.6f', \"{c}\")" if t in ("DOUBLE", "FLOAT") else f'"{c}"'
                for c, t in sorted(cols[side].items())
            )

        n_e, n_o, only_e, only_o = self.con.execute(f"""
            SELECT (SELECT count(*) FROM engine), (SELECT count(*) FROM oracle),
                   (SELECT count(*) FROM (SELECT {canon('engine')} FROM engine
                                          EXCEPT ALL SELECT {canon('oracle')} FROM oracle)),
                   (SELECT count(*) FROM (SELECT {canon('oracle')} FROM oracle
                                          EXCEPT ALL SELECT {canon('engine')} FROM engine))
        """).fetchone()
        if n_e != n_o:
            return f"{oracle_name}: {n_e} rows, oracle {n_o}"
        if only_e or only_o:
            return (f"{oracle_name}: {only_e} engine rows not in the oracle, "
                    f"{only_o} oracle rows not in the engine output")
        return None


def check_students(oracle: Oracle, snap: str) -> str | None:
    return oracle.same(
        f"SELECT studentId, firstName, gender, profile, schoolId FROM {snapshot_sql(snap)}",
        "pl_copy_students",
    )


def check_fact(oracle: Oracle, snap: str) -> str | None:
    return oracle.same(
        f"SELECT * EXCLUDE (subjectParentId) FROM {snapshot_sql(snap)}",
        "pl_monthly_subject_fact",
    )


def check_transcript(oracle: Oracle, snap: str) -> str | None:
    t = snapshot_sql(snap)
    return oracle.same(
        TRANSCRIPT_TOTALS.format(t=t), "pl_transcript_totals"
    ) or oracle.same(TRANSCRIPT_DETAILS.format(t=t), "pl_transcript_details")


def check_watermark(oracle: Oracle, committed: str) -> str | None:
    want = oracle.scalar(
        "SELECT strftime(max(l_shipdate), '%Y-%m-%dT%H:%M:%S.%f') "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    if committed != want:
        return f"watermark {committed} != max(l_shipdate) {want}"
    return None


def cte_count_sql(oracle_name: str, cte: str) -> str:
    """The registry oracle with its final ``SELECT`` (the only one at
    the query's top indentation) replaced by a row count of ``cte``."""
    sql = ORACLE_SQL[oracle_name]
    return sql[: sql.rindex("\n    SELECT ")] + f"\n    SELECT count(*) FROM {cte}"


def check_card(oracle: Oracle, card: dict, stages: list[str]) -> str | None:
    """The data card's counts never rise from one stage to the next,
    ``exact_dedup`` counts the distinct texts and ``near_dedup`` the
    documents the ``ns_curate_corpus`` oracle keeps after near-dup
    removal (its ``c2``). Span cutting and the quality filter drop most
    near copies again later, so the final corpus alone does not show
    whether near-dup removal ran."""
    counts = [card.get(s) for s in stages]
    if any(not isinstance(c, int) for c in counts):
        return f"data card lacks a stage count: {card}"
    if any(b > a for a, b in zip(counts, counts[1:])):
        return f"data card count rises: {dict(zip(stages, counts))}"
    distinct = oracle.scalar("SELECT count(DISTINCT text) FROM documents")
    if card["exact_dedup"] != distinct:
        return f"exact_dedup {card['exact_dedup']} != {distinct} distinct texts"
    kept = oracle.scalar(cte_count_sql("ns_curate_corpus", "c2"))
    if card["near_dedup"] != kept:
        return f"near_dedup {card['near_dedup']} != {kept} documents the oracle keeps"
    return None


def check_corpus(oracle: Oracle, snap: str, card_final: int | None) -> str | None:
    n = oracle.scalar(f"SELECT count(*) FROM {snapshot_sql(snap)}")
    if card_final != n:
        return f"data card final {card_final} != {n} published rows"
    return oracle.same(
        f"SELECT doc_id, split FROM {snapshot_sql(snap)}", "ns_curate_corpus"
    )


