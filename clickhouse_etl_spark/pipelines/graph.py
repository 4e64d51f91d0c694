"""G1-G3 — pipeline graph, inter-stage data, retries.

reference: Airflow DAG chains (``extract >> transform >> load``,
apps/airflow/dags/student/etl_students_to_clickhouse.py:149; the 8-stage
chain apps/airflow/dags/school_structure/
etl_school_structure_to_clickhouse.py:304), XCom push/pull between tasks
(…student_scores_subject/…:457-458,525-529), and per-task ``retries: 1``
(…student/etl_students_to_clickhouse.py:18-22).

Spark-first translation:
- G1 chaining → ordered stages over a shared context dict.
- G2 XCom → the context holds *DataFrames* (lazy plans) — no
  serialize/deserialize hop through a metadata DB. A stage's optional
  ``materialize`` tuple names outputs that later stages read more than
  once; each is persisted with ``util.materialize`` (the
  persist-between-stages policy).
- G3 retries → per-stage retry count with exponential backoff; a stage
  is retried as a unit (its inputs are lazy plans, so re-running is safe).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from clickhouse_etl_spark.util import materialize

Context = dict[str, DataFrame]


@dataclass
class Stage:
    """One pipeline task: reads named inputs from the context, returns new
    named outputs to merge into it."""

    name: str
    fn: Callable[[Context], Mapping[str, DataFrame]]
    retries: int = 1
    retry_backoff_sec: float = 0.1
    materialize: tuple[str, ...] = ()  # outputs to persist (lazily)

    def run(self, ctx: Context) -> Context:
        attempt = 0
        while True:
            try:
                out = dict(self.fn(ctx))
                break
            except Exception:
                attempt += 1
                if attempt > self.retries:
                    raise
                time.sleep(self.retry_backoff_sec * (2 ** (attempt - 1)))
        for key in self.materialize:
            if key in out:
                out[key] = materialize(out[key])
        merged = dict(ctx)
        merged.update(out)
        return merged


@dataclass
class Pipeline:
    """Ordered stage chain (the reference's ``a >> b >> c``)."""

    name: str
    stages: list[Stage] = field(default_factory=list)

    def stage(
        self,
        name: str,
        retries: int = 1,
        materialize: tuple[str, ...] = (),
    ):
        """Decorator: register a function as the next stage."""

        def deco(fn):
            self.stages.append(
                Stage(name=name, fn=fn, retries=retries, materialize=materialize)
            )
            return fn

        return deco

    def run(self, ctx: Context | None = None) -> Context:
        context: Context = dict(ctx or {})
        for st in self.stages:
            context = st.run(context)
        return context
