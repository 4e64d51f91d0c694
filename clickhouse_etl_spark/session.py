"""SparkSession factory with scale-oriented defaults.

The reference transform layer is single-process Python with no execution
tuning at all (SURVEY.md §6). Here we centralize the Spark configuration
that makes the same workloads survive a 1000-executor / 100 TB deployment:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast)
- ANSI off: the reference's ``to_float`` returns None on unparsable input
  (reference: apps/airflow/dags/student_scores_subject/
  etl_student_scores_subject_month_to_clickhouse.py:45-53); non-ANSI casts
  reproduce exactly that null-on-bad-cast semantic.
- Arrow enabled for the pandas-UDF paths (text/similarity operators).
- Cached plans planned with AQE too
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``):
  Spark plans a cached query with AQE off unless this is set, so every
  ``util.materialize`` persist kept ``spark.sql.shuffle.partitions``
  fixed partitions and every stage over a small cached rollup ran that
  many mostly empty tasks.

The confs that carry semantics or planner behaviour every session needs
(ANSI, timezone, timestamp reading, codegen limit, cached-plan AQE) live
in ``catalog._RUNTIME_CONFS``, which ``load_table`` also applies to
sessions the engine did not build; ``get_spark`` applies them at build
time on top of the defaults below.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from clickhouse_etl_spark.catalog import _RUNTIME_CONFS

# Shuffle partitions are an upper bound, not a task count: AQE coalesces
# each exchange, and with the cached-plan key in catalog._RUNTIME_CONFS
# it does so for persisted intermediates too. 32 covers the local hosts
# this runs on; on a real cluster the same keys are what you would tune
# (shuffle partitions ≈ 2-3× total cores, maxPartitionBytes to keep scan
# tasks ~128MB).
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the executors via ``addPyFile``.

    Python-UDF closures that reference module-level helpers are
    cloudpickled *by reference* — the executor's Python worker must be
    able to ``import clickhouse_etl_spark`` to deserialize them. That
    happens to work when the driver's cwd is the repo root (local mode
    workers inherit the JVM cwd) but breaks from any other cwd, and on
    a real cluster would require every deployment to remember
    ``--py-files``. Self-shipping the package zip once per session
    removes the deployment trap; pure-Python-only, so the zip is tiny
    and built in milliseconds.
    """
    sc = spark.sparkContext
    if getattr(sc, "_clickhouse_etl_spark_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = []
    digest = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                with open(full, "rb") as fh:
                    data = fh.read()
                digest.update(rel.encode())
                digest.update(data)
                entries.append((rel, data))
    # Content-addressed path: the zip must OUTLIVE this call (local-mode
    # executors re-fetch it from the original path per task, so eager
    # deletion breaks every job), and a stable name means one file per
    # package version instead of one per session.
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"clickhouse_etl_spark_pkg_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, data in entries:
                zf.writestr(rel, data)
        os.replace(tmp, zpath)  # atomic vs concurrent sessions
    sc.addPyFile(zpath)
    sc._clickhouse_etl_spark_shipped = True


def get_spark(
    app_name: str = "clickhouse_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit provide it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**_DEFAULT_CONF, **_RUNTIME_CONFS}
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
