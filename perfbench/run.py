"""Cold-process benchmark of the engine's nightly batch work.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. One process runs one workload on the
engine's test tables kept under ``perfbench/data``: it starts a Spark
session with the package's own ``get_spark`` defaults on
``local[<cpus>]``, sets the workload up, then runs whole rounds of its
operations until their timed bodies add up to ``--seconds`` (at least
one round), checks every output against DuckDB and prints one JSON
result as its last line of output. The seed places the batch windows of
``warehouse_nightly``; the tables are the same for every seed.
``--trace 1`` records spans around each call into the engine and prints
the per-layer metrics instead of the end-to-end ones. ``--smoke`` runs
the workload on the sf0.001 tables.

Everything the run writes stays under ``.perfbench/`` in the working
directory; only the span files of traced runs are kept.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(BENCH, f"run-{os.getpid()}")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# input directory under DATA per workload: (full run, --smoke)
INPUTS = {
    "warehouse_nightly": ("sf0.01", "sf0.001"),
    "corpus_curation": ("sf0.1", "sf0.001"),
}
MB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(INPUTS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def isolate_environment() -> None:
    """Point every scratch location this process, the JVM and the Python
    workers use into the run's own directory."""
    for sub in ("tmp", "spark"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR on next use


def import_engine() -> None:
    """Import the package from the working directory, or exit 1."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import clickhouse_etl_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the engine from {ROOT}: {e}")
    if not os.path.abspath(clickhouse_etl_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: the engine was imported from outside {ROOT}")


def start_session(tracer):
    from clickhouse_etl_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    with tracer.span("session", "get_spark"):
        spark = get_spark(
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    return spark


def jvm_stats(spark) -> tuple[float, float]:
    """(peak resident MB, CPU seconds) of the Spark JVM, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    return hwm / 1024, (int(fields[11]) + int(fields[12])) / ticks


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_size(path: str) -> tuple[int, int]:
    """(bytes of every file, number of parquet data files) under path."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


def account(rounds) -> tuple[int, int, list[str]]:
    """Run every operation's check. Returns (attempted, failed, wrong):
    an operation fails when it raised or when its check failed, and
    ``wrong`` names the failed checks. ``correct`` is ``not wrong``: it
    speaks of the operations that produced an output, and one that
    raised shows in ``failed`` only."""
    attempted = failed = 0
    wrong = []
    for rnd in rounds:
        for op in rnd.ops:
            attempted += 1
            if op.check is None:
                failed += 1
                print(f"perfbench: {op.name} raised", file=sys.stderr)
                continue
            try:
                reason = op.check()
            except Exception as e:  # a check that cannot run fails its operation
                reason = f"check raised {type(e).__name__}: {e}"
            if reason is not None:
                failed += 1
                wrong.append(f"{op.name}: {reason}")
                print(f"perfbench: wrong output: {op.name}: {reason}", file=sys.stderr)
    return attempted, failed, wrong


def run_workload(name, args, tracer):
    """Start the session, set up and run one workload; returns its
    result dict. Stops the session before it returns."""
    import workloads

    setup, round_fn = workloads.WORKLOADS[name]
    ctx = workloads.Ctx(
        spark=start_session(tracer), tracer=tracer,
        in_dir=os.path.join(DATA, INPUTS[name][args.smoke]),
        tables_dir=os.path.join(WORK, "tables"), work_dir=WORK, seed=args.seed,
    )
    try:
        setup(ctx)
        setup_s = time.time() - T_START

        rounds, measured = [], 0.0
        while not rounds or measured < args.seconds:
            rnd = round_fn(ctx, len(rounds))
            tracer.harvest()
            ctx.spark.catalog.clearCache()
            rounds.append(rnd)
            measured += rnd.body_s

        t_checks = time.time()
        attempted, failed, wrong = account(rounds)
        print(
            f"perfbench: {name}: set-up {setup_s:.1f} s, "
            f"rounds {[round(r.body_s, 2) for r in rounds]} s, "
            f"operations {[(op.name, round(op.seconds, 2)) for r in rounds for op in r.ops]} s, "
            f"checks {time.time() - t_checks:.1f} s",
            file=sys.stderr,
        )
        if args.trace:
            jvm_rss, jvm_cpu = jvm_stats(ctx.spark)
            t = os.times()
    finally:
        stop_session(ctx.spark)

    written, files = tree_size(ctx.tables_dir)
    n = len(rounds)
    if args.trace:
        metrics = {k: (v, _unit(k)) for k, v in tracer.layer_metrics().items()}
        metrics.update({
            "sinks.written_mb": (written / MB / n, "MB"),
            "sinks.files": (files / n, "count"),
            "export.mb": (sum(r.export_bytes for r in rounds) / MB / n, "MB"),
            "jvm.peak_rss_mb": (jvm_rss, "MB"),
            "proc.cpu_s": (t.user + t.system + jvm_cpu, "s"),
        })
    else:
        batches = [b for rnd in rounds for b in (rnd.batches or [rnd.body_s])]
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median(r.body_s for r in rounds), "s"),
            "batch_p50_s": (statistics.median(batches), "s"),
            "written_mb": (written / MB / n, "MB"),
        }
    return {
        "correct": not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit(metric: str) -> str:
    counter = metric.split(".", 1)[1]
    if counter.endswith("_mb"):
        return "MB"
    if counter in ("jobs", "stages", "tasks"):
        return "count"
    return "s"


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()
    isolate_environment()
    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    try:
        result = run_workload(args.workload, args, tracer)
        if args.trace:
            tracer.write(os.path.join(BENCH, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
