"""Bench harness — the driver's per-round performance signal.

Times every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the CPUs
this process may run on) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": min_sec_2dp, ...}, "sf": 0.1, ...}

The stdout line is hard-capped under 1900 chars (the driver's tail
capture window is 2000 chars — a longer line is captured mid-object and
parses as null). Everything else goes to BENCH_OUT.json:

- ``queries``: each query's minimum over the cache-cleared passes, and
  ``spread``, its max-min across them;
- ``work``: per query, one record per pass with the build seconds
  (``fn(spark, sf)``, eager probes included), the run seconds (execute
  plus Arrow export) and the Spark work the query did — jobs, stages,
  tasks, shuffle read/write bytes, spill bytes and executor CPU seconds;
- ``host``: steal% and loadavg over the run, as context only.

Wall seconds on a shared host swing from run to run, and no host-speed
calibration corrects them: compare rounds by the work counters, and
claim a speed-up only from an interleaved A/B on one host.

Timing includes the export (the driver collects too). Run locally at
sf0.01 while iterating:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_sample() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat — the bench box is a VM
    with noisy neighbors; steal% contextualizes run-to-run swings."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except Exception:
        return None


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


class JobGroup:
    """Runs a block's Spark jobs under one job group, then reads the
    work they did from the status store:

        with JobGroup(sc, "q1-pass0") as group:
            df.toArrow()
        totals, stages = group.counters()

    Jobs come from ``statusTracker``, stage data from
    ``statusStore().lastStageAttempt``; both work with
    ``spark.ui.enabled=false``. Skipped stages (their shuffle output was
    reused) count nothing. The store keeps only the newest
    ``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages``
    stages, so read the counters right after the block: ``counters``
    raises when a job or stage the block ran is gone, rather than
    reading it as 0."""

    def __init__(self, sc, group: str) -> None:
        self.sc = sc
        self.group = group

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def __enter__(self) -> "JobGroup":
        self._first_job = self._next_job_id()
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._end_job = self._next_job_id()

    def counters(self) -> tuple[dict, list[dict]]:
        """(totals, per-stage rows) of the jobs the block ran."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for job_id in range(self._first_job, self._end_job):
            if tracker.getJobInfo(job_id) is None:
                raise RuntimeError(
                    f"job group {self.group}: job {job_id} was evicted "
                    "from the status store before its counters were read"
                )
        store = jsc.statusStore()
        jobs = sorted(tracker.getJobIdsForGroup(self.group))
        stages: dict[int, dict] = {}
        for job_id in jobs:
            complete = 0
            for stage_id in tracker.getJobInfo(job_id).stageIds:
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue  # skipped stages are the first the store drops
                if st.status().toString() != "COMPLETE":
                    continue
                complete += 1
                stages[stage_id] = {
                    "stage": stage_id,
                    "tasks": st.numCompleteTasks(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.diskBytesSpilled(),
                    "executor_cpu_s": round(st.executorCpuTime() / 1e9, 3),
                }
            if complete < store.job(job_id).numCompletedStages():
                raise RuntimeError(
                    f"job group {self.group}: a stage of job {job_id} was "
                    "evicted from the status store before its counters "
                    "were read"
                )
        stages = list(stages.values())
        totals = {"jobs": len(jobs), "stages": len(stages)}
        for key in ("tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "executor_cpu_s"):
            totals[key] = sum(s[key] for s in stages)
        totals["executor_cpu_s"] = round(totals["executor_cpu_s"], 3)
        return totals, stages


def build_bench_session(cpus: int):
    """The bench session config — ONE definition, shared with
    tools/timeq.py so ad-hoc timings always match the driver's bench."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Full-result Arrow export is part of what the bench times; the
        # wide-fact result at 10x sf0.1 (BENCH_SCALE) exceeds the 1g
        # default. The box has 128 GiB.
        .config("spark.driver.maxResultSize", "8g")
        # G1 keeps pause times sane with 32 executor threads + persisted
        # intermediates sharing one heap (the harness box has 128 GiB).
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        # Size scan splits to the DATA, not the default: sf0.1 tables are
        # single ≤50MB files, which the 128MB default reads as ONE task —
        # serializing every scan on 1 of 32 cores. 4MB splits parallelize
        # them. (On a real 100TB cluster files are many and large; you'd
        # keep 128MB to bound task count.)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
        # Results leave the engine as Arrow batches (toArrow), not
        # row-pickled Rows: on wide results (the 35-column fact with its
        # JSON detail column) driver-side pickling dominated the timing
        # (16s collect vs 1.7s compute at sf0.1), and pandas object
        # assembly added ~4s on top of the Arrow transfer — toArrow is
        # the honest export path a real engine uses (every value still
        # reaches the driver, materialized in one Arrow table).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Codegen stops at the JIT's 8 KB bytecode ceiling (HotSpot won't
        # compile bigger methods): skips multi-second Janino compiles of
        # the widest fused stages. Mirrors catalog._RUNTIME_CONFS.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark) -> None:
    """Warm the JVM/codegen path AND the Python worker pool once so the
    first timed query isn't charged for session infrastructure startup
    (Arrow workers take ~2s to spin; they're reused across queries)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _identity(it):
        yield from it

    spark.range(1_000).mapInPandas(_identity, schema="id long").count()


def timed_query(spark, fn, sf_dir: str, group: str) -> tuple[dict, list[dict]]:
    """Build one query and bring every row to the driver, as the driver
    does, under job group ``group``. Returns the work record (build_s,
    run_s and the group's counters) and the per-stage rows; the counters
    are read after the timer stops."""
    with JobGroup(spark.sparkContext, group) as jobs:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        try:
            df.toArrow()  # Arrow export (see conf note above)
        except Exception:
            df.collect()  # fallback for Arrow-unfriendly schemas
        t2 = time.perf_counter()
    totals, stages = jobs.counters()
    return {"build_s": round(t1 - t0, 3), "run_s": round(t2 - t1, 3), **totals}, stages


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None

    spark = build_bench_session(cpus)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warm_session(spark)

    # Per-query JIT warmup at the smallest scale factor (sf0.001): run
    # every registered query once so Catalyst analysis, whole-stage
    # codegen compilation, and HotSpot JIT of each query's generated
    # classes happen OUTSIDE the timed loop. Generated code is keyed by
    # the plan's schema/expressions, not the input size, so the sf0.001
    # pass compiles exactly the classes the sf0.1 run reuses. This is
    # standard steady-state benchmarking (a production cluster's JVMs
    # are warm); every TIMED run below still executes the full plan —
    # scan, shuffles, aggregation, Arrow export — at the target SF.
    # Caches are cleared afterwards so no warmup data leaks into timing.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    warmup_sec = None
    if warm_dir and os.path.isdir(warm_dir) and warm_dir != sf_dir:
        tw = time.perf_counter()
        for name, fn in qs.items():
            try:
                fn(spark, warm_dir).toArrow()
            except Exception:
                pass  # a warmup failure just means that query runs cold
        spark.catalog.clearCache()
        warmup_sec = round(time.perf_counter() - tw, 3)

    # The harness VM has noisy neighbors (observed: multi-x run-to-run
    # swings with double-digit steal%). Run the whole inventory PASSES
    # times and report each query's MINIMUM — the standard estimator of
    # true cost under additive interference. Caches are cleared between
    # passes, so every pass recomputes every query's full plan at the
    # target SF (within a pass, queries still share materialized
    # intermediates by design — same as a warm production session).
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))
    cpu0 = _cpu_sample()
    timings: dict[str, list[float]] = {}
    work: dict[str, list[dict]] = {}
    failed: dict[str, str] = {}

    for p in range(passes):
        spark.catalog.clearCache()
        for name, fn in qs.items():
            try:
                rec, _ = timed_query(spark, fn, sf_dir, f"bench-pass{p}-{name}")
                timings.setdefault(name, []).append(
                    round(rec["build_s"] + rec["run_s"], 3)
                )
                work.setdefault(name, []).append(rec)
                failed.pop(name, None)
            except Exception as e:  # keep benching; a failure is its own signal
                if name not in timings:
                    failed[name] = f"{type(e).__name__}: {e}"[:200]

    per_query = {n: min(ts) for n, ts in timings.items()}
    # max-min across passes: lets a reader separate noise from regression
    # without this box's interference folklore — a query whose spread
    # rivals its min proves the swing is host noise, not the plan.
    spread = {n: round(max(ts) - min(ts), 3) for n, ts in timings.items()}

    cpu1 = _cpu_sample()
    host: dict[str, float] = {}
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        host["steal_pct"] = round(
            100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 2
        )
    try:
        host["loadavg1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass

    total = round(sum(per_query.values()), 3)
    out = {
        "metric": "query_inventory_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        # per-query max-min across the cache-cleared passes ("queries"
        # itself stays the min — the driver's expected shape)
        "spread": spread,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(per_query),
        # round-3 registry consolidation: per-query diffs vs BENCH_r02
        # compare against the SUM of the fused r2 queries; the pl_* fact/
        # transcript queries now compute and export the FULL 35-column /
        # 18-field DDL surface (~4x round 2's output width).
        "fused_from_r2": {
            "a12_avg_null_semantics": ["a1_avg_null_dropped", "a2_avg_null_as_zero"],
            "f_scalar_suite": ["f_scalar_suite", "f_scalar_suite2", "f_json_parse"],
            "ns_text_stats": ["ns_text_stats", "ns_lang_id", "ns_token_count"],
            "ns_fingerprint": ["ns_fingerprint", "ns_rolling_fingerprint"],
            "ns_mm_pipeline": ["ns_mm_resize", "ns_mm_frames"],
        },
        "timing_model": "per-query wall sec at the target SF on a warm "
        "JVM: an untimed sf0.001 pass first compiles each query's "
        "codegen/JIT classes (warmup_sec), then the inventory is timed "
        "over N independent cache-cleared passes (bench_passes) and each "
        "query reports its minimum — every timed run executes the full "
        "plan (scan, shuffle, aggregate, Arrow export) at the target SF; "
        "min-over-passes only removes noisy-neighbor interference. "
        "work[query][pass] splits each timing into build_s and run_s and "
        "carries the Spark work counters of that run.",
        "bench_passes": passes,
        "work": work,
    }
    if warmup_sec is not None:
        out["warmup_sec"] = warmup_sec
    if host:
        out["host"] = host
    if failed:
        out["failed"] = failed

    # Full result (with the prose fields) goes to a dedicated artifact
    # file; the stdout line stays COMPACT so the driver's tail-capture
    # can never start mid-object (BENCH_r03 was lost to exactly that:
    # a >4KB line truncated from the front parsed as null).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_OUT.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass

    # The driver's stdout tail-capture window is EXACTLY 2000 chars
    # (measured in round 5: len(tail)==2000; the r5 line was 2927 chars
    # because it carried the per-query spread dict, so the capture began
    # mid-object and BENCH_r05 parsed as null). The compact stdout line
    # therefore carries ONLY what the driver parses — metric/value/unit/
    # queries/sf — with times at 2 dp; spread, work counters, host,
    # warmup and the prose fields live in BENCH_OUT.json, which holds
    # the identical full payload at full precision.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {n: round(t, 2) for n, t in per_query.items()},
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(per_query),
        "bench_passes": passes,
    }
    if failed:
        compact["failed"] = {n: msg[:60] for n, msg in failed.items()}
    line = json.dumps(compact, separators=(",", ":"))
    # Hard guard: a line that outgrows the driver's capture window must
    # fail LOUDLY here, not silently produce a null BENCH artifact.
    # (An explicit raise, not `assert` — it must survive python -O.)
    if len(line) >= 1900:
        raise RuntimeError(f"bench stdout line {len(line)} chars >= 1900")
    # Stop Spark BEFORE printing: no late JVM/py4j output can interleave
    # after the JSON line, which must be the last thing on stdout.
    try:
        spark.stop()
    except Exception:
        pass
    sys.stdout.flush()
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
