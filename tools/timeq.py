"""Time individual registered queries at a given SF with bench.py's
EXACT session settings (same builder, same warmup, same per-query
work counters — imported, not copied), cache-cleared min-of-N passes.

    python tools/timeq.py <sf_dir> <query> [query ...]

Each pass prints one line per query with its build and run seconds and
the Spark work it did, then one line per stage that ran, so a change can
be traced to the stage it moved.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_bench_session, default_cpus, timed_query, warm_session


def _fmt(rec: dict) -> str:
    return " ".join(f"{k}={v}" for k, v in rec.items())


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))

    spark = build_bench_session(default_cpus())

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warm_session(spark)

    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    if warm_dir and os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in names:
            try:
                qs[name](spark, warm_dir).toArrow()
            except Exception as e:
                print(f"warmup {name}: {type(e).__name__}: {e}", flush=True)
        spark.catalog.clearCache()

    best: dict[str, float] = {}
    for p in range(passes):
        spark.catalog.clearCache()
        for name in names:
            rec, stages = timed_query(spark, qs[name], sf_dir, f"timeq-pass{p}-{name}")
            took = round(rec["build_s"] + rec["run_s"], 3)
            best[name] = min(best.get(name, took), took)
            print(f"pass{p} {name}: {took}s {_fmt(rec)}", flush=True)
            for st in stages:
                print(f"  {_fmt(st)}", flush=True)
    for name, took in best.items():
        print(f"BEST {name}: {took}s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
