"""Scale-curve bench: time the heavy queries at 1x / 3x / 10x of sf0.1
(data from tools/gen_scale.py) and fit the scaling exponent per query.

    python tools/gen_scale.py /tmp/scale/gen1 1
    python tools/gen_scale.py /tmp/scale/gen3 3
    python tools/gen_scale.py /tmp/scale/gen10 10
    python tools/bench_scale.py /tmp/scale > BENCH_SCALE.json

exponent b is the least-squares slope of log t = a + b log N over the
three factors: b == 1 is perfectly linear scaling, b > 1 super-linear.
All three datasets share the generator's parquet layout (multi
row-group), so the curve is layout-fair — the driver's own sf0.1 file
is a single row group and would understate 1x parallelism.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_bench_session, default_cpus, warm_session

FACTORS = [
    int(f)
    for f in os.environ.get("SPARK_GRAFT_SCALE_FACTORS", "1,3,10").split(",")
]


def _passes(factor: int) -> int:
    return 3 if factor <= 3 else 2

QUERIES = [
    "pl_copy_students",
    "pl_monthly_subject_fact",
    "pl_transcript_totals",
    "pl_transcript_details",
    "flagship_wide_fact",
    "ns_minhash_neardup",
    "ns_emb_neardup",
]

# SPARK_GRAFT_SCALE_QUERIES=name,name overrides the default heavy list
# (used in round 6 to measure the freshly-promoted registry rows
# without re-timing the pipelines).
if os.environ.get("SPARK_GRAFT_SCALE_QUERIES"):
    QUERIES = [
        q.strip()
        for q in os.environ["SPARK_GRAFT_SCALE_QUERIES"].split(",")
        if q.strip()
    ]


def scaled_planes_neardup(num_planes):
    """The production configuration for embedding near-dup at scale:
    hyperplane count grows with log2(corpus) (fixed 2^planes buckets
    would otherwise fill linearly and the bucket self-join would grow
    quadratically), plus the bucket cap as the degenerate-flood bound."""

    def run(spark, sf_dir):
        from clickhouse_etl_spark.catalog import load_table
        from clickhouse_etl_spark.text.similarity import (
            embedding_cosine_neardup,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        return embedding_cosine_neardup(
            emb, threshold=0.35, num_planes=num_planes, max_bucket_size=1000
        )

    return run


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale"
    spark = build_bench_session(default_cpus())
    warm_session(spark)

    import __spark_entry__ as entrymod

    qs = {n: entrymod.queries()[n] for n in QUERIES}

    # scale-adapted embedding near-dup: planes ~ 8 + log2(factor)
    def scaled_for(factor: int):
        return scaled_planes_neardup(8 + max(0, math.ceil(math.log2(factor))))

    # codegen/JIT warmup at the driver's smallest SF (the scaled-planes
    # variant only when ns_emb_neardup is in the selected subset — same
    # guard as the per-factor loop)
    warmups = list(qs.values())
    if "ns_emb_neardup" in qs:
        warmups.append(scaled_for(1))
    for fn in warmups:
        try:
            fn(spark, "/root/testdata/sf0.001").toArrow()
        except Exception as e:
            print(f"warmup: {e}", file=sys.stderr, flush=True)
    spark.catalog.clearCache()

    results: dict[str, dict[int, float]] = {}
    rows: dict[str, dict[int, int]] = {}
    for factor in FACTORS:
        sf_dir = os.path.join(root, f"gen{factor}")
        todo = dict(qs)
        if "ns_emb_neardup" in todo:
            todo["ns_emb_neardup_scaledplanes"] = scaled_for(factor)
        for p in range(_passes(factor)):
            spark.catalog.clearCache()
            for name, fn in todo.items():
                t0 = time.perf_counter()
                # keep benching on failure — same policy as bench.py; an
                # OOM at the largest factor must not discard the smaller
                # factors' timings
                try:
                    out = fn(spark, sf_dir).toArrow()
                except Exception as e:
                    print(
                        f"x{factor} pass{p} {name}: FAILED "
                        f"{type(e).__name__}: {str(e)[:160]}",
                        file=sys.stderr, flush=True,
                    )
                    continue
                took = round(time.perf_counter() - t0, 3)
                cur = results.setdefault(name, {})
                cur[factor] = min(cur.get(factor, took), took)
                rows.setdefault(name, {})[factor] = out.num_rows
                print(
                    f"x{factor} pass{p} {name}: {took}s ({out.num_rows} rows)",
                    file=sys.stderr, flush=True,
                )

    out = {}
    for name, t in results.items():
        xs = [math.log(f) for f in FACTORS if f in t]
        ys = [math.log(t[f]) for f in FACTORS if f in t]
        n = len(xs)
        if n < 2:
            b = None
        else:
            mx, my = sum(xs) / n, sum(ys) / n
            b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
                (x - mx) ** 2 for x in xs
            )
            b = round(b, 3)
        out[name] = {
            "sec": {str(f): t[f] for f in sorted(t)},
            "rows": {str(f): rows[name][f] for f in sorted(rows[name])},
            "exponent": b,
        }
    spark.stop()
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
