"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB design requires:
- brute-force cosine top-k: exact; the query side is tiny → broadcast, so
  the corpus never shuffles and the scan parallelizes per-partition.
- LSH (random-hyperplane) bucketed ANN: sub-linear candidate generation —
  buckets bound the comparison set; the hyperplanes are derived from
  deterministic per-(plane, dim) hashes, so no fitted model/state ships
  to executors.

Per-kernel split (round 7+): every hot operator here carries a
``kernel`` parameter. ``'expr'``/``'join'`` is the all-JVM higher-order
function chain (zip_with + aggregate folds) — the bit-exact float path
the DuckDB oracles mirror, and the right tier for small inputs where an
Arrow round-trip isn't worth it. ``'gemm'`` runs the measured hot
products (plane hashing, pair scoring, centroid argmin) as Arrow-batched
numpy/BLAS matmuls via mapInPandas/applyInPandas — the scale path
(Spark's higher-order ``aggregate`` costs ~5-15 µs per fold; BLAS is
milliseconds for millions of dots). ``'auto'`` (the default) picks gemm
when the work is large enough to pay for the Python worker round-trip.
NOTE the executor-side dependency this adds: the default kernels need
numpy/pandas/pyarrow on executors (stock Spark Python-worker deps);
pin ``kernel='expr'`` for a pure-JVM plan. Kernels are pinned equal in
tests; BLAS-vs-fold float drift is ~1e-15, far below the 6-decimal
output rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_etl_spark.util import materialize

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))"

# kernel='auto' row-count floor (r8): below this many corpus vectors the
# all-JVM expr chain wins — the Arrow worker round-trip costs more than
# the folds save. MEASURED (BENCH_SCALE.md, emb near-dup chain, 64-dim):
# 2k vectors expr 1.91 s vs gemm 1.98 s (~equal; at bench sf0.1 the gap
# is ~0.4 s in expr's favor on a warm session), 6k vectors expr 3.91 s
# vs gemm 1.57 s (gemm 2.5×), 20k vectors 12.19 vs 2.56 (4.8×). The
# floor sits between those crossover points; a side benefit is that the
# oracle-gate scale factors (≤ 2k vectors) ride the bit-deterministic
# fold path by construction while every at-scale run gets BLAS.
_GEMM_FLOOR_ROWS = 4096


def _as_double(col: str) -> str:
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def _rank_topk(
    scored: DataFrame, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Shared top-k projection for the three search operators.

    Ranks on the UNROUNDED ``__cos_raw`` (matching the oracle's ORDER
    BY) with the id as the deterministic tie-break; rounds only in the
    final projection — rounding first can flip near-tie ranks.
    """
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos_raw").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("__cos_raw", 6).alias("cosine"),
            "rank",
        )
    )



def normalize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize embeddings (the standard preprocessing step: after
    this, cosine similarity IS the dot product, which halves the per-pair
    work in every downstream ANN/dedup pass). Zero vectors pass through
    unchanged (norm guard). Pure JVM higher-order functions."""
    # The norm is projected as its own column FIRST: referencing the
    # aggregate inside the transform lambda would re-evaluate the O(d)
    # fold once per element (O(d^2) per row) — Spark does not hoist
    # loop-invariant expressions out of higher-order-function lambdas,
    # and CollapseProject keeps this multi-referenced aggregate from
    # being re-inlined.
    base = df.select(
        F.col(id_col), F.expr(_as_double(vec_col)).alias("__v")
    )
    with_norm = base.select(
        id_col, "__v", F.expr(_NORM.format(a="__v")).alias("l2_norm")
    )
    unit = (
        "CASE WHEN l2_norm > 0"
        " THEN transform(__v, x -> x / l2_norm)"
        " ELSE __v END"
    )
    return with_norm.select(
        F.col(id_col),
        F.expr(unit).alias("unit_vec"),
        F.col("l2_norm"),
    )


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector (baseline / ground truth).

    ``queries`` (small) broadcasts; cosine evaluates corpus-side with
    whole-stage codegen; ranking is a per-query window.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.expr(_as_double(vec_col)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col), F.expr(_as_double(vec_col)).alias("__cv")
    )
    dot = _DOT.format(a="__qv", b="__cv")
    qn = _NORM.format(a="__qv")
    cn = _NORM.format(a="__cv")
    # Rank on the UNROUNDED cosine (matching the oracle's ORDER BY); round
    # only in the final projection — rounding first can flip near-tie ranks.
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("__cos_raw", F.expr(f"({dot}) / (({qn}) * ({cn}))"))
    )
    return _rank_topk(scored, k, query_id_col, id_col)


def _plane_signs(plane: int, dims: int) -> list[int]:
    """Deterministic ±1 hyperplane components: sha256("hp{plane}:{d}") low
    bit. Computed ONCE driver-side and embedded as a literal array — the
    previous form re-hashed these constants per corpus ROW (dims × planes
    × tables hash calls each), a pure constant-factor waste."""
    import hashlib

    return [
        1 if hashlib.sha256(f"hp{plane}:{d}".encode()).digest()[-1] & 1 else -1
        for d in range(dims)
    ]


def _hyperplane_sign(vec_col: str, plane: int, dims: int) -> str:
    signs = ", ".join(f"{s}.0D" for s in _plane_signs(plane, dims))
    proj = (
        f"aggregate(zip_with({vec_col}, array({signs}), (x, s) -> x * s),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return f"CASE WHEN ({proj}) >= 0 THEN 1 ELSE 0 END"


def _modal_dims(sizes) -> int:
    """Most common valid vector size in a probe sample (ties break to
    the SMALLER size — any deterministic rule works; what matters is
    that one ragged/corrupt LEADING row cannot define dims for the
    whole corpus and silently invert the ``size == dims`` validity
    filters into dropping every normal vector)."""
    from collections import Counter

    counts = Counter(int(d) for d in sizes if d is not None and d >= 0)
    if not counts:
        return 0
    return max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]


def _probe_dims(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality: the MODAL size over the first 1024
    valid vectors (one tiny job; the ``d >= 0`` filter skips NULL
    vectors, whose size is -1/NULL — a NULL or ragged leading row must
    not poison the downstream validity filters into dropping the whole
    corpus)."""
    rows = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d") >= 0)
        .limit(1024)
        .collect()
    )
    return _modal_dims(r["d"] for r in rows)


def _probe_dims_and_floor(df: DataFrame, vec_col: str) -> tuple[int, bool]:
    """(dims, at_or_above_floor) in ONE bounded job: scans at most
    ``_GEMM_FLOOR_ROWS`` rows regardless of corpus size, so the
    kernel='auto' dispatch costs the SAME single probe job the pre-floor
    code already paid for dims — no extra job at toy scale (the r8 bench
    showed a separate count() job costing ~0.14 s on sub-second rows),
    and no full count at 100 TB scale either (the floor comparison only
    needs min(n, floor)). Dims is the modal valid size in the sample;
    if a full sample holds NO valid vector (a NULL-led corpus larger
    than the floor), dims falls back to the filtered probe rather than
    reporting 0 and silently filtering the corpus empty."""
    rows = (
        df.limit(_GEMM_FLOOR_ROWS)
        .select(F.size(F.col(vec_col)).alias("d"))
        .collect()
    )
    dims = _modal_dims(r["d"] for r in rows)
    big = len(rows) >= _GEMM_FLOOR_ROWS
    if dims == 0 and big:
        dims = _probe_dims(df, vec_col)
    return dims, big


def lsh_bucket(vec_col: str, num_planes: int = 8, dims: int = 64) -> F.Column:
    """Bucket id = concatenated hyperplane sign bits (0..2^planes-1)."""
    bits = [
        f"({_hyperplane_sign(vec_col, p, dims)}) * {1 << p}"
        for p in range(num_planes)
    ]
    return F.expr(" + ".join(bits))


def _table_buckets(
    vec_col: str, num_planes: int, num_tables: int, dims: int
) -> F.Column:
    """Array of ``num_tables`` bucket ids; table t uses planes
    [t*num_planes, (t+1)*num_planes)."""
    buckets = []
    for t in range(num_tables):
        bits = [
            f"({_hyperplane_sign(vec_col, t * num_planes + p, dims)}) * {1 << p}"
            for p in range(num_planes)
        ]
        buckets.append(" + ".join(bits))
    return F.expr(f"array({', '.join(buckets)})")


def _ivf_probe(
    c: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF probe path: corpus→nearest cell, query→nprobe cells,
    candidates scored within probed cells, top-k. ``c`` carries
    (id_col, __cv); ``centroids`` carries (__cent_id, __cent_vec)."""
    dot_cc = _DOT.format(a="__cv", b="__cent_vec")
    cn = _NORM.format(a="__cv")
    centn = _NORM.format(a="__cent_vec")
    sim_to_cent = F.expr(f"({dot_cc}) / (({cn}) * ({centn}))")

    # Corpus → nearest cell (argmax cosine to centroid).
    c_cells = (
        c.crossJoin(F.broadcast(centroids))
        .withColumn("__sim", sim_to_cent)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("__sim").desc(), F.col("__cent_id").asc()
                )
            ),
        )
        .filter(F.col("__rk") == 1)
        .select(id_col, "__cv", F.col("__cent_id").alias("__cell"))
    )

    # Query → nprobe nearest cells.
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.expr(_as_double(vec_col)).alias("__qv"),
    )
    dot_qc = _DOT.format(a="__qv", b="__cent_vec")
    qn = _NORM.format(a="__qv")
    q_cells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__sim", F.expr(f"({dot_qc}) / (({qn}) * ({centn}))"))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.col("__sim").desc(), F.col("__cent_id").asc()
                )
            ),
        )
        .filter(F.col("__rk") <= nprobe)
        .select(query_id_col, "__qv", F.col("__cent_id").alias("__cell"))
    )

    dot = _DOT.format(a="__qv", b="__cv")
    cn2 = _NORM.format(a="__cv")
    scored = (
        c_cells.join(F.broadcast(q_cells), on="__cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("__cos_raw", F.expr(f"({dot}) / (({qn}) * ({cn2}))"))
    )
    return _rank_topk(scored, k, query_id_col, id_col)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    hash_family: str = "xxhash64",
    trained_centroids: list | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells, probe only
    the query's ``nprobe`` nearest cells.

    The data-dependent alternative to random-hyperplane LSH: cells adapt
    to the embedding distribution, so recall per candidate examined is
    higher on clustered data. Default centroids are a deterministic hash
    sample of the corpus (training-free, reproducible); pass
    ``trained_centroids`` — the ``list[list[float]]`` that
    ``text.kmeans.train_kmeans`` returns — for the trained-IVF form
    (same probe path, cells shaped by the data's actual clusters; the
    composition is pinned in ``test_kmeans.py``). At
    scale the cell assignment is one narrow pass (corpus × tiny broadcast
    centroid set) and each query examines ~corpus×nprobe/num_centroids
    vectors instead of the full corpus.

    ``hash_family``: the centroid-sample order key — ``'xxhash64'``
    (default, best mixing) or ``'poly'`` (the wrapping-int64 affine
    permutation of the id; bit-identical in a SQL oracle, same pattern
    as MinHash/SimHash — with it the whole IVF result is value-hash
    checkable). Ignored when ``trained_centroids`` is given.
    """
    c = corpus.select(F.col(id_col), F.expr(_as_double(vec_col)).alias("__cv"))

    if trained_centroids is not None:
        if not trained_centroids:
            raise ValueError("trained_centroids must be non-empty")
        spark = corpus.sparkSession
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(trained_centroids)],
            "__cent_id long, __cent_vec array<double>",
        ).transform(materialize)
        return _ivf_probe(c, centroids, queries, k, nprobe, id_col, vec_col,
                          query_id_col)

    from clickhouse_etl_spark.text.dedup import (
        poly_affine_id_expr,
        wrapping_arithmetic,
    )

    if hash_family == "poly":
        order_h = poly_affine_id_expr(c, id_col, 0)
    else:
        order_h = F.xxhash64(F.col(id_col))

    # Deterministic pseudo-random centroid sample: smallest hash wins.
    with wrapping_arithmetic(c.sparkSession):
        hashed = c.withColumn("__h", order_h)
    centroids = (
        hashed.orderBy("__h")
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("__cent_id"), F.col("__cv").alias("__cent_vec")
        )
        .transform(materialize)  # tiny; reused by both assignments
    )
    return _ivf_probe(c, centroids, queries, k, nprobe, id_col, vec_col,
                      query_id_col)


def auto_planes(n_rows: int, target_occupancy: int = 16) -> int:
    """Hyperplane count that keeps expected bucket occupancy constant as
    the corpus grows: ``2^planes`` buckets per table fill linearly with
    the corpus, so a FIXED plane count makes the bucket self-join grow
    quadratically past the size it was tuned for — the one LSH knob a
    scale operator must move with the data. Measured on the 1x/3x/10x
    curve in BENCH_SCALE.md: log2-scaled planes cut emitted candidates
    4x at 10x. Floor of 4 keeps tiny corpora from degenerating to
    one-bucket tables; recall per table drops as planes grow (p^planes),
    so raise ``num_tables`` alongside for recall-critical thresholds.
    """
    import math

    return max(4, math.ceil(math.log2(max(n_rows, 1) / target_occupancy)))


def embedding_cosine_neardup(
    corpus: DataFrame,
    threshold: float = 0.9,
    num_planes: int | str = "auto",
    num_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 1000,
    log_fn=None,
    kernel: str = "auto",
) -> DataFrame:
    """Embedding-space near-duplicate PAIRS: cosine ≥ threshold.

    ``kernel`` (round 7, measured at gen10 — 20 k vectors, planes=8,
    6 tables, 5.46 M candidate pairs, 56 k survivors): ``'expr'`` is
    the original all-JVM chain — fold-based plane hashing, ids-only
    bucket self-join, candidate ``distinct``, vector re-attach, fold
    verify — the DuckDB-bit-mirrored float path. Its two measured
    walls are the 48 plane-projection folds per vector (7.8 s — the
    ~5-15 µs/fold cost BENCH_SCALE.md documents) and the 5.46 M-row
    candidate materialization + re-attach (6.1 s+). ``'gemm'`` (what
    ``'auto'`` picks at or above ``_GEMM_FLOOR_ROWS`` = 4096 corpus
    vectors — below it the Arrow round-trip costs more than the folds
    save, so small corpora keep the bit-deterministic expr chain; with
    ``kernel='auto'`` alone one fused bounded job answers dims AND the
    floor; when ``num_planes='auto'`` too, its full COUNT is reused for
    the floor decision and dims costs its own bounded probe — two jobs,
    one of them needed anyway) keeps the identical LSH geometry but runs both
    hot products in Arrow: one ``X @ Sᵀ`` sign matmul hashes every
    table's buckets per batch (vectors ride along, so nothing
    re-joins), and one BLAS ``U @ U.T`` per (table, bucket) group
    scores pairs — sub-threshold candidates never exist as rows; the
    survivor pairs (tiny) dedup across tables with one max-aggregate.
    Same adjudication as the SemDeDup kernel: BLAS reassociation
    drifts projections/cosines ~1e-15 (a sign flip needs a projection
    within 1e-15 of 0 — ~1e-8 odds corpus-wide), kernels pinned equal
    in tests, oracle value-hash green at every gate SF.

    The dedup shape (all qualifying pairs), not the search shape (top-k
    per query): multi-table hyperplane LSH generates candidate pairs —
    cost ∝ bucket collisions, never n² — then exact cosine verifies, so
    there are no false positives; recall follows the OR-amplified
    (1-(1-p^planes)^tables) curve, which is steep near cosine 1 where
    near-duplicates live. Pairs emit once (id_a < id_b).

    Scale shape: the bucket table and its self-join carry IDS ONLY —
    a 1k-dim embedding never rides the candidate shuffle. Vectors
    re-attach by joining the (small — bounded by bucket collisions,
    never corpus-sized) deduped pair list directly back to the corpus
    twice; AQE elects broadcast of the pair side at runtime, keeping
    both payload scans map-side. (Round 4 staged this through an
    explicit candidate-id semi-join; the extra distinct + semi-join +
    cache stages cost ~1.4× at bench scale with no additional scale
    safety — the pair list is exactly as broadcastable as the candidate
    id list was. Adjudicated in round 5, variants timed min-of-4.)
    ``max_bucket_size`` bounds any (table, bucket) membership (hashed
    per-bucket order — each table keeps a different survivor subset) so
    a degenerate flood of near-identical vectors cannot make the
    self-join quadratic; members beyond tables×cap coverage lose
    pairing (the honest cap contract). ``None`` disables (exact LSH
    semantics for oracles).

    ``num_planes='auto'`` (the DEFAULT since round 6) sizes the plane
    count to the corpus via :func:`auto_planes` (one COUNT over the
    pruned id column) — the BENCH_SCALE.md-measured guard against
    fixed-bucket-count LSH going quadratic as the corpus outgrows its
    tuning; the safe behavior shouldn't require reading that doc. Pass
    an int to pin bucket geometry (the registered oracle query pins 8
    so its DuckDB mirror stays bit-exact across scale factors).

    Input contract: NULL and ragged vectors (size ≠ the corpus's modal
    dimensionality) are DROPPED on entry — they can't participate in a
    cosine and must not eat bucket-cap slots (kernel-parity, round 8).
    The drop is silent by default (counting it is a full extra pass);
    pass ``log_fn`` to get the dropped-row count. For a loud per-row
    assert on corrupted vectors, see the PQ path (``text/pq.py``).
    """
    if kernel not in ("auto", "expr", "gemm"):
        raise ValueError(f"unknown kernel {kernel!r}")
    n_rows = None
    if isinstance(num_planes, str):
        if num_planes != "auto":
            # fail at the entry, not as a TypeError deep in _table_buckets
            raise ValueError(
                f"num_planes must be an int or 'auto', got {num_planes!r}"
            )
        n_rows = corpus.count()
        num_planes = auto_planes(n_rows)
        if log_fn is not None:
            log_fn(f"auto_planes -> {num_planes}")
    if kernel == "auto":
        # Size-aware dispatch fused into the dims probe (one bounded
        # job — never a full count; num_planes='auto' already counted,
        # so reuse its answer when available).
        if n_rows is not None:
            dims = _probe_dims(corpus, vec_col)
            big = n_rows >= _GEMM_FLOOR_ROWS
        else:
            dims, big = _probe_dims_and_floor(corpus, vec_col)
        kernel = "gemm" if big else "expr"
        if log_fn is not None:
            detail = f"{n_rows} vectors" if n_rows is not None else (
                f">={_GEMM_FLOOR_ROWS} vectors" if big
                else f"<{_GEMM_FLOOR_ROWS} vectors"
            )
            log_fn(f"kernel auto -> {kernel} ({detail})")
    else:
        dims = _probe_dims(corpus, vec_col)
    # Kernel-parity contract (r8 self-review): NULL/ragged vectors drop
    # on ENTRY for BOTH kernels — the expr chain used to hash them into
    # bucket 0 of every table (CASE WHEN NULL >= 0 falls to ELSE) where
    # identical ragged rows could pair with cosine 1.0 and eat
    # max_bucket_size cap slots, while the Arrow hasher dropped them —
    # so kernel='auto' could change the emitted pair set at the floor.
    # Zero-norm vectors still hash in both kernels (all sign bits 1);
    # their NULL cosine fails the >= threshold filter in both.
    valid = F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dims)
    if log_fn is not None:
        # Diagnostic opt-in only — counting the drop is a full pass.
        n_dropped = corpus.filter(~valid).count()
        if n_dropped:
            log_fn(
                f"embedding_cosine_neardup: dropped {n_dropped} "
                f"NULL/ragged vectors (expected size {dims}) on entry"
            )
    corpus = corpus.filter(valid)
    vecs = corpus.select(F.col(id_col), F.expr(_as_double(vec_col)).alias("__v"))
    if kernel == "gemm":
        return _emb_neardup_gemm(
            vecs, float(threshold), num_planes, num_tables, id_col, dims,
            max_bucket_size, log_fn,
        )
    buckets = vecs.select(
        id_col,
        F.posexplode(_table_buckets("__v", num_planes, num_tables, dims)).alias(
            "__table", "__bucket"
        ),
    ).transform(materialize)  # self-joined below; hash planes once; ids+ints only
    if max_bucket_size is not None:
        from clickhouse_etl_spark.operators.skew import cap_bucket_membership

        # no extra snapshot: one window over the cached bucket table,
        # cheaper to re-run per self-join side than a second cache fill.
        # order='hashed': each table keeps a different survivor subset.
        buckets = cap_bucket_membership(
            buckets, ["__table", "__bucket"], id_col, max_bucket_size, log_fn,
            order="hashed",
        )

    l, r = buckets.alias("l"), buckets.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.__table") == F.col("r.__table"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    dot = _DOT.format(a="__va", b="__vb")
    na = _NORM.format(a="__va")
    nb = _NORM.format(a="__vb")
    # Pair side is collision-bounded, fact side carries the vectors: no
    # forced broadcast (pairs are fact-derived), AQE elects at runtime —
    # in practice the pair list broadcasts and the corpus never shuffles.
    return (
        pairs.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va")),
            on="id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb")),
            on="id_b",
        )
        .withColumn("__cos", F.expr(f"({dot}) / (({na}) * ({nb}))"))
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round("__cos", 6).alias("cosine"))
    )


def _hash_buckets_arrow(
    vecs: DataFrame,
    num_planes: int,
    num_tables: int,
    id_col: str,
    dims: int,
    vec_col: str | None = None,
) -> DataFrame:
    """Arrow LSH hashing shared by the near-dup and top-k gemm paths:
    one ``X @ Sᵀ`` sign matmul per batch computes EVERY table's bucket
    (the expr form pays tables×planes ``aggregate`` folds per row —
    the measured ~5-15 µs/fold wall), emitting
    ``(id, __table, __bucket[, vec_col])`` rows. ``vecs`` carries
    ``(id_col, vec_col-or-__v)``; when ``vec_col`` is given the vector
    rides the output so downstream scoring never re-joins the corpus.
    NULL/ragged vectors emit nothing — the expr form's NULL buckets
    never matched anything either."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    src = vec_col or "__v"
    S = np.array(
        [
            _plane_signs(t * num_planes + p, dims)
            for t in range(num_tables)
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )
    weights = (1 << np.arange(num_planes)).astype(np.int64)
    idt = vecs.schema[id_col].dataType
    fields = [
        T.StructField(id_col, idt),
        T.StructField("__table", T.IntegerType()),
        T.StructField("__bucket", T.LongType()),
    ]
    if vec_col:
        fields.append(T.StructField(vec_col, T.ArrayType(T.DoubleType())))
    schema = T.StructType(fields)

    def hash_batches(it):
        for pdf in it:
            ok = pdf[src].map(
                lambda v: v is not None and len(v) == dims
            ).to_numpy()
            if not ok.any():
                continue
            sub = pdf[ok]
            X = np.array(sub[src].tolist(), dtype=np.float64)
            bits = (X @ S.T) >= 0.0  # n × (tables*planes)
            out = []
            for t in range(num_tables):
                b = bits[:, t * num_planes : (t + 1) * num_planes]
                cols = {
                    id_col: sub[id_col],
                    "__table": t,
                    "__bucket": b @ weights,
                }
                if vec_col:
                    cols[vec_col] = sub[src]
                out.append(pd.DataFrame(cols))
            yield pd.concat(out, ignore_index=True)

    return vecs.mapInPandas(hash_batches, schema=schema)


def _emb_neardup_gemm(
    vecs: DataFrame,
    threshold: float,
    num_planes: int,
    num_tables: int,
    id_col: str,
    dims: int,
    max_bucket_size: int | None,
    log_fn,
) -> DataFrame:
    """The Arrow form of the LSH near-dup pipeline (see
    :func:`embedding_cosine_neardup`): hash every table's bucket with
    one sign matmul per batch (vectors ride the emitted rows — no
    re-join), cap floods, score each (table, bucket) group with the
    shared per-group GEMM kernel, dedup survivors across tables with
    one max-aggregate. Identical LSH geometry and outputs to the expr
    chain (pinned)."""
    buckets = _hash_buckets_arrow(
        vecs, num_planes, num_tables, id_col, dims, vec_col="__v"
    )
    if max_bucket_size is not None:
        from clickhouse_etl_spark.operators.skew import cap_bucket_membership

        buckets = cap_bucket_membership(
            buckets, ["__table", "__bucket"], id_col, max_bucket_size,
            log_fn, order="hashed",
        )
    raw = _gemm_cell_pairs(
        buckets, id_col, threshold, dims,
        group_cols=("__table", "__bucket"), round_out=False,
    )
    # the same pair surfaces in every table whose buckets collide; one
    # hash aggregate collapses it (max of ~1-ulp-identical cosines —
    # deterministic), THEN the shared rounding rule applies
    return (
        raw.groupBy("id_a", "id_b")
        .agg(F.max("__cos").alias("__cos"))
        .select("id_a", "id_b", F.round("__cos", 6).alias("cosine"))
    )


def semantic_cluster_pairs(
    corpus: DataFrame,
    centroids,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    log_fn=None,
    kernel: str = "auto",
) -> DataFrame:
    """SemDeDup-style candidate generation (Abbas et al. 2023): exact
    cosine pairs computed WITHIN k-means cells only.

    Where :func:`embedding_cosine_neardup` prunes candidates with
    random hyperplanes, SemDeDup prunes with LEARNED cluster structure:
    semantic duplicates land in the same cell, so the pair search runs
    per cell (cost ``sum(cell²)``, never corpus²) — size ``k`` so cells
    stay small (the paper's n/k ≈ thousands). ``centroids`` come from
    :func:`text.kmeans.train_kmeans` (or any deterministic list, which
    keeps the whole operator SQL-mirrorable). Cross-cell duplicates are
    missed by construction — the recall trade the paper accepts.

    Kernel choice (round 7, MEASURED at gen10 — 20 k vectors, 40 cells
    of ~500, 5M in-cell candidate pairs, 2 450 survivors):

    - ``'gemm'`` (what ``'auto'`` picks): groupBy(cell) →
      ``applyInPandas`` → one numpy ``U @ U.T`` per cell on the
      L2-normalized member matrix, emit only the ``i<j`` entries ≥
      threshold. A cell's pair work is ONE BLAS call (5M dots ≈ 320M
      FLOPs ≈ milliseconds); the whole gen10 pass drops 75 s → ~4 s.
      The only shuffle is one cell-keyed pass of (id, vector); the
      sub-threshold candidate set never exists as rows anywhere.
    - ``'join'``: the pure-JVM cell self-join with the cosine folded
      inline. Kept because its float path (left-to-right ``aggregate``
      fold) is the one the DuckDB oracles mirror BIT-for-bit, and for
      tiny cells where an Arrow round-trip isn't worth it. Spark's
      higher-order ``aggregate`` costs ~15 µs per pair (three
      64-element lambda folds — measured; the earlier
      ids-only-then-re-attach variant paid the same folds PLUS two
       5M-row sort-merge joins), so this kernel is quadratic-per-cell
      with a large constant: correctness mirror, not the scale path.

    Both kernels emit identical rows (same ids, cosine rounded to 6 —
    BLAS vs sequential-fold float drift is ~1e-15, far below the
    rounding grain; round-trip equality is test-pinned). Cross-cell
    duplicates are missed by construction — the recall trade the paper
    accepts. ``max_cluster_size`` caps any cell's membership (hashed
    order) so one degenerate cell cannot go quadratic — the same flood
    guard as the LSH buckets.
    """
    if kernel not in ("auto", "gemm", "join"):
        raise ValueError(f"unknown kernel {kernel!r}")
    from clickhouse_etl_spark.text.kmeans import assign_clusters

    vecs = corpus.select(F.col(id_col), F.expr(_as_double(vec_col)).alias("__v"))
    # kernel='join' promises bit-identity to the sequential-fold oracle —
    # that promise must cover the CELL ASSIGNMENT too: assign_clusters'
    # own 'auto' flips to its gemm expanded-form argmin above k=32, which
    # can diverge from the oracle's direct (x-c)² ordering on
    # near-equidistant centroids (k = max(8, N/500) crosses 32 at
    # N ≥ 16.5k — exactly the scales the escape hatch is for). Thread it.
    cells = assign_clusters(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        kernel="expr" if kernel == "join" else "auto",
    )
    membership = cells.select(id_col, "cluster").transform(materialize)
    if max_cluster_size is not None:
        from clickhouse_etl_spark.operators.skew import cap_bucket_membership

        membership = cap_bucket_membership(
            membership, ["cluster"], id_col, max_cluster_size, log_fn,
            order="hashed",
        )
    memb_v = membership.join(vecs, id_col)
    if kernel in ("auto", "gemm"):
        return _gemm_cell_pairs(memb_v, id_col, float(threshold),
                                len(centroids[0]))
    l, r = memb_v.alias("l"), memb_v.alias("r")
    dot = _DOT.format(a="l.__v", b="r.__v")
    na = _NORM.format(a="l.__v")
    nb = _NORM.format(a="r.__v")
    return (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .withColumn("__cos", F.expr(f"({dot}) / (({na}) * ({nb}))"))
        .filter(F.col("__cos") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round("__cos", 6).alias("cosine"),
        )
    )


def _gemm_cell_pairs(
    memb_v: DataFrame,
    id_col: str,
    threshold: float,
    dims: int,
    group_cols: tuple = ("cluster",),
    round_out: bool = True,
) -> DataFrame:
    """Per-group GEMM pair kernel (shared by
    :func:`semantic_cluster_pairs`'s k-means cells and
    :func:`embedding_cosine_neardup`'s LSH (table, bucket) groups):
    one Arrow-batched pandas group per ``group_cols`` value, one BLAS
    ``U @ U.T`` per group. Rows sort by id inside the kernel so
    ``id_a < id_b`` means id ORDER (the join kernel's contract), not
    batch position. NULL, ragged, and zero-norm vectors drop out —
    exactly the rows whose cosine the join kernel NULLs and filters.
    With ``round_out`` the cosines round Spark-side (``F.round``,
    HALF_UP — the one rounding rule both kernels share); without it
    the raw ``__cos`` column is returned for callers that dedup
    across groups first."""
    from pyspark.sql import types as T

    idt = memb_v.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", idt),
            T.StructField("id_b", idt),
            T.StructField("__cos", T.DoubleType()),
        ]
    )

    def per_cell(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "__cos": []})
        ok = pdf["__v"].map(
            lambda v: v is not None and len(v) == dims
        )
        pdf = pdf[ok].sort_values(id_col)
        if len(pdf) < 2:
            return empty
        X = np.array(pdf["__v"].tolist(), dtype=np.float64)
        n = np.linalg.norm(X, axis=1)
        nz = n > 0.0
        X, n = X[nz], n[nz]
        ids = pdf[id_col].to_numpy()[nz]
        c = len(ids)
        if c < 2:
            return empty
        U = X / n[:, None]
        # BLOCKED GEMM: a degenerate cell must not allocate the dense
        # c×c similarity matrix (8·c² bytes — 320 GB at c=200k). Each
        # block scores `block`×c entries (≤ ~128 MB) and keeps only the
        # strict-upper-triangle survivors, so worker memory stays
        # bounded by the block, never the cell.
        block = max(1, min(c, (16 << 20) // max(c, 1)))
        outs = []
        for lo in range(0, c, block):
            hi = min(lo + block, c)
            Sb = U[lo:hi] @ U.T
            ib, jb = np.nonzero(Sb >= threshold)
            gi = ib + lo
            upper = jb > gi
            gi, jb = gi[upper], jb[upper]
            if len(gi):
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[gi],
                            "id_b": ids[jb],
                            "__cos": Sb[ib[upper], jb],
                        }
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    grouped = memb_v.groupBy(*group_cols).applyInPandas(
        per_cell, schema=out_schema
    )
    if not round_out:
        return grouped
    return grouped.select(
        "id_a", "id_b", F.round("__cos", 6).alias("cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    log_fn=None,
    kernel: str = "auto",
) -> DataFrame:
    """Semantic dedup keep-set: the corpus minus in-cell duplicate
    groups, one representative kept per connected group.

    Composition: :func:`semantic_cluster_pairs` → transitive closure
    (:func:`text.dedup.neardup_clusters` min-label propagation) → drop
    every member except the group minimum. The representative is the
    MIN-ID member (deterministic, oracle-friendly) — the paper keeps
    the member least similar to its centroid instead; swap the keep
    rule downstream of the pair list if that policy matters. Rows pass
    through unchanged otherwise (anti-join on the drop list)."""
    from clickhouse_etl_spark.text.dedup import neardup_clusters

    pairs = semantic_cluster_pairs(
        corpus,
        centroids,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        max_cluster_size=max_cluster_size,
        log_fn=log_fn,
        kernel=kernel,
    )
    clusters = neardup_clusters(pairs, "id_a", "id_b")
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return corpus.join(drop, on=id_col, how="left_anti")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int | str = "auto",
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kernel: str = "auto",
    log_fn=None,
) -> DataFrame:
    """Approximate top-k: compare only within shared LSH buckets.

    OR-amplified: ``num_tables`` independent hash tables of ``num_planes``
    sign bits each — a candidate matches if it shares the query's bucket in
    ANY table (recall = 1-(1-p^planes)^tables for per-plane agreement p).
    At corpus scale the bucket join replaces the full cross product; tune
    planes (precision / bucket size) and tables (recall) independently.
    ``num_planes='auto'`` (the DEFAULT since round 6) sizes to the
    corpus via :func:`auto_planes` (same fixed-bucket-count rationale
    as the near-dup path); pass an int to pin bucket geometry (the
    registered oracle query pins 6 for its bit-exact DuckDB mirror).

    ``kernel``: corpus-side plane hashing is the dominant cost at scale
    (tables×planes JVM folds per row — 11 s of a gen30 run); ``'gemm'``
    (what ``'auto'`` picks at/above the 4096-vector floor — see
    ``_GEMM_FLOOR_ROWS``) hashes both sides with the shared
    ``X @ Sᵀ`` Arrow matmul (:func:`_hash_buckets_arrow`), identical
    geometry, kernels pinned equal; ``'expr'`` keeps the
    DuckDB-bit-mirrored fold path the registered oracle pins.

    Input contract: NULL and ragged vectors are DROPPED on entry from
    BOTH sides (corpus and queries) — they can't score a cosine and a
    query that survives with a NULL vector would return an empty top-k
    anyway (kernel-parity, round 8). The drop is silent by default;
    pass ``log_fn`` for dropped-row counts (one extra pass per side).
    For a loud per-row assert on corrupted vectors see ``text/pq.py``.
    """
    if kernel not in ("auto", "expr", "gemm"):
        raise ValueError(f"unknown kernel {kernel!r}")
    n_rows = None
    if isinstance(num_planes, str):
        if num_planes != "auto":
            raise ValueError(
                f"num_planes must be an int or 'auto', got {num_planes!r}"
            )
        n_rows = corpus.count()
        num_planes = auto_planes(n_rows)
    if kernel == "auto":
        # Size-aware dispatch fused into the dims probe (one bounded
        # job), same floor + rationale as embedding_cosine_neardup.
        if n_rows is not None:
            dims = _probe_dims(corpus, vec_col)
            big = n_rows >= _GEMM_FLOOR_ROWS
        else:
            dims, big = _probe_dims_and_floor(corpus, vec_col)
        kernel = "gemm" if big else "expr"
    else:
        dims = _probe_dims(corpus, vec_col)
    # Kernel-parity contract (r8): NULL/ragged vectors drop on ENTRY for
    # BOTH kernels. The Arrow hasher always skipped them; the expr path
    # used to hash them into bucket 0 (CASE WHEN NULL >= 0 falls to ELSE)
    # where they could pad under-filled top-k with NULL cosines — so the
    # default kernel swap silently changed output. Zero-norm vectors
    # still hash (both kernels agree: all sign bits 1) but their cosine
    # is NULL (x/0), so the NULL-cosine filter below keeps them out of
    # the ranking in both kernels. Pinned in test_semantic_dedup.py.
    valid = F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dims)
    if log_fn is not None:
        for side, df in (("corpus", corpus), ("queries", queries)):
            n_dropped = df.filter(~valid).count()
            if n_dropped:
                log_fn(
                    f"lsh_ann_topk: dropped {n_dropped} NULL/ragged "
                    f"{side} vectors (expected size {dims}) on entry"
                )
    corpus = corpus.filter(valid)
    queries = queries.filter(valid)
    if kernel == "gemm":
        c = _hash_buckets_arrow(
            corpus.select(
                F.col(id_col), F.expr(_as_double(vec_col)).alias("__cv")
            ),
            num_planes, num_tables, id_col, dims, vec_col="__cv",
        )
        q = _hash_buckets_arrow(
            queries.select(
                F.col(id_col).alias(query_id_col),
                F.expr(_as_double(vec_col)).alias("__qv"),
            ),
            num_planes, num_tables, query_id_col, dims, vec_col="__qv",
        )
    else:
        c = corpus.select(
            F.col(id_col), F.expr(_as_double(vec_col)).alias("__cv")
        ).select(
            id_col,
            "__cv",
            F.posexplode(
                _table_buckets("__cv", num_planes, num_tables, dims)
            ).alias("__table", "__bucket"),
        )
        q = queries.select(
            F.col(id_col).alias(query_id_col),
            F.expr(_as_double(vec_col)).alias("__qv"),
        ).select(
            query_id_col,
            "__qv",
            F.posexplode(
                _table_buckets("__qv", num_planes, num_tables, dims)
            ).alias("__table", "__bucket"),
        )

    dot = _DOT.format(a="__qv", b="__cv")
    qn = _NORM.format(a="__qv")
    cn = _NORM.format(a="__cv")
    scored = (
        c.join(F.broadcast(q), on=["__table", "__bucket"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, "__qv", "__cv")
        .dropDuplicates([query_id_col, id_col])
        .withColumn("__cos_raw", F.expr(f"({dot}) / (({qn}) * ({cn}))"))
        .filter(F.col("__cos_raw").isNotNull())
    )
    return _rank_topk(scored, k, query_id_col, id_col)
