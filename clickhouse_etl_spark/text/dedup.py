"""Document deduplication: exact, MinHash+LSH, SimHash.

Scale design:
- exact: group on a 128-bit digest (never shuffle document bodies).
- MinHash+LSH: per-doc signature (narrow), explode to (band, bandhash)
  keys, self-join *within buckets only* — the classic way to avoid the
  O(n²) all-pairs comparison at corpus scale; candidate pairs then get an
  exact Jaccard verification.
- SimHash: vectorized Arrow/pandas UDF (numpy bit ops), band-bucketed the
  same way.
"""

from __future__ import annotations

import contextlib
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_etl_spark.util import materialize


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via hash-groupBy: canonical (min) id + duplicate count.

    Groups on sha2(text) so only 32-byte digests shuffle, not documents.
    """
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("__h"))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__h")
        .select("keep_id", "dup_count")
    )


def _shingles_sql(text_col: str, k: int = 3) -> str:
    """k-word shingles as a SQL expression string (JVM higher-order fns).

    The token array is BOUND ONCE via an outer single-element
    ``transform`` (SQL has no let-expression; a lambda variable is the
    next best thing): referencing ``split(...)`` inside the per-shingle
    lambda re-evaluates the split for EVERY shingle — O(tokens²) char
    work per document, measured 8× slower on the 10× scale corpus.
    Documents shorter than ``k`` tokens still emit one (whole-document)
    shingle — the dedup-tier contract."""
    return (
        f"transform(array(split({text_col}, ' ')), t -> "
        f"transform(sequence(0, greatest(size(t) - {k}, 0)),"
        f" i -> concat_ws(' ', slice(t, i + 1, {k}))))[0]"
    )


def _shingles(text_col: str, k: int = 3) -> F.Column:
    """k-word shingles as strings (higher-order functions, JVM-side)."""
    return F.expr(_shingles_sql(text_col, k))


# --- the 'poly' universal-hash family --------------------------------------
# base(s)  = Σ 31^j · char_j   (wrapping int64 — the Java/Rabin-Karp fold)
# h_i(s)   = base(s) · A_i + B_i  (wrapping; A_i odd 32-bit → a BIJECTION of
#            Z_2^64, so the (A, B) pairs are a universal-ish permutation
#            family in the standard MinHash construction)
# Every step is plain wrapping int64 arithmetic, so a SQL oracle (DuckDB
# HUGEINT mod 2^64) reproduces the signatures bit-for-bit — this family
# makes MinHash/SimHash value-hash CHECKABLE. xxhash64 (the default) mixes
# better and stays the recommended 100 TB family; the approximate-op
# contract (banding math, collision handling) is identical under both.

_M64 = 1 << 64


def _signed64(u: int) -> int:
    return u - _M64 if u >= (1 << 63) else u


@contextlib.contextmanager
def wrapping_arithmetic(spark):
    """Attach 'poly' family columns inside this block.

    The family is wrapping int64 arithmetic. Spark fixes each ``+`` and
    ``*`` as ANSI (overflow raises ``ARITHMETIC_OVERFLOW``) or legacy
    (wraps) from ``spark.sql.ansi.enabled`` at the moment the column is
    attached to a DataFrame, and keeps that choice in the plan. The block
    attaches with ANSI off and then puts the caller's setting back, so
    the hashes wrap on any session and the session is left as it was.
    Keep the block to the selects that carry the hash: every column
    attached inside it gets legacy semantics (null-on-bad-cast too)."""
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def poly_affine_constants(i: int) -> tuple[int, int]:
    """(A_i, B_i) as UNSIGNED ints: A_i odd 32-bit, B_i 64-bit."""
    a = (0x9E3779B9 * (2 * i + 1)) % (1 << 32) | 1
    b = (0xC2B2AE3D27D4EB4F * (i + 1)) % _M64
    return a, b


def poly_affine_id_expr(df: DataFrame, id_col: str, i: int):
    """Wrapping-int64 affine permutation of a NUMERIC id column under
    ``poly_affine_constants(i)`` — THE canonical Spark expression for
    the 'poly' family applied to ids (IVF centroid sampling, the DSIR
    Gumbel draw, curation split buckets). Single definition: the three
    call sites' DuckDB oracles all mirror this exact HUGEINT arithmetic,
    so the family must change in lockstep or not at all (same contract
    as ``_POLY_FOLD`` below).

    Fails LOUDLY on a non-integral id column: the implicit BIGINT cast
    of a string/UUID id would yield NULL, and NULL keys downstream turn
    'deterministic permutation' into silent garbage (every split bucket
    NULL → the last split takes 100% of rows; every Gumbel key NULL →
    the resample becomes 'n smallest ids').

    Attach the returned column inside :func:`wrapping_arithmetic`."""
    dt = df.schema[id_col].dataType
    if not isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"hash_family='poly' permutes the id arithmetically and needs "
            f"an integral id column; {id_col!r} is {dt.simpleString()}. "
            "Use hash_family='xxhash64' (hashes any type) or project a "
            "numeric id first."
        )
    a, b = poly_affine_constants(i)
    return F.expr(
        f"{id_col} * CAST({a} AS BIGINT) + CAST({_signed64(b)} AS BIGINT)"
    )


# Base-31 Java-style polynomial char fold — THE canonical definition.
# analysis.rolling_hash and the queries/* oracle SQL strings mirror this
# exact form; change it only in lockstep with those (the docstrings'
# bit-for-bit-oracle claims depend on all copies agreeing).
POLY_FOLD_BASE = 31
_POLY_FOLD = (
    "aggregate(split({s}, ''), CAST(0 AS BIGINT), "
    f"(acc, ch) -> acc * {POLY_FOLD_BASE} + ascii(ch))"
)


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature over word shingles.

    ``hash_family='xxhash64'`` (default): each of the ``num_hashes``
    functions is xxhash64 salted with the hash index — deterministic
    across runs/executors, no fitted model needed.
    ``hash_family='poly'``: one polynomial char-fold base per shingle +
    per-index affine permutations (see the family note above) — exactly
    reproducible in a SQL oracle.
    Narrow transformation: no shuffle either way.
    """
    from clickhouse_etl_spark.util import rebalance_for_compute

    sh = _shingles(text_col, shingle_k)
    out = rebalance_for_compute(df).select(F.col(id_col), sh.alias("__sh"))
    if hash_family == "poly":
        base_fold = _POLY_FOLD.format(s="s")
        with wrapping_arithmetic(df.sparkSession):
            out = out.withColumn(
                "__bases", F.expr(f"transform(__sh, s -> {base_fold})")
            )
        sig_cols = []
        for i in range(num_hashes):
            a, b = poly_affine_constants(i)
            sig_cols.append(
                F.array_min(
                    F.expr(
                        f"transform(__bases, x -> x * CAST({a} AS BIGINT)"
                        f" + CAST({_signed64(b)} AS BIGINT))"
                    )
                ).alias(f"mh{i}")
            )
    else:
        sig_cols = [
            F.array_min(
                F.expr(f"transform(__sh, s -> xxhash64(concat('mh{i}:', s)))")
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    with wrapping_arithmetic(df.sparkSession):
        return out.select(id_col, F.array(*sig_cols).alias("signature"))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = 1000,
    log_fn=None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs with exact verification.

    shingle → minhash → band → bucket self-join → exact-Jaccard verify.
    Pairs are emitted once (doc_a < doc_b), with the verified shingle-set
    Jaccard. Only bucket-colliding pairs are ever compared, so cost is
    proportional to collisions, not n². ``hash_family='poly'`` makes the
    whole candidate generation SQL-reproducible (oracle-checkable); see
    :func:`minhash_signature`.

    ``max_bucket_size`` bounds any single (band, hash) bucket's
    membership (a deterministic per-bucket hash order, so each band
    keeps a DIFFERENT survivor subset) — a degenerate flood of
    near-identical documents cannot make the self-join quadratic; each
    oversized bucket costs at most cap² pairs, up to bands×cap flood
    members still pair somewhere, and members beyond that lose pairing
    (the honest cap contract — run exact dedup first to collapse
    identical floods). ``None`` disables the cap (exact LSH semantics,
    e.g. for oracle mirroring).
    ``log_fn`` (optional) receives a capped-bucket summary, at the price
    of one eager count job.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}) — a ragged last band silently changes the "
            f"collision probability curve"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(
        df, text_col, id_col, num_hashes, shingle_k, hash_family
    )
    if hash_family == "poly":
        band_hash = (
            f"b -> aggregate(slice(signature, b * {rows_per_band} + 1, "
            f"{rows_per_band}), CAST(0 AS BIGINT), (acc, v) -> acc * 31 + v)"
        )
    else:
        band_hash = (
            f"b -> hash(slice(signature, b * {rows_per_band} + 1, {rows_per_band}))"
        )
    with wrapping_arithmetic(df.sparkSession):
        banded = sigs.select(
            F.col(id_col),
            F.posexplode(
                F.expr(f"transform(sequence(0, {bands - 1}), {band_hash})")
            ).alias("band", "band_hash"),
        )
    # Materialize the (small: n×bands ints) band table once — the self-join
    # below references it twice and Spark broadcasts one side rather than
    # reusing the exchange, which would recompute every MinHash signature.
    banded = materialize(banded)
    if max_bucket_size is not None:
        from clickhouse_etl_spark.operators.skew import cap_bucket_membership

        # no extra snapshot: the cap is one window over the cached band
        # table — cheaper to re-run per self-join side than to fill a
        # second cache (measured). order='hashed': each band keeps a
        # DIFFERENT survivor subset so a flood pairs across bands.
        banded = cap_bucket_membership(
            banded, ["band", "band_hash"], id_col, max_bucket_size, log_fn,
            order="hashed",
        )
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .distinct()
        # consumed three times below (two id projections + the verify
        # join) — materialize the (small) pair list once
        .transform(materialize)
    )
    from clickhouse_etl_spark.util import rebalance_for_compute

    # Re-shingle ONLY the docs that appear in some candidate pair (semi
    # join), and materialize once — the verify stage joins this set twice
    # (doc_a and doc_b side), and candidates ≪ corpus after banding.
    candidate_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # candidate_ids grows with the corpus (fact-derived) — no forced
    # broadcast; AQE broadcasts while it fits, shuffle-joins beyond.
    shingle_sets = (
        rebalance_for_compute(df.join(candidate_ids, on=id_col, how="left_semi"))
        .select(
            F.col(id_col),
            F.array_distinct(_shingles(text_col, shingle_k)).alias("__set"),
        )
        .transform(materialize)
    )
    verified = (
        candidates.join(
            shingle_sets.select(
                F.col(id_col).alias("doc_a"), F.col("__set").alias("__set_a")
            ),
            on="doc_a",
        )
        .join(
            shingle_sets.select(
                F.col(id_col).alias("doc_b"), F.col("__set").alias("__set_b")
            ),
            on="doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("__set_a", "__set_b")).cast("double")
                / F.size(F.array_union("__set_a", "__set_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


_SIMHASH_BITS = 64


@F.pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash — vectorized over Arrow batches (numpy bit counting).

    md5-based word hashes keep it deterministic across processes (no
    PYTHONHASHSEED dependence).
    """
    out = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        if not text:
            continue
        acc = np.zeros(_SIMHASH_BITS, dtype=np.int64)
        for word in text.split():
            h = np.uint64(
                int.from_bytes(hashlib.md5(word.encode("utf-8")).digest()[:8], "big")
            )
            bits = (h >> np.arange(_SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
            acc += np.where(bits == 1, 1, -1)
        sig = 0
        for b in np.nonzero(acc > 0)[0]:
            sig |= 1 << int(b)
        # Two's-complement into int64: subtract the FULL 2^64 modulus
        # (subtracting 2^63 would merely clear bit 63 and corrupt every
        # Hamming distance involving a bit-63-set signature).
        out[i] = np.int64(sig - (1 << 64)) if sig >= (1 << 63) else np.int64(sig)
    return pd.Series(out)


def _simhash64_jvm(text_col: str, hash_family: str = "xxhash64") -> F.Column:
    """64-bit SimHash as a pure JVM expression (whole-stage codegen).

    Word hashes via xxhash64 (default) or the 'poly' affine family
    (SQL-oracle-reproducible; weaker bit mixing — see the family note
    above); one aggregate() pass per word accumulates a 64-wide ±1
    counter array (zip_with), then the sign bits assemble the signature.
    No Python in the loop — this is the 100 TB path (the pandas-UDF
    variant stays as the injectable-hash/UDF-surface option).
    """
    if hash_family == "poly":
        a, b = poly_affine_constants(0)
        word_hash = (
            f"w -> {_POLY_FOLD.format(s='w')} * CAST({a} AS BIGINT)"
            f" + CAST({_signed64(b)} AS BIGINT)"
        )
    else:
        word_hash = "w -> xxhash64(w)"
    # bit test via & 1, NOT % 2: shiftrightunsigned(h, 0) is h itself, and
    # Spark's % keeps the dividend's sign — a negative odd hash would
    # contribute -3 to bit 0's counter instead of +1.
    counts = (
        f"aggregate(transform(split({text_col}, ' '), {word_hash}), "
        f"array_repeat(0L, {_SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {_SIMHASH_BITS - 1}), "
        f"(a, b) -> a + (shiftrightunsigned(h, b) & 1) * 2 - 1))"
    )
    sig = (
        f"aggregate(zip_with({counts}, sequence(0, {_SIMHASH_BITS - 1}), "
        f"(c, b) -> IF(c > 0, shiftleft(1L, b), 0L)), "
        f"0L, (acc, v) -> acc + v)"
    )
    return F.expr(sig)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "jvm",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-doc 64-bit SimHash.

    ``impl='jvm'`` (default): codegen expression — no Python in the hot
    path; ``hash_family`` picks xxhash64 (default) or the
    oracle-reproducible 'poly' word hashes. ``impl='pandas'``: the
    Arrow-batched UDF with md5 word hashes (kept as the custom-hash
    injection seam / UDF-surface demonstration).
    """
    from clickhouse_etl_spark.util import rebalance_for_compute

    if impl == "pandas":
        sig = _simhash64(F.col(text_col))
    else:
        sig = _simhash64_jvm(text_col, hash_family)
    with wrapping_arithmetic(df.sparkSession):
        return rebalance_for_compute(df).select(
            F.col(id_col), sig.alias("simhash")
        )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: band-bucket join + Hamming verification.

    The 64-bit signature splits into ``bands`` equal keys; a pair within
    ``max_hamming`` ≤ bands-1 bit flips must collide on at least one band
    (pigeonhole), so bucketing finds all such pairs without n² compares.
    This is the Manku/Jain/Sarma web-dedup design (WWW'07): small hamming
    radius + a few wide band tables. The contract is ENFORCED: asking for
    ``max_hamming > bands - 1`` would silently miss qualifying pairs, so it
    raises instead.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole completeness requires max_hamming <= bands-1 "
            f"(got max_hamming={max_hamming}, bands={bands}); raise `bands` "
            f"or lower `max_hamming`"
        )
    sigs = simhash_signatures(df, text_col, id_col, hash_family=hash_family)
    width = _SIMHASH_BITS // bands
    banded = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    # One signature computation total: the self-join otherwise recomputes
    # the SimHash expression on both the probe and the broadcast side.
    banded = materialize(banded)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def neardup_clusters(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iterations: int = 20,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Transitive closure of near-duplicate pairs → (doc_id, cluster_id).

    The step a training-data dedup pipeline runs AFTER pair generation
    (exact/MinHash/SimHash/embedding): near-duplication is not transitive
    pair-by-pair, but dedup policy usually treats connected components as
    one duplicate group and keeps a canonical representative per group.
    ``cluster_id`` is the minimum member id; "keep one per group" is then
    the filter ``doc_id == cluster_id`` (see :func:`dedup_keep_list`).

    Kernel dispatch (r13, same pattern as the GEMM floor and the dedup
    strategy chooser): a bounded ``limit(driver_max_edges + 1)`` probe
    collects the pair list — if it fits, the closure is a driver-side
    union-find over rows already in hand (ONE Spark job total; the
    distributed loop spent ~15 scheduler-bound jobs on a 241-edge graph
    at sf0.1, measured), with identical labels by construction (connected
    components, min-member id). Past the bound the probe has executed at
    most ``driver_max_edges + 1`` rows and the DISTRIBUTED path below
    takes over. ``driver_max_edges=0`` forces the distributed path (the
    equivalence test pins both paths equal).

    Distributed scale shape: iterative min-label propagation over the
    (bidirectional) edge list — per round one join + one groupBy,
    converging in O(component diameter) rounds, the standard large-graph
    connected-components construction (no whole-graph collect). Rounds
    are materialized with ``cut_lineage`` so plans don't stack. Raises
    if ``max_iterations`` rounds don't converge (a pathological chain
    longer than the cap).
    """
    from pyspark.sql import types as T

    id_type = pairs.schema[left_col].dataType
    if driver_max_edges > 0:
        probe = (
            pairs.select(left_col, right_col)
            .limit(driver_max_edges + 1)
            .collect()
        )
        if len(probe) <= driver_max_edges:
            parent: dict = {}

            def find(a):
                root = a
                while parent[root] != root:
                    root = parent[root]
                while parent[a] != root:  # path compression
                    parent[a], a = root, parent[a]
                return root

            for r in probe:
                a, b = r[left_col], r[right_col]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN root: the final label IS the min
                    # member, matching the propagation fixed point
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            rows = [(doc, find(doc)) for doc in parent]
            rows.sort()
            schema = T.StructType(
                [
                    T.StructField("doc_id", id_type, False),
                    T.StructField("cluster_id", id_type, False),
                ]
            )
            return pairs.sparkSession.createDataFrame(rows, schema)

    edges = (
        pairs.select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
        .unionByName(
            pairs.select(
                F.col(right_col).alias("src"), F.col(left_col).alias("dst")
            )
        )
        .distinct()
        .transform(materialize)
    )
    # Round 1 folds into the init: with identity start labels, the first
    # propagation is exactly least(own id, min neighbor id) — one groupBy
    # over the edge list, so the loop below starts from round 2 instead
    # of checkpointing an identity table and joining it once for nothing.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("__mn")).alias("cluster_id"),
        )
        .transform(lambda d: materialize(d, cut_lineage=True))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("src"),
                    F.col("cluster_id").alias("src_label"),
                ),
                on="src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("src_label").alias("neighbor_label"))
        )
        # Carry the improvement flag INSIDE the checkpointed frame: the
        # convergence probe is then a filter-count over the checkpoint
        # instead of a second new-vs-old join job per round.
        new_labels = (
            labels.join(neighbor_min, on="doc_id", how="left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("neighbor_label", F.col("cluster_id")),
                ).alias("new_cluster_id"),
                F.col("cluster_id").alias("old_cluster_id"),
            )
        )
        new_labels = materialize(new_labels, cut_lineage=True)
        changed = new_labels.filter(
            F.col("new_cluster_id") < F.col("old_cluster_id")
        ).count()
        labels = new_labels.select(
            "doc_id", F.col("new_cluster_id").alias("cluster_id")
        )
        if changed == 0:
            return labels
    raise RuntimeError(
        f"neardup_clusters did not converge in {max_iterations} rounds — "
        "a component's diameter exceeds the cap; raise max_iterations"
    )


def dedup_keep_list(clusters: DataFrame) -> DataFrame:
    """Per-cluster canonical representative + member count.

    Input: (doc_id, cluster_id) from :func:`neardup_clusters`. The kept
    document is the cluster id itself (minimum member); ``n_members``
    sizes the duplicate group (1-member clusters never appear — only
    docs that occurred in some pair are clustered).
    """
    return clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def dedup_keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-cluster representative chosen by QUALITY, not by id: the
    member with the highest ``score_col`` wins, ties broken by the
    smaller id so the choice is total and rerun-stable. This is what a
    curation pipeline actually wants from near-dup groups — keep the
    best copy (longest, highest quality-classifier score, least
    boilerplate), drop the rest; :func:`dedup_keep_list`'s min-id form
    is the score-free special case.

    ``scores`` carries ``(id_col, score_col)`` — typically a projection
    of ``gopher_quality_stats``/``text_stats``/model scores; duplicate
    rows per id are collapsed to their max first (so a per-span or
    per-snapshot score table can't fan the join out and inflate
    ``n_members``). A member missing from ``scores``, or whose score is
    NULL or NaN (NaN would otherwise sort ABOVE +inf in Spark and
    silently win), ranks below every scored member but can still win an
    all-unscored cluster via the id tiebreak — clusters are never
    silently dropped.

    Shape: one equi-join of the cluster list to the collapsed score
    table (both keyed by doc id — AQE broadcasts the smaller), then a
    single ``min_by`` hash aggregation on a (-score, id)-ordered
    struct: negating the SCORE (always a double) rather than the id
    keeps the tiebreak correct for any orderable id type — string ids
    under unary minus would cast to NULL and break ties arbitrarily.
    Map-side combinable, no window, no sort.
    """
    s = F.col(score_col).cast("double")
    collapsed = scores.groupBy(F.col(id_col).alias("doc_id")).agg(
        F.max(F.when(~F.isnan(s), s)).alias("__score")
    )
    joined = clusters.join(collapsed, on="doc_id", how="left")
    # total order via min: lower -score == higher score first, then
    # smaller id; unscored members get -(-inf) = +inf and sort last
    rank = F.struct(
        (-F.coalesce(F.col("__score"), F.lit(float("-inf")))).alias("neg_s"),
        F.col("doc_id").alias("id"),
    )
    return joined.groupBy("cluster_id").agg(
        F.min_by(F.col("doc_id"), rank).alias("keep_id"),
        F.max(F.col("__score")).alias("keep_score"),
        F.count(F.lit(1)).alias("n_members"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-set Jaccard for consecutive doc-id pairs.

    The verification kernel of near-dedup isolated as its own (SQL-
    expressible) operator: join doc i with doc i+1, intersect/union the
    distinct-token sets.
    """
    words = df.select(
        F.col(id_col),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("__words"),
    )
    a = words.select(
        F.col(id_col).alias("doc_a"), F.col("__words").alias("__wa")
    )
    b = words.select(
        (F.col(id_col) - 1).alias("doc_a"),
        F.col(id_col).alias("doc_b"),
        F.col("__words").alias("__wb"),
    )
    return (
        a.join(b, on="doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("__wa", "__wb")).cast("double")
                / F.size(F.array_union("__wa", "__wb")),
                6,
            ).alias("jaccard"),
        )
    )
