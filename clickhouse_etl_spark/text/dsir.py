"""DSIR-style importance weighting — targeted data selection.

The standard recipe for "pick raw-web documents that look like my
target corpus" at pretraining scale (Xie, Santurkar, Ma & Liang, "Data
Selection for Language Models via Importance Resampling", NeurIPS
2023): featurize every document as a bag of HASHED n-grams (unigrams +
adjacent bigrams folded into a fixed number of buckets), fit two
bag-of-words models — target and raw — over those buckets, score each
raw document with the log importance ratio
``log p_target(x) - log p_raw(x) = Σ_b count_b(x)·(log θ_t[b] - log
θ_r[b])``, and resample documents with Gumbel-perturbed top-k (which
draws WITHOUT replacement proportionally to the importance weights).

Scale shape — every stage is a standard Spark aggregation:

- featurization is map-only (split + transform + explode; the hash is
  plain int64 arithmetic, no Python);
- the two bucket models are one hash aggregation each, bounded by
  ``num_buckets`` rows (8k default — kilobytes), NOT the corpus;
- scoring explodes per-doc buckets and broadcast-joins the log-ratio
  table (bucket-count-sized), then folds one sum per doc — the only
  corpus shuffle is keyed by doc id;
- resampling is a global TakeOrdered over the Gumbel keys (no
  single-task sort; ties impossible under distinct doc ids).

Hash families mirror the dedup module's contract: ``xxhash64``
(default) for production mixing, ``'poly'`` (base-31 char fold +
affine permutation, wrapping int64) for bit-exact DuckDB oracle SQL —
the whole select pipeline is value-hash checkable under it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_etl_spark.text.dedup import (
    _POLY_FOLD,
    _signed64,
    poly_affine_constants,
    wrapping_arithmetic,
)


def _tokens(text_col: str):
    return f"filter(split({text_col}, ' '), w -> w <> '')"


# Unigrams + adjacent bigrams from an already-projected __toks column.
# Bigrams join with a space — the char fold of the joined string IS the
# bigram feature, no tuple hashing. zip_with over two length-(n-1)
# slices (greatest() guards the empty/one-token doc: slice with a
# negative length is an error, and sequence(1, 0) DESCENDS in Spark).
_GRAMS = (
    "concat(__toks, zip_with("
    "slice(__toks, 1, greatest(size(__toks) - 1, 0)), "
    "slice(__toks, 2, greatest(size(__toks) - 1, 0)), "
    "(a, b) -> concat(a, ' ', b)))"
)


def _bucket_expr(gram: str, num_buckets: int, hash_family: str) -> str:
    if hash_family == "poly":
        a, b = poly_affine_constants(0)
        fold = _POLY_FOLD.format(s=gram)
        return (
            f"pmod({fold} * CAST({a} AS BIGINT) + "
            f"CAST({_signed64(b)} AS BIGINT), {num_buckets})"
        )
    if hash_family == "xxhash64":
        return f"pmod(xxhash64({gram}), {num_buckets})"
    raise ValueError(f"unknown hash_family {hash_family!r}")


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document hashed-n-gram bag: ``(id, bucket, cnt)`` rows —
    whitespace unigrams plus adjacent bigrams, each hashed into
    ``num_buckets``. Map-only until the per-(doc, bucket) count, whose
    shuffle partial-aggregates map-side; empty/NULL docs contribute no
    rows (their importance weight is 0 — the DSIR convention that a
    featureless doc carries no evidence either way)."""
    if num_buckets < 2:
        raise ValueError("num_buckets must be >= 2")
    from clickhouse_etl_spark.util import rebalance_for_compute

    bucket = _bucket_expr("g", num_buckets, hash_family)
    # The tokenize/gram/char-fold chain is the CPU-heavy part of DSIR
    # and the text input is byte-small, so a narrow parquet scan
    # arrives as ONE partition and the whole fold runs on one core.
    # Spread it first — the same guard the other per-char text
    # operators (minhash shingles, span grams, bm25 terms) already
    # apply; a no-op when the scan is already wide (the 100 TB case).
    toks = rebalance_for_compute(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), F.expr(_tokens(text_col)).alias("__toks"))
    with wrapping_arithmetic(df.sparkSession):
        grams = toks.select(
            F.col(id_col),
            F.explode(
                F.expr(f"transform({_GRAMS}, g -> {bucket})")
            ).alias("bucket"),
        )
    return grams.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def dsir_bucket_logratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    add_k: float = 1.0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The fitted importance model: ``(bucket, log_ratio)`` with
    ``log_ratio = log θ_target[b] - log θ_raw[b]`` under add-k
    smoothing over ALL ``num_buckets`` buckets (so buckets unseen in
    either corpus are defined and finite). Output is bounded by
    ``num_buckets`` rows — broadcastable by construction."""
    if add_k <= 0:
        raise ValueError("add_k must be positive")

    def corpus_counts(df: DataFrame, out: str) -> DataFrame:
        per_doc = hashed_ngram_buckets(
            df, text_col, id_col, num_buckets, hash_family
        )
        return per_doc.groupBy("bucket").agg(F.sum("cnt").alias(out))

    spark = target.sparkSession
    buckets = spark.range(num_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    t = corpus_counts(target, "t_n")
    r = corpus_counts(raw, "r_n")
    joined = (
        buckets.join(t, "bucket", "left").join(r, "bucket", "left").select(
            "bucket",
            F.coalesce("t_n", F.lit(0)).alias("t_n"),
            F.coalesce("r_n", F.lit(0)).alias("r_n"),
        )
    )
    # totals ride a 1-row cross join; log θ[b] = log(n_b + k) - log(N + k·B)
    totals = joined.agg(
        F.sum("t_n").alias("__tt"), F.sum("r_n").alias("__rt")
    )
    kb = float(add_k) * num_buckets
    return joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(F.col("t_n") + add_k)
            - F.log(F.col("__tt") + kb)
            - F.log(F.col("r_n") + add_k)
            + F.log(F.col("__rt") + kb)
        ).alias("log_ratio"),
    )


def dsir_scores(
    df: DataFrame,
    logratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    hash_family: str = "xxhash64",
    out: str = "dsir_logweight",
) -> DataFrame:
    """Per-document log importance weight: ``Σ_b cnt_b · log_ratio[b]``.
    The log-ratio table broadcasts (``num_buckets`` rows); the only
    corpus shuffle is the per-doc sum. Docs with no features (empty
    text) score 0.0 via the left join + coalesce, keeping the row —
    select-or-drop stays a downstream policy decision."""
    feats = hashed_ngram_buckets(
        df, text_col, id_col, num_buckets, hash_family
    )
    scored = (
        feats.join(F.broadcast(logratios), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("log_ratio")).alias(out))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(id_col, F.coalesce(out, F.lit(0.0)).alias(out))
    )


def dsir_resample(
    scores: DataFrame,
    n: int,
    id_col: str = "doc_id",
    weight_col: str = "dsir_logweight",
    temperature: float = 1.0,
    seed: int = 0,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Gumbel top-k resampling: keep the ``n`` docs maximizing
    ``log w(x)/temperature + Gumbel(id, seed)`` — a draw WITHOUT
    replacement with inclusion proportional-ish to the importance
    weights (the Gumbel-max trick), fully deterministic: the noise is
    ``-log(-log(u))`` with ``u`` derived from a hash of the id, never
    ``rand()``. Global top-n is a TakeOrdered (sort pushed into
    per-partition heaps + one small merge), not a single-task sort.

    ``temperature`` interpolates policy: →0 approaches hard top-n by
    weight; 1 is faithful DSIR; →∞ approaches a uniform sample.

    ``hash_family`` mirrors the module convention: ``'xxhash64'``
    (default) hashes ``(id, seed)`` with the best mixing; ``'poly'``
    derives ``u`` from the wrapping-int64 affine permutation of the
    NUMERIC id under ``poly_affine_constants(seed)`` — bit-identical
    in DuckDB HUGEINT SQL, making the whole Gumbel draw (and with it
    :func:`dsir_select`) value-hash checkable."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    # u in (0,1) open: (h mod 2^52 + 1) / (2^52 + 2) never hits 0 or 1
    m = 1 << 52
    if hash_family == "poly":
        from clickhouse_etl_spark.text.dedup import poly_affine_id_expr

        h = poly_affine_id_expr(scores, id_col, seed)
    elif hash_family == "xxhash64":
        h = F.xxhash64(F.col(id_col), F.lit(seed))
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    u = (F.pmod(h, F.lit(m)) + 1) / float(m + 2)
    gumbel = -F.log(-F.log(u))
    key = F.col(weight_col) / float(temperature) + gumbel
    with wrapping_arithmetic(scores.sparkSession):
        keyed = scores.withColumn("__gumbel_key", key)
    return (
        keyed.orderBy(F.col("__gumbel_key").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("__gumbel_key")
    )


def dsir_select(
    target: DataFrame,
    raw: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 8192,
    add_k: float = 1.0,
    hash_family: str = "xxhash64",
    temperature: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """The composed pipeline: fit log-ratios on (target, raw), score
    raw, Gumbel-resample ``n`` docs. Returns the selected raw rows
    (full width) with their ``dsir_logweight`` attached."""
    lr = dsir_bucket_logratios(
        target, raw, text_col, id_col, num_buckets, add_k, hash_family
    )
    scores = dsir_scores(
        raw, lr, text_col, id_col, num_buckets, hash_family
    )
    picked = dsir_resample(
        scores, n, id_col, "dsir_logweight", temperature, seed,
        hash_family=hash_family,
    )
    return raw.join(picked, id_col)


__all__ = [
    "hashed_ngram_buckets",
    "dsir_bucket_logratios",
    "dsir_scores",
    "dsir_resample",
    "dsir_select",
]
