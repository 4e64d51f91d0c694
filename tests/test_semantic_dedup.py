"""SemDeDup-style semantic dedup: DuckDB pair mirror (deterministic
centroids), containment in the exact all-pairs set, and the
keep-one-per-group identity."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clickhouse_etl_spark.catalog import load_table
from clickhouse_etl_spark.text.similarity import (
    semantic_cluster_pairs,
    semantic_dedup,
)
from tools.oracle_check import assert_matches_oracle

SF_DIR = "/root/testdata/sf0.001"
K = 8
THRESH = 0.35


def _init_centroids(emb, k=K):
    rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()
    return [[float(x) for x in r.embedding] for r in rows]


def _assert_matches_oracle(sdf, oracle_sql):
    assert_matches_oracle(sdf, oracle_sql, SF_DIR)


def test_semantic_cluster_pairs_matches_duckdb(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _init_centroids(emb)
    out = semantic_cluster_pairs(emb, cents, threshold=THRESH)
    assert out.count() > 0  # non-trivial at the lenient threshold
    _assert_matches_oracle(
        out,
        f"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, v AS cv
          FROM emb ORDER BY vec_id LIMIT {K}
        ),
        d AS (
          SELECT e.vec_id, c.cluster,
                 list_sum(list_transform(range(1, len(e.v) + 1),
                   i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS sq
          FROM emb e CROSS JOIN cent c
        ),
        cells AS (
          SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY sq ASC, cluster ASC) AS rk
            FROM d
          ) WHERE rk = 1
        ),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        ),
        scored AS (
          SELECT p.id_a, p.id_b,
                 list_sum(list_transform(range(1, len(ea.v) + 1),
                   i -> ea.v[i] * eb.v[i]))
                 / (sqrt(list_sum(list_transform(ea.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(eb.v, x -> x * x))))
                   AS cos
          FROM pairs p
          JOIN emb ea ON ea.vec_id = p.id_a
          JOIN emb eb ON eb.vec_id = p.id_b
        )
        SELECT id_a, id_b, ROUND(cos, 6) AS cosine
        FROM scored WHERE cos >= {THRESH}
        """,
    )


def test_semantic_pairs_subset_of_exact_allpairs(spark):
    """Cells only PRUNE: every in-cell pair must appear in the exact
    all-pairs set at the same threshold, with the same cosine."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _init_centroids(emb)
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in semantic_cluster_pairs(emb, cents, threshold=THRESH).collect()
    }
    vecs = emb.select("vec_id", F.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    allp = {
        (r.id_a, r.id_b): r.cosine
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                F.expr(
                    "aggregate(zip_with(va, vb, (x, y) -> x * y),"
                    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                    " / (sqrt(aggregate(va, CAST(0.0 AS DOUBLE),"
                    " (acc, v) -> acc + v * v))"
                    " * sqrt(aggregate(vb, CAST(0.0 AS DOUBLE),"
                    " (acc, v) -> acc + v * v)))"
                ),
                6,
            ),
        )
        .filter(F.col("cosine") >= THRESH)
        .collect()
    }
    assert set(got).issubset(set(allp))
    assert 0 < len(got) <= len(allp)
    assert all(allp[p] == c for p, c in got.items())


def test_semantic_dedup_keeps_one_per_group(spark):
    """kept = total - (duplicate-group members - groups): exactly one
    survivor per connected in-cell duplicate group."""
    from clickhouse_etl_spark.text.dedup import neardup_clusters

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _init_centroids(emb)
    kept = semantic_dedup(emb, cents, threshold=THRESH)
    pairs = semantic_cluster_pairs(emb, cents, threshold=THRESH)
    clusters = neardup_clusters(pairs, "id_a", "id_b")
    members = clusters.count()
    groups = clusters.select("cluster_id").distinct().count()
    total = emb.count()
    assert kept.count() == total - (members - groups)
    assert kept.columns == emb.columns  # pass-through schema
    # survivors of each group are its minimum member
    mins = {r.cluster_id for r in clusters.collect()}
    kept_ids = {r.vec_id for r in kept.collect()}
    dropped = {r.doc_id for r in clusters.filter(
        F.col("doc_id") != F.col("cluster_id")).collect()}
    assert mins <= kept_ids
    assert kept_ids.isdisjoint(dropped)


def test_semantic_kernels_agree(spark):
    """The GEMM (BLAS per-cell) and join (JVM fold) kernels must emit
    identical pair lists after 6-dp rounding — the r7 contract that
    lets the scale path diverge from the bit-exact-mirrored float
    path without a second oracle."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _init_centroids(emb)
    a = {
        tuple(r)
        for r in semantic_cluster_pairs(
            emb, cents, threshold=THRESH, kernel="join"
        ).collect()
    }
    b = {
        tuple(r)
        for r in semantic_cluster_pairs(
            emb, cents, threshold=THRESH, kernel="gemm"
        ).collect()
    }
    assert a == b and len(a) > 0


def test_semantic_kernel_validation(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _init_centroids(emb)
    import pytest

    with pytest.raises(ValueError, match="kernel"):
        semantic_cluster_pairs(emb, cents, kernel="nope")


def test_emb_neardup_kernels_agree(spark):
    """LSH near-dup: the all-JVM expr chain and the Arrow bucket-GEMM
    chain must emit identical pair lists (same LSH geometry; BLAS
    drift « the 6-dp rounding grain)."""
    from clickhouse_etl_spark.text.similarity import embedding_cosine_neardup

    emb = load_table(spark, SF_DIR, "embeddings")
    a = {tuple(r) for r in embedding_cosine_neardup(
        emb, threshold=0.35, num_planes=6, kernel="expr").collect()}
    b = {tuple(r) for r in embedding_cosine_neardup(
        emb, threshold=0.35, num_planes=6, kernel="gemm").collect()}
    assert a == b and len(a) > 0
    import pytest

    with pytest.raises(ValueError, match="kernel"):
        embedding_cosine_neardup(emb, kernel="nope")


def test_lsh_topk_kernels_agree(spark):
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.text.similarity import lsh_ann_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = {tuple(r) for r in lsh_ann_topk(
        emb, q, k=5, num_planes=6, kernel="expr").collect()}
    b = {tuple(r) for r in lsh_ann_topk(
        emb, q, k=5, num_planes=6, kernel="gemm").collect()}
    assert a == b and len(a) > 0


def test_lsh_topk_kernels_agree_on_degenerate_vectors(spark):
    """r7 ADVICE parity pin: NULL, ragged, and zero-norm vectors must
    not split the kernels. Pre-r8 the expr path hashed NULL vectors
    into bucket 0 (CASE WHEN NULL >= 0 falls to ELSE) and let their
    NULL cosines pad under-filled top-k, while the Arrow hasher dropped
    them — so flipping the default kernel silently changed output. Both
    kernels now drop NULL/ragged on entry and filter NULL cosines
    (zero-norm vectors), and no emitted cosine is NULL."""
    from clickhouse_etl_spark.text.similarity import lsh_ann_topk

    base = load_table(spark, SF_DIR, "embeddings").limit(40)
    dims = len(base.select("embedding").first()[0])
    degenerate = spark.createDataFrame(
        [
            (100001, None),                      # NULL vector
            (100002, [1.0] * (dims - 1)),        # ragged
            (100003, [0.0] * dims),              # zero norm
        ],
        f"vec_id bigint, embedding array<double>",
    )
    emb = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(degenerate)
    # queries include a NULL-vector and zero-vector query on purpose
    q = emb.filter(F.col("vec_id").isin(0, 1, 100001, 100003))
    a = {tuple(r) for r in lsh_ann_topk(
        emb, q, k=5, num_planes=6, kernel="expr").collect()}
    b = {tuple(r) for r in lsh_ann_topk(
        emb, q, k=5, num_planes=6, kernel="gemm").collect()}
    assert a == b and len(a) > 0
    assert all(r[2] is not None for r in a)  # no NULL cosine emitted
    ids_out = {r[0] for r in a} | {r[1] for r in a}
    assert not ids_out & {100001, 100002, 100003}


def test_semantic_join_kernel_threads_expr_assignment(spark, monkeypatch):
    """r7 ADVICE (medium): kernel='join' promises bit-identity to the
    sequential-fold oracle, so the CELL ASSIGNMENT must ride the expr
    kernel too — assign_clusters' own 'auto' would flip to its gemm
    argmin above k=32."""
    from clickhouse_etl_spark.text import kmeans as km

    seen = {}
    real = km.assign_clusters

    def spy(df, centroids, id_col="vec_id", vec_col="embedding",
            kernel="auto"):
        seen["kernel"] = kernel
        return real(df, centroids, id_col=id_col, vec_col=vec_col,
                    kernel=kernel)

    monkeypatch.setattr(km, "assign_clusters", spy)
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = _init_centroids(emb)
    semantic_cluster_pairs(emb, cents, threshold=THRESH, kernel="join").count()
    assert seen["kernel"] == "expr"
    semantic_cluster_pairs(emb, cents, threshold=THRESH, kernel="gemm").count()
    assert seen["kernel"] == "auto"


def test_emb_neardup_kernels_agree_on_degenerate_vectors(spark):
    """r8 self-review pin (the near-dup twin of the lsh_ann_topk parity
    fix): NULL/ragged vectors drop on entry for BOTH kernels — the expr
    chain used to hash them into bucket 0 where two identical ragged
    rows pair with cosine 1.0 while the Arrow hasher dropped them, so
    kernel='auto' changed the pair set at the size floor. A NULL-vector
    FIRST row must also not poison the dims probe into dropping the
    whole corpus."""
    from clickhouse_etl_spark.text.similarity import embedding_cosine_neardup

    base = load_table(spark, SF_DIR, "embeddings")
    dims = len(base.select("embedding").first()[0])
    # a NULL vector LEADS the corpus (the dims probe must skip it, not
    # return -1 and drop everything); the ragged/zero rows follow the
    # valid corpus — the probe's contract is "first VALID row's size",
    # so a corpus whose first valid row is ragged is caller error.
    null_first = spark.createDataFrame(
        [(-1, None)], "vec_id bigint, embedding array<double>"
    )
    degenerate = spark.createDataFrame(
        [
            (100001, [2.0] * (dims - 1)),          # ragged twin A
            (100002, [2.0] * (dims - 1)),          # ragged twin B (would pair)
            (100003, [0.0] * dims),                # zero norm
        ],
        "vec_id bigint, embedding array<double>",
    )
    emb = null_first.unionByName(
        base.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    ).unionByName(degenerate)
    a = {tuple(r) for r in embedding_cosine_neardup(
        emb, threshold=0.35, num_planes=6, kernel="expr").collect()}
    b = {tuple(r) for r in embedding_cosine_neardup(
        emb, threshold=0.35, num_planes=6, kernel="gemm").collect()}
    assert a == b and len(a) > 0  # NULL-first row didn't empty the corpus
    ids_out = {r[0] for r in a} | {r[1] for r in a}
    assert not ids_out & {-1, 100001, 100002, 100003}


def test_poly_id_family_rejects_non_integral_ids(spark):
    """r8 self-review pin: hash_family='poly' permutes the id
    arithmetically; a string id would cast to NULL and silently send
    every row to the last split / make the Gumbel draw degenerate.
    The shared helper fails loudly instead."""
    import pytest

    from clickhouse_etl_spark.text.dsir import dsir_resample

    scores = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "doc_id string, dsir_logweight double"
    )
    with pytest.raises(ValueError, match="integral id column"):
        dsir_resample(scores, 1, hash_family="poly").collect()

    from clickhouse_etl_spark.text.curation import curate_corpus

    docs = spark.createDataFrame(
        [("u1", "some text here that is long enough to keep")],
        "doc_id string, text string",
    )
    with pytest.raises(ValueError, match="integral id column"):
        curate_corpus(docs, hash_family="poly").corpus.collect()



def test_poly_family_wraps_on_an_ansi_session(spark):
    """The poly family is wrapping int64 arithmetic. On a session with
    ANSI on (the Spark 4 default) every poly hash must come out as with
    ANSI off, not raise ARITHMETIC_OVERFLOW, and the session's ANSI
    setting must be left as the caller set it."""
    from clickhouse_etl_spark.text.analysis import document_rolling_fingerprint
    from clickhouse_etl_spark.text.curation import curate_corpus
    from clickhouse_etl_spark.text.dedup import (
        minhash_near_duplicates,
        simhash_signatures,
    )
    from clickhouse_etl_spark.text.dsir import dsir_resample, hashed_ngram_buckets

    docs = load_table(spark, SF_DIR, "documents")  # sets ANSI off
    scores = docs.select("doc_id", F.length("text").cast("double").alias(
        "dsir_logweight"))

    def hashes():
        frames = [
            minhash_near_duplicates(docs, hash_family="poly"),
            simhash_signatures(docs, hash_family="poly"),
            hashed_ngram_buckets(docs, num_buckets=64, hash_family="poly"),
            document_rolling_fingerprint(docs),
            dsir_resample(scores, 25, hash_family="poly"),
            curate_corpus(docs, hash_family="poly").corpus.select(
                "doc_id", "split"),
        ]
        return [{tuple(r) for r in f.collect()} for f in frames]

    legacy = hashes()
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ansi = hashes()
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert ansi == legacy
    assert all(legacy)

def test_probe_dims_modal_and_null_led_fallback(spark):
    """r8 re-review pins: (a) dims is the MODAL valid size, so one
    ragged LEADING row can't define dims and silently invert the
    validity filter into dropping every normal vector; (b) a NULL-led
    corpus larger than the floor must not yield dims=0 from the bounded
    sample — the fused probe falls back to the filtered probe."""
    from clickhouse_etl_spark.text.similarity import (
        _GEMM_FLOOR_ROWS,
        _probe_dims,
        _probe_dims_and_floor,
    )

    ragged_first = spark.createDataFrame(
        [(0, [1.0] * 5)], "vec_id long, embedding array<double>"
    ).unionByName(
        spark.range(1, 101).select(
            F.col("id").alias("vec_id"),
            F.expr("array_repeat(cast(id as double), 8)").alias("embedding"),
        )
    )
    assert _probe_dims(ragged_first, "embedding") == 8

    null_led = spark.range(_GEMM_FLOOR_ROWS + 10).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
    ).unionByName(
        spark.range(10).select(
            (F.col("id") + 10_000_000).alias("vec_id"),
            F.expr("array_repeat(cast(id as double), 8)").alias("embedding"),
        )
    )
    dims, big = _probe_dims_and_floor(null_led, "embedding")
    assert dims == 8 and big


def test_semantic_margin_probe_no_near_threshold_pairs():
    """r9 ADVICE: the oracle's native list_inner_product vs Spark's own
    summation order could flip a pair that sits essentially ON the 0.45
    cosine threshold. The margin probe counts candidate pairs within
    1e-9 of the threshold; at the gate SFs it must be ZERO, so any
    future semantic-dedup digest mismatch is a logic bug, not a float
    flip (and the sweep prints this count per dataset)."""
    import duckdb

    from clickhouse_etl_spark.queries.northstar import _semantic_margin_sql

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        n = con.execute(_semantic_margin_sql()).fetchone()[0]
        con.close()
        assert n == 0, f"{sf_dir}: {n} near-threshold pairs"
