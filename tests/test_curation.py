"""End-to-end corpus curation — composition invariants + data card."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clickhouse_etl_spark.catalog import load_table
from clickhouse_etl_spark.text.curation import curate_corpus

SF_DIR = "/root/testdata/sf0.001"

# Data cards of the sf0.001 documents as one count() per stage frame
# reported them; the observed card must reproduce them exactly.
DEFAULT_CARD = {
    "input": 500, "exact_dedup": 500, "neardup_keep": "min_id",
    "near_dedup": 476, "span_cut": 476, "quality_filter": 476, "final": 476,
}
MODEL_CARD = {**DEFAULT_CARD, "model_filter": 192, "final": 192}
DSIR_CARD = {
    **DEFAULT_CARD, "dsir": "n=50 buckets=64 temp=1.0 seed=11",
    "dsir_select": 50, "final": 50,
}
URL_CARD = {
    "input": 500, "domain_filter": 400, "url_dedup_plan": "window",
    "url_dedup": 40, "exact_dedup": 40, "neardup_keep": "min_id",
    "near_dedup": 40, "span_cut": 40, "quality_filter": 40, "final": 40,
}


def test_full_chain_on_documents(spark):
    docs = load_table(spark, SF_DIR, "documents")
    res = curate_corpus(docs)
    r = res.report
    assert list(r) == list(DEFAULT_CARD)  # stage order, read for free
    assert dict(r) == DEFAULT_CARD
    # Monotone shrinkage through the drop stages.
    assert r["input"] == 500
    assert r["input"] >= r["exact_dedup"] >= r["near_dedup"]
    assert r["near_dedup"] == r["span_cut"]  # cutting rewrites, never drops
    assert r["span_cut"] >= r["quality_filter"] >= r["final"] > 0
    # This corpus has no byte-identical texts but does carry near-dups
    # (the ns_minhash_neardup fixture pairs) -> that stage bites.
    assert r["near_dedup"] < r["exact_dedup"]

    out = res.corpus
    # Final schema: original columns + scrub count + split.
    assert set(docs.columns) <= set(out.columns)
    assert {"n_redactions", "split"} <= set(out.columns)
    # No exact duplicates survive.
    n_texts = out.select("text").distinct().count()
    assert n_texts == r["final"]
    # Splits cover the corpus.
    splits = {row.split for row in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits


def test_determinism(spark):
    docs = load_table(spark, SF_DIR, "documents")
    a = curate_corpus(docs).corpus
    b = curate_corpus(docs).corpus
    sa = {tuple(r) for r in a.select("doc_id", "text", "split").collect()}
    sb = {tuple(r) for r in b.select("doc_id", "text", "split").collect()}
    assert sa == sb


def test_model_filter_stage(spark):
    docs = load_table(spark, SF_DIR, "documents")
    with_model = curate_corpus(docs, score_threshold=0.45)
    without = curate_corpus(docs)
    assert "model_filter" in with_model.report
    assert "model_filter" not in without.report
    assert with_model.report["final"] <= without.report["final"]
    # two live results in one session keep their own cards
    assert dict(with_model.report) == MODEL_CARD
    assert dict(without.report) == DEFAULT_CARD


def test_custom_id_column(spark):
    """The whole chain honors a non-default id column (the quality
    stage's fixed 'doc_id' contract is bridged internally)."""
    docs = load_table(spark, SF_DIR, "documents").withColumnRenamed(
        "doc_id", "document_key"
    )
    res = curate_corpus(docs, id_col="document_key")
    assert dict(res.report) == DEFAULT_CARD
    assert "document_key" in res.corpus.columns
    assert "doc_id" not in res.corpus.columns


def test_card_costs_no_extra_pass(spark, count_jobs, count_executions, tmp_path):
    """The card is filled by the caller's own write: reading it after
    fires no job. Read before any action, it runs the chain once — as
    many SQL executions as one write of an identical corpus, where the
    count fallback would add one per stage."""
    docs = load_table(spark, SF_DIR, "documents")
    written = curate_corpus(docs)
    early = curate_corpus(docs, score_threshold=0.45)
    twin = curate_corpus(docs, score_threshold=0.45)

    written.corpus.write.parquet(str(tmp_path / "corpus"))
    card, jobs = count_jobs(lambda: dict(written.report))
    assert jobs == 0
    assert card == DEFAULT_CARD

    # Executions, not jobs, measure a pass: each corpus fills its own
    # persists, and a persist planned with AQE runs its stages as jobs
    # of their own, as many as runtime timing gives (29 to 37 for
    # identical corpora in one process).
    (card, jobs), runs = count_executions(
        lambda: count_jobs(lambda: dict(early.report))
    )
    _, one_run = count_executions(
        lambda: twin.corpus.write.format("noop").mode("overwrite").save()
    )
    assert jobs > 0
    assert runs == one_run == 1
    assert card == MODEL_CARD
    # resolved once: a second read is free
    assert count_jobs(lambda: early.report["final"]) == (192, 0)


def test_card_exact_after_partial_first_action(spark):
    """A partial first action fills the card's observations with short
    counts where they run in the corpus's last stage; the card notices
    (its witness on the corpus disagrees) and still reads exact."""
    docs = load_table(spark, SF_DIR, "documents")
    res = curate_corpus(docs)
    assert len(res.corpus.limit(3).collect()) == 3
    assert dict(res.report) == DEFAULT_CARD


def test_decontaminate_drops_leaked_docs(spark):
    """A training doc containing a benchmark 8-gram verbatim is dropped;
    clean docs and too-short docs survive; survivors keep their rows."""
    from clickhouse_etl_spark.text.packing import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog tonight suffix"),
            (2, "completely unrelated content about distributed query engines"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    kept = decontaminate(train, bench, n=8)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [2, 3]
    # threshold relaxation keeps partially-overlapping docs
    kept_lax = decontaminate(train, bench, n=8, max_frac=0.99)
    assert sorted(r.doc_id for r in kept_lax.collect()) == [1, 2, 3]


def test_top_ngram_ratio_flags_loops(spark):
    """top_3gram_ratio separates a looped doc (one gram dominating) from
    a diverse one; the fold agrees with a hand count."""
    from clickhouse_etl_spark.text.analysis import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "ha ha ha ha ha ha ha ha"),      # 6 grams, all "ha ha ha"
            (2, "one two three four five six"),  # 4 grams, all distinct
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].top_3gram_ratio == 1.0
    assert rows[2].top_3gram_ratio == 0.25
    assert rows[1].dup_3gram_ratio > rows[2].dup_3gram_ratio


def test_curate_corpus_url_stage(spark):
    """url_col turns on stage 0: blocked domains drop, canonical-URL
    re-fetches collapse, and the counts land in the report before
    exact_dedup's."""
    from clickhouse_etl_spark.catalog import load_table
    from clickhouse_etl_spark.text import curate_corpus

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").withColumn(
        "url",
        F.expr(
            "concat('http://site', CAST(doc_id % 5 AS STRING), "
            "'.com/d/', CAST(doc_id % 50 AS STRING), "
            "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x' ELSE '' END)"
        ),
    )
    out = curate_corpus(
        docs, url_col="url", domain_blocklist=["site4.com"]
    )
    rep = out.report
    assert list(rep)[:4] == [
        "input", "domain_filter", "url_dedup_plan", "url_dedup"
    ]
    assert rep["url_dedup_plan"] in ("window", "agg")
    assert rep["domain_filter"] == docs.filter("doc_id % 5 != 4").count()
    # canonical URL = (site, d) pair ignoring the utm variant; doc_id%50
    # determines doc_id%5, so the 50 paths collapse to 50 canonical URLs
    # of which the 10 with path%5==4 are blocked -> 40
    assert rep["url_dedup"] == 40
    assert rep["final"] <= rep["url_dedup"]
    assert dict(rep) == URL_CARD
    assert "url" in out.corpus.columns


def test_neardup_keep_best_policy(spark):
    """neardup_score_col keeps the highest-scoring member of each
    duplicate group (here: the longest copy), while the default keeps
    the min id. The pick-level invariants are asserted AT the near-dup
    stage (downstream quality stages see different inputs under the two
    policies, so final-corpus counts are not comparable in general);
    the data card key comes from one full-chain run."""
    import pytest

    from clickhouse_etl_spark.text.dedup import (
        dedup_keep_best,
        dedup_keep_list,
        minhash_near_duplicates,
        neardup_clusters,
    )

    docs = load_table(spark, SF_DIR, "documents")
    clusters = neardup_clusters(
        minhash_near_duplicates(docs, jaccard_threshold=0.7)
    ).cache()
    base = {r.cluster_id: r.keep_id
            for r in dedup_keep_list(clusters).collect()}
    best = {r.cluster_id: r.keep_id
            for r in dedup_keep_best(
                clusters, docs.select("doc_id", "n_chars"),
                score_col="n_chars").collect()}
    assert set(base) == set(best)           # one survivor per group
    assert base != best                     # policy actually changes picks
    chars = {r.doc_id: r.n_chars
             for r in docs.select("doc_id", "n_chars").collect()}
    # per-cluster: keep-longest never keeps a shorter copy than min-id
    for cid in base:
        assert chars[best[cid]] >= chars[base[cid]]

    res = curate_corpus(docs, neardup_score_col="n_chars")
    assert dict(res.report) == {**DEFAULT_CARD, "neardup_keep": "best:n_chars"}
    with pytest.raises(ValueError, match="neardup_score_col"):
        curate_corpus(docs, neardup_score_col="nchars_typo")


def test_dsir_selection_stage(spark):
    """Stage 5b: target-vs-pool DSIR selection caps the corpus at
    dsir_n, deterministically under the seed, and the data card
    records the policy."""
    import pytest
    from clickhouse_etl_spark.text.curation import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    target = docs.filter("doc_id % 10 = 0")
    res = curate_corpus(
        docs, dsir_target=target, dsir_n=50, dsir_num_buckets=64,
        dsir_seed=11,
    )
    assert dict(res.report) == DSIR_CARD
    # deterministic under the same seed
    res2 = curate_corpus(
        docs, dsir_target=target, dsir_n=50, dsir_num_buckets=64,
        dsir_seed=11,
    )
    a = sorted(r.doc_id for r in res.corpus.select("doc_id").collect())
    b = sorted(r.doc_id for r in res2.corpus.select("doc_id").collect())
    assert a == b
    with pytest.raises(ValueError, match="together"):
        curate_corpus(docs, dsir_target=target)
    with pytest.raises(ValueError, match="dsir_n"):
        curate_corpus(docs, dsir_target=target, dsir_n=0)
