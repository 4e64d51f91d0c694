"""End-to-end corpus curation: the composed LLM training-data pipeline.

Every stage exists as a standalone operator elsewhere in ``text/``;
this module is the canonical COMPOSITION — the order and plumbing a
real curation run uses — plus the per-stage accounting (the "data
card") that makes a corpus auditable:

    exact dedup → near-dup cluster removal → duplicated-span cutting →
    heuristic quality filter → optional model filter → PII scrub →
    deterministic split assignment

Stage order is load-bearing and documented per stage below (e.g. span
cutting runs AFTER document-level dedup so the keep-first policy
doesn't waste its one kept copy on a document that is then dropped as
an exact duplicate; the quality filter runs AFTER cutting because
cutting shortens documents below the length floor).

Scale: the composition adds nothing to the operators' own costs — each
stage consumes the previous stage's DataFrame lazily, and the data card
runs no pass of its own. Every count is an unnamed
:class:`pyspark.sql.Observation` on a frame that every execution of the
corpus runs in full (the map side of an exchange or the build side of
a join), so the caller's first full action on ``corpus`` — a write,
``collect`` or ``count`` — fills the whole card; reading it afterwards
fires no job. Reading it before any action runs the chain once. After a
partial first action (``limit``, ``show``), or when Spark skipped an
observed branch (a run with nothing to drop at near-dup), the card
counts every stage instead: the cost the card had when it was built
from one ``count()`` per stage.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from clickhouse_etl_spark.text.analysis import (
    corpus_quality_filter,
    pii_scrub_exprs,
)
from clickhouse_etl_spark.text.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    neardup_clusters,
    wrapping_arithmetic,
)
from clickhouse_etl_spark.text.scoring import score_documents
from clickhouse_etl_spark.text.spans import cut_duplicated_spans
from clickhouse_etl_spark.operators.sampling import assign_splits


def _observed(df: DataFrame) -> tuple[Observation, DataFrame]:
    """``df`` with a row count attached. Unnamed: two live curation
    runs in one session never share a metric."""
    obs = Observation()
    return obs, df.observe(obs, F.count(F.lit(1)).alias("n"))


def _observed_n(obs: Observation) -> int | None:
    """The observed count, or None while no action has filled it or
    the action that did never ran the observed node (Spark completes
    it with an empty row). Never blocks: ``Observation.get`` waits
    forever if no action ever comes."""
    if not obs._jo.future().isCompleted():
        return None
    row = obs._jo.getRow()
    return row.getLong(0) if row.size() else None


class DataCard(Mapping):
    """Document counts after every curation stage, plus policy lines.

    A stage count is a signed sum of observed counts (near-dup removal
    is the exact-dedup survivors minus the dropped members), each taken
    where every execution of the corpus runs in full. ``final`` repeats
    the last dropping stage — the PII scrub and split assignment drop no
    row — and one more observation on the corpus itself checks it: a
    partial first action (``limit(n).collect()``, ``show``) leaves that
    witness short, and so does an observation the planner happened to
    put in the last stage. Either way the card falls back to counting
    every stage's frame. Resolved once, on first read; iterating the
    keys reads nothing.
    """

    def __init__(self) -> None:
        self._entries: dict[str, str | tuple[DataFrame, tuple]] = {}
        self._corpus: DataFrame | None = None
        self._witness: Observation | None = None
        self._values: dict[str, int | str] | None = None

    def policy(self, name: str, text: str) -> None:
        self._entries[name] = text

    def count(self, name: str, frame: DataFrame, *terms) -> None:
        """Stage ``name`` keeps ``sum(sign * n(obs))`` rows over its
        ``(obs, sign)`` terms; ``frame`` is its output, counted only by
        the fallback."""
        self._entries[name] = (frame, terms)

    def seal(self, corpus: DataFrame) -> DataFrame:
        self._witness, corpus = _observed(corpus)
        self._corpus = corpus
        return corpus

    def _resolve(self) -> dict[str, int | str]:
        if self._values is not None:
            return self._values
        stages = {k: v for k, v in self._entries.items() if isinstance(v, tuple)}
        obs = {o for _, terms in stages.values() for o, _ in terms}
        obs.add(self._witness)
        spark = self._corpus.sparkSession
        # Observations are filled from the listener bus, after the action
        # returns: drain it before deciding that no action ran.
        bus = spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        if any(_observed_n(o) is None for o in obs):
            self._corpus.write.format("noop").mode("overwrite").save()
            bus.waitUntilEmpty()
        n = {o: _observed_n(o) for o in obs}
        if None in n.values():
            counts = None
        else:
            counts = {
                k: sum(sign * n[o] for o, sign in terms)
                for k, (_, terms) in stages.items()
            }
        if counts is None or counts["final"] != n[self._witness]:
            counts = {k: frame.count() for k, (frame, _) in stages.items()}
        self._values = {
            k: counts[k] if k in stages else v for k, v in self._entries.items()
        }
        return self._values

    def __getitem__(self, key: str) -> int | str:
        if key not in self._entries:
            raise KeyError(key)
        return self._resolve()[key]

    def __contains__(self, key: object) -> bool:
        return key in self._entries

    def __iter__(self) -> Iterator[str]:
        return iter(self._entries)

    def __len__(self) -> int:
        return len(self._entries)

    def __repr__(self) -> str:
        return f"DataCard({self._resolve()!r})"


@dataclass
class CurationResult:
    """Final corpus + the per-stage data card."""

    corpus: DataFrame
    report: DataCard


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_k: int = 8,
    minhash_threshold: float = 0.7,
    min_tokens: int = 5,
    score_threshold: float | None = None,
    split_weights: dict[str, float] | None = None,
    url_col: str | None = None,
    domain_blocklist: Sequence[str] | DataFrame | None = None,
    url_dedup_strategy: str = "auto",
    neardup_score_col: str | None = None,
    dsir_target: DataFrame | None = None,
    dsir_n: int | None = None,
    dsir_num_buckets: int = 8192,
    dsir_temperature: float = 1.0,
    dsir_seed: int = 0,
    hash_family: str = "xxhash64",
    minhash_max_bucket_size: int | None = 1000,
) -> CurationResult:
    """Run the full curation chain; see module doc for stage order.

    ``score_threshold=None`` skips the model filter (the stub classifier
    is a placeholder — inject a real model by calling
    :func:`text.scoring.filter_by_score` yourself between stages).
    Returns the curated corpus (original columns + ``n_redactions`` +
    ``split``) and its :class:`DataCard`: document counts after every
    stage, filled by the caller's first full action on the corpus (see
    the module doc for what reading it early costs). The counts assume
    ``id_col`` is unique, as every id-keyed stage does.

    ``url_col`` turns on the crawl-level stage 0 (text/web.py): domain
    blocklist filter, then canonical-URL dedup — BEFORE text-level
    dedup, because URL dedup is exact on the key and removes re-fetches
    without paying the shingle pass for them.

    ``url_dedup_strategy``: ``'auto'`` (default) measures canonical-key
    skew with one extra count-aggregate pass and picks the dedup's
    physical form (the one deviation from the module doc's "composition
    adds nothing" cost contract — recorded in the data card as
    ``url_dedup_plan``); pass ``'window'`` or ``'agg'`` to pin the form
    and skip the measurement.

    ``neardup_score_col``: when set (a numeric column of ``df``), the
    near-dup stage keeps each duplicate GROUP's highest-scoring member
    (:func:`text.dedup.dedup_keep_best` — e.g. ``n_chars`` to keep the
    longest copy) instead of the min-id member. Same join shape; the
    data card records the policy as ``neardup_keep``.

    ``dsir_target`` + ``dsir_n``: targeted selection stage (5b) — after
    the quality/model filters (so the importance model never fits to
    junk the earlier stages would drop anyway) and before the PII scrub
    (features see the text the selection policy is really about),
    :mod:`text.dsir` fits hashed-n-gram log-ratios of the target corpus
    against the surviving pool and keeps a Gumbel-top-``dsir_n``
    resample. Deterministic under ``dsir_seed``; the data card records
    the stage as ``dsir_select`` plus a ``dsir`` policy line.

    ``hash_family`` (r8) threads the module-wide oracle convention
    through the WHOLE composition: ``'poly'`` switches the MinHash
    signatures, the DSIR featurization/noise, and the split-assignment
    bucket (a wrapping-int64 affine permutation of the id instead of
    xxhash64) to the SQL-reproducible family, making the end-to-end
    pipeline value-hash checkable against one DuckDB oracle.
    ``minhash_max_bucket_size`` is the near-dup stage's flood cap
    (``None`` = exact LSH semantics for oracle runs — the production
    default stays 1000).
    """
    if domain_blocklist is not None and url_col is None:
        # silently skipping the blocklist would ship blocked domains
        raise ValueError("domain_blocklist requires url_col")
    if (dsir_target is None) != (dsir_n is None):
        raise ValueError("dsir_target and dsir_n must be passed together")
    if dsir_n is not None and dsir_n < 1:
        raise ValueError("dsir_n must be >= 1")
    if neardup_score_col is not None and neardup_score_col not in df.columns:
        # fail here, not as a column-resolution error deep inside the
        # MinHash plan three stages later
        raise ValueError(
            f"neardup_score_col {neardup_score_col!r} is not a column of df"
        )
    # Every count below is observed where every execution runs in full:
    # the map side of the exact-dedup digest shuffle (and of url_dedup's
    # shuffle) or the build side of a keep/drop join. The stage outputs
    # themselves run in the corpus's last stage, which a partial action
    # reads only in part. The input count rides the exact-dedup branch
    # alone: on the main branch too, a second copy of the metric would
    # run in the last stage, and Spark reports only one of the copies.
    card = DataCard()
    obs, observed = _observed(df)
    card.count("input", df, (obs, 1))

    # 0. Crawl-level stage (optional): domain blocklist, then canonical-
    #    URL dedup. Cheapest cuts first — both run before any shingling.
    if url_col is not None:
        from clickhouse_etl_spark.text.web import filter_by_domain, url_dedup

        df = observed  # below url_dedup's shuffle on every branch
        if domain_blocklist is not None:
            df = filter_by_domain(df, url_col, blocklist=domain_blocklist)
            obs, df = _observed(df)
            card.count("domain_filter", df, (obs, 1))
        # collision-proof temp name: a corpus that already carries a
        # 'canonical_url' column must pass through untouched.
        # url_dedup_strategy='auto' (the default): re-crawl floods make
        # single canonical URLs hot, and a ranking-window partition
        # cannot be split — so the pipeline MEASURES key skew
        # (operators.skew.choose_dedup_strategy: one bounded
        # count-aggregate over the canonical key) and switches to the
        # max_by aggregation form when a hot key is found. The decision
        # is taken AS DATA here and recorded in the data card as
        # 'url_dedup_plan'; pass url_dedup_strategy='window' (or 'agg')
        # to skip the measurement pass entirely.
        plan = url_dedup_strategy
        if plan == "auto":
            from clickhouse_etl_spark.operators.dedup import (
                choose_dedup_strategy,
            )
            from clickhouse_etl_spark.text.web import canonicalize_url

            canon = df.select(
                canonicalize_url(url_col).alias("__c")
            ).filter(F.col("__c").isNotNull())
            plan = choose_dedup_strategy(canon, ["__c"])
        card.policy("url_dedup_plan", plan)
        df = url_dedup(
            df, url_col, order_col=id_col,
            canon_col="__curate_canon_url", strategy=plan,
        ).drop("__curate_canon_url")
        obs, observed = _observed(df)
        card.count("url_dedup", df, (obs, 1))

    # 1. Exact dedup: keep each byte-identical text's canonical (min id)
    #    copy. Digest-only shuffle.
    keep = exact_dedup(observed, text_col=text_col, id_col=id_col).select(
        F.col("keep_id").alias(id_col)
    )
    obs, keep = _observed(keep)
    cur = df.join(keep, on=id_col, how="left_semi")
    card.count("exact_dedup", cur, (obs, 1))
    terms = ((obs, 1),)

    # 2. Near-dup removal: MinHash-LSH pairs → transitive clusters →
    #    drop every non-representative member. Runs on the exact-deduped
    #    corpus so identical texts don't re-cluster.
    pairs = minhash_near_duplicates(
        cur, text_col=text_col, id_col=id_col,
        jaccard_threshold=minhash_threshold, hash_family=hash_family,
        max_bucket_size=minhash_max_bucket_size,
    )
    clusters = neardup_clusters(pairs)
    if neardup_score_col is not None:
        # quality-chosen representative: drop every member that is not
        # its cluster's keep_id (highest score, id tiebreak)
        from clickhouse_etl_spark.text.dedup import dedup_keep_best

        keeps = dedup_keep_best(
            clusters,
            cur.select(F.col(id_col).alias("doc_id"), neardup_score_col),
            score_col=neardup_score_col,
        ).select(F.col("keep_id").alias("__keep"))
        drop = (
            clusters.join(
                keeps, clusters["doc_id"] == keeps["__keep"], "left_anti"
            ).select(F.col("doc_id").alias(id_col))
        )
    else:
        # The cluster representative IS the cluster id (minimum member —
        # dedup_keep_list's keep_id); every other member drops.
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
    card.policy(
        "neardup_keep",
        f"best:{neardup_score_col}" if neardup_score_col else "min_id",
    )
    # drop holds distinct ids of exact-dedup survivors
    obs, drop = _observed(drop)
    terms += ((obs, -1),)
    cur = cur.join(drop, on=id_col, how="left_anti")
    card.count("near_dedup", cur, *terms)

    # 3. Substring dedup: cut every non-first duplicated >=k-token span
    #    (each repeated passage survives once corpus-wide). After
    #    document-level dedup so kept copies anchor the spans.
    cur = cut_duplicated_spans(cur, k=span_k, id_col=id_col, text_col=text_col)
    card.count("span_cut", cur, *terms)  # cutting rewrites, never drops

    # 4. Heuristic quality filter — after cutting (cutting shortens
    #    documents; the length floor must see the final text).
    #    corpus_quality_filter/text_stats emit a fixed 'doc_id' column,
    #    so rename through when the caller uses a different id.
    qin = cur if id_col == "doc_id" else cur.withColumnRenamed(id_col, "doc_id")
    decisions = corpus_quality_filter(qin, text_col=text_col, min_tokens=min_tokens)
    obs, kept = _observed(
        decisions.filter(F.col("keep")).select(F.col("doc_id").alias(id_col))
    )
    terms = ((obs, 1),)
    cur = cur.join(kept, on=id_col, how="left_semi")
    card.count("quality_filter", cur, *terms)

    # 5. Optional model-based filter (batch-inference seam): the
    #    text.scoring.filter_by_score join, with its keep set observed.
    if score_threshold is not None:
        obs, kept = _observed(
            score_documents(cur, id_col=id_col, text_col=text_col)
            .filter(F.col("score") >= score_threshold)
            .select(id_col)
        )
        terms = ((obs, 1),)
        cur = cur.join(kept, on=id_col, how="left_semi")
        card.count("model_filter", cur, *terms)

    # 5b. Optional DSIR targeted selection: fit target-vs-pool hashed
    #     n-gram log-ratios, keep a Gumbel-top-n importance resample.
    #     After the filters (the model never fits to junk) and before
    #     the scrub (features see the real text).
    if dsir_target is not None:
        from clickhouse_etl_spark.text.dsir import (
            dsir_bucket_logratios,
            dsir_resample,
            dsir_scores,
        )

        lr = dsir_bucket_logratios(
            dsir_target, cur, text_col=text_col, id_col=id_col,
            num_buckets=dsir_num_buckets, hash_family=hash_family,
        )
        scores = dsir_scores(
            cur, lr, text_col=text_col, id_col=id_col,
            num_buckets=dsir_num_buckets, hash_family=hash_family,
        )
        picked = dsir_resample(
            scores, dsir_n, id_col=id_col,
            temperature=dsir_temperature, seed=dsir_seed,
            hash_family=hash_family,
        )
        card.policy(
            "dsir",
            f"n={dsir_n} buckets={dsir_num_buckets} "
            f"temp={dsir_temperature} seed={dsir_seed}",
        )
        obs, picked = _observed(picked.select(id_col))
        terms = ((obs, 1),)
        cur = cur.join(picked, on=id_col, how="left_semi")
        card.count("dsir_select", cur, *terms)

    # 6. PII scrub — last text rewrite, so redaction placeholders can't
    #    perturb dedup hashes or quality token counts. Applied in place
    #    (all original columns ride through — no projection, no join).
    scrubbed, n_hits = pii_scrub_exprs(text_col)
    # n_redactions FIRST: both expressions read text_col, and withColumn
    # resolves against the frame it is applied to — replacing the text
    # before counting would count zero.
    cur = cur.withColumn("n_redactions", n_hits).withColumn(text_col, scrubbed)

    # 7. Deterministic split assignment (documents never leak between
    #    train and eval across reruns).
    split_bucket = None
    if hash_family == "poly":
        # SQL-mirrorable split bucket: wrapping-int64 affine permutation
        # of the (numeric) id under poly_affine_constants(1), pmod 1e6 —
        # the same family the MinHash/DSIR stages ride under 'poly'.
        from clickhouse_etl_spark.operators.sampling import _BUCKETS
        from clickhouse_etl_spark.text.dedup import poly_affine_id_expr

        split_bucket = F.pmod(
            poly_affine_id_expr(cur, id_col, 1), F.lit(_BUCKETS)
        )
    with wrapping_arithmetic(cur.sparkSession):
        cur = assign_splits(
            cur, key_cols=[id_col], weights=split_weights,
            bucket_expr=split_bucket,
        )
    card.count("final", cur, *terms)  # the scrub and splits drop no row
    return CurationResult(corpus=card.seal(cur), report=card)
