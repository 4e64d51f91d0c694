"""Text-analysis operators for the training-data pipeline tier.

All JVM-side column expressions (split / higher-order functions / regex) —
no Python in the row path, so these run at full codegen speed over 100 TB
of documents and scale linearly with executors (narrow, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is")

# ASCII punctuation character class (shared with the DuckDB oracle).
PUNCT_RE = r"[!-/:-@\[-`{-~]"


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def language_guess_col(text: Column) -> Column:
    """Marker-token language-ID expression (see :func:`language_guess`)."""
    toks = _tokens(text)
    return (
        F.when(F.array_contains(toks, "the"), F.lit("en"))
        .when(F.array_contains(toks, "a"), F.lit("en_weak"))
        .otherwise(F.lit("unknown"))
    )


def token_count_col(text: Column) -> Column:
    """BPE-ish regex token-count expression (alnum runs)."""
    return F.regexp_count(text, F.lit("[a-zA-Z0-9]+"))


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    include_lang: bool = False,
    include_regex_tokens: bool = False,
) -> DataFrame:
    """Token count, stopword ratio, avg word length, quality score.

    Quality = min(n_tokens/100, 1) × (1 − stopword_ratio): length-normalized
    and stopword-penalized — the standard cheap pre-filter shape for LLM
    training corpora (length/punct/stopword heuristics).

    ``include_lang`` / ``include_regex_tokens`` append the language-ID and
    regex-token-count columns in the SAME single narrow pass (one scan, no
    join) — the fused form a corpus-profiling job wants.
    """
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    # Hoist the tokenization into its own projection: split() feeds four
    # downstream expressions and would otherwise be recomputed per use
    # (CollapseProject keeps multi-referenced non-cheap exprs separate).
    base = df.select(
        "doc_id",
        F.col(text_col),
        _tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.col(text_col),
        F.size("__toks").alias("__n_tokens"),
        F.size(F.expr(f"filter(__toks, x -> x IN ({stop_list}))")).alias("__n_stop"),
    )
    n_tokens = F.col("__n_tokens")
    n_stop = F.col("__n_stop")
    n_punct = F.length(
        F.col(text_col)
    ) - F.length(F.regexp_replace(F.col(text_col), PUNCT_RE, ""))
    extra = []
    if include_lang:
        extra.append(language_guess_col(F.col(text_col)).alias("lang_guess"))
    if include_regex_tokens:
        extra.append(token_count_col(F.col(text_col)).alias("n_regex_tokens"))
    return base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.round(
            n_punct.cast("double") / F.greatest(F.length(text_col), F.lit(1)), 6
        ).alias("punct_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("double")
            / n_tokens,
            6,
        ).alias("avg_word_len"),
        F.round(
            F.least(n_tokens.cast("double") / 100, F.lit(1.0))
            * (1 - n_stop.cast("double") / n_tokens),
            6,
        ).alias("quality_score"),
        *extra,
    )


def language_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language heuristic (n-gram-style language ID).

    Real corpora use char-n-gram profiles; the deterministic marker-token
    ladder here is the same operator shape (per-doc classify, no shuffle)
    with a vocabulary that suits the synthetic fixture.
    """
    return df.select(
        "doc_id", language_guess_col(F.col(text_col)).alias("lang_guess")
    )


def token_count_regex(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish regex token counting (alnum runs, codegen'd regexp)."""
    return df.select(
        "doc_id", token_count_col(F.col(text_col)).alias("n_regex_tokens")
    )


def document_fingerprint(
    df: DataFrame, text_col: str = "text", include_rolling: bool = False
) -> DataFrame:
    """Deterministic content fingerprint (md5 of normalized text).

    The exact-dedup key at scale: group/join on the 128-bit digest instead
    of shipping full document bodies through the shuffle.
    ``include_rolling`` appends the Rabin-Karp rolling hash (see
    :func:`rolling_hash`) in the same narrow pass.
    """
    from clickhouse_etl_spark.text.dedup import wrapping_arithmetic

    cols = ["doc_id", F.md5(F.lower(F.col(text_col))).alias("fingerprint")]
    if include_rolling:
        cols.append(rolling_hash(text_col).alias("rolling_fp"))
    with wrapping_arithmetic(df.sparkSession):
        return df.select(*cols)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the context-
    window preparation step of an LLM training/RAG pipeline.

    One row in → ceil(max(n-overlap,1)/step) rows out (step = chunk −
    overlap), all with JVM higher-order functions: tokenize once, explode
    a chunk index, slice per chunk. No Python, no shuffle — scales
    linearly with the corpus.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be smaller than chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toks = f"split({text_col}, ' ')"
    n_chunks = (
        f"(greatest(size({toks}) - {overlap_tokens}, 1) + {step} - 1) div {step}"
    )
    base = df.select(
        F.col(id_col),
        F.expr(toks).alias("__toks"),
        F.expr(n_chunks).alias("__n_chunks"),
    )
    exploded = base.select(
        id_col,
        "__toks",
        F.posexplode(F.expr("sequence(0, __n_chunks - 1)")).alias(
            "__pos", "chunk_no"
        ),
    )
    return exploded.select(
        id_col,
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.expr(
            f"concat_ws(' ', slice(__toks, chunk_no * {step} + 1, {chunk_tokens}))"
        ).alias("chunk_text"),
        F.expr(
            f"size(slice(__toks, chunk_no * {step} + 1, {chunk_tokens}))"
        ).alias("chunk_n_tokens"),
    )


def top_k_vocab(
    df: DataFrame, k: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary: the k most frequent words with counts.

    The tokenizer-training / frequency-pruning primitive. Shape: explode
    → two-stage count aggregation (map-side partials are automatic) →
    ``orderBy(count desc, word).limit(k)`` which plans as
    TakeOrderedAndProject — each partition keeps only its own top k, no
    global sort of the vocabulary. Deterministic tiebreak on the word.
    """
    words = df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(k)


def corpus_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.6,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Keep/drop decision per document with the firing reason.

    The pre-training corpus filter composed from :func:`text_stats`:
    too-short, stopword-heavy, or punctuation-heavy documents are
    dropped; ``reason`` names the FIRST failing rule (priority order:
    length, stopwords, punctuation) so drop statistics decompose. Pure
    single-pass column logic — filters push to the scan side when used
    as ``filter(keep)``.
    """
    stats = text_stats(df, text_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("stopword_ratio") > max_stopword_ratio, F.lit("stopword_heavy"))
        .when(F.col("punct_ratio") > max_punct_ratio, F.lit("punct_heavy"))
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


# Java-style 64-bit polynomial hash base — re-exported from the
# canonical definition next to dedup's 'poly' fold.
from clickhouse_etl_spark.text.dedup import POLY_FOLD_BASE as ROLLING_BASE  # noqa: E402


def rolling_hash(text: str) -> F.Column:
    """Polynomial rolling hash (Rabin-Karp family) over the characters.

    h = Σ code_i · B^(n-1-i) in wrapping int64 arithmetic, evaluated
    Horner-style as one JVM ``aggregate`` over the character array — no
    Python, no shuffle. Unlike md5 this composes incrementally (chunk
    hashes combine with a power of B), which is what makes it the right
    primitive for content-defined chunking / shingle windows at ingest.
    ``text`` is the column NAME (the lambda is SQL-built). Attach it
    inside ``dedup.wrapping_arithmetic`` so the fold wraps under ANSI.
    """
    from clickhouse_etl_spark.text.dedup import _POLY_FOLD

    # Same fold as dedup's MinHash/SimHash 'poly' base — ONE definition
    # keeps the SQL-oracle bit-for-bit claims true everywhere.
    return F.expr(_POLY_FOLD.format(s=text))


def document_rolling_fingerprint(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Rolling-hash fingerprint per document (see :func:`rolling_hash`)."""
    from clickhouse_etl_spark.text.dedup import wrapping_arithmetic

    with wrapping_arithmetic(df.sparkSession):
        return df.select(
            "doc_id", rolling_hash(text_col).alias("rolling_fp")
        )


# --- PII scrubbing ---------------------------------------------------------
# Pattern set kept inside the RE2-compatible subset (no lookaround, no
# backrefs) so the Spark (java.util.regex) and DuckDB (RE2) executions
# are bit-identical — the redaction is oracle-checkable.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d()/ .-]{7,}\d", "<PHONE>"),
)


def pii_scrub_exprs(text_col: str = "text") -> tuple[Column, Column]:
    """(scrubbed_text, n_hits) column pair for the PII redaction chain.

    Shared by :func:`pii_scrub` and ``curation.curate_corpus`` so the
    pattern ordering invariant (emails first, so their digits can't be
    re-matched as phones) lives in exactly one place.
    """
    scrubbed = F.col(text_col)
    n_hits: Column = F.lit(0)
    for pat, tag in PII_PATTERNS:
        n_hits = n_hits + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return scrubbed, n_hits.cast("int")


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4 addresses / phone-shaped digit runs.

    The standard pre-training scrub pass: every match is replaced with a
    typed placeholder token and ``n_redactions`` counts what was removed
    (the corpus-health metric a scrubbing job reports). A chain of three
    JVM ``regexp_replace`` — narrow, codegen, no shuffle.
    """
    scrubbed, n_hits = pii_scrub_exprs(text_col)
    return df.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        n_hits.alias("n_redactions"),
    )


def _top_run(sorted_arr: Column) -> Column:
    """Count of the most frequent value in an array, computed as the
    longest run of equal adjacent values in its SORTED form — one O(g)
    fold after the sort, entirely inside codegen. The explode +
    groupBy(doc, gram) alternative shuffles one row per n-gram
    OCCURRENCE (~corpus size × n) to answer a per-row question."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition: duplicate-token, duplicate-3-gram,
    and top-3-gram fractions.

    The cheap repetition signals used to drop degenerate/boilerplate
    documents from pretraining corpora (the Gopher-rule family:
    duplicate-n-gram fraction catches looped/templated text; the
    top-n-gram fraction catches a single phrase dominating the
    document). Pure array expressions over one tokenization — narrow,
    JVM, no shuffle; thresholding is the caller's policy (compose with
    ``corpus_quality_filter``).
    """
    from clickhouse_etl_spark.text.dedup import _shingles

    toks = _tokens(F.col(text_col))
    grams = _shingles(text_col, 3)
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            1 - F.size(F.array_distinct(toks)) / F.size(toks), 6
        ).alias("dup_token_ratio"),
        F.round(
            1 - F.size(F.array_distinct(grams)) / F.size(grams), 6
        ).alias("dup_3gram_ratio"),
        F.round(
            _top_run(F.array_sort(grams)).cast("double") / F.size(grams), 6
        ).alias("top_3gram_ratio"),
    )


def _arr_char_sum(arr: Column) -> Column:
    """Total characters across an array of strings — one codegen fold."""
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )


def line_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/MassiveText within-document LINE and PARAGRAPH repetition
    (Rae et al. 2021, App. A1.1 — the rules :func:`repetition_stats`'
    token/n-gram fractions don't cover): the fraction of lines
    (paragraphs) that are duplicates of an earlier one, and the
    fraction of characters inside those non-first duplicates. The
    published cuts drop documents with duplicate-line or -paragraph
    fraction > 0.30, or either character fraction > 0.20.

    Lines split on ``\\n``, paragraphs on runs of blank lines
    (``\\n{2,}``); whitespace-only segments are ignored. Because
    duplicate occurrences are byte-identical, the character fraction
    reduces to ``(total_chars - distinct_chars) / total_chars`` — so
    all four ratios are pure array expressions over one split each:
    narrow, JVM-side, zero shuffle, same 100 TB shape as
    :func:`repetition_stats`. Empty documents report zeros.
    """

    def ratios(arr: Column, prefix: str) -> list[Column]:
        arr_nonblank = F.filter(arr, lambda x: F.trim(x) != "")
        n = F.size(arr_nonblank)
        nd = F.size(F.array_distinct(arr_nonblank))
        chars = _arr_char_sum(arr_nonblank)
        chars_d = _arr_char_sum(F.array_distinct(arr_nonblank))
        return [
            F.round(
                F.when(n > 0, 1 - nd / n).otherwise(F.lit(0.0)), 6
            ).alias(f"dup_{prefix}_frac"),
            F.round(
                F.when(chars > 0, (chars - chars_d) / chars).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias(f"dup_{prefix}_char_frac"),
        ]

    lines = F.split(F.col(text_col), "\n")
    paras = F.split(F.col(text_col), "\n{2,}")
    return df.select(
        id_col,
        *ratios(lines, "line"),
        *ratios(paras, "para"),
    )


def gopher_quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The remaining Gopher-rule quality signals (Rae et al. 2021,
    §A1.1) not already covered by :func:`text_stats` (length/stopword)
    and :func:`repetition_stats` (duplicate/top n-grams):

    - ``mean_word_len`` — outside [3, 10] suggests non-prose.
    - ``symbol_word_ratio`` — '#' and ellipsis occurrences per word
      (> 0.1 flags markup/truncation debris).
    - ``alpha_word_frac`` — fraction of words containing at least one
      alphabetic character (< 0.8 flags tables/code dumps).
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — fraction of lines
      starting with a bullet (> 0.9) or ending with an ellipsis (> 0.3).

    One narrow projection — split + higher-order functions, no shuffle,
    no Python. Thresholding is the caller's policy, same as the other
    stats (compose with ``corpus_quality_filter``). Documents with no
    words/lines report NULL for the affected ratios.
    """
    words = F.filter(_tokens(F.col(text_col)), lambda w: w != "")
    n_words = F.size(words)
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda l: l != "")
    n_lines = F.size(lines)
    total_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    symbols = F.regexp_count(F.col(text_col), F.lit(r"(#|\.\.\.|…)"))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*([-*•‣▪]|\d+[.)])\s"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    nz_w = n_words > 0
    nz_l = n_lines > 0
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.when(nz_w, F.round(total_chars / n_words, 6)).alias("mean_word_len"),
        F.when(nz_w, F.round(symbols / n_words, 6)).alias("symbol_word_ratio"),
        F.when(nz_w, F.round(alpha_words / n_words, 6)).alias("alpha_word_frac"),
        F.when(nz_l, F.round(bullet_lines / n_lines, 6)).alias("bullet_line_frac"),
        F.when(nz_l, F.round(ellipsis_lines / n_lines, 6)).alias(
            "ellipsis_line_frac"
        ),
    )
