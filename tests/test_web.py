"""URL canonicalization / domain curation — golden cases + a DuckDB
oracle that reproduces the canonicalization rules bit-for-bit over a
synthesized URL column (same rigor as test_demoted_oracles)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clickhouse_etl_spark.catalog import TEST_TABLES, load_table
from clickhouse_etl_spark.text.web import (
    canonicalize_url,
    domain_stats,
    extract_domain,
    filter_by_domain,
    url_dedup,
)
from tools.oracle_check import canon_rows

SF_DIR = "/root/testdata/sf0.001"

GOLDEN = [
    # variant -> canonical
    ("HTTP://Example.COM:80/a/b/?utm_source=x&z=1&a=2#frag",
     "http://example.com/a/b?a=2&z=1"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/a//", "http://example.com/a"),
    ("http://example.com/?fbclid=abc&gclid=1", "http://example.com/"),
    ("http://example.com/?b=2&a=1", "http://example.com/?a=1&b=2"),
    ("http://user:pw@Example.com:80/a", "http://example.com/a"),
    ("http://evil@blocked.com/", "http://blocked.com/"),
    ("http://example.com/?ref=main", "http://example.com/?ref=main"),
    # percent-encoding normalization (RFC 3986 6.2.2.1/.2): unreserved
    # escapes decode, everything else keeps UPPERCASE hex
    ("http://example.com/%7Euser/%41b", "http://example.com/~user/Ab"),
    ("http://example.com/a%2fb?x=%3a1", "http://example.com/a%2Fb?x=%3A1"),
    # an orphan % (no valid escape) canonicalizes to %25 — the
    # idempotence-preserving form (a surviving literal % could capture
    # decoded digits and form a new escape on the next pass)
    ("http://example.com/a%zz%", "http://example.com/a%25zz%25"),
    ("http://example.com/%%41", "http://example.com/%25A"),
    ("http://example.com/%%370", "http://example.com/%2570"),
    ("not a url", None),
    ("/relative/path", None),
    (None, None),
]


def test_canonicalize_golden(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(GOLDEN)], "i int, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonicalize_url("url").alias("c")).collect()
    }
    for i, (u, want) in enumerate(GOLDEN):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"


def test_canonicalize_idempotent(spark):
    """canon(canon(u)) == canon(u) — canonical forms are fixed points."""
    df = spark.createDataFrame(
        [(u,) for u, _ in GOLDEN if u], "url string"
    ).select(canonicalize_url("url").alias("c1"))
    twice = df.select("c1", canonicalize_url("c1").alias("c2")).collect()
    for r in twice:
        assert r.c2 == r.c1


def test_extract_domain(spark):
    df = spark.createDataFrame(
        [("https://WWW.Sub.Example.com:8080/x?y#z",),
         ("http://example.org/",), ("garbage",), (None,)],
        "url string",
    )
    got = [r.d for r in df.select(extract_domain("url").alias("d")).collect()]
    assert got == ["sub.example.com", "example.org", None, None]


def _urls(spark, sf_dir):
    """Deterministic URL column over documents: scheme/host/path/query
    variants driven by doc_id so every rule fires, plus non-URL rows."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            """
            CASE WHEN doc_id % 11 = 10 THEN 'not a url'
            ELSE concat(
              CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END,
              '://', CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
              'site', CAST(doc_id % 7 AS STRING), '.com',
              CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END,
              '/p/', CAST(doc_id % 13 AS STRING),
              CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
              CASE WHEN doc_id % 5 = 0
                   THEN '?utm_source=a&b=2&a=1' ELSE '' END,
              CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
            END
            """
        ).alias("url"),
    )


_URL_SQL = """
    SELECT doc_id,
      CASE WHEN doc_id % 11 = 10 THEN 'not a url'
      ELSE concat(
        CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END,
        '://', CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
        'site', CAST(doc_id % 7 AS VARCHAR), '.com',
        CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END,
        '/p/', CAST(doc_id % 13 AS VARCHAR),
        CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
        CASE WHEN doc_id % 5 = 0 THEN '?utm_source=a&b=2&a=1' ELSE '' END,
        CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
      END AS url
    FROM documents
"""

# the canonicalization rules spelled out in DuckDB — the oracle twin of
# canonicalize_url (regexps identical, list ops mirror the array ops)
_CANON_SQL = f"""
WITH urls AS ({_URL_SQL}),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(regexp_replace(url, '#.*$', ''),
               '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
         regexp_replace(regexp_replace(url, '#.*$', ''),
               '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS after
  FROM urls
),
hp AS (
  SELECT *, regexp_replace(lower(regexp_extract(after, '^([^/?]*)', 1)),
                           '^[^@]*@', '') AS hostport
  FROM parts
),
pieces AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http'
              THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         regexp_replace(regexp_extract(after, '^[^/?]*([^?]*)', 1), '/+$', '') AS path0,
         regexp_extract(after, '\\?(.*)$', 1) AS query
  FROM hp
),
built AS (
  SELECT doc_id, scheme, host,
         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         list_aggregate(
           list_sort(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=&]*|fbclid|gclid|msclkid|mc_cid|mc_eid)(=.*)?$'))),
           'string_agg', '&') AS cq
  FROM pieces
)
SELECT doc_id,
       CASE WHEN scheme <> '' AND host <> ''
            THEN concat(scheme, '://', host, path,
                        CASE WHEN cq IS NULL OR cq = '' THEN ''
                             ELSE concat('?', cq) END)
       END AS canonical_url
FROM built
"""


def _oracle(sql):
    con = duckdb.connect()
    try:
        for t in TEST_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def test_canonicalize_matches_duckdb_oracle(spark):
    out = _urls(spark, SF_DIR).select(
        "doc_id", canonicalize_url("url").alias("canonical_url")
    )
    dcols, drows = _oracle(_CANON_SQL)
    sc, sr = canon_rows(out.columns, [tuple(r) for r in out.collect()])
    dc, dr = canon_rows(dcols, drows)
    assert sc == dc and len(sr) == len(dr) and sr == dr


def test_url_dedup_latest_and_passthrough(spark):
    """Variants of one page collapse to the max-order row; unparseable
    URLs pass through undropped."""
    df = spark.createDataFrame(
        [
            (1, "http://Example.com/a?utm_source=x", 10),
            (2, "http://example.com:80/a/", 20),
            (3, "https://example.com/a", 5),   # different scheme: distinct
            (4, "junk", 1),
            (5, "more junk", 2),
        ],
        "id int, url string, v int",
    )
    out = url_dedup(df, "url", order_col="v")
    ids = sorted(r.id for r in out.collect())
    assert ids == [2, 3, 4, 5]  # 1 and 2 collapse, junk survives
    canon = {r.id: r.canonical_url for r in out.collect()}
    assert canon[2] == "http://example.com/a"
    assert canon[4] is None


def test_url_dedup_null_key_skew_spreads(spark):
    """r13 skew guard: a corpus that is MOSTLY unparseable must not
    funnel the NULL canonical keys into one shuffle partition (the
    pre-r13 `repartition(canon_col)` hashed every NULL to the same
    task). The salted shuffle key spreads the unparseable rows while
    the dedup result stays exactly the canonical-key dedup."""
    rows = [(i, f"garbage-{i}", i) for i in range(400)]  # 400 unparseable
    rows += [
        (1000, "http://example.com/a?utm_source=x", 1),
        (1001, "http://example.com:80/a/", 2),  # same canonical as 1000
        (1002, "https://other.com/b", 3),
    ]
    df = spark.createDataFrame(rows, "id long, url string, v int")
    out = url_dedup(df, "url", order_col="v")
    # dedup semantics unchanged: variants collapse to max-order, every
    # unparseable row passes through, no helper column leaks
    ids = sorted(r.id for r in out.collect())
    assert ids == list(range(400)) + [1001, 1002]
    assert set(out.columns) == {"id", "url", "v", "canonical_url"}
    # the physical spread: NULL-canon rows land in MANY partitions of
    # the dedup's own exchange (with 400 salted rows and 16384 buckets,
    # one-partition collapse is impossible unless the salt is ignored).
    # AQE's partition coalescing folds this tiny corpus back into one
    # partition regardless of the key — disable it for the physical
    # assertion so the test sees the exchange's own hash spread.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        parts = (
            url_dedup(df, "url", order_col="v")
            .filter(F.col("canonical_url").isNull())
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    assert parts > 1, "unparseable rows collapsed into one partition"


def test_domain_stats_and_filter(spark):
    urls = _urls(spark, SF_DIR)
    stats = domain_stats(urls, weight_col="doc_id").collect()
    assert sum(r.n_docs for r in stats) == urls.count()  # totals reconcile
    doms = {r.domain for r in stats}
    assert None in doms and "site0.com" in doms

    blocked = filter_by_domain(urls, blocklist=["site0.com"])
    kept = blocked.select(extract_domain("url").alias("d")).collect()
    assert all(r.d != "site0.com" for r in kept)
    assert any(r.d is None for r in kept)  # NULL-domain rows kept

    allowed = filter_by_domain(urls, allowlist=["site1.com", "site2.com"])
    got = {r.d for r in allowed.select(extract_domain("url").alias("d")).collect()}
    assert got == {"site1.com", "site2.com"}  # NULL-domain rows dropped

    # DataFrame blocklist: broadcast anti join, no Python in the plan
    bl = spark.createDataFrame([("site0.com",)], "domain string")
    out = filter_by_domain(urls, blocklist=bl)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys and "LeftAnti" in phys
    assert "BatchEvalPython" not in phys
    assert out.count() == blocked.count()

    with pytest.raises(ValueError):
        filter_by_domain(urls)
    with pytest.raises(ValueError):
        filter_by_domain(urls, blocklist=["a"], allowlist=["b"])


def test_extract_domain_userinfo_and_blocklist_normalization(spark):
    """userinfo must not let a URL evade the blocklist, and blocklist
    entries with case/www noise still match."""
    df = spark.createDataFrame(
        [(1, "http://anything@blocked.com/page"),
         (2, "http://u:p@blocked.com/x"),
         (3, "https://ok.com/")],
        "id int, url string",
    )
    got = {r.id: r.d for r in df.select("id", extract_domain("url").alias("d")).collect()}
    assert got == {1: "blocked.com", 2: "blocked.com", 3: "ok.com"}

    kept = filter_by_domain(df, blocklist=["WWW.Blocked.COM"])
    assert [r.id for r in kept.collect()] == [3]
    bl = spark.createDataFrame([("www.Blocked.com",)], "domain string")
    kept2 = filter_by_domain(df, blocklist=bl)
    assert [r.id for r in kept2.collect()] == [3]


def test_filter_by_domain_subdomain_suffix(spark):
    """Blocklist entries cover SUBDOMAINS (suffix-inclusive matching):
    'blocked.com' blocks cdn.blocked.com too, but NOT the evasion shape
    blocked.com.evil.org (label-boundary suffix, not substring)."""
    df = spark.createDataFrame(
        [
            (1, "http://blocked.com/a"),
            (2, "http://cdn.blocked.com/b"),
            (3, "http://a.b.blocked.com/c"),
            (4, "http://notblocked.com/d"),
            (5, "http://blocked.com.evil.org/e"),
            (6, "garbage"),
        ],
        "id int, url string",
    )
    kept = filter_by_domain(df, blocklist=["blocked.com"])
    assert sorted(r.id for r in kept.collect()) == [4, 5, 6]
    # DataFrame-list form agrees (and normalizes case)
    bl = spark.createDataFrame([("Blocked.com",)], "domain string")
    kept2 = filter_by_domain(df, blocklist=bl)
    assert sorted(r.id for r in kept2.collect()) == [4, 5, 6]
    # allowlist: subdomains of an allowed domain are in; NULL-domain drops
    allowed = filter_by_domain(df, allowlist=["blocked.com"])
    assert sorted(r.id for r in allowed.collect()) == [1, 2, 3]
    al = spark.createDataFrame([("blocked.com",)], "domain string")
    allowed2 = filter_by_domain(df, allowlist=al)
    assert sorted(r.id for r in allowed2.collect()) == [1, 2, 3]
    # empty literal list: blocks nothing / allows nothing
    assert filter_by_domain(df, blocklist=[]).count() == 6
    assert filter_by_domain(df, allowlist=[]).count() == 0


def test_url_dedup_canon_col_collision_raises(spark):
    """A pre-existing canon_col column must raise, not be silently
    overwritten and dropped."""
    df = spark.createDataFrame(
        [(1, "http://a.com/", "keep-me")],
        "id int, url string, canonical_url string",
    )
    with pytest.raises(ValueError, match="canon_col"):
        url_dedup(df, "url")
    # a non-colliding name works and leaves the caller's column alone
    out = url_dedup(df, "url", canon_col="__c2")
    row = out.collect()[0]
    assert row["canonical_url"] == "keep-me"
    assert row["__c2"] == "http://a.com/"


def test_curate_preserves_existing_canonical_url_column(spark):
    """curate_corpus stage 0 uses a collision-proof temp column: a
    corpus that already carries 'canonical_url' keeps it verbatim."""
    from clickhouse_etl_spark.text import curate_corpus

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "http://a.com/x", "orig-1"),
            (2, "one two three four five six seven", "http://b.com/y", "orig-2"),
        ],
        "doc_id long, text string, url string, canonical_url string",
    )
    res = curate_corpus(df, url_col="url", min_tokens=2)
    got = {r.doc_id: r.canonical_url for r in res.corpus.collect()}
    assert got == {1: "orig-1", 2: "orig-2"}


def test_curate_rejects_blocklist_without_url(spark):
    from clickhouse_etl_spark.catalog import load_table
    from clickhouse_etl_spark.text import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="url_col"):
        curate_corpus(docs, domain_blocklist=["x.com"])


# DuckDB twin of _normalize_percent_encoding: split on '%', per-piece
# decode-unreserved / uppercase-hex via list_transform, re-join. The
# hex value is strpos arithmetic (DuckDB has no conv()); semantics, not
# code, are what must mirror.
_PCT_CODE = (
    "((strpos('0123456789ABCDEF', upper(p[1:1])) - 1) * 16"
    " + strpos('0123456789ABCDEF', upper(p[2:2])) - 1)"
)
_PCT_NORM_SQL = f"""
    string_split(u, '%')[1] || coalesce(list_aggregate(
      list_transform(string_split(u, '%')[2:], p ->
        CASE WHEN regexp_matches(p[1:2], '^[0-9A-Fa-f]{{2}}$') THEN
          CASE WHEN {_PCT_CODE} BETWEEN 48 AND 57
                 OR {_PCT_CODE} BETWEEN 65 AND 90
                 OR {_PCT_CODE} BETWEEN 97 AND 122
                 OR {_PCT_CODE} IN (45, 46, 95, 126)
          THEN chr(CAST({_PCT_CODE} AS INT)) || p[3:]
          ELSE '%' || upper(p[1:2]) || p[3:] END
        ELSE '%25' || p END),
      'string_agg', ''), '')
"""

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _ref_pct_norm(s):
    """Independent Python reference of the percent-normalization rules."""
    parts = s.split("%")
    out = [parts[0]]
    for p in parts[1:]:
        h = p[:2]
        if len(h) == 2 and all(c in "0123456789abcdefABCDEF" for c in h):
            code = int(h, 16)
            if chr(code) in _UNRESERVED:
                out.append(chr(code) + p[2:])
            else:
                out.append("%" + h.upper() + p[2:])
        else:
            out.append("%25" + p)
    return "".join(out)


def test_percent_normalization_matches_duckdb_bit_mirror(spark):
    """Spark's higher-order-function percent normalization == the DuckDB
    list_transform twin, over doc_id-driven escape soup (valid/invalid
    escapes, unreserved and reserved codes, dangling %)."""
    from clickhouse_etl_spark.text.web import _normalize_percent_encoding

    soup = """
        concat('/p', CAST(doc_id % 97 AS {S}), '%',
               substr('0123456789ABCDEFghijk%', CAST(doc_id % 22 AS INT) + 1, 1),
               substr('0123456789abcdefGHIJK', CAST(doc_id % 21 AS INT) + 1, 1),
               CASE WHEN doc_id % 3 = 0 THEN '%7e' ELSE '' END,
               CASE WHEN doc_id % 4 = 0 THEN '%2F' ELSE '' END,
               CASE WHEN doc_id % 5 = 0 THEN '%' ELSE '' END)
    """
    docs = load_table(spark, SF_DIR, "documents")
    out = docs.select(
        "doc_id",
        _normalize_percent_encoding(
            F.expr(soup.format(S="STRING"))
        ).alias("norm"),
    )
    dcols, drows = _oracle(f"""
        WITH raw AS (
          SELECT doc_id, {soup.format(S="VARCHAR")} AS u FROM documents
        )
        SELECT doc_id, {_PCT_NORM_SQL} AS norm FROM raw
    """)
    sc, sr = canon_rows(out.columns, [tuple(r) for r in out.collect()])
    dc, dr = canon_rows(dcols, drows)
    assert sc == dc and len(sr) == len(dr) and sr == dr


def test_fold_www_policy(spark):
    """fold_www=True merges www hosts with the bare domain; default
    keeps them distinct (opt-in policy)."""
    df = spark.createDataFrame(
        [(1, "http://www.example.com/a"), (2, "http://example.com/a"),
         (3, "https://WWW.Example.com/b?x=1")],
        "id int, url string",
    )
    base = {r.id: r.c for r in df.select(
        "id", canonicalize_url("url").alias("c")).collect()}
    assert base[1] == "http://www.example.com/a" != base[2]
    folded = {r.id: r.c for r in df.select(
        "id", canonicalize_url("url", fold_www=True).alias("c")).collect()}
    assert folded[1] == folded[2] == "http://example.com/a"
    assert folded[3] == "https://example.com/b?x=1"
    # url_dedup passthrough: with folding, 1 and 2 collapse
    out = url_dedup(df, "url", order_col="id", fold_www=True)
    assert out.filter(F.col("canonical_url").isNotNull()).count() == 2


def test_url_dedup_matches_duckdb_window(spark):
    """url_dedup's parsed branch == DuckDB ROW_NUMBER over the SAME
    canonicalization SQL — the crawl-dedup op gets its own value oracle."""
    out = url_dedup(_urls(spark, SF_DIR), "url", order_col="doc_id").select(
        "doc_id", "canonical_url"
    )
    dcols, drows = _oracle(f"""
    WITH canon AS ({_CANON_SQL}),
    u AS ({_URL_SQL})
    SELECT doc_id, canonical_url FROM (
      SELECT u.doc_id, c.canonical_url,
             ROW_NUMBER() OVER (PARTITION BY c.canonical_url
                                ORDER BY u.doc_id DESC, u.url DESC) AS rn
      FROM u JOIN canon c USING (doc_id)
      WHERE c.canonical_url IS NOT NULL
    ) WHERE rn = 1
    UNION ALL
    SELECT doc_id, NULL FROM canon WHERE canonical_url IS NULL
    """)
    sc, sr = canon_rows(out.columns, [tuple(r) for r in out.collect()])
    dc, dr = canon_rows(dcols, drows)
    assert sc == dc and len(sr) == len(dr) and sr == dr
