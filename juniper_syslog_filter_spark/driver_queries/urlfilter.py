"""URL queries over a URL column synthesized from ``documents``: host
stats, blocklist, robots rules, canonicalization and URL dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..operators.urlfilter import canonicalize_url_sql as _canon_sql
from .common import query


# Shared url definition (SQL twin of _docs_with_url): host case varies
# with doc_id parity, the path ends in a trailing slash, and the query
# + fragment carry per-doc noise — so host extraction (h1) and URL
# normalization (d8) both have real work to do. host mod 13 x path
# mod 25 means ids 325 apart collide post-normalization (175 dup
# groups in the 500-doc sf0.01 table).
_URL_SQL = """
    'https://' || CASE WHEN doc_id % 2 = 0 THEN 'News' ELSE 'news' END
        || (doc_id % 13)::VARCHAR || '.Example.com'
        || '/article/' || (doc_id % 25)::VARCHAR
        || '/?utm_source=' || source || '&id=' || doc_id::VARCHAR || '#top'
"""


def _docs_with_url(spark, sf_dir):
    """documents + the deterministic url column (:data:`_URL_SQL` twin)."""
    d = load_table(spark, sf_dir, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("News")).otherwise(F.lit("news")),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(".Example.com"),
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/article/"),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("/?utm_source="),
        F.col("source"),
        F.lit("&id="),
        F.col("doc_id").cast("string"),
        F.lit("#top"),
    )
    return d.withColumn("url", url)


@query(oracle=f"""
        WITH u AS (SELECT {_URL_SQL} AS url, n_chars, lang FROM documents)
        SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS host,
               count(*) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM u GROUP BY 1
    """)
def q_h1_host_stats(spark, sf_dir):
    """Per-host census over Common-Crawl-style URLs: JVM ``parse_url``
    host extraction (no Python, stays in whole-stage codegen),
    lowercased, then ONE partial+final aggregate on the host key. The
    hot-host distribution this emits is exactly what sizes the salting
    in sj1/pipeline at real scale — at 100 TB it is the first census a
    crawl pipeline runs."""
    d = _docs_with_url(spark, sf_dir)
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host")
    return (
        d.select(host, "n_chars", "lang")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@query(oracle="""
        WITH d AS (
          SELECT doc_id,
                 lower(CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END
                       || 'news' || (doc_id % 13)::VARCHAR
                       || '.example.com') AS host
          FROM documents
        ),
        bl(entry) AS (VALUES ('news3.example.com'), ('news7.example.com'),
                             ('ads.example.com')),
        blocked AS (
          SELECT DISTINCT d.host FROM d, bl
          WHERE d.host = bl.entry OR d.host LIKE '%.' || bl.entry
        )
        SELECT d.doc_id, d.host, (b.host IS NOT NULL) AS blocked
        FROM d LEFT JOIN blocked b USING (host)
    """)
def q_fl2_domain_blocklist(spark, sf_dir):
    """UT1/RefinedWeb-style domain-blocklist filter: hosts get a third
    label on doc_id % 3 == 0 (``cdn.news<k>.example.com``) so the
    blocklist exercises BOTH semantics — exact host and label-boundary
    suffix. The blocked-host set is computed on the distinct-host
    universe (tiny vs the corpus) and broadcast back; the corpus
    lineage is scan → broadcast join (operators/urlfilter.py)."""
    from ..operators.urlfilter import mark_blocked

    d = load_table(spark, sf_dir, "documents")
    host = F.lower(
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("cdn.")).otherwise(F.lit("")),
            F.lit("news"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.com"),
        )
    )
    bl = spark.createDataFrame(
        [("news3.example.com",), ("news7.example.com",), ("ads.example.com",)],
        "entry string",
    )
    return mark_blocked(d.select("doc_id", host.alias("host")), bl).select(
        "doc_id", "host", "blocked"
    )


@query(oracle=f"""
    SELECT doc_id, {_canon_sql(_URL_SQL)} AS url_canon
    FROM documents
""")
def q_fl4_url_canonicalize(spark, sf_dir):
    """URL canonicalization (operators/urlfilter.canonicalize_url) —
    the normalize-before-anything pass frontier dedup, URL dedup (d8)
    and blocklist matching (fl2) all key on: lowercase scheme+host,
    default-port strip, fragment drop, trailing-slash-normalized path,
    tracking params removed and survivors sorted. One Catalyst
    expression, map-only, zero shuffles (plan-pinned); the DuckDB twin
    shares every regex (RE2-safe by construction). Emits (doc_id,
    url_canon) — the canonical string IS the dup-group key downstream
    stages group on."""
    from ..operators.urlfilter import canonicalize_url

    d = _docs_with_url(spark, sf_dir)
    return d.select(
        "doc_id", canonicalize_url(F.col("url")).alias("url_canon")
    )


@query(oracle="""
        WITH d AS (
          SELECT doc_id,
                 'news' || (doc_id % 13)::VARCHAR || '.example.com' AS host,
                 '/article/' || (doc_id % 25)::VARCHAR || '/' AS path
          FROM documents
        ),
        ru(host, rule_path, allow) AS (VALUES
          ('news1.example.com', '/article/1', FALSE),
          ('news1.example.com', '/article/1/', TRUE),
          ('news2.example.com', '/', FALSE),
          ('news2.example.com', '/article/7/', TRUE)
        ),
        c AS (
          SELECT d.doc_id, ru.allow,
                 row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY length(ru.rule_path) DESC, ru.allow DESC,
                            ru.rule_path DESC
                 ) AS rn
          FROM d JOIN ru ON d.host = ru.host
                        AND starts_with(d.path, ru.rule_path)
        )
        SELECT d.doc_id, d.host, d.path, COALESCE(c.allow, TRUE) AS allowed
        FROM d LEFT JOIN (SELECT doc_id, allow FROM c WHERE rn = 1) c
        USING (doc_id)
    """)
def q_fl3_robots_rules(spark, sf_dir):
    """robots.txt rule-precedence filter (operators/urlfilter.py
    robots_verdict): longest-prefix wins, allow beats disallow on
    ties, unruled hosts pass. The rule set exercises the spec's
    non-segment-aware prefix subtlety ('/article/1' also matches
    '/article/12/') and the allow-overrides-disallow-on-longer-prefix
    case. Rules broadcast as one array row per host; the verdict is
    map-side (zero corpus Exchange)."""
    from ..operators.urlfilter import robots_verdict

    d = _docs_with_url(spark, sf_dir)
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    corpus = d.select("doc_id", host.alias("host"), path.alias("path"))
    rules = spark.createDataFrame(
        [
            ("news1.example.com", "/article/1", False),
            ("news1.example.com", "/article/1/", True),
            ("news2.example.com", "/", False),
            ("news2.example.com", "/article/7/", True),
        ],
        "host string, rule_path string, allow boolean",
    )
    return robots_verdict(corpus, rules).select(
        "doc_id", "host", "path", "allowed"
    )


@query(oracle=f"""
        WITH u AS (SELECT {_URL_SQL} AS url, doc_id FROM documents),
        n AS (
          SELECT lower(regexp_replace(regexp_replace(regexp_replace(
                   url, '^https?://', ''), '[?#].*$', ''), '/$', '')) AS norm_url,
                 doc_id
          FROM u
        )
        SELECT norm_url, count(*) AS n_dupes, min(doc_id) AS keeper_doc
        FROM n GROUP BY 1 HAVING count(*) > 1
    """)
def q_d8_url_dedup(spark, sf_dir):
    """URL-normalization dup census — the web-crawl twin of d1 and the
    first, cheapest dedup pass a crawl pipeline runs (one shuffle on
    the normalized key, no content hashing): strip scheme, query and
    fragment, drop the trailing slash, lowercase, then report groups
    with >1 raw url and the kept (min) doc_id."""
    d = _docs_with_url(spark, sf_dir)
    norm = F.lower(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("url"), "^https?://", ""),
                "[?#].*$",
                "",
            ),
            "/$",
            "",
        )
    ).alias("norm_url")
    return (
        d.select(norm, "doc_id")
        .groupBy("norm_url")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .where(F.col("n_dupes") > 1)
    )
