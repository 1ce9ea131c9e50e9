"""Web-graph queries: link extraction, PageRank and the crawl
frontier."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import pagerank, pagerank_step
from .common import query
from .urlfilter import _docs_with_url, _URL_SQL


# Shared anchor-snippet definition (SQL twin of _docs_with_links): two
# <a href> outlinks per page whose target hosts are affine functions of
# doc_id (coprime multipliers → every host pair occurs), with mixed
# host case so extraction must normalize. 3*id+1 and 5*id+2 mod 13 keep
# the 13-host graph strongly connected and free of fixed patterns.
_ANCHORS_SQL = """
    '<p>Read <a href="https://'
        || CASE WHEN doc_id % 3 = 0 THEN 'News' ELSE 'news' END
        || ((doc_id * 3 + 1) % 13)::VARCHAR || '.Example.com/l/'
        || (doc_id % 7)::VARCHAR
        || '">next</a> and <a href="https://news'
        || ((doc_id * 5 + 2) % 13)::VARCHAR || '.example.com/l/'
        || (doc_id % 11)::VARCHAR || '">more</a>.</p>'
"""


def _docs_with_links(spark, sf_dir):
    """documents + url + the deterministic anchor-HTML column
    (:data:`_ANCHORS_SQL` twin)."""
    d = _docs_with_url(spark, sf_dir)
    anchors = F.concat(
        F.lit('<p>Read <a href="https://'),
        F.when(F.col("doc_id") % 3 == 0, F.lit("News")).otherwise(F.lit("news")),
        ((F.col("doc_id") * 3 + 1) % 13).cast("string"),
        F.lit(".Example.com/l/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('">next</a> and <a href="https://news'),
        ((F.col("doc_id") * 5 + 2) % 13).cast("string"),
        F.lit(".example.com/l/"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit('">more</a>.</p>'),
    )
    return d.withColumn("anchors", anchors)


@query(oracle=f"""
        WITH a AS (
          SELECT {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors FROM documents
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        )
        SELECT src_host, dst_host, count(*) AS n_links
        FROM e GROUP BY 1, 2
    """)
def q_lg1_link_extract(spark, sf_dir):
    """Outlink extraction + host-level edge census — the step that
    builds the web graph out of crawled pages: ``regexp_extract_all``
    pulls every ``href`` from the page HTML (JVM regex, whole-stage
    codegen — the extraction itself never touches Python), explode,
    normalize both endpoint hosts, then ONE partial+final aggregate on
    the (src_host, dst_host) edge key. At 100 TB this is a map-only
    pass over the crawl plus a single edge-keyed shuffle whose output
    (the host graph) is corpus-dwarfed."""
    d = _docs_with_links(spark, sf_dir)
    e = d.select(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("src_host"),
        F.explode(
            F.regexp_extract_all(
                F.col("anchors"), F.lit(r'href="([^"]+)"'), F.lit(1)
            )
        ).alias("href"),
    )
    return (
        e.select(
            "src_host",
            F.lower(F.parse_url(F.col("href"), F.lit("HOST"))).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


@query(oracle=f"""
        WITH a AS (
          SELECT {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors FROM documents
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        ),
        edges AS (
          SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
          FROM e GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        contrib AS (
          SELECT dst, sum(w / outw) AS cin
          FROM edges JOIN outw USING (src) GROUP BY 1
        )
        SELECT node,
               round(0.15 / nn.n + 0.85 / nn.n * coalesce(c.cin, 0), 9) AS pagerank
        FROM nodes CROSS JOIN nn LEFT JOIN contrib c ON c.dst = nodes.node
    """)
def q_gr1_pagerank_step(spark, sf_dir):
    """One PageRank power iteration over the lg1 host graph
    (operators/graph.pagerank_step): weighted out-degree, co-shuffled
    contribution join, in-sum, teleport term via a broadcast 1-row N —
    no driver-side vector, no collect. Host authority is the standard
    crawl-prioritization / quality-weighting signal."""
    edges = q_lg1_link_extract(spark, sf_dir)
    return pagerank_step(
        edges, "src_host", "dst_host", weight="n_links"
    ).withColumnRenamed("rank", "pagerank")


_PR_ITERS = 5


def _pagerank_oracle_sql(
    iters: int, damping: float = 0.85, dangling: bool = False
) -> str:
    """Unrolled-CTE DuckDB twin of operators/graph.pagerank over the
    lg1 host graph: r_{t+1}(v) = (1-d)/N + d·Σ P(u,v)·r_t(u). The
    teleport constant is emitted as the exact repr of the Python double
    ``1.0 - damping`` so both engines fold the identical IEEE value.
    ``dangling=True`` mirrors pagerank(dangling=True): each round adds
    d·D_t/N where D_t = Σ rank over sink nodes, quantized to 12
    decimals in both engines so the match can't hinge on float
    summation order."""
    one_minus_d = repr(1.0 - damping)
    rounds = []
    for t in range(1, iters + 1):
        if dangling:
            rounds.append(f"""
        d{t} AS (
          SELECT round(coalesce(sum(rank), 0), 12) AS dm
          FROM r{t - 1}
          WHERE node NOT IN (SELECT src FROM outw)
        ),
        r{t} AS (
          SELECT node,
                 CAST({one_minus_d} AS DOUBLE) / nn.n
                   + {damping} * (coalesce(c.cin, 0) + d{t}.dm / nn.n)
                     AS rank
          FROM nodes CROSS JOIN nn CROSS JOIN d{t}
          LEFT JOIN (
            SELECT dst, sum(p * rank) AS cin
            FROM pe JOIN r{t - 1} ON r{t - 1}.node = pe.src GROUP BY 1
          ) c ON c.dst = nodes.node
        )""")
            continue
        rounds.append(f"""
        r{t} AS (
          SELECT node,
                 CAST({one_minus_d} AS DOUBLE) / nn.n
                   + {damping} * coalesce(c.cin, 0) AS rank
          FROM nodes CROSS JOIN nn
          LEFT JOIN (
            SELECT dst, sum(p * rank) AS cin
            FROM pe JOIN r{t - 1} ON r{t - 1}.node = pe.src GROUP BY 1
          ) c ON c.dst = nodes.node
        )""")
    return f"""
        WITH a AS (
          SELECT {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors FROM documents
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        ),
        edges AS (
          SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
          FROM e GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        pe AS (
          SELECT src, dst, w / outw AS p FROM edges JOIN outw USING (src)
        ),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
        {",".join(rounds)}
        SELECT node, round(rank, 9) AS pagerank FROM r{iters}
    """


@query(oracle=_pagerank_oracle_sql(_PR_ITERS))
def q_gr2_pagerank(spark, sf_dir):
    """Full iterative PageRank (operators/graph.pagerank, 5 power
    iterations) over the lg1 host graph — the converging solver whose
    single round gr1 isolates. The transition matrix is built once,
    checkpointed, and pre-partitioned on src; every iteration is one
    co-partitioned join + one partial aggregate + a per-round
    ``localCheckpoint`` lineage truncation. The oracle is the same
    recurrence unrolled into 5 CTE layers, so the match is value-exact
    (to the shared round-9 output quantization), not rows-only —
    iterative dataflow is still oracle-checkable when the iteration
    count is pinned."""
    edges = q_lg1_link_extract(spark, sf_dir)
    r = pagerank(edges, "src_host", "dst_host", weight="n_links", iters=_PR_ITERS)
    return r.select("node", F.round("rank", 9).alias("pagerank"))


@query(oracle=_pagerank_oracle_sql(_PR_ITERS, dangling=True))
def q_gr3_pagerank_dangling(spark, sf_dir):
    """Mass-conserving PageRank (operators/graph.pagerank with
    dangling=True, 5 power iterations) over the lg1 host graph — the
    form that is CORRECT on sink-heavy real web graphs: each round
    redistributes the dangling (no-outlink) nodes' rank d·D_t/N, so
    total rank sums to exactly 1 every iteration instead of leaking
    (gr2 pins the leaking textbook recurrence; this pins the conserving
    one). The sink set is one node-sized anti-join computed once; per
    round D_t is a semi-join + 1-row broadcast aggregate — no extra
    corpus-scale shuffle vs gr2. Oracle: the same unrolled CTE with a
    per-round dangling-sum term, D_t quantized to 12 decimals in both
    engines (float-summation-order independence)."""
    edges = q_lg1_link_extract(spark, sf_dir)
    r = pagerank(
        edges,
        "src_host",
        "dst_host",
        weight="n_links",
        iters=_PR_ITERS,
        dangling=True,
    )
    return r.select("node", F.round("rank", 9).alias("pagerank"))


@query(oracle=f"""
        WITH a AS (
          SELECT doc_id, {_URL_SQL} AS url, {_ANCHORS_SQL} AS anchors
          FROM documents
        ),
        hrefs AS (
          SELECT unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)) AS href
          FROM a
          UNION ALL
          SELECT 'https://news' || ((doc_id * 7 + 3) % 13)::VARCHAR
                   || '.example.com/article/' || (doc_id % 25)::VARCHAR
          FROM a
        ),
        cand AS (
          SELECT DISTINCT regexp_replace(regexp_replace(
                   lower(href), '^https?://', ''), '/$', '') AS norm_url
          FROM hrefs
        ),
        crawled AS (
          SELECT DISTINCT regexp_replace(regexp_replace(regexp_replace(
                   lower(url), '^https?://', ''), '[?#].*$', ''), '/$', '')
                 AS norm_url
          FROM a
        ),
        frontier AS (
          SELECT norm_url FROM cand
          WHERE norm_url NOT IN (SELECT norm_url FROM crawled)
        ),
        e AS (
          SELECT lower(split_part(split_part(url, '//', 2), '/', 1)) AS src_host,
                 lower(split_part(split_part(
                   unnest(regexp_extract_all(anchors, 'href="([^"]+)"', 1)),
                   '//', 2), '/', 1)) AS dst_host
          FROM a
        ),
        edges AS (
          SELECT src_host AS src, dst_host AS dst, CAST(count(*) AS DOUBLE) AS w
          FROM e GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
        contrib AS (
          SELECT dst, sum(w / outw) AS cin
          FROM edges JOIN outw USING (src) GROUP BY 1
        ),
        rankt AS (
          SELECT node,
                 round(0.15 / nn.n + 0.85 / nn.n * coalesce(c.cin, 0), 9)
                   AS pagerank
          FROM nodes CROSS JOIN nn LEFT JOIN contrib c ON c.dst = nodes.node
        )
        SELECT split_part(f.norm_url, '/', 1) AS host, f.norm_url, r.pagerank
        FROM frontier f
        JOIN rankt r ON r.node = split_part(f.norm_url, '/', 1)
    """)
def q_fr1_frontier(spark, sf_dir):
    """Crawl-frontier prioritization — the web-pipeline step that picks
    what to fetch next. Each page emits its two /l/ outlinks plus an
    article back-link; candidates are normalized (lowercased host,
    trailing-slash strip), anti-joined against the crawled corpus's
    normalized URL set (removing every already-fetched article — the
    anti-join provably fires: all 325 (host, article) combos are
    crawled at any sf), and the survivors are priority-tagged with
    their target host's PageRank via a broadcast join (13 hosts — a
    rank table is always corpus-dwarfed). One distinct shuffle for the
    candidate set; the anti-join broadcasts whichever side is small
    under AQE; no Python anywhere."""
    d = _docs_with_links(spark, sf_dir)
    backlink = F.concat(
        F.lit("https://news"),
        ((F.col("doc_id") * 7 + 3) % 13).cast("string"),
        F.lit(".example.com/article/"),
        (F.col("doc_id") % 25).cast("string"),
    )
    hrefs = d.select(
        F.explode(
            F.array_union(
                F.regexp_extract_all(
                    F.col("anchors"), F.lit(r'href="([^"]+)"'), F.lit(1)
                ),
                F.array(backlink),
            )
        ).alias("href")
    )
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("href")), r"^https?://", ""), r"/$", ""
    )
    cand = hrefs.select(norm.alias("norm_url")).distinct()
    crawled = _docs_with_url(spark, sf_dir).select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), r"^https?://", ""),
                r"[?#].*$",
                "",
            ),
            r"/$",
            "",
        ).alias("norm_url")
    )
    frontier = cand.join(crawled, "norm_url", "left_anti")
    ranks = q_gr1_pagerank_step(spark, sf_dir).withColumnRenamed("node", "host")
    host = F.substring_index(F.col("norm_url"), "/", 1).alias("host")
    return (
        frontier.select("norm_url", host)
        .join(F.broadcast(ranks), "host")
        .select("norm_url", "host", "pagerank")
    )
