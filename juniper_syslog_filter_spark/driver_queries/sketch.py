"""Mergeable sketches: count-min, HyperLogLog and Bloom filter."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..operators import sketch as SK
from .common import query


_CMS_PROBES = ["table", "vector", "stream", "the", "nosuchword"]


@query(oracle=f"""
        {SK.cms_sql('documents', 'text', _CMS_PROBES, depth=4, width=1024)}
    """)
def q_cm1_count_min(spark, sf_dir):
    """Count-min sketch frequency estimation (operators/sketch.py):
    build the 4×1024 sketch over the token stream (one shuffle that
    map-side-combines to ≤ d·width keys — the reducer never sees the
    vocabulary, unlike the exact census t7), then point-query five
    probe terms and join the exact counts alongside. Engine-exact, not
    just approximate: the md5-derived bucket rule restates verbatim in
    SQL, so est values (including the ≥ exact one-sided overcounts)
    hash-match. The absent probe term pins the coalesce(0) path."""
    from ..operators.sketch import cms_build, cms_estimate

    d = load_table(spark, sf_dir, "documents")
    sketch = cms_build(d, "text", depth=4, width=1024)
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "term string")
    est = cms_estimate(sketch, probes, "term", depth=4, width=1024)
    exact = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .where(F.col("term").isin(_CMS_PROBES))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        F.col("est").cast("long").alias("est"),
        F.coalesce(F.col("exact"), F.lit(0)).cast("long").alias("exact"),
    )


@query(oracle=f"""
        SELECT e.est_hll, e.registers_hit, e.sum_scaled, x.exact_distinct
        FROM (
          {SK.hll_sql("SELECT CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS v FROM events", m=1024)}
        ) e,
        (
          SELECT count(DISTINCT CAST(user_id AS VARCHAR) || ':' ||
                       CAST(CAST(ts AS DATE) AS VARCHAR))::BIGINT AS exact_distinct
          FROM events
        ) x
    """)
def q_hl1_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (operators/sketch.py
    hll_build/hll_estimate) over the classic crawl/telemetry distinct:
    daily-active user-days. Exact countDistinct shuffles EVERY distinct
    key; the sketch is ONE aggregate that map-side combines to <= 1024
    registers per partition and merges across days/splits by per-register
    max — the reducer sees O(m) rows at any corpus size. Engine-exact,
    not approximately-equal: register/rho come from md5 string
    arithmetic (no float log2) and the estimator evaluates ONE shared
    SQL fragment in both engines, so est_hll, registers_hit and the
    2^41-scaled integer register sum all hash-match; the exact count
    rides along to show the ~1.04/sqrt(1024) error envelope."""
    from ..operators.sketch import hll_build, hll_estimate

    e = load_table(spark, sf_dir, "events")
    keys = e.select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("ts").cast("date").cast("string"),
        ).alias("v")
    )
    sk = hll_build(keys, "v", m=1024)
    est = hll_estimate(sk, m=1024)
    exact = keys.agg(F.countDistinct("v").alias("exact_distinct"))
    return est.crossJoin(exact)


@query(oracle=f"""
        {SK.bloom_sql(
            "SELECT DISTINCT text AS v FROM documents WHERE doc_id % 97 = 0",
            "SELECT doc_id, text, COALESCE(text IN (SELECT text FROM documents WHERE doc_id % 97 = 0), FALSE) AS exact_hit FROM documents",
            ["doc_id", "exact_hit"],
            "text",
            m_bits=64,
            k=2,
        )}
    """)
def q_bl1_bloom_filter(spark, sf_dir):
    """Bloom-filter membership pre-pass (operators/sketch.py
    bloom_build/bloom_probe) — the broadcast pruning step of a
    decontamination anti-join: the eval-benchmark texts (docs with
    doc_id % 97 == 0) key a filter whose set-bit array broadcasts as
    ONE row; every corpus doc then tests its k md5 positions with
    forall/array_contains IN THE SCAN STAGE — the corpus never
    shuffles, and only bloom candidates would reach the exact join.
    Deliberately undersized here (m=64 bits, k=2 for ~6 keys) so false
    positives EXIST and the sketch itself is pinned by the oracle —
    bloom_hit differs from exact_hit on FP rows; exact_hit rides along
    via a broadcast semi-mark to show no-false-negatives. Real sizing:
    m ≥ ~10n bits for ~1% FP at k=4 (docstring rule)."""
    from ..operators.sketch import bloom_build, bloom_probe

    d = load_table(spark, sf_dir, "documents")
    keyed = (
        d.where(F.col("doc_id") % 97 == 0)
        .select(F.col("text").alias("v"))
        .distinct()
    )
    bloom = bloom_build(keyed, "v", m_bits=64, k=2)
    pb = (
        d.select("doc_id", "text")
        .join(
            F.broadcast(keyed.withColumn("_in", F.lit(1))),
            F.col("text") == F.col("v"),
            "left",
        )
        .select("doc_id", "text", F.col("_in").isNotNull().alias("exact_hit"))
    )
    return bloom_probe(bloom, pb, "text", m_bits=64, k=2).select(
        "doc_id", "bloom_hit", "exact_hit"
    )
