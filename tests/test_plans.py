"""Physical-plan audits: assert the optimizations the 100-TB design
depends on actually appear in the executed plan — partition pruning on
the route-partitioned sink, parquet filter/column pushdown, broadcast
(not sort-merge) dim joins, no nested-loop joins in the banded range
join, and WindowGroupLimit pushdown in the quota sampler. A regression
in any of these is invisible at test scale but fatal at cluster scale,
which is exactly why they're pinned here."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.datagen import load_table, write_pages
from juniper_syslog_filter_spark.driver_queries import QUERIES
from juniper_syslog_filter_spark.pipeline import run_pipeline

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_routed_sink_partition_pruning(spark, tmp_path):
    """Reading one severity from the fan-out sink must prune partitions
    (PartitionFilters on Severity), not scan-and-filter."""
    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 2000, num_partitions=4)
    run_pipeline(spark, pages, str(tmp_path / "out"), incremental=False)
    routed = spark.read.parquet(str(tmp_path / "out" / "routed"))
    q = routed.filter(F.col("Severity") == "CRITICAL")
    plan = _plan(q)
    assert "PartitionFilters" in plan
    # the Severity predicate lands in PartitionFilters, not PushedFilters
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "Severity" in pf
    assert q.count() > 0


def test_parquet_scan_pushdown_and_pruning(spark):
    """A 2-column projection + filter must reach the scan: ReadSchema
    carries only the projected columns, PushedFilters the predicate."""
    q = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_totalprice") > 100.0)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(q)
    rs = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_orderkey" in rs and "o_totalprice" in rs
    assert "o_orderdate" not in rs, "column pruning failed"
    pf = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "o_totalprice" in pf, "predicate pushdown failed"


def test_enrich_join_is_broadcast_not_sortmerge(spark):
    plan = _plan(QUERIES["j1_broadcast_enrich"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_has_no_nested_loop(spark):
    plan = _plan(QUERIES["w5_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quota_sampler_has_windowgrouplimit_pushdown(spark):
    """Catalyst must insert the partial top-k below the shuffle (the
    property group_quota's single-window design relies on)."""
    plan = _plan(QUERIES["sm1_source_quota"](spark, SF))
    assert "WindowGroupLimit" in plan
    partial_idx = plan.find("Partial")
    exchange_idx = plan.find("Exchange hashpartitioning")
    assert partial_idx != -1 and exchange_idx != -1
    # plans print top-down: the Partial limit appears BELOW (after) the
    # Exchange line in text, meaning it executes before the shuffle
    assert partial_idx > exchange_idx


def test_semi_anti_join_no_payload_fanout(spark):
    """j3 must plan as semi/anti hash joins (existence checks), never an
    inner join + distinct."""
    plan = _plan(QUERIES["j3_semi_anti"](spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # an inner-join-then-distinct formulation would show an aggregate
    assert "HashAggregate" not in plan


def test_shipping_priority_topk_is_take_ordered(spark):
    """j4's top-10 must be TakeOrderedAndProject (per-partition heaps),
    never a global Sort + Limit, and its scans must carry the pushed
    segment/date predicates."""
    plan = _plan(QUERIES["j4_shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1].splitlines()[0]


def test_contamination_bench_side_is_broadcast(spark):
    """ct1's benchmark gram set must broadcast — the corpus side streams
    map-side; a SortMergeJoin here would shuffle every corpus gram."""
    plan = _plan(QUERIES["ct1_contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_train_split_is_narrow_projection(spark):
    """sp1's split assignment adds no shuffle beyond the final census
    aggregate: exactly one Exchange (for the groupBy), no Sort, no join."""
    plan = _plan(QUERIES["sp1_train_split"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_split_leakage_no_corpus_rejoin(spark):
    """ct2 computes both sides' split assignments map-side on the pair
    set: the only joins in the plan are the dedup machinery's own
    (bucket self-join + two signature lookups) — adding the audit must
    NOT introduce a 4th join back to documents."""
    pairs_plan = _plan(QUERIES["d2_minhash_lsh"](spark, SF))
    audit_plan = _plan(QUERIES["ct2_split_leakage"](spark, SF))
    n_joins = lambda p: sum(p.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins(audit_plan) == n_joins(pairs_plan)


def test_pii_redact_is_map_only(spark):
    """t9's redaction chain must be a narrow codegen'd JVM projection:
    no key shuffle, no join, zero Python. The only allowed Exchange is
    the small-input round-robin fan-out (_events_with_msg — a bench-
    scale artifact; a real scan has enough splits to skip it)."""
    df = QUERIES["t9_pii_redact"](spark, SF)
    df.collect()  # finalize the adaptive plan so codegen markers print
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "hashpartitioning" not in plan, "PII redaction must not key-shuffle"
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEvalPython" not in plan
    # codegen'd operators print with a "*(n)" stage marker
    assert "*(" in plan, "projection not codegen'd"


def test_passage_dedup_no_cartesian(spark):
    """d7's occurrence join must be a hash join (AQE broadcast or
    shuffled), never a nested-loop/cartesian pair explosion."""
    plan = _plan(QUERIES["d7_passage_dedup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_unigram_logprob_joins(spark):
    """t10: the only nested-loop is the deliberate broadcast of the
    1-row corpus total; the token->logp join must be a hash join."""
    plan = _plan(QUERIES["t10_unigram_logprob"](spark, SF))
    assert "CartesianProduct" not in plan
    nl = plan.count("BroadcastNestedLoopJoin")
    assert nl <= 1, f"unexpected nested-loop joins: {nl}"
    assert "HashJoin" in plan


def test_salted_join_spreads_hot_key(spark):
    """sj1: the join must be a ShuffledHashJoin keyed on (source, _salt)
    — the physical spread is the operator's whole point — and must NOT
    collapse to a broadcast (which would make the salt a no-op)."""
    plan = _plan(QUERIES["sj1_salted_skew_join"](spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "_salt" in plan.split("ShuffledHashJoin")[0].splitlines()[-1] or "_salt" in plan
    # both JOIN-input exchanges carry the composite (key, salt)
    # partitioning (the third exchange is the dim's own groupBy)
    ex = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning" in ln and "_salt" in ln
    ]
    assert len(ex) == 2 and all("source" in ln for ln in ex)


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """Runtime semi-join reduction: joining a big fact to a selectively
    filtered build side must inject a bloom filter (bloom_filter_agg on
    the build side, might_contain on the fact scan) so fact rows that
    cannot join die at the scan, not at the shuffle. Fires by default
    once the fact side exceeds 10 GB
    (spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold);
    floored here so the pin works at test scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, "no runtime filter on the fact scan"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: a partitioned fact joined to a dim filtered on a NON-key
    column must prune fact partitions at runtime (dynamicpruning
    subquery in PartitionFilters) — the scan reads only severities the
    dim filter admits, which at 100 TB is the difference between
    scanning one partition and scanning the table."""
    fact = spark.createDataFrame(
        [(s, i) for i, s in enumerate(["CRITICAL", "WARNING", "INFO"] * 50)],
        "Severity string, v int",
    )
    path = str(tmp_path / "dpp_fact")
    fact.write.partitionBy("Severity").parquet(path)
    dim = spark.createDataFrame(
        [("CRITICAL", 2), ("WARNING", 4), ("INFO", 6)],
        "Severity string, level int",
    ).filter(F.col("level") < 3)
    j = spark.read.parquet(path).join(dim, "Severity")
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), "no DPP on partitioned scan"
    assert j.count() == 50


def test_classifier_weights_are_broadcast(spark):
    """ml1: the 256-row weight table must ride a BroadcastHashJoin (the
    model moves, the corpus doesn't) — a SortMergeJoin here would
    shuffle the exploded token stream against a 256-row dim."""
    plan = _plan(QUERIES["ml1_quality_classifier"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winnowing_is_map_only(spark):
    """wn1: the fingerprint pass is one Arrow eval over the scan —
    any Exchange means a shuffle crept into a per-doc map."""
    plan = _plan(QUERIES["wn1_winnowing"](spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_sign_projection_is_map_only(spark):
    plan = _plan(QUERIES["rp1_sign_projection"](spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_bm25_topk_is_take_ordered_zero_corpus_shuffle(spark):
    """iv2: the only Exchange is the single-row stats reduction; the
    corpus itself never shuffles, and the top-k is
    TakeOrderedAndProject (per-partition k before the driver merge)."""
    plan = _plan(QUERIES["iv2_bm25"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # exactly one shuffle Exchange: the stats single-row aggregate
    import re

    n_shuffles = len(re.findall(r"(?<!Broadcast)Exchange\b", plan))
    assert n_shuffles <= 1, plan[:2000]


def test_cms_sketch_is_broadcast_to_probes(spark):
    """cm1: the sketch (<= d*width rows) joins the probe side via
    broadcast; the token stream reduces through map-side combine
    (partial HashAggregate below the Exchange)."""
    plan = _plan(QUERIES["cm1_count_min"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_reduces_through_mapside_combine(spark):
    """hl1: the sketch aggregate must show a partial HashAggregate below
    its Exchange (the reducer sees <= m register keys, never the
    distinct stream), and the estimate side joins the 1-row exact count
    without a sort-merge."""
    plan = _plan(QUERIES["hl1_hll_distinct"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    import re

    # register agg + countDistinct's two exchanges; no corpus-sized join
    n_shuffles = len(re.findall(r"(?<!Broadcast)Exchange\b", plan))
    assert n_shuffles <= 4, plan[:2000]


def test_weighted_sample_is_take_ordered(spark):
    """sm2: the weighted sample must compile to TakeOrderedAndProject
    (per-partition heaps, k rows move) — no global Sort, no Exchange of
    the corpus."""
    plan = _plan(QUERIES["sm2_weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan
    import re

    assert not re.search(r"(?<!Broadcast)Exchange\b", plan), plan[:2000]


def test_bloom_probe_corpus_never_shuffles(spark):
    """bl1: the corpus lineage (scan → broadcast exact-mark join →
    broadcast bits join → project) must contain no non-broadcast
    Exchange — the membership test runs in the scan stage."""
    plan = _plan(QUERIES["bl1_bloom_filter"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    import re

    # allowed shuffles: the keyed side's distinct + its collect_set agg
    # (both over <= a handful of eval rows); the corpus branch above the
    # scan must be Exchange-free. Split at the BNLJ: everything BEFORE
    # it is the probe-side lineage in the string rendering.
    probe_branch = plan.split("BroadcastNestedLoopJoin")[0]
    assert not re.search(r"(?<!Broadcast)Exchange\b", probe_branch), plan[:2000]


def test_substring_spans_one_window_no_cartesian(spark):
    """d13: the pair join is gram-keyed (hash join, never a cartesian /
    nested loop), the only Window exchange is (doc_a, doc_b, diag), and
    the final span aggregate reuses that partitioning — grouping keys
    (doc_a, doc_b, diag, island) are a superset, so zero extra
    Exchanges after the window."""
    plan = _plan(QUERIES["d13_substring_spans"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window ") == 1
    # exactly one exchange on the pair key, none between it and the agg
    import re

    pair_ex = [
        ln for ln in plan.splitlines()
        if re.search(r"Exchange hashpartitioning\(doc_a", ln)
    ]
    assert len(pair_ex) == 1, plan[:2000]
    # min_len filter sits above the partial agg, not post-collect
    assert "span_words" in plan


def test_within_doc_repeats_is_map_only(spark):
    """d14: every byte the operator needs is co-located in the document
    row, so the plan must be one Arrow kernel over the scan — no join,
    no window, no hash Exchange (the only allowed Exchange is the
    demo-scale round-robin split guard, which is partitioning-neutral)."""
    plan = _plan(QUERIES["d14_within_doc_repeats"](spark, SF))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "hashpartitioning" not in plan


def test_pq_ann_corpus_never_shuffles(spark):
    """s6: PQ encode + ADC scoring run map-side against two broadcast
    one-row tables; the corpus lineage ends in TakeOrderedAndProject
    with no hash Exchange on the corpus key. The only exchanges in the
    whole plan belong to the kilobyte codebook/query-table builds."""
    plan = _plan(QUERIES["s6_pq_ann"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    import re

    assert not re.search(r"Exchange hashpartitioning\(vec_id", plan), plan[:2000]
    # ancestors of the broadcast join (project + top-k) are Exchange-free
    head = plan.split("BroadcastNestedLoopJoin")[0]
    assert not re.search(r"(?<!Broadcast)Exchange\b", head), plan[:1500]


def test_grouped_map_single_exchange(spark):
    """g1: groupBy().applyInPandas = ONE hash Exchange on the group key
    feeding FlatMapGroupsInPandas — no sort-merge machinery, no second
    shuffle."""
    plan = _plan(QUERIES["g1_grouped_ols"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:2000]


def test_cogroup_one_exchange_per_side(spark):
    """g3: cogroup = one hash Exchange per input on the shared key into
    FlatMapCoGroupsInPandas; no join operator, no extra shuffles."""
    plan = _plan(QUERIES["g3_cogroup_asof"](spark, SF))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan[:2000]


def test_tpch_join_shapes_stable_under_aqe_stat_changes(spark):
    """Round-4 ask: the TPC-H-shaped joins are the one plan family
    whose shape comes from size ESTIMATION, not explicit hints — pin
    that the shape survives a statistics change. Repartitioning both
    fact sides replaces their parquet-scan stats with shuffle-stage
    estimates; under AQE (final plan) the small dims must still arrive
    broadcast, the big fact⋈fact join must stay a shuffle join (never
    a broadcast of either repartitioned fact), and no nested-loop /
    cartesian fallback may appear. Threshold 4 KB on a cloned session
    so only genuinely dim-sized inputs qualify at sf0.001."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "4096")
    c = load_table(s, SF, "customer")
    o = load_table(s, SF, "orders").repartition(16)
    l = load_table(s, SF, "lineitem").repartition(16)
    n = load_table(s, SF, "nation")
    r = load_table(s, SF, "region")
    q = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q.collect()  # AQE finalizes the plan only after execution
    full = _plan(q)
    assert "isFinalPlan=true" in full
    final = full.split("== Initial Plan ==")[0]
    # nation + region ride in broadcast (customer may too once AQE sees
    # its true runtime size — that's correct behaviour, not pinned)
    assert final.count("BroadcastHashJoin") >= 2
    # the repartitioned fact pair keeps a shuffle join on the key
    fact_join = [
        ln for ln in final.splitlines()
        if "Join" in ln and "l_orderkey" in ln
    ]
    assert fact_join and all(
        "BroadcastHashJoin" not in ln for ln in fact_join
    ), fact_join
    assert "NestedLoop" not in final and "CartesianProduct" not in final


def test_paragraph_dedup_two_linear_exchanges(spark):
    """d16 (CCNet paragraph dedup) must cost exactly two linear
    shuffles — the fingerprint window election and the doc-id
    reassembly — with no join (the election is a window, not a
    self-join) and no cartesian term."""
    plan = _plan(QUERIES["d16_paragraph_dedup"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Window" in plan
    assert "Join" not in plan and "Cartesian" not in plan


def test_url_canonicalize_is_map_only(spark):
    """fl4 is one Catalyst expression over the scan — no Exchange, no
    Python anywhere (the HOF sort/filter lambdas keep their projection
    out of whole-stage codegen, but it is still JVM map-side; the scan
    + url projection beneath stays codegen'd)."""
    plan = _plan(QUERIES["fl4_url_canonicalize"](spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_keyword_prefilter_runs_before_python_parse(spark, tmp_path):
    """parse_pages(keyword=...) must filter raw html bytes with a JVM
    ``contains`` below MapInPandas, so non-matching pages never cross
    into Python. Plans print top-down: below == later in the text."""
    from juniper_syslog_filter_spark.functions.parse import parse_pages

    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 1000, num_partitions=2)
    plan = _plan(parse_pages(spark.read.parquet(pages), keyword="RT_IDP_ATTACK"))
    below = plan[plan.index("MapInPandas"):].splitlines()
    filt = next(line for line in below if "Filter (" in line)
    assert "contains(html" in filt
    assert "0x" + b"RT_IDP_ATTACK".hex().upper() in filt


def test_minhash_lsh_pairs_no_nested_loop(spark):
    """Near-dup verify: the bucket self-join and both signature joins are
    hash joins — a nested-loop/cartesian anywhere here is quadratic."""
    from juniper_syslog_filter_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF, "documents")
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_ann_broadcasts_and_takes_ordered(spark):
    """IVF ANN: centroid and probe joins broadcast, the per-vector cell
    argmax is a partial (map-side) max_by, the top-k is
    TakeOrderedAndProject — no sort-merge join, no cartesian."""
    from juniper_syslog_filter_spark.operators.similarity import ivf_ann_topk

    emb = load_table(spark, SF, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    plan = _plan(ivf_ann_topk(emb.filter(F.col("vec_id") != 0), qv))
    for op in ("TakeOrderedAndProject", "partial_max_by", "BroadcastHashJoin"):
        assert op in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
