"""Connected-components cluster closure (operators/graph.py)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from juniper_syslog_filter_spark.operators.graph import (
    _persistent_rdd_ids,
    connected_components,
    dup_clusters,
)


def _path(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a: long, id_b: long"
    )


def _union_find_labels(pairs):
    """Pure-Python oracle: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its tree's minimum
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    rows = connected_components(df, "id_a", "id_b").collect()
    return {r["node"]: r["cluster_id"] for r in rows}


def test_two_components(spark):
    # {1,2,3} chained + {10,11}; transitive closure must group 1-2-3
    # even though (1,3) is never a pair.
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # Diameter > 1 round: 0-1-2-...-9 must all collapse to 0.
    got = _cc(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_edge_direction_irrelevant(spark):
    # Pairs are undirected; (big, small) order must not matter.
    got = _cc(spark, [(5, 2), (2, 7)])
    assert got == {2: 2, 5: 2, 7: 2}


def test_dup_clusters_keeper(spark):
    df = spark.createDataFrame([(4, 9), (9, 6), (20, 21)], "id_a: long, id_b: long")
    rows = {r["doc_id"]: r for r in dup_clusters(df).collect()}
    assert rows[4]["cluster_id"] == 4 and rows[4]["is_keeper"]
    assert rows[9]["cluster_id"] == 4 and not rows[9]["is_keeper"]
    assert rows[6]["cluster_id"] == 4 and not rows[6]["is_keeper"]
    assert rows[20]["is_keeper"] and not rows[21]["is_keeper"]
    # exactly one keeper per cluster
    keepers = [r for r in rows.values() if r["is_keeper"]]
    assert {k["cluster_id"] for k in keepers} == {4, 20} and len(keepers) == 2


def test_cluster_ids_are_component_minima(spark, sf_dir):
    # On the real d2 pair graph: every cluster_id is itself a member,
    # and both endpoints of every pair land in the same cluster.
    from juniper_syslog_filter_spark.datagen import load_table
    from juniper_syslog_filter_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    ).select("id_a", "id_b")
    pairs = pairs.localCheckpoint()
    cc = dup_clusters(pairs).localCheckpoint()
    lab = {r["doc_id"]: r["cluster_id"] for r in cc.collect()}
    assert lab, "sf0.001 documents must contain near-dup pairs"
    for a, b in [(r["id_a"], r["id_b"]) for r in pairs.collect()]:
        assert lab[a] == lab[b]
    assert all(lab[c] == c for c in set(lab.values()))
    assert all(c <= n for n, c in lab.items())


def test_pagerank_step_matches_dense_computation(spark):
    """One power iteration on a small weighted digraph must equal the
    dense numpy computation: r1 = (1-d)/N + (d/N) * P^T · 1 where
    P(u,v) = w(u,v)/outw(u)."""
    from juniper_syslog_filter_spark.operators.graph import pagerank_step

    edges = [
        ("a", "b", 2),
        ("a", "c", 1),
        ("b", "c", 1),
        ("c", "a", 1),
        ("c", "d", 3),  # d is a sink: in-links only, still gets teleport
    ]
    df = spark.createDataFrame(edges, "src: string, dst: string, w: long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_step(df, "src", "dst", weight="w").collect()
    }
    n, d = 4.0, 0.85
    expect = {
        "a": (1 - d) / n + d / n * (1 / 4),
        "b": (1 - d) / n + d / n * (2 / 3),
        "c": (1 - d) / n + d / n * (1 / 3 + 1),
        "d": (1 - d) / n + d / n * (3 / 4),
    }
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])
    # d never links out, so its share of the start vector leaks (no
    # dangling redistribution in a single step): total = 1 - d·(1/N)
    assert abs(sum(got.values()) - (1.0 - d / n)) < 1e-6


def test_pagerank_step_unweighted_default(spark):
    """weight=None treats every edge as weight 1 — a 2-cycle is the
    symmetric fixpoint: both nodes keep rank 1/2."""
    from juniper_syslog_filter_spark.operators.graph import pagerank_step

    df = spark.createDataFrame([("x", "y"), ("y", "x")], "src: string, dst: string")
    got = {r["node"]: r["rank"] for r in pagerank_step(df).collect()}
    assert abs(got["x"] - 0.5) < 1e-9 and abs(got["y"] - 0.5) < 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    """Five iterations on a weighted digraph must track the dense
    numpy recurrence r <- (1-d)/N + d * P^T r to float tolerance."""
    import numpy as np
    from juniper_syslog_filter_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
        ("c", "a", 1.0), ("c", "d", 3.0), ("d", "a", 1.0),
        ("e", "a", 1.0),  # e has no in-links: pure teleport rank
    ]
    df = spark.createDataFrame(edges, "src: string, dst: string, w: double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, "src", "dst", weight="w", iters=5).collect()
    }
    names = ["a", "b", "c", "d", "e"]
    P = np.zeros((5, 5))
    for s, t, w in edges:
        P[names.index(s), names.index(t)] = w
    P = P / P.sum(axis=1, keepdims=True)
    d, n = 0.85, 5.0
    r = np.full(5, 1 / n)
    for _ in range(5):
        r = (1 - d) / n + d * (P.T @ r)
    for i, name in enumerate(names):
        assert abs(got[name] - r[i]) < 1e-12, (name, got[name], r[i])


def test_pagerank_one_iter_equals_step(spark):
    """iters=1 must agree with pagerank_step (the factored 1/N form)."""
    from juniper_syslog_filter_spark.operators.graph import pagerank, pagerank_step

    df = spark.createDataFrame(
        [("x", "y", 1), ("y", "z", 2), ("z", "x", 1)],
        "src: string, dst: string, w: long",
    )
    full = {r["node"]: r["rank"] for r in pagerank(df, weight="w", iters=1).collect()}
    step = {r["node"]: r["rank"] for r in pagerank_step(df, weight="w").collect()}
    for k in step:
        assert abs(full[k] - step[k]) < 1e-9, (k, full[k], step[k])


_ids = st.integers(min_value=0, max_value=40)


@given(
    base=st.lists(st.tuples(_ids, _ids), min_size=1, max_size=30),
    extra=st.lists(
        st.tuples(st.sampled_from(["dup", "rev", "self"]), st.integers(0, 29)),
        max_size=10,
    ),
    isolated=st.lists(st.integers(min_value=100, max_value=120), max_size=4),
)
@example(  # chain, a branch into it, a lone pair and a triangle
    base=[(1, 2), (2, 3), (10, 11), (5, 2), (40, 41), (41, 42), (42, 40)],
    extra=[],
    isolated=[],
)
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_star_matches_union_find(spark, base, extra, isolated):
    """connected_components labels every node of a random pair list
    with its component minimum, as a Python union-find does — across
    self-pairs, duplicate and reversed pairs and isolated (x, x) nodes."""
    pairs = list(base)
    for op, i in extra:
        a, b = base[i % len(base)]
        pairs.append({"dup": (a, b), "rev": (b, a), "self": (a, a)}[op])
    pairs += [(x, x) for x in isolated]
    assert _cc(spark, pairs) == _union_find_labels(pairs)


def test_star_self_pairs_and_singleton_nodes(spark):
    """Self-pairs keep their node in the census, labelled with itself."""
    assert _cc(spark, [(3, 3), (1, 2)]) == {3: 3, 1: 1, 2: 1}


def test_star_converges_logarithmically_on_path(spark):
    """Adversarial long chain (diameter = n): large-star/small-star needs
    O(log² n) rounds, so a 200-node path reaches its fixpoint within 12
    rounds (no raise) and labels every node with 0."""
    n = 200
    rows = connected_components(_path(spark, n), "id_a", "id_b", max_iter=12)
    assert {r["node"]: r["cluster_id"] for r in rows.collect()} == {
        i: 0 for i in range(n)
    }


def test_cc_raises_without_fixpoint(spark):
    """Ending max_iter rounds short of the fixpoint must raise, naming
    the round count, not return labels that are not component minima."""
    with pytest.raises(RuntimeError, match="after 2 rounds"):
        connected_components(_path(spark, 200), "id_a", "id_b", max_iter=2)


def test_pagerank_dangling_mass_conserved(spark):
    """dangling=True redistributes sink mass each round: total rank
    sums to 1 after every iteration count, and the values track the
    dense numpy recurrence r <- (1-d)/N + d*(P^T r + D/N)."""
    import numpy as np
    from juniper_syslog_filter_spark.operators.graph import pagerank

    # b and d are sinks (half the start mass is dangling).
    edges = [("a", "b", 1.0), ("a", "d", 2.0), ("c", "d", 1.0), ("c", "a", 3.0)]
    df = spark.createDataFrame(edges, "src: string, dst: string, w: double")
    for iters in (1, 3, 5):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                df, "src", "dst", weight="w", iters=iters, dangling=True
            ).collect()
        }
        assert abs(sum(got.values()) - 1.0) < 1e-9, (iters, sum(got.values()))
        names = ["a", "b", "c", "d"]
        P = np.zeros((4, 4))
        for s, t, w in edges:
            P[names.index(s), names.index(t)] = w
        outw = P.sum(axis=1, keepdims=True)
        dang = (outw[:, 0] == 0)
        Pn = np.divide(P, outw, out=np.zeros_like(P), where=outw > 0)
        d, n = 0.85, 4.0
        r = np.full(4, 1 / n)
        for _ in range(iters):
            r = (1 - d) / n + d * (Pn.T @ r + r[dang].sum() / n)
        for i, name in enumerate(names):
            assert abs(got[name] - r[i]) < 1e-9, (name, got[name], r[i])


def test_pagerank_dangling_false_unchanged(spark):
    """The default (dangling=False) recurrence is untouched by the new
    parameter: sink mass still leaks, matching the gr2 oracle contract."""
    from juniper_syslog_filter_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b", 1.0)], "src: string, dst: string, w: double"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", iters=2).collect()
    }
    # r1 = {a: 0.075, b: 0.075 + 0.85*0.5}; b's r1 mass then leaks.
    d = 0.85
    r1a = (1 - d) / 2
    assert abs(got["a"] - (1 - d) / 2) < 1e-12
    assert abs(got["b"] - ((1 - d) / 2 + d * r1a)) < 1e-12


def test_star_evicts_checkpoint_blocks_per_round(spark):
    """Each round localCheckpoints three edge-set copies (sym, ls,
    new_edges); without eviction executors accumulate O(rounds) blocks.
    After convergence only the fixpoint edge set + node census (plus
    whatever was persisted before the call) may remain; a call that
    raises leaves nothing."""
    df = _path(spark, 200)
    before = _persistent_rdd_ids(spark)
    # precondition: the path needs more than 2 rounds
    with pytest.raises(RuntimeError):
        connected_components(df, "id_a", "id_b", max_iter=2)
    assert _persistent_rdd_ids(spark) - before == set()
    cc = connected_components(df, "id_a", "id_b")
    cc.count()  # materialize the returned plan
    leaked = _persistent_rdd_ids(spark) - before
    # final edges + nodes = 2 live checkpoints; anything O(rounds) is
    # the leak this test guards against.
    assert len(leaked) <= 2, (
        f"{len(leaked)} checkpointed RDDs survive: {sorted(leaked)}"
    )


@pytest.mark.parametrize("dangling", [False, True])
def test_pagerank_evicts_checkpoint_blocks(spark, dangling):
    """pagerank checkpoints its inputs (edges, nodes, transition rows,
    dangling set) and every round's ranks; once it returns only the
    returned ranks may stay live, whatever the iteration count."""
    from juniper_syslog_filter_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("a", "d", 1.0)],
        "src: string, dst: string, w: double",
    )
    before = _persistent_rdd_ids(spark)
    ranks = pagerank(df, weight="w", iters=5, dangling=dangling)
    assert ranks.count() == 4
    leaked = _persistent_rdd_ids(spark) - before
    assert len(leaked) <= 1, (
        f"{len(leaked)} checkpointed RDDs survive: {sorted(leaked)}"
    )
