"""Connected components vs a union-find oracle (SURVEY.md §5 test plan d)."""

from __future__ import annotations

import random

import pytest

from uncp_spark.operators.components import connected_components, label_all


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _oracle(edges):
    uf = _UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return {n: uf.find(n) for n in uf.parent}


def _run_cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    labels = connected_components(df)
    return {r["file_id"]: r["cluster_id"] for r in labels.collect()}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 20, 15), (2, 50, 40), (3, 80, 120)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _run_cc(spark, edges)
    expect = _oracle(edges)
    assert got == expect


def test_cc_long_chain(spark):
    """High-diameter graph — the case naive propagation needs O(n)
    rounds for; star-alternation must still converge within max_iter."""
    n = 300
    edges = [(i, i + 1) for i in range(n)]
    got = _run_cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_cc_deterministic_cluster_ids(spark):
    edges = [(5, 9), (9, 2), (30, 40), (7, 7), (2, 5)]
    got = _run_cc(spark, [(a, b) for a, b in edges if a != b])
    assert got == {2: 2, 5: 2, 9: 2, 30: 30, 40: 30}


def test_cc_probe_cadence_shallow_graph(spark):
    """A graph already in star form hits its fixpoint in round 1 and the
    probe-every-round cadence detects that at round 2 (c2 == c1; local
    mode skips the input-checksum barrier, so the baseline for a
    round-1 no-op does not exist) — the round-5 regression executed a
    stacked EXTRA full-edge-set star round past this point on exactly
    this shape (the bench corpus's dominant case)."""
    from uncp_spark.operators import components as cc

    edges = [(0, i) for i in range(1, 7)]
    _run_cc(spark, edges)
    assert cc.LAST_RUN_STATS == {"rounds": 2, "probes": 2}


def test_cc_probe_cadence_deep_graph_stacks(spark):
    """Past round 3 the graph has proven deep; rounds are stacked two
    per barrier, so probes < rounds — the latency win stacking exists
    for — while every round stays convergence-checked."""
    from uncp_spark.operators import components as cc

    n = 300
    edges = [(i, i + 1) for i in range(n)]
    got = _run_cc(spark, edges)
    assert set(got.values()) == {0}
    stats = cc.LAST_RUN_STATS
    assert stats["rounds"] > 3
    # 3 single-round probes, then 2 rounds per probe
    assert stats["probes"] == 3 + (stats["rounds"] - 3 + 1) // 2


def test_cc_stats_describe_a_failed_call(spark):
    """A call that does not converge still reports its own rounds and
    probes, not the previous call's."""
    from uncp_spark.operators import components as cc

    _run_cc(spark, [(0, 1), (0, 2)])
    assert cc.LAST_RUN_STATS["rounds"] == 2
    df = spark.createDataFrame([(i, i + 1) for i in range(300)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)
    assert cc.LAST_RUN_STATS == {"rounds": 1, "probes": 1}


def test_label_all_singletons(spark):
    files = spark.createDataFrame([(1,), (2,), (3,)], "file_id long")
    labels = connected_components(spark.createDataFrame([(1, 2)], "src long, dst long"))
    out = {r["file_id"]: r["cluster_id"] for r in label_all(files, labels).collect()}
    assert out == {1: 1, 2: 1, 3: 3}
