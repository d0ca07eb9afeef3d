"""Connected components vs a union-find oracle (SURVEY.md §5 test plan d),
on both paths: the one-task union-find (edge frames whose plan size
estimate fits ``spark.sql.files.maxPartitionBytes``) and the
large-star/small-star rounds (forced by lowering that conf)."""

from __future__ import annotations

import hashlib
import itertools
import random

import pytest

from uncp_spark.operators import components as cc
from uncp_spark.operators.components import connected_components, label_all

_frames = itertools.count()


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


def _hex(i: int) -> str:
    """A 32-char lowercase hex id, the pipeline's file_id form."""
    return hashlib.md5(str(i).encode()).hexdigest()


def _random_edges(seed, n_nodes, n_edges, ids=int):
    rng = random.Random(seed)
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    return [(ids(a), ids(b)) for a, b in edges if a != b]


def _frame(spark, tmp_path, edges, partitions=None):
    """The edges as a parquet-backed frame (its plan has a size
    estimate, as the pipeline's edges checkpoint does)."""
    dtype = "string" if isinstance(edges[0][0], str) else "long"
    path = str(tmp_path / f"edges_{next(_frames)}")
    spark.createDataFrame(edges, f"src {dtype}, dst {dtype}").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    return df.repartition(partitions) if partitions else df


def _labels(df, **kw):
    return {r["file_id"]: r["cluster_id"] for r in connected_components(df, **kw).collect()}


@pytest.fixture()
def star_path(spark):
    """Lower maxPartitionBytes so every test frame takes the star-round
    path; the conf is restored afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        yield
    finally:
        spark.conf.set(key, old)


_GRAPHS = [(1, 20, 15), (2, 50, 40), (3, 80, 120)]


def _check_one_task(spark, tmp_path, edges):
    df = _frame(spark, tmp_path, edges)
    assert cc._fits_one_task(df)
    assert _labels(df) == _oracle(edges)
    assert cc.LAST_RUN_STATS == {"rounds": 0, "probes": 0}


@pytest.mark.parametrize("seed,n_nodes,n_edges", _GRAPHS)
def test_cc_matches_union_find(spark, tmp_path, seed, n_nodes, n_edges):
    _check_one_task(spark, tmp_path, _random_edges(seed, n_nodes, n_edges))


@pytest.mark.parametrize("seed,n_nodes,n_edges", _GRAPHS)
def test_cc_matches_union_find_hex_ids(spark, tmp_path, seed, n_nodes, n_edges):
    """32-char lowercase hex ids, the pipeline's file_id: the kernel's
    code order is byte order, so cluster_id is still the min id."""
    _check_one_task(spark, tmp_path, _random_edges(seed, n_nodes, n_edges, _hex))


@pytest.mark.parametrize("fold_rows", [cc._FOLD_ROWS, 10])
def test_union_find_kernel_matches_oracle(monkeypatch, fold_rows):
    """The Arrow kernel alone (no Spark), over many random graphs, both
    id types, reversed chains (every hook lands on a deep tree) and
    null / self-loop rows (which label nothing); once in one pass and
    once folded every 10 rows into the star forest of the rows before."""
    import pyarrow as pa

    monkeypatch.setattr(cc, "_FOLD_ROWS", fold_rows)

    graphs = [_random_edges(s, n, e, ids) for s in range(40)
              for n, e in [(10, 6), (60, 90)] for ids in (int, _hex)]
    graphs.append([(i + 1, i) for i in reversed(range(500))])
    for edges in graphs:
        t = pa.string() if isinstance(edges[0][0], str) else pa.int64()
        schema = pa.schema([("src", t), ("dst", t)])
        rows = edges + [(edges[0][0], edges[0][0]), (None, edges[0][1])]
        batches = [pa.RecordBatch.from_pylist(
            [{"src": a, "dst": b} for a, b in rows[i:i + 7]], schema=schema)
            for i in range(0, len(rows), 7)]
        out = pa.Table.from_batches(list(cc._union_find_batches(iter(batches))))
        got = dict(zip(out.column("file_id").to_pylist(), out.column("cluster_id").to_pylist()))
        assert got == _oracle(edges)


@pytest.mark.parametrize("ids", [int, _hex], ids=["long", "hex"])
def test_cc_star_path_random_graph(spark, tmp_path, star_path, ids):
    edges = _random_edges(4, 200, 260, ids)
    df = _frame(spark, tmp_path, edges, partitions=8)
    assert not cc._fits_one_task(df)
    assert _labels(df) == _oracle(edges)
    assert cc.LAST_RUN_STATS["rounds"] >= 1


def test_cc_long_chain(spark, tmp_path):
    """High-diameter graph — the case naive propagation needs O(n)
    rounds for — solved by the one-task union-find."""
    n = 300
    got = _labels(_frame(spark, tmp_path, [(i, i + 1) for i in range(n)]))
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_cc_star_path_long_chain(spark, tmp_path, star_path):
    """Star alternation must converge on the chain within max_iter, and
    the reliable (parquet) cut must give the same labels."""
    edges = [(i, i + 1) for i in range(300)]
    df = _frame(spark, tmp_path, edges, partitions=8)
    assert _labels(df) == _oracle(edges)
    ckpt = str(tmp_path / "cc_ckpt")
    assert _labels(df, checkpoint_dir=ckpt) == _oracle(edges)


def test_cc_small_path_runs_one_job(spark, tmp_path):
    df = _frame(spark, tmp_path, _random_edges(5, 60, 80, _hex))
    sc = spark.sparkContext
    sc.setJobGroup("cc-one-task", "one-task components probe")
    try:
        connected_components(df).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("cc-one-task")) == 1


def test_cc_deterministic_cluster_ids(spark, tmp_path):
    edges = [(5, 9), (9, 2), (30, 40), (7, 7), (2, 5)]
    got = _labels(_frame(spark, tmp_path, edges))
    assert got == {2: 2, 5: 2, 9: 2, 30: 30, 40: 30}


def test_cc_probe_cadence_shallow_graph(spark, tmp_path, star_path):
    """A graph already in star form hits its fixpoint in round 1 and the
    probe-every-round cadence detects that at round 2 (c2 == c1; local
    mode skips the input-checksum barrier, so the baseline for a
    round-1 no-op does not exist) — no stacked EXTRA full-edge-set star
    round runs past this point on this shape."""
    edges = [(0, i) for i in range(1, 7)]
    assert _labels(_frame(spark, tmp_path, edges)) == _oracle(edges)
    assert cc.LAST_RUN_STATS == {"rounds": 2, "probes": 2}


def test_cc_probe_cadence_deep_graph_stacks(spark, tmp_path, star_path):
    """Past round 3 the graph has proven deep; rounds are stacked two
    per barrier, so probes < rounds — the latency win stacking exists
    for — while every round stays convergence-checked."""
    df = _frame(spark, tmp_path, [(i, i + 1) for i in range(300)])
    assert set(_labels(df).values()) == {0}
    stats = cc.LAST_RUN_STATS
    assert stats["rounds"] > 3
    # 3 single-round probes, then 2 rounds per probe
    assert stats["probes"] == 3 + (stats["rounds"] - 3 + 1) // 2


def test_cc_stats_describe_a_failed_call(spark, tmp_path, star_path):
    """A call that does not converge still reports its own rounds and
    probes, not the previous call's."""
    _labels(_frame(spark, tmp_path, [(0, 1), (0, 2)]))
    assert cc.LAST_RUN_STATS["rounds"] == 2
    df = _frame(spark, tmp_path, [(i, i + 1) for i in range(300)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)
    assert cc.LAST_RUN_STATS == {"rounds": 1, "probes": 1}


def test_label_all_singletons(spark, tmp_path):
    files = spark.createDataFrame([(1,), (2,), (3,)], "file_id long")
    labels = connected_components(_frame(spark, tmp_path, [(1, 2)]))
    out = {r["file_id"]: r["cluster_id"] for r in label_all(files, labels).collect()}
    assert out == {1: 1, 2: 1, 3: 3}
