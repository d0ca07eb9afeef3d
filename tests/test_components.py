"""Connected components vs a union-find oracle (SURVEY.md §5 test plan d):
the one-task union-find, for edge frames inside and above
``spark.sql.files.maxPartitionBytes`` alike."""

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


def _frame(spark, tmp_path, edges, files=1):
    """The edges as a parquet-backed frame of ``files`` files (its plan
    has a size estimate, as the pipeline's edges checkpoint does)."""
    dtype = "string" if isinstance(edges[0][0], str) else "long"
    path = str(tmp_path / f"edges_{next(_frames)}")
    df = spark.createDataFrame(edges, f"src {dtype}, dst {dtype}")
    df.repartition(files).write.parquet(path)
    return spark.read.parquet(path)


def _labels(df):
    return {r["file_id"]: r["cluster_id"] for r in connected_components(df).collect()}


@pytest.fixture()
def above_split(spark):
    """Lower maxPartitionBytes so every test frame's plan size estimate
    exceeds one split; the conf is restored afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        yield
    finally:
        spark.conf.set(key, old)


_GRAPHS = [(1, 20, 15), (2, 50, 40), (3, 80, 120)]


def _check_one_task(spark, tmp_path, edges):
    assert _labels(_frame(spark, tmp_path, edges)) == _oracle(edges)


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


def test_cc_long_chain(spark, tmp_path):
    """High-diameter graph — the case naive propagation needs O(n)
    rounds for — solved by the one-task union-find."""
    n = 300
    got = _labels(_frame(spark, tmp_path, [(i, i + 1) for i in range(n)]))
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def _one_job_labels(spark, df) -> dict:
    """Labels of ``df``, asserting they took exactly one Spark job."""
    sc, group = spark.sparkContext, f"cc-one-task-{next(_frames)}"
    sc.setJobGroup(group, "one-task components probe")
    try:
        got = _labels(df)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    return got


def test_cc_small_path_runs_one_job(spark, tmp_path):
    edges = _random_edges(5, 60, 80, _hex)
    assert _one_job_labels(spark, _frame(spark, tmp_path, edges)) == _oracle(edges)


@pytest.mark.parametrize("ids", [int, _hex], ids=["long", "hex"])
def test_cc_above_split_runs_one_job(spark, tmp_path, above_split, ids):
    """An 8-partition frame whose size estimate exceeds one split is
    still solved by the one-task kernel, in one Spark job."""
    edges = _random_edges(4, 200, 260, ids)
    df = _frame(spark, tmp_path, edges, files=8)
    assert df.rdd.getNumPartitions() >= 8
    jconf = spark._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size) > int(jconf.filesMaxPartitionBytes())
    assert _one_job_labels(spark, df) == _oracle(edges)


def test_cc_deterministic_cluster_ids(spark, tmp_path):
    edges = [(5, 9), (9, 2), (30, 40), (7, 7), (2, 5)]
    got = _labels(_frame(spark, tmp_path, edges))
    assert got == {2: 2, 5: 2, 9: 2, 30: 30, 40: 30}


def test_label_all_singletons(spark, tmp_path):
    files = spark.createDataFrame([(1,), (2,), (3,)], "file_id long")
    labels = connected_components(_frame(spark, tmp_path, [(1, 2)]))
    out = {r["file_id"]: r["cluster_id"] for r in label_all(files, labels).collect()}
    assert out == {1: 1, 2: 1, 3: 3}
