"""S6 — connected components over the edge DataFrame.

The reference only ever groups by a single key (hash → group,
src/relations.rs:327-339); multi-tier edges (exact ∪ minhash ∪ simhash ∪
containment) need real graph clustering.

Two shapes, picked from the plan alone (no Spark job):

- **Small graph** — the edge frame's optimizer size estimate is at most
  ``spark.sql.files.maxPartitionBytes``, i.e. Spark itself would read
  it as one split. The frame is ``coalesce(1)``'d and solved in ONE
  ``mapInArrow`` task by ``_union_find_batches``, a numpy union-find
  over dictionary codes assigned in id order (pyarrow ``unique`` +
  ``sort_indices``; byte order for hex-string ids, numeric order for
  long ids), so each component's root is its minimum code and
  ``cluster_id`` = min ``file_id`` falls out of the union-find itself.
  The caller's action is the only Spark job (the pipeline's ``labels``
  stage went from 20-39 jobs to 1).
- **Larger graph** — alternating large-star / small-star rounds over
  the canonical edge set (Kiveris et al., 2014: O(log n) rounds even on
  high-diameter graphs, each an equi-shuffle on node id). Rounds are
  stacked two per lineage cut once the graph has proven deep (3 rounds
  without fixpoint), and every round stays convergence-checked: the
  intermediate round's checksum rides the probe job as an observed
  metric and the final round's rides the cut, so each probe is ONE
  Spark job. With a ``checkpoint_dir`` the cut is a RELIABLE checkpoint
  (parquet write + read-back — survives executor loss); without one it
  falls back to ``localCheckpoint`` (not fault-tolerant, fine in local
  mode).

Output: labels(file_id, cluster_id) where cluster_id = min file_id of
the component — deterministic, so cluster ids are reproducible across
runs (the recall gate compares memberships).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _min_roots(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Union-find over codes ``0..n-1``: hook every edge's larger root to
    its smaller one, then pointer-jump until every node points at its
    root. Parents only ever decrease, so the root of each component is
    its minimum code."""
    parent = np.arange(n, dtype=np.int64)
    while u.size:
        ru, rv = parent[u], parent[v]
        live = ru != rv
        if not live.any():
            break
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return parent


#: edge rows per union-find pass of the one-task kernel (see
#: ``_union_find_batches``)
_FOLD_ROWS = 1 << 20


def _solve(t: pa.Table) -> pa.Table:
    """Edges (src, dst) with no nulls or self-loops → (file_id,
    cluster_id) for every node of those edges, in id order, cluster_id
    the minimum id of the node's component."""
    n, typ = t.num_rows, t.schema.types[0]
    if n == 0:
        return pa.table({"file_id": pa.array([], typ), "cluster_id": pa.array([], typ)})
    enc = pc.dictionary_encode(pa.chunked_array(t.column(0).chunks + t.column(1).chunks, typ))
    # every chunk carries the full dictionary; re-code it in id order
    uniq = enc.chunk(0).dictionary
    order = pc.sort_indices(uniq)
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[order.to_numpy()] = np.arange(len(uniq))
    codes = rank[np.concatenate([c.indices.to_numpy() for c in enc.chunks])]
    roots = _min_roots(codes[:n], codes[n:], len(uniq))
    uniq = uniq.take(order)
    return pa.table({"file_id": uniq, "cluster_id": uniq.take(pa.array(roots))})


def _star_forest(batches: list, schema: pa.Schema) -> list:
    """Edge batches → the star forest (node → root, node ≠ root) of
    their components, as batches of ``schema``: fewer rows, same
    components."""
    labels = _solve(pa.Table.from_batches(batches, schema))
    forest = labels.filter(pc.not_equal(labels.column(0), labels.column(1)))
    return pa.Table.from_arrays(forest.columns, schema=schema).to_batches()


def _union_find_batches(batches):
    """mapInArrow kernel: edge batches (src, dst) of ONE partition →
    (file_id, cluster_id) for every node of those edges, cluster_id the
    minimum id of the node's component. Null endpoints and self-loops
    label nothing (their ``not_equal`` is null or false, and ``filter``
    drops both).

    Edges are folded ``_FOLD_ROWS`` at a time into the star forest of
    every edge before them, so the working set is one chunk plus a row
    per node seen, however many edges there are: parquet stores a dense
    near-dup cluster's edges in ~4 B/row, so an edge set that fits one
    split on disk can hold ~17× its size in Arrow rows."""
    held, new, schema = [], 0, None
    for b in batches:
        schema = b.schema
        held.append(b.filter(pc.not_equal(b.column(0), b.column(1))))
        new += b.num_rows
        if new >= _FOLD_ROWS:
            held, new = _star_forest(held, schema), 0
    if schema is not None:
        yield from _solve(pa.Table.from_batches(held, schema)).to_batches()


def _fits_one_task(edges: DataFrame) -> bool:
    """Plan-only size test (runs no job): does the optimizer's size
    estimate fit the split size Spark itself reads as one task? Frames
    with no estimate (RDD-backed) report ``Long.MaxValue`` and do not."""
    jspark = edges.sparkSession._jsparkSession
    limit = jspark.sessionState().conf().filesMaxPartitionBytes()
    size = edges._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) <= int(limit)


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge large→small, drop self-loops, dedup."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node, connect all strictly-larger neighbors to
    min(N(u) ∪ {u}).

    No ``distinct`` here: a round is ``_small_star(_large_star(e))`` and
    small-star ends with the canonicalizing distinct, so deduping the
    intermediate frame too costs one full exchange per round for nothing
    (measured ~0.6 s/run at the 40k bench corpus). Duplicate rows are
    harmless in between: small-star's ``min`` aggregate is
    duplicate-insensitive and its relink duplicates die in the final
    distinct, and the intermediate volume stays bounded — each
    undirected input row emits at most one output row, so ≤ 2|E| rows
    reach small-star instead of |E'| deduped ones."""
    und = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        und.groupBy("u")
        .agg(F.min("v").alias("minv"))
        .select("u", F.least("u", "minv").alias("m"))
    )
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u (edges oriented u > v), connect all of
    N(u) ∪ {u} to the minimum."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return (
        relink.unionAll(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checksum_aggs() -> list:
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ]


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(*_checksum_aggs()).collect()[0]
    return int(row["n"]), int(row["h"])


#: rounds/probes executed by the most recent connected_components call
#: in this process (0/0 on the one-task path; cleared on entry, so a
#: call that raises leaves its own counts) — diagnostic only, never read
#: by the algorithm.
LAST_RUN_STATS: dict = {}


def connected_components(
    edges: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> DataFrame:
    """edges(src, dst) → labels(file_id, cluster_id).

    Only nodes that appear in an edge are labeled; callers union in
    singleton labels for isolated files (see ``label_all``).

    ``max_iter`` bounds the star rounds. ``checkpoint_dir``: directory
    for reliable per-iteration checkpoints (parquet). Each round's edge
    set replaces the previous round's file, so the footprint is two
    snapshots, and a mid-CC kill resumes from the edges-stage checkpoint
    upstream with no pinned-executor state. The one-task path runs no
    rounds and writes nothing there.
    """
    LAST_RUN_STATS.clear()
    edges = edges.select("src", "dst")
    if _fits_one_task(edges):
        LAST_RUN_STATS.update({"rounds": 0, "probes": 0})
        t = edges.schema["src"].dataType
        schema = StructType([StructField("file_id", t), StructField("cluster_id", t)])
        return edges.coalesce(1).mapInArrow(_union_find_batches, schema)

    spark = edges.sparkSession
    # shuffle-interior id interning (see lsh.intern_hex_id): CC shuffles
    # (src, dst) through ~5-6 exchanges per round for O(log n) rounds;
    # binary(16) halves the payload vs the 32-char hex id, and lowercase-
    # hex order equals byte order, so min/least (the cluster_id rule)
    # commute exactly. Hex in, hex out — checkpoints unchanged outside.
    from pyspark.sql import Observation

    from uncp_spark.operators.lsh import extern_hex_id, intern_hex_id

    edges, interned = intern_hex_id(edges, "src", "dst")

    if checkpoint_dir is not None:
        import os

        os.makedirs(checkpoint_dir, exist_ok=True)

        def cut(df: DataFrame, i: int) -> tuple[DataFrame, tuple[int, int]]:
            # the convergence checksum rides the WRITE job as observed
            # metrics (computed while rows stream to parquet) — zero
            # extra Spark jobs per probe, vs a read-back + agg + collect
            # barrier; at bench scale those per-probe barrier jobs were
            # the bulk of CC's non-scaling sequential tail
            path = os.path.join(checkpoint_dir, f"cc_iter_{i % 2}.parquet")
            obs = Observation(f"cc_checksum_{i}")
            df.observe(obs, *_checksum_aggs()).write.mode(
                "overwrite"
            ).parquet(path)
            m = obs.get
            return spark.read.parquet(path), (int(m["n"]), int(m["h"]))
    else:
        def cut(df: DataFrame, i: int) -> tuple[DataFrame, tuple[int, int]]:
            # LAZY mark + checksum agg: the agg is the frame's first
            # action, so the one job both materializes the checkpoint
            # blocks and returns the convergence checksum — the local
            # mode's analogue of the observed-metrics fusion above
            # (localCheckpoint's own eager job cannot report observed
            # metrics, and an eager cut + separate agg is two barriers)
            out = df.localCheckpoint(eager=False)
            return out, _checksum(out)

    if checkpoint_dir is not None:
        # parquet mode: the initial write is the fault-tolerance anchor
        # and its checksum rides the write job as observed metrics, so
        # the input baseline is free here
        e, prev = cut(_canonical(edges), -1)
    else:
        # local mode: a ZERO-job initial lineage cut. The lazy
        # localCheckpoint still truncates the (possibly deep) upstream
        # plan and guarantees the canonical edge set computes ONCE even
        # though every star round references it several times (all plan
        # references share one RDD). Skipping the input CHECKSUM drops
        # one of the stage's three barrier jobs on the bench graph
        # (~0.5-0.8 s); the only cost is that an input already at
        # fixpoint is detected one round later (c2 == c1 instead of
        # c1 == c0) — one no-op star round on already-star graphs,
        # roughly the price of the barrier it replaces.
        e = _canonical(edges).localCheckpoint(eager=False)
        prev = None
    it = 0
    converged = False
    # DEPTH-ADAPTIVE probe cadence, per-ROUND convergence detection.
    # The cut (parquet write + read-back, or localCheckpoint
    # materialization) and the checksum are the stage's sequential-job
    # tail — at bench scale each round's shuffle work is smaller than
    # the scheduler latency of its barrier jobs, so halving the barrier
    # count by stacking TWO large/small-star rounds per cut pays on deep
    # graphs. But the common case is SHALLOW: near-dup clusters are
    # 2-5-node components, fixpoint after 1-2 rounds, and round 5's
    # stack-after-the-first-probe form made those graphs execute a
    # wasted full-edge-set star round per run (official bench: CC
    # 3.49 s → 5.2-7.8 s, the round-5 regression). This form probes
    # EVERY round while the graph is shallow and starts stacking only
    # once it has proven deep (3 rounds without fixpoint — beyond every
    # bench/test corpus, where the O(log n) tail is what stacking is
    # for). Each probe stays ONE Spark job either way: a stacked
    # intermediate round's checksum rides the same job as an observed
    # metric, the final round's rides the checkpoint write / lazy-cut
    # agg. A/B at the official 40k corpus: probe-every-round 3.3-3.6 s
    # vs 5.5-5.8 s stacked (see OPTIMIZATION_r06.md).
    probe = 0
    while it < max_iter and not converged:
        take = min(2 if it >= 3 else 1, max_iter - it)
        mids = []
        for r in range(take):
            e = _small_star(_large_star(e))
            it += 1
            if r < take - 1:
                obs = Observation(f"cc_mid_{probe}_{r}")
                e = e.observe(obs, *_checksum_aggs())
                mids.append(obs)
        # the cut index must ALTERNATE (cc_iter_{i % 2}): each probe's
        # plan reads the previous probe's parquet, so writing to the
        # same slot would overwrite its own input mid-job
        e, fin = cut(e, probe)
        probe += 1
        # consecutive-round checksum chain across the probe: any equal
        # adjacent pair means one star round was a no-op — a fixpoint
        # (round(x) == x implies round(round(x)) == x, so the frame
        # after the remaining stacked rounds is that same fixpoint)
        chain = [prev] if prev is not None else []
        chain += [(int(o.get["n"]), int(o.get["h"])) for o in mids]
        chain.append(fin)
        converged = any(a == b for a, b in zip(chain, chain[1:]))
        prev = fin
    # diagnostic counters (module-level, overwritten per call): lets the
    # bench/pipeline metrics pin the probe cadence so a regression in
    # rounds-per-graph-depth is observable, not inferred from wall time
    LAST_RUN_STATS.update({"rounds": it, "probes": probe})
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")

    # converged edge set is a forest of stars: u → component-min
    members = e.select(F.col("u").alias("file_id"), F.col("v").alias("cluster_id"))
    roots = (
        e.select(F.col("v").alias("file_id"))
        .distinct()
        .join(members.select("file_id"), "file_id", "left_anti")
        .select("file_id", F.col("file_id").alias("cluster_id"))
    )
    labels = members.unionByName(roots)
    if interned:
        labels = extern_hex_id(labels, "file_id", "cluster_id")
    return labels


def label_all(files: DataFrame, labels: DataFrame) -> DataFrame:
    """Attach cluster_id to every file; files in no edge become their own
    singleton cluster."""
    return files.join(labels, "file_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "file_id")
    )
