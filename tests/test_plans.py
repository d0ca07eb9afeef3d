"""Physical-plan audits — the plan you'd want at 100 TB, asserted.

Correctness tests prove the answers; these prove the *shape*: filters
and projections reach the parquet scan, small dimensions broadcast, the
production priority rank never plans a single-partition global window,
and the LSH candidate stage contains no cartesian product. A regression
here is invisible at sf0.01 and fatal at 100 TB, so it's pinned by test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig

CFG = SimilarityConfig()
SF_DIR = "/root/testdata/sf0.001"


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushed_to_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _fmt(
        docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    )
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the scan reads 2 columns, not text/source/etc.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_small_dim_join_broadcasts(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    plan = _fmt(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_priority_rank_has_no_global_window(spark):
    """Production ranking (banded rank + offset join) must not contain a
    partition-less window over the full cluster set."""
    from uncp_spark.fixtures import repos_from_documents
    from uncp_spark.operators.components import label_all
    from uncp_spark.operators.ingest import ingest
    from uncp_spark.operators.priority import cluster_stats, priority_ranked

    files = ingest(repos_from_documents(spark, SF_DIR))
    labeled = label_all(files, files.select(
        "file_id", F.xxhash64("sha256").alias("cluster_id")
    ))
    ranked = priority_ranked(cluster_stats(labeled))
    plan = _fmt(ranked)
    for line in plan.splitlines():
        if "Window" in line and "partition" not in line.lower():
            # formatted plans print window specs with partitionBy args;
            # a truly global window renders an empty partition clause
            assert "windowspecdefinition(" not in line or \
                   not _is_global_windowspec(line), line


def _is_global_windowspec(line: str) -> bool:
    # windowspecdefinition(<partition cols...>, <order cols...>, frame)
    # a global window starts its spec directly with an order expression:
    # windowspecdefinition(x DESC NULLS LAST, ...)
    import re

    for m in re.finditer(r"windowspecdefinition\(([^()]*)", line):
        head = m.group(1).split(",")[0].strip()
        if " ASC" in head or " DESC" in head:
            return True
    return False


def test_lsh_pipeline_has_no_cartesian_product(spark):
    from uncp_spark.fixtures import repos_from_documents
    from uncp_spark.operators.exact import exact_representatives
    from uncp_spark.operators.ingest import ingest
    from uncp_spark.operators.lsh import candidate_pairs
    from uncp_spark.operators.signatures import signature_table
    from uncp_spark.operators.verify import accept_edges, score_pairs

    files = ingest(repos_from_documents(spark, SF_DIR))
    sigs = signature_table(exact_representatives(files), CFG)
    pairs, _hot = candidate_pairs(sigs, CFG)
    edges = accept_edges(score_pairs(pairs, sigs, CFG, files), CFG)
    plan = _fmt(edges)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _node_blocks(plan: str, names: tuple[str, ...]) -> list[str]:
    """Split a formatted explain's node-detail section into per-node
    blocks and return those whose header matches one of ``names``."""
    import re

    blocks: list[str] = []
    cur: list[str] | None = None
    want = False
    for line in plan.splitlines():
        m = re.match(r"\(\d+\) (\w+)", line.strip())
        if m:
            if cur is not None and want:
                blocks.append("\n".join(cur))
            cur = [line]
            want = m.group(1) in names
        elif cur is not None:
            cur.append(line)
    if cur is not None and want:
        blocks.append("\n".join(cur))
    return blocks


def test_relation_windows_exclude_content(spark):
    """Relation-table plans must never drag `content` through a shuffle:
    a window / exchange whose input schema carries `content` re-shuffles
    the full corpus bytes just to produce a (key, path-list, count,
    size) relation — invisible at sf0.01, fatal at 100 TB.

    The three group relations go further (round-5, two-phase skew
    discipline): their plans contain NO window at all — the old
    row_number-within-key form serialized the hottest key's entire
    membership through one ranking task (partial-agg-free) before the
    member cap nulled it, so hot keys are now handled by count-first +
    anti-join instead (see _group_relation)."""
    from uncp_spark.fixtures import repos_from_documents
    from uncp_spark.operators.exact import (
        exact_clusters, same_name_groups, same_size_groups,
    )
    from uncp_spark.operators.ingest import ingest

    files = ingest(repos_from_documents(spark, SF_DIR))
    for df in (
        exact_clusters(files),
        same_name_groups(files),
        same_size_groups(files),
    ):
        plan = _fmt(df)
        assert not _node_blocks(plan, ("Window", "WindowGroupLimit")), plan
        for block in _node_blocks(plan, ("Exchange",)):
            assert "content#" not in block, block


def test_pair_expansion_is_two_step_explode(spark):
    """Bucket pair expansion must be two nested explodes (peak per-row
    memory O(n)) — not flatten(transform(...)), which materializes the
    whole O(n²) pair array in ONE JVM row (~2M structs at cap=2000, a
    spike AQE cannot split). Verified at a cap-SIZED bucket (the largest
    full expansion allowed) plus one-past-cap (the hot-star path)."""
    from uncp_spark.operators.lsh import candidate_pairs

    cap = 40
    cfg = SimilarityConfig(hot_band_cap=cap)
    sig = [0] * cfg.num_perm
    sigs = spark.createDataFrame(
        [(i, sig) for i in range(cap)], "file_id long, minhash array<bigint>"
    )
    pairs, hot = candidate_pairs(sigs, cfg)
    plan = _fmt(pairs).replace(" ", "")
    assert "flatten(transform(" not in plan
    rows = pairs.collect()
    assert len(rows) == cap * (cap - 1) // 2
    assert all(r.src < r.dst and not r.from_hot_band for r in rows)
    assert hot.count() == 0

    # one past the cap: linear star to the min id, flagged + reported
    sigs2 = spark.createDataFrame(
        [(i, sig) for i in range(cap + 1)], "file_id long, minhash array<bigint>"
    )
    pairs2, hot2 = candidate_pairs(sigs2, cfg)
    assert pairs2.count() == cap
    assert pairs2.filter(~F.col("from_hot_band")).count() == 0
    assert hot2.count() == cfg.bands


def test_ingest_stays_in_codegen(spark):
    """The ingest stage (sha256/size/depth/...) is pure JVM expressions:
    no Python evals anywhere in its plan. Built over the shuffle-free
    corpus branches (a scan-projection chain): the fixture's bundle
    branch adds an aggregate Exchange, which wraps the whole plan in
    AdaptiveSparkPlan and hides codegen '*' markers pre-execution —
    that branch's plan shape is covered by the union/aggregate tests."""
    from uncp_spark.operators.ingest import ingest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    repos = docs.select(
        F.concat(F.lit("src/"), "source").alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.lit("deadbeef").alias("commit"), "lang",
        F.col("text").alias("content"),
    )
    plan = _fmt(ingest(repos))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # formatted mode marks codegen stages with '*' (simple mode spells
    # out WholeStageCodegen); the projection chain must carry it
    assert "* Project" in plan


def test_containment_index_is_single_exchange(spark):
    """The sketch inverted index is exchanged once (the bucket groupBy):
    the shareable-shid prefilter (2 <= size <= cap) is a BROADCAST
    semi-join — never a second shuffle of the full index — so singleton
    and hot entries die map-side before the collect_list exchange. The
    sizes pre-pass partial-aggregates map-side, so its exchange carries
    one row per distinct shid, not the index. Regression here doubles
    the candidate-tier shuffle volume at any scale. The pair ids cross
    the (src, dst) count exchange as 16-byte binaries, not 32-char hex."""
    from uncp_spark.fixtures import repos_from_documents
    from uncp_spark.operators.containment_index import containment_candidates
    from uncp_spark.operators.exact import exact_representatives
    from uncp_spark.operators.ingest import ingest
    from uncp_spark.operators.signatures import signature_table

    files = ingest(repos_from_documents(spark, SF_DIR))
    sigs = signature_table(
        exact_representatives(files), CFG, include_shingles=False
    )
    pairs, _hot = containment_candidates(sigs, CFG)
    plan = _fmt(pairs)
    # the shareable-shid prefilter broadcasts: a left-semi
    # BroadcastHashJoin exists...
    semi = [b for b in _node_blocks(plan, ("BroadcastHashJoin",))
            if "LeftSemi" in b]
    assert semi, "shareable-shid prefilter must be a broadcast semi-join"
    # ...and no shuffle-based semi/anti join re-exchanges the index
    assert not any(
        "LeftSemi" in b or "LeftAnti" in b
        for b in _node_blocks(plan, ("SortMergeJoin", "ShuffledHashJoin"))
    )
    # the index's struct payload crosses exactly one shid-partitioned
    # exchange: the bucket-building groupBy (its input is the
    # collect_list buffer `buf`). Every other shid exchange must be the
    # sizes pre-pass carrying map-side-combined (shid, count) rows only.
    shid_ex = [b for b in _node_blocks(plan, ("Exchange",))
               if "hashpartitioning(shid" in b]
    fat = [b for b in shid_ex if "buf" in b]
    skinny = [b for b in shid_ex if "count" in b and "buf" not in b]
    assert len(fat) == 1, f"index buffer exchanged {len(fat)}x, want 1"
    assert len(fat) + len(skinny) == len(shid_ex)
    # ids cross the (src, dst) count exchange interned as binary(16);
    # the hex conversion sits above it. Formatted node ids number every
    # child before its parent, so nothing under the exchange may carry
    # a larger id than it.
    import re

    def node_id(block):
        return int(re.match(r"\((\d+)\)", block.strip()).group(1))

    pair_ex = [b for b in _node_blocks(plan, ("Exchange",))
               if "hashpartitioning(src" in b]
    assert len(pair_ex) == 1, pair_ex
    hexed = [b for b in _node_blocks(plan, ("Project",)) if "lower(hex(" in b]
    assert hexed, "expected a hex conversion of the pair ids"
    assert all(node_id(b) > node_id(pair_ex[0]) for b in hexed), hexed
