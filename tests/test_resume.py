"""Pipeline integration + resume-from-kill (SURVEY.md §5 test plan f/g):
kill after stage k, rerun, final clusters byte-identical; determinism:
two runs ⇒ identical cluster ids."""

from __future__ import annotations

import os
import shutil

import pytest

from uncp_spark.config import SimilarityConfig
from uncp_spark.plans.pipeline import DedupPipeline


def _cluster_map(out):
    return sorted(
        (r["file_id"], r["cluster_id"])
        for r in out["labeled"].select("file_id", "cluster_id").collect()
    )


@pytest.fixture(scope="module")
def first_run(spark, repos_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt"))
    pipe = DedupPipeline(base_dir=base)
    out = pipe.run(spark, repos_df, input_token="fixture")
    # materialize eagerly: later tests rewrite the checkpoint dirs these
    # DataFrames lazily reference
    labeled_rows = out["labeled"].select(
        "file_id", "cluster_id", "dup_class", "dup_group"
    ).collect()
    n_clusters = out["clusters"].count()
    stage_names = [s["stage"] for s in out["report"]["stages"]]
    summary = {"labeled_rows": labeled_rows, "n_clusters": n_clusters,
               "stages": stage_names}
    return base, pipe, summary, _cluster_map(out)


def test_pipeline_end_to_end(first_run):
    _, _, summary, clusters = first_run
    assert summary["n_clusters"] > 0
    assert len(clusters) > 0
    assert summary["stages"] == ["files", "sigs", "pairs", "edges", "labels", "clusters"]


def test_full_resume_skips_everything(spark, repos_df, first_run):
    base, pipe, _, clusters = first_run
    out2 = pipe.run(spark, repos_df, input_token="fixture")
    assert all(s["resumed"] for s in out2["report"]["stages"])
    assert _cluster_map(out2) == clusters


def test_kill_mid_pipeline_resumes(spark, repos_df, first_run):
    base, pipe, _, clusters = first_run
    shutil.rmtree(os.path.join(base, "labels"))
    shutil.rmtree(os.path.join(base, "clusters"))
    out = pipe.run(spark, repos_df, input_token="fixture")
    flags = {s["stage"]: s["resumed"] for s in out["report"]["stages"]}
    assert flags == {"files": True, "sigs": True, "pairs": True,
                     "edges": True, "labels": False, "clusters": False}
    assert _cluster_map(out) == clusters


def test_incomplete_checkpoint_not_resumed(spark, repos_df, first_run):
    """A stage dir without _SUCCESS (simulated mid-write kill) recomputes."""
    base, pipe, _, clusters = first_run
    os.remove(os.path.join(base, "pairs", "_SUCCESS"))
    out = pipe.run(spark, repos_df, input_token="fixture")
    flags = {s["stage"]: s["resumed"] for s in out["report"]["stages"]}
    assert flags["pairs"] is False
    assert _cluster_map(out) == clusters


def test_config_change_invalidates(spark, repos_df, first_run):
    base, _, _, _ = first_run
    pipe = DedupPipeline(base_dir=base, cfg=SimilarityConfig(hamming_threshold=2))
    out = pipe.run(spark, repos_df, input_token="fixture")
    assert not any(s["resumed"] for s in out["report"]["stages"])


def test_determinism_two_fresh_runs(spark, repos_df, tmp_path_factory, first_run):
    _, _, _, clusters = first_run
    base2 = str(tmp_path_factory.mktemp("ckpt2"))
    out2 = DedupPipeline(base_dir=base2).run(spark, repos_df, input_token="fixture")
    assert _cluster_map(out2) == clusters


def test_input_change_same_rowcount_invalidates_downstream(
    spark, repos_df, tmp_path_factory
):
    """ADVICE r1 (high): a changed input corpus with the SAME row count
    must invalidate every downstream stage — the manifest token chain
    carries a per-write nonce, so rebuilding 'files' (new input_token)
    cascades through sigs/pairs/edges/labels/clusters even though the
    files row count is unchanged."""
    from pyspark.sql import functions as F

    base = str(tmp_path_factory.mktemp("ckpt_input_change"))
    pipe = DedupPipeline(base_dir=base)
    pipe.run(spark, repos_df, input_token="v1")

    # same schema, same row count, one file's content edited
    first_path = repos_df.select("path").orderBy("repo", "path").first()[0]
    repos2 = repos_df.withColumn(
        "content",
        F.when(
            F.col("path") == first_path,
            F.concat(F.col("content"), F.lit(" corpus edit marker xyzzy")),
        ).otherwise(F.col("content")),
    )
    assert repos2.count() == repos_df.count()
    out2 = pipe.run(spark, repos2, input_token="v2")
    flags = {s["stage"]: s["resumed"] for s in out2["report"]["stages"]}
    assert not any(flags.values()), f"stale resume after input change: {flags}"


def test_planted_groups_cocluster(first_run):
    """≥95% of planted dup groups end in one cluster (the stragglers are
    mutations below the pinned thresholds, by design)."""
    from collections import defaultdict

    _, _, summary, _ = first_run
    groups = defaultdict(set)
    for r in summary["labeled_rows"]:
        if r["dup_group"] >= 0:
            groups[(r["dup_class"], r["dup_group"])].add(r["cluster_id"])
    total = len(groups)
    split = sum(1 for v in groups.values() if len(v) > 1)
    assert total > 10
    assert split / total <= 0.05, f"{split}/{total} planted groups split"


def test_checkpoint_write_is_single_scan(spark, tmpdir_path):
    """Round-3 verdict defect #6: the post-write per-partition metrics
    used to be a SECOND full scan of the checkpoint (doubling checkpoint
    read I/O at 100 TB). Now the write job is the only Spark job a
    checkpoint costs — rows and per-partition lineage come from the
    parquet footers (asserted via statusTracker job counts), and the
    manifest shape is unchanged. Reading the checkpoint back takes the
    schema from the manifest, so the read adds no schema-inference job;
    a manifest without a schema is not complete."""
    import json
    import os

    from uncp_spark.sources import checkpoint as ckpt

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, s string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-single-scan", "checkpoint write probe")
    try:
        res = ckpt.write_checkpoint(
            df, os.path.join(tmpdir_path, "st"), "st", "cfg", "t1"
        )
        back = ckpt.read_checkpoint(spark, res.path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("ckpt-single-scan")
    assert len(jobs) == 1, f"checkpoint write + read ran {len(jobs)} jobs: {jobs}"
    assert res.rows == 100
    pm = res.manifest["partition_metrics"]
    assert sum(p["rows"] for p in pm) == 100
    assert all(p["bytes"] > 0 for p in pm)
    assert [p["partition_id"] for p in pm] == list(range(len(pm)))
    # footer-derived metrics must agree with an actual scan, and the
    # read-back with the manifest's schema with a schema-inferring read
    inferred = spark.read.parquet(res.path)
    assert inferred.count() == 100
    assert back.schema == inferred.schema
    assert sorted(back.collect()) == sorted(inferred.collect())
    assert ckpt.is_complete(res.path, "cfg", "t1")
    m = ckpt.read_manifest(res.path)
    del m["schema"]
    with open(os.path.join(res.path, ckpt.MANIFEST), "w") as f:
        json.dump(m, f)
    assert not ckpt.is_complete(res.path, "cfg", "t1")
