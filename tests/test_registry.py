"""X3 — the stage protocol: a custom pipeline stage, or a replaced
built-in one (a custom scorer is a replaced ``edges`` stage), needs no
edits to pipeline.py (reference: SystemRunner
src/systems/mod.rs:18-42)."""

from __future__ import annotations

import dataclasses
import os
import time

import pytest
from pyspark.sql import functions as F

from uncp_spark.plans.pipeline import DedupPipeline, StageSpec
from uncp_spark.sources import checkpoint as ckpt


def test_custom_scorer_selected_by_pipeline(spark, repos_df, tmp_path):
    """A custom scorer is a replaced ``edges`` StageSpec: its edges reach
    the labels, and its ``token_salt`` keeps its checkpoint apart from
    the default graph's, so going back to the default rebuilds edges
    onward while files, sigs and pairs resume."""

    def accept_all_edges(spark_, ctx):
        # accept every candidate pair with a constant score
        return ctx["pairs"].select(
            "src", "dst", F.lit(1.0).alias("score"),
            F.lit("custom").alias("edge_type"),
            F.lit(None).cast("string").alias("data"),
        )

    base = str(tmp_path / "ckpt")
    pipe = DedupPipeline(base_dir=base)
    pipe.stages = [
        dataclasses.replace(s, build=accept_all_edges, token_salt="accept_all")
        if s.name == "edges" else s
        for s in pipe.default_stages()
    ]
    out = pipe.run(spark, repos_df, input_token="fixture")
    assert out["clusters"].count() > 0
    edges = out["edges"]
    assert {r[0] for r in edges.select("edge_type").distinct().collect()} == {"custom"}
    # every custom edge joins its two ends in one component
    labels = out["labels"]
    ends = (
        edges.join(labels.select(F.col("file_id").alias("src"),
                                 F.col("cluster_id").alias("c_src")), "src")
        .join(labels.select(F.col("file_id").alias("dst"),
                            F.col("cluster_id").alias("c_dst")), "dst")
    )
    assert ends.count() == edges.count() > 0
    assert ends.filter(F.col("c_src") != F.col("c_dst")).count() == 0

    # switching back to the default graph must invalidate edges+downstream
    out2 = DedupPipeline(base_dir=base).run(spark, repos_df, input_token="fixture")
    flags = {s["stage"]: s["resumed"] for s in out2["report"]["stages"]}
    assert flags["files"] and flags["sigs"] and flags["pairs"]
    assert not flags["edges"] and not flags["labels"] and not flags["clusters"]
    assert "custom" not in {
        r[0] for r in out2["edges"].select("edge_type").distinct().collect()
    }


def test_custom_stage_appended(spark, repos_df, tmp_path):
    """X3: append a custom stage to the default graph — no pipeline.py
    edits — and get checkpoint/resume + lineage for free."""
    base = str(tmp_path / "ckpt_custom")
    pipe = DedupPipeline(base_dir=base)

    def build_report(spark_, ctx):
        time.sleep(0.3)  # eager work before the checkpoint write
        return ctx["clusters"].agg(
            F.count("*").alias("n_clusters"),
            F.sum("dup_count").alias("n_dup_files"),
        )

    stages = pipe.default_stages() + [
        StageSpec("summary", ("clusters",), build_report)
    ]
    pipe.stages = stages
    out = pipe.run(spark, repos_df, input_token="fixture")
    names = [s["stage"] for s in out["report"]["stages"]]
    assert names == ["files", "sigs", "pairs", "edges", "labels",
                     "clusters", "summary"]
    assert out["summary"].collect()[0]["n_clusters"] > 0
    # a stage's reported seconds span its build as well as its write
    secs = {s["stage"]: s["seconds"] for s in out["report"]["stages"]}
    write_s = ckpt.read_manifest(os.path.join(base, "summary"))["seconds"]
    assert secs["summary"] >= 0.3
    assert secs["summary"] >= 0.3 + write_s - 0.002
    # the custom stage is checkpointed and resumes like a built-in
    out2 = pipe.run(spark, repos_df, input_token="fixture")
    assert all(s["resumed"] for s in out2["report"]["stages"])


def test_stage_order_must_satisfy_deps(spark, repos_df, tmp_path):
    pipe = DedupPipeline(base_dir=str(tmp_path / "bad"))
    stages = pipe.default_stages()
    pipe.stages = [stages[1]]  # sigs without files
    with pytest.raises(ValueError, match="depends on"):
        pipe.run(spark, repos_df, input_token="x")
