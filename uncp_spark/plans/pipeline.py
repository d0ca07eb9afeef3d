"""The end-to-end dedup pipeline (SURVEY.md §7.1) with checkpoint/resume.

uncp's engine loop (src/engine.rs:202-492) repeatedly asks "is there
pending work?" (pending-hash count, src/data.rs:275-288) and runs the
next system; a kill loses ≤5 s thanks to autosave. Here each stage is a
checkpointed table and the loop collapses to "first incomplete stage
wins" — rerunning the pipeline after a kill recomputes only missing
stages (tested in tests/test_resume.py).

X3 stage protocol (uncp ``SystemRunner``, src/systems/mod.rs:18-42): the
stage list is DATA, not code — each ``StageSpec`` declares its name, its
dependency stages (the analogue of ``can_run``'s dependency check) and a
builder ``(spark, ctx) → DataFrame``. ``DedupPipeline(stages=[...])``
accepts a custom graph (a custom scorer is a replaced ``edges`` spec,
``dataclasses.replace(spec, build=..., token_salt=...)``); the default
graph is:

    files   = ingest(repos)                      sha256/size/depth
    sigs    = minhash+simhash(shingle(reps))     reps = 1 row per sha256
    pairs   = LSH candidates (+ hot-bucket report)
    edges   = verified near edges ∪ exact-tier star edges
    labels  = connected components
    clusters= priority-ranked cluster stats

Every checkpoint manifest chains the manifest tokens of the stage's
declared dependencies, giving per-stage lineage; per-partition row
counts are embedded (north_rule's "per-partition lineage + metrics").
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from uncp_spark.config import SimilarityConfig
from uncp_spark.operators.components import connected_components, label_all
from uncp_spark.operators.containment_index import combined_candidate_pairs
from uncp_spark.operators.exact import exact_cluster_edges, exact_representatives
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.signatures import signature_table
from uncp_spark.operators.priority import cluster_stats, priority_ranked, register_views
from uncp_spark.operators.verify import accept_edges, score_pairs
from uncp_spark.session import ensure_parallelism
from uncp_spark.sources import checkpoint as ckpt

# NO ``shingles`` column: the fat per-token arrays are the dominant
# Arrow-transfer + checkpoint-write payload of the signature stage
# (same order as the content itself — petabytes at 10^12 files) and
# only residual verify candidates ever need them. Verify recomputes
# them for exactly that set from content (signatures.shingle_sets,
# bit-identical ids); the signature stage ships fixed-width columns only.
SIG_COLS = ["file_id", "repo", "path", "lang", "size", "depth",
            "minhash", "simhash", "n_shingles", "bottomk"]


@dataclass(frozen=True)
class StageSpec:
    """One checkpointed pipeline stage (SystemRunner parity: name ≈
    ``name()``, deps ≈ ``can_run`` dependencies, build ≈ ``run``)."""

    name: str
    deps: tuple[str, ...]
    build: Callable[[SparkSession, dict], DataFrame]
    # extra identity mixed into the stage's input token, so a caller that
    # swaps a stage's build invalidates its checkpoint (and everything
    # downstream); the default graph sets none
    token_salt: str = ""


@dataclass
class DedupPipeline:
    base_dir: str
    cfg: SimilarityConfig = field(default_factory=SimilarityConfig)
    stages: list[StageSpec] | None = None

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    # ------------------------------------------------------ default graph

    def default_stages(self) -> list[StageSpec]:
        cfg = self.cfg

        def build_files(spark, ctx):
            return ingest(ctx["repos"])

        def build_sigs(spark, ctx):
            reps = ensure_parallelism(exact_representatives(ctx["files"]))
            return signature_table(
                reps, cfg, include_shingles=False
            ).select(*SIG_COLS)

        def build_pairs(spark, ctx):
            pairs, hot_b, hot_s = combined_candidate_pairs(ctx["sigs"], cfg)
            # skew reports persisted alongside (observability — no
            # silent caps): quarantined LSH buckets + dropped
            # boilerplate-shingle index buckets
            hot_b.write.mode("overwrite").parquet(self._stage_dir("hot_buckets"))
            hot_s.write.mode("overwrite").parquet(self._stage_dir("hot_shingles"))
            return pairs

        def build_edges(spark, ctx):
            near = accept_edges(
                score_pairs(ctx["pairs"], ctx["sigs"], cfg, ctx["files"]), cfg
            )
            exact = exact_cluster_edges(ctx["files"])
            cols = ["src", "dst", "score", "edge_type", "data"]
            return near.select(*cols).unionByName(exact.select(*cols))

        def build_labels(spark, ctx):
            return connected_components(
                ctx["edges"].select("src", "dst"),
                checkpoint_dir=os.path.join(self.base_dir, "_cc_checkpoints"),
            )

        def build_clusters(spark, ctx):
            return priority_ranked(
                cluster_stats(label_all(ctx["files"], ctx["labels"]))
            )

        return [
            StageSpec("files", (), build_files),
            StageSpec("sigs", ("files",), build_sigs),
            StageSpec("pairs", ("sigs",), build_pairs),
            StageSpec("edges", ("pairs", "sigs", "files"), build_edges),
            StageSpec("labels", ("edges",), build_labels),
            StageSpec("clusters", ("labels", "files"), build_clusters),
        ]

    # ------------------------------------------------------------- runner

    def _run_stage(
        self,
        spark: SparkSession,
        spec: StageSpec,
        input_token: str,
        ctx: dict,
        results: list,
        resume: bool,
    ) -> tuple[DataFrame, str]:
        path = self._stage_dir(spec.name)
        chash = self.cfg.config_hash()
        if resume and ckpt.is_complete(path, chash, input_token):
            df = ckpt.read_checkpoint(spark, path)
            m = ckpt.read_manifest(path) or {}
            results.append(
                ckpt.StageResult(spec.name, path, m.get("rows", -1), 0.0, True, m)
            )
        else:
            # the stage's seconds span its build AND its write: a build
            # may run jobs of its own (the pairs stage writes its skew
            # reports) or eager work before the checkpoint write
            t0 = time.monotonic()
            df = spec.build(spark, ctx)
            res = ckpt.write_checkpoint(df, path, spec.name, chash, input_token)
            res.seconds = time.monotonic() - t0
            results.append(res)
            df = ckpt.read_checkpoint(spark, path)
        return df, ckpt.manifest_token(path)

    def run(
        self,
        spark: SparkSession,
        repos: DataFrame,
        input_token: str,
        resume: bool = True,
        register_sql_views: bool = True,
        cancel=None,
        progress: bool = True,
    ) -> dict:
        """Run (or resume) the stage graph. Returns dict of output
        DataFrames + stage metrics.

        ``cancel``: optional ``plans.cancellation.CancellationToken``
        (T3). Checked between stages (a cancel costs at most the
        in-flight stage — every finished stage is already checkpointed,
        so a later resume run skips it) and bound to a Spark job group
        so ``cancel()`` interrupts in-flight jobs too. The same token
        carries Pause/Resume (T1, uncp src/engine.rs:66-81): while
        ``token.pause()`` holds, the loop blocks HERE at the stage
        boundary — the finished stage's checkpoint is already on disk,
        no new Spark jobs are submitted, and ``token.resume()``
        continues the run in-process.

        ``progress`` (T4): stream live task-level progress rows to
        ``<base_dir>/_metrics/progress.jsonl`` while stages run (uncp's
        ``SystemProgress`` analogue, see plans/progress.py); query them
        mid-run via ``plans.progress.read_progress``."""
        from uncp_spark.operators.verify import ScorerCache
        from uncp_spark.plans.progress import ProgressReporter

        t0 = time.monotonic()
        os.makedirs(self.base_dir, exist_ok=True)
        results: list[ckpt.StageResult] = []
        stages = self.stages if self.stages is not None else self.default_stages()

        if cancel is not None:
            cancel.bind(spark)
        ctx: dict = {"repos": repos, "cfg": self.cfg, "base_dir": self.base_dir}
        reserved = set(ctx) | {"report", "labeled"}
        tokens: dict[str, str] = {}
        reporter = (
            ProgressReporter(
                spark, os.path.join(self.base_dir, "_metrics")
            ).start()
            if progress else None
        )
        try:
            # this run owns its scorer persist handles (ScorerCache):
            # two pipelines interleaved in one driver no longer retire
            # each other's phase-1 caches; scope exit (after the last
            # stage's checkpoint materialized) releases exactly ours
            with ScorerCache():
                for spec in stages:
                    if cancel is not None:
                        cancel.wait_if_paused()   # blocks while paused (T1)
                        cancel.raise_if_cancelled()
                    if spec.name in reserved:
                        raise ValueError(f"stage name {spec.name!r} is reserved")
                    missing = [d for d in spec.deps if d not in tokens]
                    if missing:
                        raise ValueError(
                            f"stage {spec.name!r} depends on {missing} which have "
                            f"not run — stage list order must satisfy deps"
                        )
                    if reporter is not None:
                        reporter.set_stage(spec.name)
                    tok_in = (
                        "|".join(tokens[d] for d in spec.deps) if spec.deps else input_token
                    )
                    if spec.token_salt:
                        tok_in = f"{tok_in}|{spec.token_salt}"
                    df, tok = self._run_stage(spark, spec, tok_in, ctx, results, resume)
                    ctx[spec.name] = df
                    tokens[spec.name] = tok
        finally:
            if reporter is not None:
                reporter.stop()

        labeled = (
            label_all(ctx["files"], ctx["labels"])
            if "files" in ctx and "labels" in ctx
            else None
        )
        if register_sql_views and labeled is not None and "clusters" in ctx:
            register_views(spark, ctx["clusters"], labeled)

        total = time.monotonic() - t0
        run_report = {
            "total_seconds": round(total, 3),
            "config_hash": self.cfg.config_hash(),
            "stages": [
                {"stage": r.name, "rows": r.rows, "seconds": round(r.seconds, 3),
                 "resumed": r.resumed}
                for r in results
            ],
        }
        with open(os.path.join(self.base_dir, "_run.json"), "w") as f:
            json.dump(run_report, f, indent=1)
        out = {name: ctx[name] for name in tokens}
        out["labeled"] = labeled
        out["report"] = run_report
        return out
