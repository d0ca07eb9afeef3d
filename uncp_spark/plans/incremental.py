"""Incremental update — the batch stage graph over reused per-file work.

Reference anchor: uncp's incremental contract is "only changed files
re-processed" (src/detector.rs:783-885; merge-on-save src/persist.rs:
208-233). The per-file work is ingest and signatures, so an update is
``DedupPipeline.run`` with exactly those two builds replaced:

  files        checkpointed rows whose (repo, path, commit) is still
               current are kept verbatim; only the rest of the snapshot
               is ingested.
  sigs         the batch run's representatives (min file_id per sha);
               a representative whose sha already has a stored
               signature reuses its payload (minhash / simhash /
               n_shingles / bottomk depend on content only), and the
               signature UDF runs for genuinely-new content alone.
  pairs …      the batch builds, unchanged — so an update equals a
  clusters     batch run on the same snapshot, table for table.

Change detection uses the ``commit`` column as the version fingerprint
(the mtime analogue in the input contract): same (repo, path, commit)
⇒ unchanged, exactly as uncp trusts stat metadata.

Transactionality: the graph runs in ``<base_dir>/_incr_staging`` while
reading the previous checkpoint; only after every stage committed are
the stage directories (with the skew reports and ``_run.json``) renamed
into ``base_dir``, so a killed update leaves the previous checkpoint
intact and is simply re-run. A crash in the middle of the renames
leaves ``files`` and ``sigs`` from different runs, which the next
update refuses (the sigs manifest's input token names the files
materialization it was built from).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig
from uncp_spark.errors import CheckpointCorruptError, ConfigMismatchError
from uncp_spark.operators.components import label_all
from uncp_spark.operators.exact import exact_representatives
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.signatures import signature_table
from uncp_spark.plans.pipeline import SIG_COLS, DedupPipeline
from uncp_spark.session import ensure_parallelism
from uncp_spark.sources import checkpoint as ckpt

VKEY = ["repo", "path", "commit"]
STAGES = ["files", "sigs", "pairs", "edges", "labels", "clusters"]
STAGING = "_incr_staging"
# content-derived signature columns, reusable across files with one sha
PAYLOAD = ["minhash", "simhash", "n_shingles", "bottomk"]


def _check_checkpoint(base_dir: str, chash: str) -> None:
    """The update reads ``files`` and ``sigs``: both must be complete,
    built under this config, and from one run."""
    manifests = {}
    for st in ("files", "sigs"):
        path = os.path.join(base_dir, st)
        m = ckpt.read_manifest(path)
        if m is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise CheckpointCorruptError(
                f"incremental_update requires a completed batch checkpoint; "
                f"stage {st!r} at {path} is missing or incomplete"
            )
        # merging signatures computed under a different config (perm
        # count, seed, bands) silently produces bands that never collide
        # with the stored ones — the batch resume rejects it, so must we
        if m.get("config_hash") != chash:
            raise ConfigMismatchError(
                f"config mismatch: checkpoint stage {st!r} was built with "
                f"config_hash={m.get('config_hash')!r} but this update uses "
                f"{chash!r} — rerun the batch pipeline (or pass the original "
                f"SimilarityConfig) instead of mixing signature spaces"
            )
        manifests[st] = m
    files_token = ckpt.manifest_token(os.path.join(base_dir, "files"))
    if manifests["sigs"].get("input_token") != files_token:
        raise CheckpointCorruptError(
            f"stage 'sigs' at {base_dir} was not built from the 'files' "
            f"checkpoint beside it (an interrupted update or a copied "
            f"directory); rerun the batch pipeline to rebuild the chain"
        )


def _promote(staging: str, base_dir: str) -> None:
    """Rename every staged output into ``base_dir``; the previous
    directory moves into the staging area first and goes with it."""
    for name in STAGES + ["hot_buckets", "hot_shingles", "_run.json"]:
        final = os.path.join(base_dir, name)
        if os.path.exists(final):
            os.rename(final, os.path.join(staging, name + ".prev"))
        os.rename(os.path.join(staging, name), final)
    shutil.rmtree(staging, ignore_errors=True)


def incremental_update(
    spark: SparkSession,
    base_dir: str,
    current_repos: DataFrame,
    cfg: SimilarityConfig | None = None,
    input_token: str = "incremental",
    processed_at_ns: int | None = None,
    force_keys: DataFrame | None = None,
) -> dict:
    """Merge a new corpus snapshot into an existing pipeline checkpoint.

    ``base_dir`` must hold a completed DedupPipeline run (at least its
    ``files`` and ``sigs`` stages, from one run, under ``cfg``). Returns
    the same output dict shape as ``DedupPipeline.run``; its ``report``
    adds ``delta`` (files_ingested, files_dead, sigs_fresh — the only
    signature-UDF rows — and sigs_rebound, reused signatures whose
    stored representative was retired) and ``stage_seconds``.

    ``force_keys`` — optional (repo, path) frame: rows whose key appears
    here are treated as CHANGED even when their (repo, path, commit)
    fingerprint matches the checkpoint, i.e. the old row is retired and
    the current row re-ingested. This is the scoped-invalidation lever
    behind ``rescan_paths`` (uncp's ``EngineCommand::SetPathFilter`` +
    Start, src/engine.rs:66-81): commit fingerprints are TRUSTED by
    default exactly as uncp trusts stat metadata, and this is the
    escape hatch when that trust is wrong for a known subtree."""
    cfg = cfg or SimilarityConfig()
    _check_checkpoint(base_dir, cfg.config_hash())
    files_old = ckpt.read_checkpoint(spark, os.path.join(base_dir, "files"))
    sigs_old = ckpt.read_checkpoint(spark, os.path.join(base_dir, "sigs"))

    kept = files_old.join(current_repos.select(*VKEY), VKEY, "left_semi")
    if force_keys is not None:
        kept = kept.join(
            force_keys.select("repo", "path").distinct(), ["repo", "path"],
            "left_anti",
        )
    kept_keys = kept.select(*VKEY)
    retired_ids = files_old.join(kept_keys, VKEY, "left_anti").select("file_id")
    delta: dict[str, int] = {}
    held: list[DataFrame] = []

    def build_files(spark, ctx):
        fresh = ingest(
            ctx["repos"].join(kept_keys, VKEY, "left_anti"),
            processed_at_ns=processed_at_ns,
        )
        delta["files_ingested"] = fresh.count()
        delta["files_dead"] = retired_ids.count()
        return kept.unionByName(fresh)

    def build_sigs(spark, ctx):
        reps = exact_representatives(ctx["files"])
        stored = sigs_old.join(
            files_old.select("file_id", "sha256"), "file_id"
        ).select("sha256", F.col("file_id").alias("stored_id"), *PAYLOAD)
        reused = reps.drop("content").join(stored, "sha256")
        fresh_ids = (
            reps.select("file_id", "sha256")
            .join(stored, "sha256", "left_anti")
            .select("file_id")
        )
        fresh = signature_table(
            ensure_parallelism(reps.join(fresh_ids, "file_id", "left_semi")),
            cfg, include_shingles=False,
        ).select(*SIG_COLS).persist()
        held.append(fresh)
        delta["sigs_fresh"] = fresh.count()
        delta["sigs_rebound"] = reused.join(
            retired_ids.withColumnRenamed("file_id", "stored_id"),
            "stored_id", "left_semi",
        ).count()
        return reused.select(*SIG_COLS).unionByName(fresh)

    replaced = {"files": build_files, "sigs": build_sigs}
    staging = os.path.join(base_dir, STAGING)
    shutil.rmtree(staging, ignore_errors=True)
    pipe = DedupPipeline(base_dir=staging, cfg=cfg)
    pipe.stages = [
        dataclasses.replace(s, build=replaced.get(s.name, s.build))
        for s in pipe.default_stages()
    ]
    try:
        report = pipe.run(
            spark, current_repos, input_token, resume=False,
            register_sql_views=False,
        )["report"]
    finally:
        # a cached frame keeps the file listing of the checkpoint it
        # read, which the promotion below deletes
        for df in held:
            df.unpersist()
    report["delta"] = delta
    report["stage_seconds"] = {s["stage"]: s["seconds"] for s in report["stages"]}
    with open(os.path.join(staging, "_run.json"), "w") as f:
        json.dump(report, f, indent=1)
    _promote(staging, base_dir)

    out = {
        name: ckpt.read_checkpoint(spark, os.path.join(base_dir, name))
        for name in STAGES
    }
    out["labeled"] = label_all(out["files"], out["labels"])
    out["report"] = report
    return out
