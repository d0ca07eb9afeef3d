"""Engine command surface — the remaining uncp ``EngineCommand``
variants (src/engine.rs:66-81) that had no lever in the rebuild:

  SetPathFilter + Start   → ``rescan_paths``: scoped invalidation — the
                            files under a glob filter are re-ingested
                            and re-signed by an incremental update
                            (plans/incremental) even when their commit
                            fingerprints are unchanged; every file
                            outside the filter keeps its row and its
                            signature (asserted on the returned delta
                            report).
  ClearState              → ``clear_state``: explicitly retire a
                            pipeline checkpoint directory (stage tables,
                            the pairs stage's skew reports, run reports
                            and an interrupted update's staging area) —
                            fresh-start semantics, loud instead of
                            implicit.

The other variants already have homes: SetPath/Start/LoadCache are
``DedupPipeline.run`` arguments (resume reads the cache), Pause/Stop
live in plans/cancellation.py, and ClearPathFilter is simply running
the pipeline (or ``rescan_paths``) with no filter.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig
from uncp_spark.errors import CheckpointCorruptError
from uncp_spark.functions.globs import path_glob_filter
from uncp_spark.plans.incremental import STAGES, STAGING, incremental_update
from uncp_spark.sources import checkpoint as ckpt

# everything a pipeline run / incremental update may leave under
# base_dir besides the STAGES themselves
_AUX_DIRS = ["hot_buckets", "hot_shingles", "_cc_checkpoints", "_metrics", STAGING]
_AUX_FILES = ["_run.json"]


def rescan_paths(
    spark: SparkSession,
    base_dir: str,
    current_repos: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    repos: list[str] | None = None,
    cfg: SimilarityConfig | None = None,
    input_token: str = "rescan",
    processed_at_ns: int | None = None,
) -> dict:
    """Re-process exactly the files whose path matches the glob filter,
    trusting the checkpoint for everything else.

    The commit column is the change fingerprint the incremental path
    trusts (uncp trusts stat metadata the same way, detector.rs:783-885)
    — this is the command for when that trust is wrong for a known
    subtree (a repo rewrote history in place, an ingest bug corrupted
    one prefix): the matched files are re-ingested and their signatures
    re-derived (reused by sha when the content is already known), and
    the stages after ``sigs`` rebuild as in a batch run. With no filter
    every current file is forced: a full logical rebuild that still
    reuses signature work by sha.

    Returns ``incremental_update``'s output dict; ``report["delta"]``
    carries the scoped-work proof (files_ingested == matched files) and
    ``report["rescan"]`` records the filter and match count.
    """
    files_dir = os.path.join(base_dir, "files")
    if ckpt.read_manifest(files_dir) is None:
        raise CheckpointCorruptError(
            f"rescan_paths needs a completed pipeline checkpoint at "
            f"{base_dir!r}; stage 'files' has no manifest"
        )
    keys = current_repos.select("repo", "path")
    if repos:
        # the SetPath analogue: scope by repository (uncp scopes by the
        # scan-root directory; repo is this input contract's root)
        keys = keys.filter(F.col("repo").isin(list(repos)))
    forced = path_glob_filter(keys, include, exclude) if (include or exclude) else keys
    out = incremental_update(
        spark,
        base_dir,
        current_repos,
        cfg=cfg,
        input_token=input_token,
        processed_at_ns=processed_at_ns,
        force_keys=forced,
    )
    out["report"]["rescan"] = {
        "include": list(include or []),
        "exclude": list(exclude or []),
        "repos": list(repos or []),
        "forced_keys": forced.count(),
    }
    return out


def clear_state(base_dir: str) -> dict:
    """uncp ``EngineCommand::ClearState``: retire a pipeline checkpoint
    directory for a fresh start.

    Refuses to touch a directory that does not look like a pipeline
    checkpoint (no stage manifest anywhere) — an explicit guard against
    pointing the command at a data directory. Only recognized stage /
    auxiliary entries are removed; foreign files in the same directory
    are left alone and reported. Returns ``{"removed": [...],
    "kept": [...]}``."""
    if not os.path.isdir(base_dir):
        raise CheckpointCorruptError(f"no checkpoint directory at {base_dir!r}")
    has_manifest = any(
        ckpt.read_manifest(os.path.join(base_dir, s)) is not None for s in STAGES
    )
    if not has_manifest:
        raise CheckpointCorruptError(
            f"{base_dir!r} has no stage manifest — refusing to clear a "
            f"directory that is not a pipeline checkpoint"
        )
    removed, kept = [], []
    for entry in sorted(os.listdir(base_dir)):
        full = os.path.join(base_dir, entry)
        if entry not in STAGES and entry not in _AUX_DIRS and entry not in _AUX_FILES:
            kept.append(entry)
            continue
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            try:
                os.remove(full)
            except OSError:
                kept.append(entry)
                continue
        removed.append(entry)
    return {"removed": removed, "kept": kept}
