"""Incremental pair/cluster maintenance — the 100 TB daily-delta path.

Reference anchor: uncp's incremental contract is "only changed files
re-hashed" (src/detector.rs:783-885; merge-on-save src/persist.rs:
208-233). Without this module any input change invalidates and
rebuilds pairs/edges/labels for the whole corpus through the (correct
but total) checkpoint nonce chain. This module extends the contract
past the file diff (tier 1: surviving, delta and dead files keyed by
(repo, path, commit)) to the pair/cluster tiers this engine added:

  signatures   computed ONLY for genuinely-new content (shas with no
               surviving signature); content whose representative file
               died but that survives through another copy gets its old
               signature REBOUND to the new representative — a pure-JVM
               join, zero UDF work.
  pairs        delta band keys join the CHECKPOINTED band table
               (written by the batch pairs stage); only buckets a delta
               member lands in are re-grouped, and only pairs touching
               a delta id are (re)scored. Pairs/edges between untouched
               old members are carried forward as-is.
  labels       connected components re-runs ONLY on affected
               components: clusters containing a dead file or an
               endpoint of a delta edge. Untouched clusters keep their
               labels verbatim.
  clusters     priority stats recomputed from labeled files (skinny
               agg — the cheap tier, same cost class as exact dedup).

Change detection uses the ``commit`` column as the version fingerprint
(the mtime analogue in the input contract): same (repo, path, commit)
⇒ unchanged, exactly as uncp trusts stat metadata. A changed commit
with byte-identical content is re-processed harmlessly (sha dedup
collapses it again).

Transactionality: every new table is computed FROM the old checkpoints
and written to a ``<stage>.incr_tmp`` sibling (Spark cannot — and must
not — overwrite a parquet directory its own plan is reading); only
after every tier has committed are the directories swapped into place,
so a killed incremental run leaves the previous state fully intact and
is simply re-run. At production scale each write is an Iceberg
``MERGE INTO`` snapshot commit on the same seam (sources/checkpoint.py
module docstring), which also makes the write I/O delta-sized; here
compute is delta-sized and write I/O is full (plain parquet).

Semantics vs a full recompute: cluster assignments are IDENTICAL as
long as no LSH bucket crosses ``hot_band_cap`` between runs — the
incremental candidate set is a SUPERSET of the batch one (old pairs are
never dropped while both endpoints live), so recall is monotone; the
only possible divergence is extra recall on buckets the batch run
degrades to hot-band stars. Tested for cluster equality in
tests/test_incremental_pairs.py.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig
from uncp_spark.errors import CheckpointCorruptError, ConfigMismatchError
from uncp_spark.operators.components import connected_components, label_all
from uncp_spark.operators.containment_index import (
    containment_candidates,
    containment_entries,
)
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.lsh import band_keys, candidate_pairs
from uncp_spark.operators.priority import cluster_stats, priority_ranked
from uncp_spark.operators.signatures import signature_table
from uncp_spark.operators.verify import accept_edges, score_pairs
from uncp_spark.sources import checkpoint as ckpt

# identity columns of a signature row; everything else in the stored
# sig schema is content-derived payload (minhash / simhash /
# n_shingles / shingles when an older checkpoint kept them) — the
# incremental tiers are schema-driven off the existing checkpoint so
# both payload shapes resume cleanly
SIG_IDENTITY = ("file_id", "repo", "path", "lang", "size", "depth")
VKEY = ["repo", "path", "commit"]
TMP_SUFFIX = ".incr_tmp"
STAGES = ["files", "sigs", "bands", "cindex", "pairs", "edges", "labels",
          "clusters"]


def _ids(df: DataFrame, col: str = "file_id") -> DataFrame:
    return df.select(F.col(col).alias("file_id")).distinct()


def _drop_touching(df: DataFrame, ids: DataFrame) -> DataFrame:
    """Rows of an (src, dst, ...) table with NEITHER endpoint in ids."""
    return (
        df.join(ids.select(F.col("file_id").alias("src")), "src", "left_anti")
        .join(ids.select(F.col("file_id").alias("dst")), "dst", "left_anti")
    )


def _swap_in(base_dir: str, names: list[str]) -> None:
    """Atomic-per-stage promotion of every ``<stage>.incr_tmp`` dir. Runs
    only after ALL tiers committed. A crash mid-swap leaves a mixed
    state that is still SAFE: the manifest-token chain no longer matches
    across stages, so a batch ``resume`` rebuilds from the first
    unswapped stage, and re-running ``incremental_update`` with the same
    snapshot converges to the correct clusters (every tier re-derives
    its delta from files-vs-current; at worst some orphaned sig/pair
    rows for vanished content linger until the next batch run — they
    reference ids absent from the files table, so ``label_all``'s join
    drops them from every user-facing output)."""
    for name in names:
        final = os.path.join(base_dir, name)
        tmp = final + TMP_SUFFIX
        if not os.path.exists(tmp):
            continue
        old = final + ".incr_old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)


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

    ``base_dir`` must hold a completed DedupPipeline run (files / sigs /
    pairs / edges / labels / clusters; the bands table is read if the
    batch run persisted it, else derived once from the sigs checkpoint).
    Returns the same output dict shape as ``DedupPipeline.run`` plus a
    ``report`` whose ``delta`` section records exactly how much work
    each tier did — the numbers the delta-only guarantee is asserted on.

    ``force_keys`` — optional (repo, path) frame: rows whose key appears
    here are treated as CHANGED even when their (repo, path, commit)
    fingerprint matches the checkpoint, i.e. the old row is retired and
    the current row re-ingested through the delta tiers. This is the
    scoped-invalidation lever behind ``rescan_paths`` (uncp's
    ``EngineCommand::SetPathFilter`` + Start, src/engine.rs:66-81):
    commit fingerprints are TRUSTED by default exactly as uncp trusts
    stat metadata, and this is the escape hatch when that trust is
    wrong for a known subtree. The forced rows ride the existing
    modified-file path (same file_id in both ``dead`` and ``delta`` —
    the id is the md5 of repo/path, so a changed file always does
    this), so no downstream tier needs a special case."""
    cfg = cfg or SimilarityConfig()
    t0 = time.monotonic()
    chash = cfg.config_hash()

    def stage_dir(name: str) -> str:
        return os.path.join(base_dir, name)

    def tmp_dir(name: str) -> str:
        return stage_dir(name) + TMP_SUFFIX

    timings: dict[str, float] = {}
    delta_report: dict[str, int] = {}

    class timed:
        def __init__(self, name: str) -> None:
            self.name = name

        def __enter__(self):
            self.t = time.monotonic()

        def __exit__(self, *a):
            timings[self.name] = round(time.monotonic() - self.t, 3)

    def write_stage(df: DataFrame, name: str, token: str) -> tuple[DataFrame, str]:
        ckpt.write_checkpoint(df, tmp_dir(name), name, chash, token)
        return (
            ckpt.read_checkpoint(spark, tmp_dir(name)),
            ckpt.manifest_token(tmp_dir(name)),
        )

    # Guard the signature space: merging delta signatures computed under
    # a DIFFERENT config (perm count, seed, bands, thresholds) into a
    # checkpointed chain silently produces bands that can never collide
    # with the old corpus — the batch pipeline's is_complete() would
    # reject the mismatch, so the incremental path must too.
    for _st in ("files", "sigs", "pairs", "edges", "labels"):
        _m = ckpt.read_manifest(stage_dir(_st))
        if _m is None or not os.path.exists(
            os.path.join(stage_dir(_st), "_SUCCESS")
        ):
            raise CheckpointCorruptError(
                f"incremental_update requires a completed batch checkpoint; "
                f"stage {_st!r} at {stage_dir(_st)} is missing or incomplete"
            )
        if _m.get("config_hash") != chash:
            raise ConfigMismatchError(
                f"config mismatch: checkpoint stage {_st!r} was built with "
                f"config_hash={_m.get('config_hash')!r} but this update uses "
                f"{chash!r} — rerun the batch pipeline (or pass the original "
                f"SimilarityConfig) instead of mixing signature spaces"
            )

    files_old = ckpt.read_checkpoint(spark, stage_dir("files"))
    sigs_old = ckpt.read_checkpoint(spark, stage_dir("sigs"))
    pairs_old = ckpt.read_checkpoint(spark, stage_dir("pairs"))
    edges_old = ckpt.read_checkpoint(spark, stage_dir("edges"))
    labels_old = ckpt.read_checkpoint(spark, stage_dir("labels"))
    if os.path.exists(os.path.join(stage_dir("bands"), "_SUCCESS")):
        bands_old = spark.read.parquet(stage_dir("bands"))
    else:  # pre-bands checkpoint: derive once (column-pruned sigs scan)
        bands_old = band_keys(sigs_old, cfg)
    if os.path.exists(os.path.join(stage_dir("cindex"), "_SUCCESS")):
        cindex_old = spark.read.parquet(stage_dir("cindex"))
        if "n" not in cindex_old.columns and "bottomk" in sigs_old.columns:
            # pre-ratio-floor checkpoint (entries lacked the inline
            # shingle count): re-derive once from the old signatures —
            # a column-pruned scan, no UDF — instead of carrying a
            # second schema through candidate generation
            cindex_old = containment_entries(sigs_old)
    elif "bottomk" in sigs_old.columns:
        cindex_old = containment_entries(sigs_old)
    else:  # checkpoint predates the containment tier (custom graph)
        cindex_old = None

    # ------------------------------------------------ tier 1: file diff
    with timed("files"):
        cur_keys = current_repos.select(*VKEY)
        if force_keys is not None:
            # a forced (repo, path) is never a survivor: its old row
            # dies and its current row re-enters as delta, regardless of
            # the commit fingerprint
            fk = force_keys.select("repo", "path").distinct()
            survivor_keys = (
                files_old.select(*VKEY)
                .join(cur_keys, VKEY, "left_semi")
                .join(fk, ["repo", "path"], "left_anti")
            )
        else:
            survivor_keys = files_old.select(*VKEY).join(
                cur_keys, VKEY, "left_semi"
            )
        survivors = files_old.join(survivor_keys, VKEY, "left_semi")
        delta_repos = current_repos.join(survivor_keys, VKEY, "left_anti")
        dead = files_old.join(survivor_keys, VKEY, "left_anti")
        dead_ids = _ids(dead).persist()
        files_delta = ingest(delta_repos, processed_at_ns=processed_at_ns)
        files_new, tok_files = write_stage(
            survivors.unionByName(files_delta), "files", input_token
        )
        delta_report["files_ingested"] = files_delta.count()
        delta_report["files_dead"] = dead_ids.count()

    # ------------------------------- tier 2: signatures (delta UDF only)
    with timed("sigs"):
        sig_cols = list(sigs_old.columns)  # schema-driven (see SIG_IDENTITY)
        payload_cols = [c for c in sig_cols if c not in SIG_IDENTITY]
        # content-level representative: min file_id per sha in the NEW
        # corpus (2-column agg — only 16-byte rows cross the exchange)
        new_rep = (
            files_new.filter(F.col("content").isNotNull())
            .select("sha256", "file_id")
            .groupBy("sha256")
            .agg(F.min("file_id").alias("rep_id"))
            .persist()
        )
        sig_sha = sigs_old.join(
            files_old.select("file_id", "sha256"), "file_id"
        )
        sig_alive = sig_sha.join(dead_ids, "file_id", "left_anti")
        # rep died but the content survives via another copy: REBIND the
        # signature row to the new representative (same content ⇒ same
        # signature; pure joins, no recompute)
        rebind_sha = (
            sig_sha.join(dead_ids, "file_id", "left_semi")
            .select("sha256", *payload_cols)
            .join(new_rep, "sha256")
            .join(
                files_new.select(
                    F.col("file_id").alias("rep_id"),
                    "repo", "path", "lang", "size", "depth",
                ),
                "rep_id",
            )
            .withColumnRenamed("rep_id", "file_id")
        )
        rebind = rebind_sha.select(*sig_cols)
        # genuinely new content: shas with no surviving or rebindable sig
        known_shas = (
            sig_alive.select("sha256")
            .unionByName(rebind_sha.select("sha256"))
            .distinct()
        )
        fresh_rep_ids = (
            new_rep.join(known_shas, "sha256", "left_anti")
            .select(F.col("rep_id").alias("file_id"))
        )
        fresh_reps = (
            files_new.filter(F.col("content").isNotNull())
            .select("file_id", "repo", "path", "lang", "content",
                    "sha256", "size", "depth")
            .join(fresh_rep_ids, "file_id", "left_semi")
        )
        fresh_sigs = (
            signature_table(
                fresh_reps, cfg, include_shingles="shingles" in sig_cols
            )
            .select(*sig_cols)
            .persist()
        )
        delta_report["sigs_fresh"] = fresh_sigs.count()  # the ONLY UDF rows
        delta_report["sigs_rebound"] = rebind.count()
        sigs_new, tok_sigs = write_stage(
            sig_alive.select(*sig_cols)
            .unionByName(rebind)
            .unionByName(fresh_sigs),
            "sigs", tok_files,
        )

    # --------------------------- tier 3: pairs (delta-bucket join only)
    with timed("pairs"):
        # delta ids for the pair tier: fresh sigs AND rebound sigs (a
        # rebound rep's old pairs referenced the dead id — they are
        # dropped below and must be re-created under the new id)
        delta_sig_ids = (
            fresh_sigs.select("file_id")
            .unionByName(rebind.select("file_id"))
            .distinct()
            .persist()
        )
        delta_bands = band_keys(
            sigs_new.join(delta_sig_ids, "file_id", "left_semi"), cfg
        )
        bands_alive = bands_old.join(
            sig_alive.select("file_id"), "file_id", "left_semi"
        )
        bands_new = bands_alive.unionByName(delta_bands)
        bands_new.write.mode("overwrite").parquet(tmp_dir("bands"))
        bands_new = spark.read.parquet(tmp_dir("bands"))

        # affected buckets = buckets a delta member lands in PLUS buckets
        # that LOST a member. The second class matters because hot-bucket
        # pairs are a star through the bucket's min id: when that center
        # dies, _drop_touching removes every edge of the star and the
        # survivors would silently lose their connectivity unless the
        # bucket is re-grouped and re-starred onto the new min member.
        # (This also keeps the hot-bucket skew report's sizes exact: a
        # kept row's bucket membership can only change via an addition —
        # delta — or a removal — dead — and both now force a re-group.)
        # Dead members' band rows are already gone from bands_new, so
        # their buckets come from bands_old.
        dead_buckets = (
            bands_old.join(dead_ids, "file_id", "left_semi")
            .select("band", "band_hash").distinct()
        )
        delta_buckets = (
            bands_new.join(delta_sig_ids, "file_id", "left_semi")
            .select("band", "band_hash").distinct()
            .unionByName(dead_buckets).distinct()
        )
        affected_bands = bands_new.join(
            delta_buckets, ["band", "band_hash"], "left_semi"
        )
        lsh_pairs, hot = candidate_pairs(None, cfg, bands=affected_bands)

        # containment-sketch index: maintained exactly like bands —
        # alive entries carried forward, delta entries derived from the
        # delta signatures only, and only (delta ∪ dead)-touching
        # shingle buckets re-paired (a dead member can drop a bucket
        # under hot_shingle_cap, surfacing survivor pairs the batch run
        # had quarantined — same transition logic as the band tier).
        if cindex_old is not None:
            entries_alive = cindex_old.join(
                sig_alive.select("file_id"), "file_id", "left_semi"
            )
            delta_entries = containment_entries(
                sigs_new.join(delta_sig_ids, "file_id", "left_semi")
            )
            entries_new = entries_alive.unionByName(
                delta_entries.select(*cindex_old.columns)
            )
            entries_new.write.mode("overwrite").parquet(tmp_dir("cindex"))
            entries_new = spark.read.parquet(tmp_dir("cindex"))
            dead_sh_buckets = (
                cindex_old.join(dead_ids, "file_id", "left_semi")
                .select("shid").distinct()
            )
            delta_sh_buckets = (
                entries_new.join(delta_sig_ids, "file_id", "left_semi")
                .select("shid").distinct()
                .unionByName(dead_sh_buckets).distinct()
            )
            affected_entries = entries_new.join(
                delta_sh_buckets, "shid", "left_semi"
            )
            cont_pairs, hot_sh = containment_candidates(
                None, cfg, entries=affected_entries
            )
            bucket_pairs = lsh_pairs.unionByName(cont_pairs)
        else:
            dead_sh_buckets = None
            hot_sh = None
            bucket_pairs = lsh_pairs
        # old-old pairs inside affected buckets were already scored in a
        # previous run — keep only pairs touching a delta id
        p_src = bucket_pairs.join(
            delta_sig_ids.withColumnRenamed("file_id", "src"),
            "src", "left_semi",
        )
        p_dst = bucket_pairs.join(
            delta_sig_ids.withColumnRenamed("file_id", "dst"),
            "dst", "left_semi",
        )
        # repair pairs: re-grouping a dead-touching bucket emits pairs
        # between two SURVIVORS (the new star center's edges after the
        # old center died) that touch no delta id, so the filters above
        # drop them; keep exactly the regenerated survivor pairs that
        # pairs_old does NOT already have. Every frame here is delta-
        # bucket-sized: the anti-join's right side is pre-restricted to
        # old pairs with both endpoints inside a dead-touching bucket's
        # old membership (broadcastable semi-joins), never the full
        # corpus pair table.
        repair_member_ids = (
            bands_old.join(dead_buckets, ["band", "band_hash"], "left_semi")
            .select("file_id").distinct()
        )
        if cindex_old is not None:
            repair_member_ids = repair_member_ids.unionByName(
                cindex_old.join(dead_sh_buckets, "shid", "left_semi")
                .select("file_id").distinct()
            ).distinct()
        old_in_scope = (
            pairs_old
            .join(repair_member_ids.withColumnRenamed("file_id", "src"),
                  "src", "left_semi")
            .join(repair_member_ids.withColumnRenamed("file_id", "dst"),
                  "dst", "left_semi")
            .select("src", "dst")
        )
        p_repair = (
            bucket_pairs
            .join(repair_member_ids.withColumnRenamed("file_id", "src"),
                  "src", "left_semi")
            .join(repair_member_ids.withColumnRenamed("file_id", "dst"),
                  "dst", "left_semi")
            .join(old_in_scope, ["src", "dst"], "left_anti")
        )
        pairs_delta = (
            p_src.unionByName(p_dst).unionByName(p_repair)
            .groupBy("src", "dst")
            .agg(F.max("from_hot_band").alias("from_hot_band"))
            .persist()
        )
        delta_report["pairs_delta"] = pairs_delta.count()
        # MERGE the skew report: `hot` covers only delta-affected
        # buckets; replacing the corpus-wide batch report with it would
        # silently erase every previously-reported hot bucket. Keep old
        # rows for buckets that are untouched AND still exist, refresh
        # the affected ones.
        hot_path = stage_dir("hot_buckets")
        if os.path.exists(os.path.join(hot_path, "_SUCCESS")):
            hot_old = spark.read.parquet(hot_path)
            hot_kept = (
                hot_old.join(delta_buckets, ["band", "band_hash"], "left_anti")
                .join(
                    bands_new.select("band", "band_hash").distinct(),
                    ["band", "band_hash"], "left_semi",
                )
            )
            hot = hot_kept.unionByName(hot)
        hot.write.mode("overwrite").parquet(tmp_dir("hot_buckets"))
        if hot_sh is not None:
            hs_path = stage_dir("hot_shingles")
            if os.path.exists(os.path.join(hs_path, "_SUCCESS")):
                hs_old = spark.read.parquet(hs_path)
                hs_kept = (
                    hs_old.join(delta_sh_buckets, "shid", "left_anti")
                    .join(entries_new.select("shid").distinct(),
                          "shid", "left_semi")
                )
                hot_sh = hs_kept.unionByName(hot_sh)
            hot_sh.write.mode("overwrite").parquet(tmp_dir("hot_shingles"))
        pairs_new, tok_pairs = write_stage(
            _drop_touching(pairs_old, dead_ids).unionByName(pairs_delta),
            "pairs", tok_sigs,
        )

    # ------------------------------- tier 4: edges (delta scoring only)
    with timed("edges"):
        near_delta = accept_edges(
            score_pairs(pairs_delta, sigs_new, cfg, files_new), cfg
        ).select("src", "dst", "score", "edge_type", "data")
        # exact-tier delta: each delta file links to its sha's new
        # representative; when the representative CHANGED (a smaller id
        # arrived, or the old rep died) a bridge edge keeps the old star
        # and the new rep in one component — connectivity, not identity,
        # is what CC needs.
        old_min_alive = (
            survivors.select("sha256", "file_id")
            .groupBy("sha256")
            .agg(F.min("file_id").alias("old_rep"))
        )
        star_delta = (
            files_delta.select("sha256", "file_id")
            .join(new_rep, "sha256")
            .filter(F.col("file_id") != F.col("rep_id"))
            .select(
                F.least("file_id", "rep_id").alias("src"),
                F.greatest("file_id", "rep_id").alias("dst"),
            )
        )
        bridge = (
            new_rep.join(old_min_alive, "sha256")
            .filter(F.col("rep_id") != F.col("old_rep"))
            .select(
                F.least("rep_id", "old_rep").alias("src"),
                F.greatest("rep_id", "old_rep").alias("dst"),
            )
        )
        # a dead REPRESENTATIVE orphans every surviving copy of its sha:
        # the old star routed all of the group's edges through it, and
        # _drop_touching removes them all (three survivors Y<Z<W would
        # otherwise come apart into singletons — only rep death does
        # this; losing a LEAF only disconnects the dead leaf itself).
        # Re-star the survivors of dead-rep shas onto the new rep.
        # Bounded by the delta: only shas that lost their old min-id
        # member appear.
        old_rep_all = (
            files_old.select("sha256", "file_id")
            .groupBy("sha256")
            .agg(F.min("file_id").alias("old_rep_id"))
        )
        dead_rep_shas = (
            old_rep_all.join(
                dead_ids.withColumnRenamed("file_id", "old_rep_id"),
                "old_rep_id", "left_semi",
            ).select("sha256")
        )
        restar = (
            survivors.select("sha256", "file_id")
            .join(dead_rep_shas, "sha256", "left_semi")
            .join(new_rep, "sha256")
            .filter(F.col("file_id") != F.col("rep_id"))
            .select(
                F.least("file_id", "rep_id").alias("src"),
                F.greatest("file_id", "rep_id").alias("dst"),
            )
        )
        exact_delta = (
            star_delta.unionByName(bridge).unionByName(restar).distinct()
            .select("src", "dst", F.lit(1.0).alias("score"),
                    F.lit("exact").alias("edge_type"),
                    F.lit(None).cast("string").alias("data"))
        )
        # an edges checkpoint written before the evidence column existed
        # unions cleanly: backfill with NULL (unknown evidence)
        if "data" not in edges_old.columns:
            edges_old = edges_old.withColumn(
                "data", F.lit(None).cast("string")
            )
        edges_delta = near_delta.unionByName(exact_delta).persist()
        delta_report["edges_delta"] = edges_delta.count()
        edges_new, tok_edges = write_stage(
            _drop_touching(edges_old, dead_ids).unionByName(edges_delta),
            "edges", f"{tok_pairs}|{tok_sigs}|{tok_files}",
        )
        try:
            from uncp_spark.operators.verify import release_scored_cache

            release_scored_cache()
        except Exception:
            pass

    # --------------------- tier 5: labels (affected components only)
    with timed("labels"):
        touched = (
            dead_ids
            .unionByName(_ids(edges_delta, "src"))
            .unionByName(_ids(edges_delta, "dst"))
            .distinct()
        )
        affected_clusters = (
            labels_old.join(touched, "file_id", "left_semi")
            .select("cluster_id").distinct()
        )
        affected_nodes = (
            labels_old.join(affected_clusters, "cluster_id", "left_semi")
            .select("file_id")
            .unionByName(touched)
            .distinct()
            .persist()
        )
        delta_report["cc_affected_nodes"] = affected_nodes.count()
        sub_edges = (
            edges_new.join(
                affected_nodes.withColumnRenamed("file_id", "src"),
                "src", "left_semi",
            )
            .unionByName(
                edges_new.join(
                    affected_nodes.withColumnRenamed("file_id", "dst"),
                    "dst", "left_semi",
                )
            )
            .select("src", "dst")
            .distinct()
        )
        labels_sub = connected_components(
            sub_edges,
            checkpoint_dir=os.path.join(base_dir, "_cc_incr_checkpoints"),
        )
        labels_keep = labels_old.join(
            affected_clusters, "cluster_id", "left_anti"
        ).select("file_id", "cluster_id")
        labels_new, tok_labels = write_stage(
            labels_keep.unionByName(labels_sub.select("file_id", "cluster_id")),
            "labels", tok_edges,
        )

    # ----------------------------------- tier 6: clusters (skinny agg)
    with timed("clusters"):
        labeled = label_all(files_new, labels_new)
        write_stage(
            priority_ranked(cluster_stats(labeled)), "clusters",
            f"{tok_labels}|{tok_files}",
        )

    # ---------------------------------------------- promote new state
    _swap_in(base_dir, STAGES + ["hot_buckets", "hot_shingles"])

    for h in (dead_ids, new_rep, fresh_sigs, delta_sig_ids, pairs_delta,
              edges_delta, affected_nodes):
        try:
            h.unpersist()
        except Exception:
            pass

    report = {
        "total_seconds": round(time.monotonic() - t0, 3),
        "config_hash": chash,
        "mode": "incremental",
        "delta": delta_report,
        "stage_seconds": timings,
    }
    with open(os.path.join(base_dir, "_incr_run.json"), "w") as f:
        json.dump(report, f, indent=1)
    out = {
        name: ckpt.read_checkpoint(spark, stage_dir(name))
        for name in ["files", "sigs", "pairs", "edges", "labels", "clusters"]
    }
    out["labeled"] = label_all(out["files"], out["labels"])
    out["report"] = report
    return out
