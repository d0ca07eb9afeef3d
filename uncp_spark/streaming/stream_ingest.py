"""Structured Streaming ingest — continuous scan → dedup state.

Reference parity: uncp's watch loop re-scans the filesystem and feeds
changed paths back through the hash pipeline (src/systems/discovery.rs
re-scan + src/engine.rs event loop, T5 in SURVEY.md §2.9). That loop is
imperative; the Spark-first form is a Structured Streaming file source
watching a snapshot-drop directory, with ``foreachBatch`` merging each
micro-batch into the persisted dedup state by keep-last on
(repo, path) — a drained stream equals the batch result over the same
snapshots.

Scale notes:
  - The file source lists only NEW files per trigger (checkpointed
    offsets under ``checkpoint_dir``), so a 100 TB corpus streamed as
    daily snapshot drops costs one listing + the delta per day, not a
    rescan.
  - ``Trigger.AvailableNow`` drains everything present then stops —
    the batch-equivalence mode used by the tests; in production the
    same query runs with a processing-time trigger.
  - State lives in the same parquet+manifest checkpoint tables the
    batch pipeline uses (sources/checkpoint.py), so a streaming run and
    a batch run are resumable interchangeably; on a real cluster both
    become Iceberg MERGE INTO commits.
  - Event-time analytics (the watermarked windowed aggregation the
    events table needs) is `windowed_event_counts`: watermark bounds
    state, late rows beyond it are dropped — Spark owns the state
    store, nothing is collected driver-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uncp_spark.operators.ingest import ingest

# snapshot-drop schema == the repos input contract (BASELINE input_hint)
REPOS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def stream_scan(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """Streaming source over a directory of repo-snapshot parquet drops.

    One file dropped = one scan increment. ``maxFilesPerTrigger`` keeps
    a backlog from becoming one giant micro-batch at catch-up time (and
    =1 gives strictly snapshot-ordered merges: within one micro-batch
    the keep-last tiebreak has no order between two drops of the same
    path — callers that need drop-order semantics batch per file).
    """
    return (
        spark.readStream.schema(REPOS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
    )


def recover_state(state_path: str) -> None:
    """Heal the two-rename state swap after a crash (idempotent; called
    at the top of every merge_batch).

    The swap is: write tmp → rename state→state.old → rename tmp→state
    → rmtree state.old. A crash between the two renames leaves NO live
    state dir but an intact ``.old`` backup; without recovery the next
    batch's _SUCCESS probe treats state as empty and every prior merge
    is silently lost (source offsets for those batches are already
    committed, so they are never replayed). Crash windows:

      state valid, .old present  → swap completed, cleanup lost: drop .old
      state missing/invalid, .old valid → mid-swap crash: restore .old
        (the interrupted batch itself IS replayed — foreachBatch commits
        its epoch only after the function returns — so no data is lost)
    """
    bak = state_path + ".old"
    if not os.path.exists(bak):
        return
    import shutil

    if os.path.exists(os.path.join(state_path, "_SUCCESS")):
        shutil.rmtree(bak, ignore_errors=True)
    elif os.path.exists(os.path.join(bak, "_SUCCESS")):
        if os.path.exists(state_path):
            shutil.rmtree(state_path, ignore_errors=True)
        os.rename(bak, state_path)


def run_stream_ingest(
    spark: SparkSession,
    drop_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 64,
):
    """Stream snapshot drops through ingest() and merge into dedup state.

    Each micro-batch: ingest (sha256/size/depth/fingerprint columns),
    then keep-last merge by (repo, path) against the persisted state —
    a re-dropped path replaces its older row, matching uncp's
    merge-on-save (src/persist.rs:208-233). Returns the StreamingQuery.
    """
    from uncp_spark.operators.dedup import dedup_keep_last

    state_path = os.path.join(state_dir, "files_state.parquet")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        recover_state(state_path)
        new_rows = ingest(batch_df).withColumn("batch_id", F.lit(batch_id))
        if os.path.exists(os.path.join(state_path, "_SUCCESS")):
            old = s.read.parquet(state_path)
            merged = dedup_keep_last(
                old.unionByName(new_rows), ["repo", "path"],
                [F.col("batch_id"), F.col("processed_at")],
            )
        else:
            merged = dedup_keep_last(
                new_rows, ["repo", "path"],
                [F.col("batch_id"), F.col("processed_at")],
            )
        # atomic swap: write tmp, rename over (same discipline as
        # sources/checkpoint.py; Iceberg MERGE INTO at production scale)
        tmp = state_path + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        bak = state_path + ".old"
        if os.path.exists(state_path):
            os.rename(state_path, bak)
        os.rename(tmp, state_path)
        if os.path.exists(bak):
            import shutil

            shutil.rmtree(bak, ignore_errors=True)

    writer = (
        stream_scan(spark, drop_dir, max_files_per_trigger)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window event counts (streaming OR batch df).

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and their state dropped, so unbounded
    streams run in bounded memory; rows later than that are discarded
    (documented lateness contract, not silent growth).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )
