"""T3 — cancellation tokens (uncp src/systems/mod.rs:174-192 analogue).

Cooperative: a cancel between stages stops the pipeline at the next
stage boundary, keeps every finished checkpoint, and a later resume run
completes from where the cancel landed (the autosave-parity property).
In-flight: cancel() from another thread interrupts a running Spark job
via job-group cancellation.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time

import pandas as pd
import pytest

from uncp_spark.plans.cancellation import CancellationToken, CancelledError
from uncp_spark.plans.pipeline import DedupPipeline


def test_precancelled_token_stops_before_any_stage(spark, repos_df, tmpdir_path):
    token = CancellationToken()
    token.cancel()
    pipe = DedupPipeline(base_dir=tmpdir_path)
    with pytest.raises(CancelledError):
        pipe.run(spark, repos_df, input_token="fixture", cancel=token)
    assert not os.path.exists(os.path.join(tmpdir_path, "files", "_manifest.json"))


def test_cancel_mid_pipeline_keeps_checkpoints_and_resumes(
    spark, repos_df, tmpdir_path
):
    pipe = DedupPipeline(base_dir=tmpdir_path)
    token = CancellationToken()

    # cancel lands while the "sigs" stage builds: files completes, sigs
    # is the in-flight casualty, nothing downstream starts
    stages = pipe.default_stages()
    sigs_spec = stages[1]
    orig_build = sigs_spec.build

    def cancelling_build(spark_, ctx):
        token._event.set()  # flag only — let this stage finish writing
        return orig_build(spark_, ctx)

    stages[1] = dataclasses.replace(sigs_spec, build=cancelling_build)
    pipe.stages = stages
    with pytest.raises(CancelledError):
        pipe.run(spark, repos_df, input_token="fixture", cancel=token)

    done = {
        name
        for name in ["files", "sigs", "pairs", "edges", "labels", "clusters"]
        if os.path.exists(os.path.join(tmpdir_path, name, "_manifest.json"))
    }
    assert done == {"files", "sigs"}

    # resume with a fresh (uncancelled) token: completed stages skipped
    pipe2 = DedupPipeline(base_dir=tmpdir_path)
    out = pipe2.run(spark, repos_df, input_token="fixture")
    flags = {s["stage"]: s["resumed"] for s in out["report"]["stages"]}
    assert flags["files"] and flags["sigs"]
    assert not flags["labels"] and not flags["clusters"]
    assert out["clusters"].count() > 0


def test_inflight_cancel_interrupts_running_job(spark):
    token = CancellationToken(group_id="uncp-test-inflight")
    token.bind(spark)

    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def slow(x: pd.Series) -> pd.Series:
        time.sleep(0.5)
        return x

    def fire():
        # Wait for a job in THIS token's group specifically — polling
        # getActiveJobsIds() can latch a stale/fast job from an earlier
        # test in the shared session, firing the cancel before the probe
        # job exists (the round-2 in-suite flake).
        st = spark.sparkContext.statusTracker()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if st.getJobIdsForGroup("uncp-test-inflight"):
                break
            time.sleep(0.1)
        token.cancel()

    t = threading.Thread(target=fire)
    t.start()
    t0 = time.monotonic()
    # The UDF column is AGGREGATED so Catalyst cannot prune it away
    # (`.select(slow(...)).count()` drops the column and can finish
    # before the cancel lands). 512 partitions x 0.5 s >= 8 s on 32
    # cores — slow enough that the group-scoped cancel always wins.
    with pytest.raises(Exception):
        spark.range(512, numPartitions=512).agg(F.sum(slow("id"))).collect()
    elapsed = time.monotonic() - t0
    t.join()
    assert token.cancelled
    assert elapsed < 20, f"cancel did not interrupt the job ({elapsed:.1f}s)"
    # the session must stay usable after a group cancel
    spark.sparkContext.setJobGroup("uncp-after", "post-cancel sanity")
    assert spark.range(10).count() == 10


def test_pause_blocks_at_stage_boundary_then_resumes(
    spark, repos_df, tmpdir_path
):
    """T1 Pause/Resume (uncp EngineCommand::Pause, src/engine.rs:66-81):
    pause() lands while "files" builds → that stage finishes and its
    checkpoint lands, then the loop blocks at the boundary submitting NO
    new Spark jobs; resume() continues in-process and the final clusters
    are byte-identical to an unpaused run."""
    pipe = DedupPipeline(base_dir=tmpdir_path)
    token = CancellationToken(group_id="uncp-test-pause")
    stages = pipe.default_stages()
    files_spec = stages[0]
    orig_build = files_spec.build

    def pausing_build(spark_, ctx):
        token.pause()
        return orig_build(spark_, ctx)

    stages[0] = dataclasses.replace(files_spec, build=pausing_build)
    pipe.stages = stages
    done: dict = {}

    def run():
        done["out"] = pipe.run(
            spark, repos_df, input_token="fixture", cancel=token,
            register_sql_views=False,
        )

    t = threading.Thread(target=run)
    t.start()
    files_manifest = os.path.join(tmpdir_path, "files", "_manifest.json")
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and not os.path.exists(files_manifest):
        time.sleep(0.1)
    assert os.path.exists(files_manifest), "files checkpoint never landed"

    # give the loop time to reach (and sit at) the pause point; while
    # paused, nothing downstream may start: no sigs dir, no Spark jobs
    time.sleep(2.0)
    assert t.is_alive(), "pipeline finished while paused"
    assert token.paused
    assert not os.path.exists(os.path.join(tmpdir_path, "sigs"))
    st = spark.sparkContext.statusTracker()
    active = st.getActiveJobsIds()
    assert not active, f"jobs ran while paused: {active}"

    token.resume()
    t.join(timeout=600)
    assert not t.is_alive() and "out" in done, "resume did not complete"
    stages_done = [s["stage"] for s in done["out"]["report"]["stages"]]
    assert stages_done == ["files", "sigs", "pairs", "edges", "labels",
                           "clusters"]

    # byte-identical clusters vs an unpaused run of the same input
    import tempfile

    ref_dir = tempfile.mkdtemp(prefix="uncp_pause_ref_")
    try:
        ref = DedupPipeline(base_dir=ref_dir).run(
            spark, repos_df, input_token="fixture", register_sql_views=False
        )
        key = lambda out: sorted(
            (r["file_id"], r["cluster_id"])
            for r in out["labeled"].select("file_id", "cluster_id").collect()
        )
        assert key(done["out"]) == key(ref)
    finally:
        import shutil

        shutil.rmtree(ref_dir, ignore_errors=True)
