"""Engine command surface (plans/commands.py): path-scoped invalidation
(uncp EngineCommand::SetPathFilter + Start, src/engine.rs:66-81) and
explicit state clearing (EngineCommand::ClearState).

The scenario the scoped rescan exists for: a file's CONTENT changed but
its commit fingerprint did not (history rewritten in place), so the
trust-the-fingerprint incremental path correctly skips it — and the
operator needs a lever to re-ingest exactly that subtree without
re-signing the corpus."""

from __future__ import annotations

import os

import pytest

from uncp_spark.errors import CheckpointCorruptError
from uncp_spark.fixtures import REPOS_SCHEMA
from uncp_spark.plans.commands import clear_state, rescan_paths
from uncp_spark.plans.incremental import incremental_update
from uncp_spark.plans.pipeline import DedupPipeline

DUP = "shared duplicated content block " * 40
UNIQ_B = "stable second file in the target repo " * 30
ROWS_V1 = [
    ("orgT/t", "src/a.txt", "c1", "text", "original solo content " * 40, "unique", -1),
    ("orgT/t", "src/b.txt", "c1", "text", UNIQ_B, "unique", -1),
    ("org1/p", "dup.txt", "c1", "text", DUP, "exact", 1),
    ("org2/p", "dup2.txt", "c1", "text", DUP, "exact", 1),
    ("org3/p", "u.txt", "c1", "text", "totally different words " * 40, "unique", -1),
]
# v2: a.txt silently becomes a copy of DUP — same commit fingerprint
ROWS_V2 = [
    ("orgT/t", "src/a.txt", "c1", "text", DUP, "exact", 1)
    if (r[0], r[1]) == ("orgT/t", "src/a.txt") else r
    for r in ROWS_V1
]


def _df(spark, rows):
    return spark.createDataFrame(rows, REPOS_SCHEMA).repartition(4)


def _membership(out) -> dict:
    return {
        (r.repo, r.path): r.cluster_id
        for r in out["labeled"].select("repo", "path", "cluster_id").collect()
    }


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    base_a = str(tmp_path_factory.mktemp("cmd_a"))
    base_b = str(tmp_path_factory.mktemp("cmd_b"))
    DedupPipeline(base_dir=base_a).run(
        spark, _df(spark, ROWS_V1), input_token="v1",
        register_sql_views=False, progress=False,
    )
    # the fingerprint-trusting path sees NOTHING to do on v2
    blind = incremental_update(
        spark, base_a, _df(spark, ROWS_V2), input_token="v2-blind"
    )
    # snapshot NOW: the returned frames read the checkpoint dirs lazily,
    # and the rescan below swaps new state into those same dirs
    blind_membership = _membership(blind)
    # the scoped command re-ingests the target repo
    rescan = rescan_paths(
        spark, base_a, _df(spark, ROWS_V2), repos=["orgT/t"],
        input_token="v2-rescan",
    )
    full = DedupPipeline(base_dir=base_b).run(
        spark, _df(spark, ROWS_V2), input_token="v2",
        register_sql_views=False, progress=False,
    )
    return {
        "base_a": base_a, "blind": blind,
        "blind_membership": blind_membership,
        "rescan": rescan, "full": full,
    }


def test_fingerprint_trusting_path_skips_silent_change(state):
    delta = state["blind"]["report"]["delta"]
    assert delta["files_ingested"] == 0 and delta["files_dead"] == 0
    # and the stale cluster persists: a.txt is not in the dup cluster
    m = state["blind_membership"]
    assert m[("orgT/t", "src/a.txt")] != m[("org1/p", "dup.txt")]


def test_rescan_paths_matches_full_recompute(state):
    assert _membership(state["rescan"]) == _membership(state["full"])
    m = _membership(state["rescan"])
    assert m[("orgT/t", "src/a.txt")] == m[("org1/p", "dup.txt")]


def test_rescan_paths_touches_only_the_scope(state):
    r = state["rescan"]["report"]
    assert r["rescan"]["forced_keys"] == 2
    delta = r["delta"]
    # both target-repo files cycle through dead → re-ingested ...
    assert delta["files_ingested"] == 2 and delta["files_dead"] == 2
    # ... but ZERO signature UDF rows: a.txt's new sha is already known
    # (the dup pair's rep has its signature) and b.txt's unchanged sha
    # reuses the signature stored under its retired row
    assert delta["sigs_fresh"] == 0
    assert delta["sigs_rebound"] == 1


def test_rescan_glob_scope(spark, tmp_path):
    """Include-glob scoping composes with the repo scope: only b.txt
    matches, a.txt's silent change stays invisible."""
    base = str(tmp_path / "g")
    DedupPipeline(base_dir=base).run(
        spark, _df(spark, ROWS_V1), input_token="v1",
        register_sql_views=False, progress=False,
    )
    out = rescan_paths(
        spark, base, _df(spark, ROWS_V2),
        repos=["orgT/t"], include=["**/b.txt"], input_token="v2-glob",
    )
    assert out["report"]["rescan"]["forced_keys"] == 1
    assert out["report"]["delta"]["files_ingested"] == 1
    m = _membership(out)
    assert m[("orgT/t", "src/a.txt")] != m[("org1/p", "dup.txt")]


def test_rescan_requires_checkpoint(spark, tmp_path):
    with pytest.raises(CheckpointCorruptError, match="no manifest"):
        rescan_paths(
            spark, str(tmp_path / "nope"), _df(spark, ROWS_V1),
        )


def test_clear_state_removes_only_pipeline_entries(spark, state, tmp_path):
    base = str(tmp_path / "wipe")
    DedupPipeline(base_dir=base).run(
        spark, _df(spark, ROWS_V1), input_token="v1",
        register_sql_views=False, progress=False,
    )
    incremental_update(spark, base, _df(spark, ROWS_V2), input_token="v2")
    # what an interrupted update leaves behind
    os.makedirs(os.path.join(base, "_incr_staging", "files"))
    foreign = os.path.join(base, "operator_notes.txt")
    with open(foreign, "w") as f:
        f.write("not pipeline state")
    res = clear_state(base)
    assert "files" in res["removed"] and "clusters" in res["removed"]
    assert "_incr_staging" in res["removed"]
    assert res["kept"] == ["operator_notes.txt"]
    assert os.path.exists(foreign)
    assert not os.path.exists(os.path.join(base, "files"))
    # a fresh run after clearing starts from scratch, no resume
    out = DedupPipeline(base_dir=base).run(
        spark, _df(spark, ROWS_V1), input_token="v1",
        register_sql_views=False, progress=False,
    )
    assert not any(s["resumed"] for s in out["report"]["stages"])


def test_clear_state_refuses_non_checkpoint_dirs(tmp_path):
    with pytest.raises(CheckpointCorruptError, match="no checkpoint"):
        clear_state(str(tmp_path / "missing"))
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "data.parquet").write_text("precious")
    with pytest.raises(CheckpointCorruptError, match="refusing"):
        clear_state(str(plain))
    assert (plain / "data.parquet").exists()
