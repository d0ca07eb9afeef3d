"""Incremental update vs full recompute.

The daily-delta contract (plans/incremental.py): after merging a
snapshot that adds a near-dup, adds an exact copy, changes a file, and
deletes a group representative, every table after ``files`` must EQUAL
a full batch recompute on the new snapshot, while ingest and the
signature UDF touch only the delta (asserted on the run report's
``delta`` counters).

Reference anchor: uncp's only-changed-files contract
(src/detector.rs:783-885, merge-on-save src/persist.rs:208-233).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from uncp_spark.errors import CheckpointCorruptError
from uncp_spark.fixtures import REPOS_SCHEMA, FixtureSpec, generate_repos_rows
from uncp_spark.plans import pipeline
from uncp_spark.plans.incremental import STAGES, incremental_update
from uncp_spark.plans.pipeline import DedupPipeline
from uncp_spark.sources import checkpoint as ckpt

SPEC = FixtureSpec(n_repos=12, files_per_repo=8, seed=42)


def _v1_rows():
    return generate_repos_rows(SPEC)


def _mutate_v2(spark, rows):
    """v1 → v2: one near-dup added, one exact copy added, one file
    changed in place, one exact-group REPRESENTATIVE deleted (while its
    copy survives — the signature-rebind path). Returns (v2_rows,
    expectations dict)."""
    # pick victims deterministically from the planted classes
    uniques = [r for r in rows if r[5] == "unique" and len(r[4]) > 800]
    near_base = uniques[0]
    copy_base = uniques[1]
    change_victim = uniques[2]
    delete_victim = uniques[3]

    # exact pair whose MIN-file_id member we delete → rebind
    exact_rows = [r for r in rows if r[5] == "exact"]
    by_group: dict[int, list] = {}
    for r in exact_rows:
        by_group.setdefault(r[6], []).append(r)
    pair = next(g for g in by_group.values() if len(g) == 2)
    fid = {
        (r["repo"], r["path"]): r["fid"]
        for r in spark.createDataFrame(pair, REPOS_SCHEMA)
        .select("repo", "path", F.md5(F.concat_ws("\x00", "repo", "path")).alias("fid"))
        .collect()
    }
    rep_row = min(pair, key=lambda r: fid[(r[0], r[1])])

    v2 = [
        r for r in rows
        if (r[0], r[1]) not in {
            (delete_victim[0], delete_victim[1]),
            (rep_row[0], rep_row[1]),
        }
    ]
    # change in place: same (repo, path), new commit, new content
    v2 = [
        (r[0], r[1], "commit2", r[3], r[4] + "\nwholly new trailing line xyz",
         r[5], r[6]) if (r[0], r[1]) == (change_victim[0], change_victim[1])
        else r
        for r in v2
    ]
    v2.append(("orgN/proj_new", "added/near_" + near_base[1].split("/")[-1],
               "commitN", near_base[3],
               near_base[4] + "\nnear dup tail alpha beta", "near", 9001))
    v2.append(("orgN/proj_new", "added/copy_" + copy_base[1].split("/")[-1],
               "commitN", copy_base[3], copy_base[4], "exact", 9002))
    return v2, {
        # new content entering the corpus: the near-dup variant + the
        # changed file's new bytes (the exact copy reuses a known sha)
        "fresh_sigs": 2,
        # the deleted representative's content survives via its copy
        "rebound": 1,
        # 2 added + 1 changed
        "ingested": 3,
        # 1 deleted + 1 deleted rep + 1 changed old row
        "dead": 3,
    }


@pytest.fixture(scope="module")
def incr_state(spark, tmp_path_factory):
    rows = _v1_rows()
    v1 = spark.createDataFrame(rows, REPOS_SCHEMA).repartition(8)
    v2_rows, expect = _mutate_v2(spark, rows)
    v2 = spark.createDataFrame(v2_rows, REPOS_SCHEMA).repartition(8)

    base_a = str(tmp_path_factory.mktemp("incr_a"))
    base_b = str(tmp_path_factory.mktemp("full_b"))

    full_v1 = DedupPipeline(base_dir=base_a).run(
        spark, v1, input_token="v1", register_sql_views=False
    )
    incr = incremental_update(spark, base_a, v2, input_token="v2-incr")
    full_v2 = DedupPipeline(base_dir=base_b).run(
        spark, v2, input_token="v2", register_sql_views=False
    )
    return {
        "base_a": base_a, "base_b": base_b, "v2": v2, "expect": expect,
        "full_v1": full_v1, "incr": incr, "full_v2": full_v2,
    }


def _membership(out) -> dict:
    return {
        (r.repo, r.path): r.cluster_id
        for r in out["labeled"].select("repo", "path", "cluster_id").collect()
    }


def _cluster_rows(out) -> list[tuple]:
    cols = ["cluster_id", "dup_count", "bytes_reclaimable", "total_size",
            "min_depth", "n_repos", "priority_rank"]
    return sorted(tuple(r) for r in out["clusters"].select(*cols).collect())


def _rows(df) -> list[str]:
    cols = sorted(df.columns)
    return sorted(str(tuple(r)) for r in df.select(*cols).collect())


def _assert_tables_equal(incr, full) -> None:
    """Every table a batch run derives from ``files`` matches, row for
    row (``files`` itself differs in the kept rows' processed_at)."""
    for name in ("sigs", "pairs", "edges", "labels", "clusters"):
        assert _rows(incr[name]) == _rows(full[name]), name


def test_incremental_clusters_equal_full_recompute(incr_state):
    assert _membership(incr_state["incr"]) == _membership(incr_state["full_v2"])
    assert _cluster_rows(incr_state["incr"]) == _cluster_rows(incr_state["full_v2"])
    _assert_tables_equal(incr_state["incr"], incr_state["full_v2"])


def test_incremental_touches_only_the_delta(incr_state):
    delta = incr_state["incr"]["report"]["delta"]
    expect = incr_state["expect"]
    # the ONLY signature-UDF rows are the genuinely-new content
    assert delta["sigs_fresh"] == expect["fresh_sigs"]
    assert delta["sigs_rebound"] == expect["rebound"]
    assert delta["files_ingested"] == expect["ingested"]
    assert delta["files_dead"] == expect["dead"]
    # the persisted delta metrics match the in-memory report
    with open(os.path.join(incr_state["base_a"], "_run.json")) as f:
        assert json.load(f)["delta"] == delta


def test_incremental_checkpoints_resume_as_batch(spark, incr_state):
    """The incrementally-updated checkpoint chain is indistinguishable
    from a batch run: a resume with the same token skips every stage."""
    out = DedupPipeline(base_dir=incr_state["base_a"]).run(
        spark, incr_state["v2"], input_token="v2-incr",
        register_sql_views=False,
    )
    flags = {s["stage"]: s["resumed"] for s in out["report"]["stages"]}
    assert all(flags.values()), flags


def _tiny_corpus(spark, rows):
    return spark.createDataFrame(rows, REPOS_SCHEMA).repartition(4)


def test_delete_rep_with_multiple_survivors_keeps_cluster(spark, tmp_path):
    """Deleting an exact group's REPRESENTATIVE while >= 2 copies
    survive: the old star routed every group edge through the dead rep,
    so dropping its edges would otherwise shatter the survivors into
    singletons. The re-star repair must keep them clustered, equal to a
    full recompute."""
    copies = [
        (f"org{i}/p", "same.txt", "c1", "text",
         "identical shared content " * 40, "exact", 1)
        for i in range(3)
    ]
    uniq = [
        (f"orgu{i}/p", f"u{i}.txt", "c1", "text",
         f"unrelated text number {i} " * 30, "unique", -1)
        for i in range(2)
    ]
    rows = copies + uniq
    fid = {
        (r.repo, r.path): r.fid
        for r in _tiny_corpus(spark, copies)
        .select("repo", "path", F.md5(F.concat_ws("\x00", "repo", "path")).alias("fid"))
        .collect()
    }
    rep = min(copies, key=lambda r: fid[(r[0], r[1])])
    v2_rows = [r for r in rows if (r[0], r[1]) != (rep[0], rep[1])]

    base_a = str(tmp_path / "a")
    base_b = str(tmp_path / "b")
    DedupPipeline(base_dir=base_a).run(
        spark, _tiny_corpus(spark, rows), input_token="v1",
        register_sql_views=False, progress=False,
    )
    incr = incremental_update(
        spark, base_a, _tiny_corpus(spark, v2_rows), input_token="v2"
    )
    full = DedupPipeline(base_dir=base_b).run(
        spark, _tiny_corpus(spark, v2_rows), input_token="v2",
        register_sql_views=False, progress=False,
    )
    assert _membership(incr) == _membership(full)
    # the two surviving copies share one cluster
    surv = [
        incr_cid for (repo, path), incr_cid in _membership(incr).items()
        if path == "same.txt"
    ]
    assert len(surv) == 2 and len(set(surv)) == 1


def test_delete_hot_bucket_star_center_keeps_cluster(spark, tmp_path):
    """Hot-bucket pairs are a star through the bucket's min-id member.
    Deleting that CENTER must re-star the survivors onto the new min —
    otherwise they shatter into singletons while a full recompute keeps
    them together."""
    from uncp_spark.config import SimilarityConfig

    cfg = SimilarityConfig(hot_band_cap=2)
    base = "shared near identical content block " * 30
    rows = [
        ("o/a", f"v{i}.txt", "c1", "text", base + f"tail variant {i}",
         "near", 1)
        for i in range(4)
    ] + [
        ("ou/p", "u.txt", "c1", "text", "totally different words " * 40,
         "unique", -1)
    ]
    fid = {
        (r.repo, r.path): r.fid
        for r in _tiny_corpus(spark, rows[:4])
        .select("repo", "path",
                F.md5(F.concat_ws("\x00", "repo", "path")).alias("fid"))
        .collect()
    }
    center = min(rows[:4], key=lambda r: fid[(r[0], r[1])])
    v2_rows = [r for r in rows if (r[0], r[1]) != (center[0], center[1])]

    base_a = str(tmp_path / "a")
    base_b = str(tmp_path / "b")
    DedupPipeline(base_dir=base_a, cfg=cfg).run(
        spark, _tiny_corpus(spark, rows), input_token="v1",
        register_sql_views=False, progress=False,
    )
    # precondition: the near-dup flood actually went through the hot path
    hot = spark.read.parquet(os.path.join(base_a, "hot_buckets"))
    assert hot.count() > 0, "fixture must produce hot buckets"
    incr = incremental_update(
        spark, base_a, _tiny_corpus(spark, v2_rows), cfg=cfg,
        input_token="v2",
    )
    full = DedupPipeline(base_dir=base_b, cfg=cfg).run(
        spark, _tiny_corpus(spark, v2_rows), input_token="v2",
        register_sql_views=False, progress=False,
    )
    assert _membership(incr) == _membership(full)
    surv = [
        cid for (repo, path), cid in _membership(incr).items()
        if path.startswith("v")
    ]
    assert len(surv) == 3 and len(set(surv)) == 1


def test_incremental_rejects_config_mismatch(spark, tmp_path, incr_state):
    from uncp_spark.config import SimilarityConfig

    other = SimilarityConfig(num_perm=64, bands=16, rows_per_band=4)
    with pytest.raises(ValueError, match="config mismatch"):
        incremental_update(
            spark, incr_state["base_a"], incr_state["v2"], cfg=other
        )


def test_incremental_rejects_missing_checkpoint(spark, tmp_path):
    from uncp_spark.errors import CheckpointCorruptError

    with pytest.raises(CheckpointCorruptError, match="missing or incomplete"):
        incremental_update(
            spark, str(tmp_path / "nothing_here"),
            spark.createDataFrame([], REPOS_SCHEMA),
        )


def test_incremental_preserves_hot_bucket_report(spark, tmp_path):
    """The skew report is corpus-wide observability: an incremental run
    that touches none of the hot buckets must carry the batch run's
    rows forward, not clobber them with its delta-only view."""
    import os

    from uncp_spark.config import SimilarityConfig

    cfg = SimilarityConfig(hot_band_cap=2)
    base = "shared near identical content block " * 30
    rows = [
        ("o/a", f"v{i}.txt", "c1", "text", base + f"tail variant {i}",
         "near", 1)
        for i in range(4)
    ]
    v1 = spark.createDataFrame(rows, REPOS_SCHEMA).repartition(4)
    base_a = str(tmp_path / "hot")
    DedupPipeline(base_dir=base_a, cfg=cfg).run(
        spark, v1, input_token="v1", register_sql_views=False, progress=False
    )
    hot_path = os.path.join(base_a, "hot_buckets")
    before = {
        (r.band, r.band_hash) for r in spark.read.parquet(hot_path).collect()
    }
    assert before, "fixture must actually produce hot buckets"

    v2 = spark.createDataFrame(
        rows + [("o/b", "unrelated.txt", "c1", "text",
                 "totally different words " * 40, "unique", -1)],
        REPOS_SCHEMA,
    ).repartition(4)
    incremental_update(spark, base_a, v2, cfg=cfg, input_token="v2")
    after = {
        (r.band, r.band_hash) for r in spark.read.parquet(hot_path).collect()
    }
    assert before <= after, "batch hot-bucket rows were lost in the merge"


def test_incremental_dead_files_fully_retired(incr_state):
    """Deleted/changed ids appear in no user-facing output and in none
    of the maintained tables' live rows."""
    incr = incr_state["incr"]
    v2_keys = {
        (r.repo, r.path)
        for r in incr_state["v2"].select("repo", "path").collect()
    }
    assert {
        (r.repo, r.path) for r in incr["files"].select("repo", "path").collect()
    } == v2_keys
    live_ids = {r.file_id for r in incr["files"].select("file_id").collect()}
    edge_ids = {
        r.i
        for r in incr["edges"].select(F.col("src").alias("i")).unionByName(
            incr["edges"].select(F.col("dst").alias("i"))
        ).collect()
    }
    assert edge_ids <= live_ids


def test_incremental_refuses_mixed_checkpoint(spark, tmp_path, incr_state):
    """``files`` from one run beside ``sigs`` from another (a crash
    between two promotions, or a copied directory) would join old
    signatures to the new shas by file_id; the update refuses it."""
    mixed = str(tmp_path / "mixed")
    shutil.copytree(incr_state["base_a"], mixed)
    shutil.rmtree(os.path.join(mixed, "files"))
    shutil.copytree(
        os.path.join(incr_state["base_b"], "files"), os.path.join(mixed, "files")
    )
    with pytest.raises(CheckpointCorruptError, match="not built from"):
        incremental_update(spark, mixed, incr_state["v2"], input_token="mixed")


def test_killed_update_keeps_previous_checkpoint(spark, tmp_path, monkeypatch):
    """An update killed in a late stage leaves every stage of the
    previous checkpoint in place (a batch resume skips all six), and a
    retried update equals a batch run."""
    rows = [
        (f"org{i}/p", "same.txt", "c1", "text",
         "identical shared content " * 40, "exact", 1)
        for i in range(3)
    ] + [
        (f"orgu{i}/p", f"u{i}.txt", "c1", "text",
         f"unrelated text number {i} " * 30, "unique", -1)
        for i in range(2)
    ]
    v2_rows = rows[1:] + [
        ("orgN/p", "near.txt", "c1", "text",
         "unrelated text number 0 " * 30 + "and a new tail", "near", 2)
    ]
    base_a = str(tmp_path / "a")
    base_b = str(tmp_path / "b")
    DedupPipeline(base_dir=base_a).run(
        spark, _tiny_corpus(spark, rows), input_token="v1",
        register_sql_views=False, progress=False,
    )
    before = {s: ckpt.read_manifest(os.path.join(base_a, s)) for s in STAGES}

    def killed(*args, **kwargs):
        raise RuntimeError("killed in the labels stage")

    monkeypatch.setattr(pipeline, "connected_components", killed)
    with pytest.raises(RuntimeError, match="killed"):
        incremental_update(
            spark, base_a, _tiny_corpus(spark, v2_rows), input_token="v2"
        )
    monkeypatch.undo()
    assert {
        s: ckpt.read_manifest(os.path.join(base_a, s)) for s in STAGES
    } == before
    resumed = DedupPipeline(base_dir=base_a).run(
        spark, _tiny_corpus(spark, rows), input_token="v1",
        register_sql_views=False, progress=False,
    )
    assert all(s["resumed"] for s in resumed["report"]["stages"])

    incr = incremental_update(
        spark, base_a, _tiny_corpus(spark, v2_rows), input_token="v2"
    )
    full = DedupPipeline(base_dir=base_b).run(
        spark, _tiny_corpus(spark, v2_rows), input_token="v2",
        register_sql_views=False, progress=False,
    )
    _assert_tables_equal(incr, full)
