"""Tests of the benchmark's own metric code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

import corpus
import measure
import run
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------- percentiles

@pytest.mark.parametrize("n, expected", [
    (1, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0),
    (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert measure.tail_percentile(n) == expected


def test_percentile_is_nearest_rank_sample():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert measure.percentile(values, 50) == 3.0
    assert measure.percentile(values, 90) == 5.0
    assert measure.percentile(values, 1) == 1.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# ------------------------------------------------------ recall/precision

def test_pair_scores_perfect_partition():
    assert measure.pair_scores(list("aaabb"), [7, 7, 7, 9, 9]) == (1.0, 1.0)


def test_pair_scores_hand_built_partition():
    # planted {0,1,2} {3,4}: 4 pairs; found {0,1} {2,3,4}: 4 pairs;
    # shared pairs (0,1) and (3,4)
    assert measure.pair_scores(list("aaabb"), [1, 1, 2, 2, 2]) == (0.5, 0.5)


def test_pair_scores_merge_and_split():
    # everything merged: nothing missed, 4 of 10 pairs planted
    assert measure.pair_scores(list("aaabb"), [0] * 5) == (1.0, 0.4)
    # all singletons: every planted pair missed, no false pair
    assert measure.pair_scores(list("aaabb"), list(range(5))) == (0.0, 1.0)


def test_pair_scores_rejects_mismatched_lengths():
    with pytest.raises(ValueError):
        measure.pair_scores([1, 2], [1])


# ------------------------------------------------------------------ spans

def test_tracer_nests_spans_and_mirrors_the_path():
    props = []
    tracer = measure.Tracer(lambda key, value: props.append((key, value)))
    with tracer.span("op0"):
        tracer.open("signatures")
        with tracer.span("checkpoint"):
            pass
        tracer.close("signatures")
    paths = [p for p, _ in tracer.spans]
    assert paths == ["op0/signatures/checkpoint", "op0/signatures", "op0"]
    assert [v for _, v in props] == [
        "op0", "op0/signatures", "op0/signatures/checkpoint",
        "op0/signatures", "op0", None,
    ]
    assert all(k == measure.SPAN_PROPERTY for k, _ in props)


def test_tracer_rejects_mismatched_close_and_unwinds():
    props = []
    tracer = measure.Tracer(lambda key, value: props.append(value))
    tracer.open("op0")
    tracer.open("verify")
    with pytest.raises(RuntimeError):
        tracer.close("op0")
    tracer.unwind()
    assert props[-1] is None and not tracer.is_open("verify")
    assert tracer.spans == []


# ---------------------------------------------------- event-log attribution

def _events(path_a, path_b):
    def props(path):
        return {measure.SPAN_PROPERTY: path} if path else {}

    return [json.dumps(e) for e in [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": props(path_a)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": props(path_a)},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 1500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
            "Output Metrics": {"Bytes Written": 1_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 500}},
        # a job outside any span is not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": props(path_b)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": props(path_b)},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
            "Executor Run Time": 9000}},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 1},
    ]]


def test_event_log_attributes_jobs_and_tasks_to_span_paths():
    per_path = measure.read_event_log(
        _events("op0/pipeline/signatures/checkpoint", None))
    assert per_path == {"op0/pipeline/signatures/checkpoint": {
        "jobs": 1, "task_s": 2.0, "shuffle_write_mb": 2.0, "output_mb": 1.0}}


def test_layer_totals_count_nested_work_toward_every_layer():
    per_path = measure.read_event_log(
        _events("op0/pipeline/signatures/checkpoint", "op1/pipeline"))
    spans = [("op0/pipeline/signatures/checkpoint", 1.0),
             ("op0/pipeline/signatures", 3.0), ("op0/pipeline", 5.0), ("op0", 5.1),
             ("op1/pipeline", 7.0)]
    totals = measure.layer_totals(spans, per_path)
    op0 = totals["op0"]
    assert op0["signatures"]["busy_s"] == 3.0
    assert op0["checkpoint"]["busy_s"] == 1.0
    for layer in ("pipeline", "signatures", "checkpoint"):
        assert op0[layer]["jobs"] == 1
        assert op0[layer]["task_s"] == 2.0
    assert totals["op1"]["pipeline"]["task_s"] == 9.0
    assert measure.median_over_roots(totals, ["op0", "op1"], "pipeline", "busy_s") == 6.0
    # a layer absent from a root counts as zero work there
    assert measure.median_over_roots(totals, ["op1"], "verify", "jobs") == 0.0


def test_root_totals_sum_every_span_of_an_op():
    per_path = measure.read_event_log(
        _events("op0/pipeline/stage.sigs/checkpoint", "op0"))
    assert measure.root_totals(per_path) == {"op0": {
        "jobs": 2, "task_s": 11.0, "shuffle_write_mb": 2.0, "output_mb": 1.0}}


def test_process_tree_contains_the_root():
    assert os.getpid() in measure.process_tree(os.getpid())


def test_tree_cpu_seconds_counts_own_work():
    before = measure.tree_cpu_seconds(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert measure.tree_cpu_seconds(os.getpid()) - before >= 0.1


def test_rss_sampler_keeps_the_largest_python_descendant():
    sleepers = [subprocess.Popen([sys.executable, "-c", "import time; time.sleep(3)"]),
                subprocess.Popen(["sleep", "3"])]
    try:
        time.sleep(0.5)
        with measure.RssSampler(os.getpid(), interval=0.05) as rss:
            time.sleep(0.3)
        python_rss = measure._rss_bytes(sleepers[0].pid)
    finally:
        for p in sleepers:
            p.kill()
            p.wait()
    # the sampler's own process and the non-Python child are not counted
    assert 0 < rss.peak_bytes <= 2 * python_rss


def test_steal_share():
    assert measure.steal_share((100, 10), (200, 30)) == 0.2
    assert measure.steal_share((100, 10), (100, 10)) == 0.0
    total, steal = measure.cpu_ticks()
    assert 0 <= steal <= total


# ------------------------------------------------------- run's metric maps

def _op(seconds, rounds=2):
    return workloads.OpResult(
        seconds=seconds, cpu_seconds=3 * seconds, heap_mb=seconds + 600, ok=True, recall=1.0,
        precision=0.5, labeled=[],
        report={"stages": [{"stage": "sigs", "rows": 6, "seconds": 1.0}]},
        cc_stats={"rounds": rounds, "probes": rounds})


def test_end_to_end_takes_medians_over_ops():
    c = corpus.families(1, 2)
    per_path = {"op0/a": {"output_mb": 0.0004}, "op0/b": {"output_mb": 0.0002},
                "op1": {"output_mb": 0.0008}, "q0/query": {"output_mb": 1.0}}
    res = {"corpus": c, "setup_s": 30.0, "python_worker_rss_bytes": 2**30,
           "query_cpu_seconds": [0.5, 0.7, 0.3, 0.9],
           "ops": [("op0", _op(10.0)), ("op1", _op(14.0))], "per_path": per_path}
    m = run.end_to_end(res)
    assert set(m) == set(run.END_TO_END)
    assert m["op_cpu_s"] == 36.0
    assert m["query_cpu_s"] == pytest.approx(0.6)
    assert m["python_worker_rss_mb"] == 1024.0
    # bytes written per op, all of its spans summed: 600 and 800
    assert m["write_amp"] == pytest.approx(700 / c.content_bytes)
    assert (m["pair_recall"], m["pair_precision"]) == (1.0, 0.5)


def test_per_layer_attributes_spans_sinks_and_queries():
    c = corpus.families(1, 2)
    spans = [("op0/pipeline/stage.sigs/checkpoint", 0.5),
             ("op0/pipeline/stage.sigs", 2.0), ("op0/pipeline/stage.edges", 3.0),
             ("op0/pipeline", 6.5), ("op0", 6.5),
             ("sink/lsh", 1.5), ("sink", 1.5)]
    spans += [(f"{root}/query", 0.1 * (q + 1))
              for q, root in enumerate(run.QUERY_ROOTS)]
    per_path = measure.read_event_log(
        _events("op0/pipeline/stage.sigs/checkpoint", "sink/lsh"))
    sinks = {"lsh_pairs": 9, "hot_buckets": 0, "containment_pairs": 3,
             "hot_shingles": 0, "near_edges": 4, "pairs": 8, "fat_path_frac": 0.25}
    res = {"corpus": c, "session_s": 8.0, "spans": spans,
           "ops": [("op0", _op(7.0, rounds=5))], "sinks": sinks,
           "per_path": per_path}
    m = run.per_layer(res)
    assert set(m) == set(run.PER_LAYER)
    assert m["stage.sigs.busy_s"] == 2.0
    assert m["stage.sigs.jobs"] == 1 and m["checkpoint.task_s"] == 2.0
    assert m["lsh.busy_s"] == 1.5 and m["lsh.task_s"] == 9.0
    assert m["query.busy_s"] == workloads.median(
        [0.1 * (q + 1) for q in range(run.QUERY_ROUNDS)])
    assert m["session.start_s"] == 8.0
    assert m["checkpoint.write_mb"] == 1.0
    assert m["components.rounds"] == 5
    # op time outside the stage spans (sigs 2.0 + edges 3.0)
    assert m["pipeline.unattributed_s"] == pytest.approx(7.0 - 5.0)
    assert m["tracing.op_s_p50"] == 7.0
    assert m["pipeline.retained_heap_mb"] == 607.0
    assert m["verify.accept_ratio"] == 0.5
    assert m["signatures.reps_per_file"] == 6 / len(c.rows)


# ------------------------------------------------------------ view checks

def test_expected_views_follow_the_documented_rules():
    rows = [  # repo, path, commit, lang, content
        ("r1", "a.txt", "c", "text", "x" * 10),
        ("r1", "src/a.txt", "c", "text", "x" * 30),
        ("r2", "b.txt", "c", "text", "y" * 5),
        ("r1", "src/b.txt", "c", "text", "y" * 5),
        ("r1", "lone.txt", "c", "text", "z"),
    ]
    c = corpus.Corpus(rows, [0, 0, 1, 1, 2])
    labeled = [("r1", "a.txt", "f1", "A"), ("r1", "src/a.txt", "f2", "A"),
               ("r2", "b.txt", "f3", "B"), ("r1", "src/b.txt", "f4", "B"),
               ("r1", "lone.txt", "f5", "f5")]
    e = workloads.expected_views(c, labeled, "r1")
    # A reclaims 40 - 30 = 10 bytes, B 10 - 5 = 5; singletons never rank
    assert e["top_clusters"] == [(1, "A", 2, 10), (2, "B", 2, 5)]
    # canonical: shallowest path, so a.txt and b.txt are kept
    assert e["first_page"] == [(1, "src/a.txt", "r1"), (2, "src/b.txt", "r1")]
    assert e["repo_bytes"] == [35]
    assert workloads.expected_views(c, labeled, "r2")["repo_bytes"] == [None]


# ------------------------------------------------------------------ corpus

def test_corpora_are_seeded():
    assert corpus.families(5, 20).rows == corpus.families(5, 20).rows
    assert corpus.families(5, 20).rows != corpus.families(6, 20).rows
    assert corpus.chains(5, 2).rows == corpus.chains(5, 2).rows
    base = corpus.families(5, 50)
    assert (corpus.delta_snapshot(5, base).corpus.rows
            == corpus.delta_snapshot(5, base).corpus.rows)


def test_delta_snapshot_counts():
    base = corpus.families(1, 100)          # 400 files
    snap = corpus.delta_snapshot(1, base)   # 4 modified, 2 deleted, 4 added
    assert (snap.files_ingested, snap.files_dead) == (8, 6)
    assert len(snap.corpus.rows) == 400 - 2 + 4
    old = {(r[0], r[1]): r for r in base.rows}
    new = {(r[0], r[1]): r for r in snap.corpus.rows}
    assert len(old.keys() - new.keys()) == 2
    assert len(new.keys() - old.keys()) == 4
    assert sum(new[k] != old[k] for k in old.keys() & new.keys()) == 4


def test_chain_shape():
    c = corpus.chains(1, 3, versions=8, window=4)
    assert len(c.rows) == 3 * (8 + 8 + 4 - 1)
    assert sorted(set(c.groups)) == [0, 1, 2]
    # every snippet is contained in the version windows that cover it
    versions = [r[4] for r in c.rows[:8]]
    snippets = [r[4] for r in c.rows[8:19]]
    assert snippets[0] in versions[0] and snippets[3] in versions[3]


# -------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_declares_what_the_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
