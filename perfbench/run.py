"""uncp_spark benchmark: closed-loop ops, one client, one process, on
local[nproc]. One op is a fresh ``DedupPipeline.run`` from the input
table to ranked clusters with the SQL views registered, checked
against the planted clusters; after the last op the read side issues
the view queries against that op's output, each answer checked against
one computed from the op's cluster labels.

    python3 perfbench/run.py --workload batch_families --seed 1 \
        --seconds 5 --trace 0

Run it from the repository root. With ``--trace 0`` it prints the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced run (Spark event log plus spans around each pipeline
stage, checkpoint write, operator sink and view query). A readable
report goes to stderr; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import corpus
import measure
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# No pipeline op is run and discarded before the measured ones, and the
# Python UDF workers are not warmed: a discarded op costs 35-50 s on a
# 4-core host, and with it a run no longer fits the benchmark's time
# budget; warming the workers (``session.warm_python_workers``) added 7 s
# to set-up and took nothing off the op that followed. The measured op
# is the first of a fresh session, as a submitted batch job pays it.

# rounds of the view query set issued, back to back, against the
# output of the last measured op
QUERY_ROUNDS = 8
QUERY_ROOTS = [f"q{q}" for q in range(QUERY_ROUNDS)]

WORKLOADS = {
    # 5,000 families x 4 = 20,000 short files; one cluster per family
    "batch_families": dict(make=lambda seed: corpus.families(seed, 5_000),
                           min_recall=1.0, exact_partition=True),
    # 16 segments x (64 versions + 79 snippets) = 2,288 files
    "batch_chains": dict(make=lambda seed: corpus.chains(seed, 16),
                         min_recall=0.99, exact_partition=False),
}

# Op and query cost is reported as CPU seconds of the JVM and its Python
# workers, not wall time: on a shared virtual host, CPU steal of 5-20%
# stretches wall time by up to half between runs, while CPU time moves
# by a few percent. Wall times go to the stderr report and, per layer,
# to the traced run.
END_TO_END = {
    "op_cpu_s": "s", "query_cpu_s": "s", "setup_s": "s",
    "python_worker_rss_mb": "MiB", "write_amp": "ratio",
    "pair_recall": "ratio", "pair_precision": "ratio",
}

LAYER_METRICS = {"busy_s": "s", "jobs": "count", "task_s": "s",
                 "shuffle_write_mb": "MB"}
# measured per traced op: the whole run, every checkpoint write, and
# each pipeline stage from its build to the end of its checkpoint write
OP_LAYERS = ["pipeline", "checkpoint", *workloads.STAGE_LAYER.values()]
# measured once per run: each public operator alone, to the noop sink,
# over the traced op's checkpointed inputs
SINK_LAYERS = ["ingest", "exact", "signatures", "lsh", "containment_index",
               "verify", "components", "priority"]
LAYERS = OP_LAYERS + SINK_LAYERS + ["query"]
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()},
    "session.start_s": "s",
    "signatures.udf_rows": "count",
    "signatures.reps_per_file": "ratio",
    "lsh.candidate_pairs": "count",
    "lsh.hot_buckets": "count",
    "containment_index.candidate_pairs": "count",
    "containment_index.hot_shingles": "count",
    "verify.accept_ratio": "ratio",
    "verify.fat_path_frac": "ratio",
    "components.rounds": "count",
    "components.probes": "count",
    "checkpoint.write_mb": "MB",
    "pipeline.unattributed_s": "s",
    "pipeline.retained_heap_mb": "MiB",
    # the traced run's op_s_p50; tracing overhead is this minus the
    # untraced run's op_s_p50 (both time the first op of a session)
    "tracing.op_s_p50": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure_workload(spark, args, work: str, t_start: float) -> dict:
    spec = WORKLOADS[args.workload]
    # every run sets the span property, so the event log attributes each
    # op's bytes written to it; the traced run adds the nested spans
    tracer = measure.Tracer(spark.sparkContext.setLocalProperty)
    res: dict = {"attempted": 0, "failed": 0, "ops": [], "query_seconds": [],
                 "query_cpu_seconds": [], "session_s": time.monotonic() - t_start}
    jvm = spark.sparkContext._gateway.proc.pid
    with measure.RssSampler(jvm) as rss:
        c = spec["make"](args.seed)
        res["corpus"] = c
        input_dir = os.path.join(work, "input")
        workloads.write_input(c, input_dir, 2 * workloads.host_cpus())
        base = os.path.join(work, "ckpt")
        res["setup_s"] = time.monotonic() - t_start

        t_run = time.monotonic()
        i = 0
        while i == 0 or time.monotonic() - t_run < args.seconds:
            res["attempted"] += 1
            try:
                r = workloads.run_pipeline_op(
                    spark, spark.read.parquet(input_dir), c, base,
                    f"seed{args.seed}-op{i}", spec["min_recall"],
                    spec["exact_partition"], tracer, f"op{i}",
                    traced=bool(args.trace))
            except Exception:
                traceback.print_exc()
                res["failed"] += 1
                tracer.unwind()
            else:
                res["failed"] += not r.ok
                res["ops"].append((f"op{i}", r))
            i += 1

        if res["ops"]:
            # the read side, back to back against the last op's views
            repo = c.rows[0][0]
            expected = workloads.expected_views(c, res["ops"][-1][1].labeled, repo)
            for root in QUERY_ROOTS:
                res["attempted"] += len(workloads.QUERIES)
                cpu0 = measure.tree_cpu_seconds(jvm)
                try:
                    secs, wrong = workloads.view_queries(spark, repo, expected,
                                                         tracer, root)
                except Exception:
                    traceback.print_exc()
                    res["failed"] += len(workloads.QUERIES)
                    tracer.unwind()
                    continue
                res["query_cpu_seconds"].append(measure.tree_cpu_seconds(jvm) - cpu0)
                res["failed"] += wrong
                res["query_seconds"].append(secs)
            if args.trace:
                res["sinks"] = workloads.operator_sinks(
                    spark, spark.read.parquet(input_dir), base, tracer)
        res["spans"] = tracer.spans
        res["python_worker_rss_bytes"] = rss.peak_bytes
    return res


def end_to_end(res: dict) -> dict:
    median = workloads.median
    ops = [r for _, r in res["ops"]]
    c = res["corpus"]
    written = measure.root_totals(res["per_path"])
    return {
        "op_cpu_s": median([r.cpu_seconds for r in ops]),
        "query_cpu_s": median(res["query_cpu_seconds"]),
        "setup_s": res["setup_s"],
        "python_worker_rss_mb": res["python_worker_rss_bytes"] / 2**20,
        "write_amp": median([written.get(root, {}).get("output_mb", 0.0) * 1e6
                             for root, _ in res["ops"]]) / c.content_bytes,
        "pair_recall": median([r.recall for r in ops]),
        "pair_precision": median([r.precision for r in ops]),
    }


def per_layer(res: dict) -> dict:
    median = workloads.median
    totals = measure.layer_totals(res["spans"], res["per_path"])
    op_roots = [root for root, _ in res["ops"]]
    ops = [r for _, r in res["ops"]]
    out = {}
    for layer in LAYERS:
        roots = (["sink"] if layer in SINK_LAYERS
                 else QUERY_ROOTS if layer == "query" else op_roots)
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = measure.median_over_roots(totals, roots, layer, m)

    def stage_rows(r, name):
        return next(s["rows"] for s in r.report["stages"] if s["stage"] == name)

    def stage_span_s(root):
        return sum(totals.get(root, {}).get(layer, {}).get("busy_s", 0.0)
                   for layer in workloads.STAGE_LAYER.values())

    sinks = res["sinks"]
    udf_rows = median([stage_rows(r, "sigs") for r in ops])
    p50 = median([r.seconds for r in ops])
    out.update({
        "session.start_s": res["session_s"],
        "signatures.udf_rows": udf_rows,
        "signatures.reps_per_file": udf_rows / len(res["corpus"].rows),
        "lsh.candidate_pairs": sinks["lsh_pairs"],
        "lsh.hot_buckets": sinks["hot_buckets"],
        "containment_index.candidate_pairs": sinks["containment_pairs"],
        "containment_index.hot_shingles": sinks["hot_shingles"],
        "verify.accept_ratio": sinks["near_edges"] / max(1, sinks["pairs"]),
        "verify.fat_path_frac": sinks["fat_path_frac"],
        "components.rounds": median([r.cc_stats.get("rounds", 0) for r in ops]),
        "components.probes": median([r.cc_stats.get("probes", 0) for r in ops]),
        "checkpoint.write_mb": measure.median_over_roots(
            totals, op_roots, "checkpoint", "output_mb"),
        "pipeline.unattributed_s": median([
            r.seconds - stage_span_s(root) for root, r in res["ops"]
        ]),
        "pipeline.retained_heap_mb": median([r.heap_mb for r in ops]),
        "tracing.op_s_p50": p50,
    })
    return out


def report(workload: str, res: dict, metrics: dict, units: dict) -> None:
    """Readable summary on stderr, including the end-to-end figures that
    are not part of the JSON contract (wall times, tail percentiles,
    failure share)."""
    median = workloads.median
    ops = [r for _, r in res["ops"]]
    p50 = median([r.seconds for r in ops])
    lines = [f"== {workload}: {len(ops)} measured ops, {res['attempted']} "
             f"attempted (ops + queries), {res['failed']} failed =="]
    lines.append("  op seconds: " + ", ".join(f"{r.seconds:.3f}" for r in ops))
    lines.append("  query set CPU seconds: "
                 + ", ".join(f"{s:.3f}" for s in res["query_cpu_seconds"]))
    lines += [f"  {k:<40} {v:>14.6g} {units[k]}" for k, v in metrics.items()]
    wall = {
        "op_s_p50": (p50, "s"),
        "files_per_s": (len(res["corpus"].rows) / p50, "1/s"),
        "queries_per_s": (len(workloads.QUERIES) / max(1e-9, median(res["query_seconds"])),
                          "1/s"),
        "failed_ops_frac": (res["failed"] / max(1, res["attempted"]), "ratio"),
    }
    lines += [f"  {k:<40} {v:>14.6g} {u}" for k, (v, u) in wall.items()]
    lines.append(f"  host CPU steal over the run: {100 * res['steal']:.1f}%")
    for name, secs in (("op_s", [r.seconds for r in ops]),
                       ("query_set_s", res["query_seconds"])):
        tail = measure.tail_percentile(len(secs))
        if tail is None:
            lines.append(f"  {name} tail percentile: not reported "
                         f"({len(secs)} samples; p90 needs >= 100)")
        else:
            lines.append(f"  {name}_p{tail:g}: {measure.percentile(secs, tail):.6g} s "
                         f"({len(secs)} samples)")
    print("\n".join(lines), file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "uncp_spark", "__init__.py")):
        print(f"perfbench: no uncp_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT, f"{args.workload}-{os.getpid()}")
    try:
        t_start, ticks = time.monotonic(), measure.cpu_ticks()
        spark = workloads.start_session(ROOT, work)
        try:
            res = measure_workload(spark, args, work, t_start)
        finally:
            workloads.stop_session(spark)
        res["steal"] = measure.steal_share(ticks, measure.cpu_ticks())
        if not res["ops"]:
            print("perfbench: no op completed", file=sys.stderr)
            return 1
        res["per_path"] = workloads.read_event_logs(work)
        if args.trace:
            metrics, units = per_layer(res), PER_LAYER
        else:
            metrics, units = end_to_end(res), END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(args.workload, res, metrics, units)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
