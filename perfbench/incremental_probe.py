"""Time ``plans.incremental.incremental_update`` against families
checkpoints of several sizes: why the benchmark has no incremental
workload yet.

    python3 perfbench/incremental_probe.py 25 100 1000

For each family count it builds the base checkpoint with
``DedupPipeline.run``, then applies a snapshot with 1% of files
modified, 0.5% deleted and 1% added, twice (restoring the base between
the two), and prints per op the wall seconds, the program's per-tier
seconds and ``report["delta"]``, whose file counts it checks against
the snapshot. A benchmark run must end within 180 s, and on 4 cores one
op costs 95-170 s at every base size tried (100, 400 and 4,000 files),
two thirds of it in the labels tier, so no base size leaves room in a
run for session start and the base build.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import corpus
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    sizes = [int(a) for a in argv] or [25, 100]
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "out", f"incremental-{os.getpid()}")
    spark = workloads.start_session(ROOT, work)
    try:
        from uncp_spark.plans.incremental import incremental_update
        from uncp_spark.plans.pipeline import DedupPipeline

        for n in sizes:
            base = corpus.families(1, n)
            snap = corpus.delta_snapshot(1, base)
            for name, c in (("in", base), ("snap", snap.corpus)):
                workloads.write_input(c, os.path.join(work, f"{name}{n}"), 8)
            ckpt = os.path.join(work, f"base{n}")
            t = time.monotonic()
            DedupPipeline(base_dir=ckpt).run(
                spark, spark.read.parquet(os.path.join(work, f"in{n}")),
                input_token="base")
            print(f"{len(base.rows)} files: base build {time.monotonic() - t:.1f} s",
                  flush=True)
            shutil.copytree(ckpt, ckpt + "_pristine")
            for i in range(2):
                shutil.rmtree(ckpt)
                shutil.copytree(ckpt + "_pristine", ckpt)
                t = time.monotonic()
                out = incremental_update(
                    spark, ckpt, spark.read.parquet(os.path.join(work, f"snap{n}")),
                    input_token=f"delta{i}")
                delta = out["report"]["delta"]
                ok = (delta["files_ingested"], delta["files_dead"]) == (
                    snap.files_ingested, snap.files_dead)
                print(f"{len(base.rows)} files: incremental op {i} "
                      f"{time.monotonic() - t:.1f} s, counts ok {ok}, tiers "
                      f"{json.dumps(out['report']['stage_seconds'])}, "
                      f"delta {json.dumps(delta)}", flush=True)
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
