"""Workload drivers: the Spark session, the corpus input table, one op
of ``DedupPipeline.run`` with its correctness check, the view queries
with theirs, and the traced extras (stage spans, operator sinks).

The program is driven only through its public entry points; the
traced run adds spans from this side of the API (wrapped ``StageSpec``
builds and a wrapper around ``sources.checkpoint.write_checkpoint``).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import measure

# pipeline stage -> layer of its span in the traced run
STAGE_LAYER = {s: f"stage.{s}" for s in
               ("files", "sigs", "pairs", "edges", "labels", "clusters")}

# the interactive read side over the registered views; {repo} is filled
# with one repo of the corpus
QUERIES = {
    "top_clusters": "SELECT * FROM cluster_priority ORDER BY priority_rank LIMIT 100",
    "first_page": "SELECT * FROM dedup_candidates LIMIT 50",
    "repo_bytes": "SELECT sum(size) AS bytes FROM dedup_candidates WHERE repo = '{repo}'",
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of host memory (at least 1 GiB) for the driver heap."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{max(1, total_kib // (4 << 20))}g"


def start_session(root: str, work: str):
    """local[nproc] session with every scratch path inside ``work``, the
    repository root on the Python workers' path and the Spark event log
    in ``work/events``."""
    tmp = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "events")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(event_dir, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # the helper JVM spark-submit starts to build its command line
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    conf = {
        # -UsePerfData: no /tmp/hsperfdata_* file (HotSpot ignores
        # java.io.tmpdir for it), so nothing is written outside the
        # checkout; fixed JIT compiler threads: see tree_cpu_seconds
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # attribution of jobs, task time and bytes written to spans
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    from uncp_spark.session import get_spark

    return get_spark(host_cpus(), app_name="uncp_perfbench", extra_conf=conf)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM and wait until it and every
    Python worker it forked have exited."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    tree = measure.process_tree(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    alive = list(tree)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, 9)


def read_event_logs(work: str) -> dict:
    """After ``stop_session``: the event log's work per span path."""
    per_path: dict = {}
    event_dir = os.path.join(work, "events")
    for name in os.listdir(event_dir):
        with open(os.path.join(event_dir, name)) as f:
            per_path.update(measure.read_event_log(f))
    return per_path


def retained_heap_mb(spark) -> float:
    """Driver heap in use right after a full collection, in MiB: what
    the program still references (cached blocks, broadcasts, plan and
    listener state). Unlike the JVM's RSS or the occupancy after an
    ordinary young collection, it does not depend on how much garbage
    had piled up when it was read."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return memory.getHeapMemoryUsage().getUsed() / 2**20


def write_input(c: corpus.Corpus, path: str, n_files: int) -> None:
    """The corpus as a parquet table (the program's input contract is a
    table it scans), split into ``n_files`` files."""
    os.makedirs(path, exist_ok=True)
    names = ["repo", "path", "commit", "lang", "content"]
    table = pa.table({n: list(v) for n, v in zip(names, zip(*c.rows))})
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


# ------------------------------------------------------------------ op

@contextmanager
def traced_checkpoints(tracer: measure.Tracer):
    """Span every checkpoint write, and close the stage span a wrapped
    build opened once its checkpoint is written."""
    from uncp_spark.sources import checkpoint as ckpt

    original = ckpt.write_checkpoint

    def write_checkpoint(df, path, name, *args, **kwargs):
        with tracer.span("checkpoint"):
            result = original(df, path, name, *args, **kwargs)
        layer = STAGE_LAYER.get(name, name)
        if tracer.is_open(layer):
            tracer.close(layer)
        return result

    ckpt.write_checkpoint = write_checkpoint
    try:
        yield
    finally:
        ckpt.write_checkpoint = original


def traced_stages(pipe, tracer: measure.Tracer) -> list:
    def wrap(spec):
        layer = STAGE_LAYER.get(spec.name, spec.name)

        def build(spark, ctx):
            tracer.open(layer)
            return spec.build(spark, ctx)

        return dataclasses.replace(spec, build=build)

    return [wrap(s) for s in pipe.default_stages()]


@dataclasses.dataclass
class OpResult:
    seconds: float
    cpu_seconds: float   # JVM and Python workers, user + system
    heap_mb: float       # retained driver heap after the op
    ok: bool
    recall: float
    precision: float
    labeled: list        # (repo, path, file_id, cluster_id) per file
    report: dict
    cc_stats: dict


def run_pipeline_op(spark, repos, c: corpus.Corpus, base_dir: str, token: str,
                    min_recall: float, exact_partition: bool,
                    tracer: measure.Tracer, root: str,
                    traced: bool = False) -> OpResult:
    """One op: a fresh ``DedupPipeline.run`` from the input table to
    ranked clusters with the SQL views registered, then its check. The
    op runs under the span ``root`` (so the event log attributes its
    bytes written to it); ``traced`` adds a span per stage and
    checkpoint write, and reads the retained heap after the op (a full
    collection, which the untraced run leaves out)."""
    from uncp_spark.operators import components
    from uncp_spark.plans.pipeline import DedupPipeline

    shutil.rmtree(base_dir, ignore_errors=True)
    components.LAST_RUN_STATS.clear()
    pipe = DedupPipeline(base_dir=base_dir)
    jvm = spark.sparkContext._gateway.proc.pid
    cpu0, t0 = measure.tree_cpu_seconds(jvm), time.monotonic()
    if not traced:
        with tracer.span(root):
            out = pipe.run(spark, repos, input_token=token)
    else:
        pipe.stages = traced_stages(pipe, tracer)
        with tracer.span(root), traced_checkpoints(tracer), tracer.span("pipeline"):
            out = pipe.run(spark, repos, input_token=token)
    seconds = time.monotonic() - t0
    cpu_seconds = measure.tree_cpu_seconds(jvm) - cpu0
    cc_stats = dict(components.LAST_RUN_STATS)
    heap_mb = retained_heap_mb(spark) if traced else 0.0

    labeled = [tuple(r) for r in out["labeled"].select(
        "repo", "path", "file_id", "cluster_id").collect()]
    planted = {(r[0], r[1]): g for r, g in zip(c.rows, c.groups)}
    found = {(r[0], r[1]): r[3] for r in labeled}
    keys = list(planted)
    recall, precision = measure.pair_scores(
        [planted[k] for k in keys], [found.get(k, ("missing", k)) for k in keys]
    )
    ok = len(found) == len(planted) and recall >= min_recall
    if exact_partition:
        ok = ok and recall == 1.0 and precision == 1.0
    return OpResult(seconds, cpu_seconds, heap_mb, ok, recall, precision, labeled,
                    out["report"], cc_stats)


# ------------------------------------------------------------ queries

def expected_views(c: corpus.Corpus, labeled: list, repo: str) -> dict:
    """What the query set must return, computed here from the op's
    cluster labels and the corpus by the rules the views document:
    a cluster of two or more files ranks by bytes reclaimable (sum of
    sizes minus the largest), member count, shallowest depth, cluster
    id; its canonical member is the shallowest, then lexicographically
    first path (then file id); every other member is a candidate,
    listed by rank, then path."""
    size = {(r[0], r[1]): len(r[4].encode()) for r in c.rows}
    members = defaultdict(list)
    for repo_, path, file_id, cluster_id in labeled:
        depth = path.count("/") + 1
        members[cluster_id].append((depth, path, file_id, repo_, size[(repo_, path)]))
    order = sorted(
        (-(sum(m[4] for m in ms) - max(m[4] for m in ms)), -len(ms),
         min(m[0] for m in ms), cid)
        for cid, ms in members.items() if len(ms) >= 2
    )
    rank = {o[3]: i for i, o in enumerate(order, 1)}
    candidates = sorted(
        (rank[cid], m[1], m[3], m[4])
        for cid in rank for m in sorted(members[cid])[1:]
    )
    return {
        "top_clusters": [(i, cid, -n, -reclaim)
                         for i, (reclaim, n, _, cid) in enumerate(order[:100], 1)],
        "first_page": [(r, path, repo_) for r, path, repo_, _ in candidates[:50]],
        # sum() over no rows is NULL
        "repo_bytes": [sum(s for _, _, repo_, s in candidates if repo_ == repo)
                       or None],
    }


def _query_answer(name: str, rows) -> list:
    if name == "top_clusters":
        return [(r.priority_rank, r.cluster_id, r.dup_count, r.bytes_reclaimable)
                for r in rows]
    if name == "first_page":
        return [(r.priority_rank, r.path, r.repo) for r in rows]
    return [r.bytes for r in rows]


def view_queries(spark, repo: str, expected: dict,
                 tracer: measure.Tracer, root: str) -> tuple[float, int]:
    """The query set once, each query collected and compared with its
    expected answer; returns its seconds and the number of wrong
    answers."""
    t0 = time.monotonic()
    wrong = 0
    with tracer.span(root), tracer.span("query"):
        for name, sql in QUERIES.items():
            rows = spark.sql(sql.format(repo=repo)).collect()
            wrong += _query_answer(name, rows) != expected[name]
    return time.monotonic() - t0, wrong


# ------------------------------------------------------ traced extras

def sink(df, *aggs) -> dict:
    """Run ``df`` to the noop sink; observed aggregates ride the job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs).write.format(
        "noop").mode("overwrite").save()
    return obs.get


def operator_sinks(spark, repos, base_dir: str, tracer: measure.Tracer) -> dict:
    """Each public operator run alone over the op's checkpointed
    inputs, to the noop sink, under a span named after its module."""
    from pyspark.sql import functions as F

    from uncp_spark.config import SimilarityConfig
    from uncp_spark.operators import components
    from uncp_spark.operators.components import connected_components, label_all
    from uncp_spark.operators.containment_index import containment_candidates
    from uncp_spark.operators.exact import exact_cluster_edges, exact_representatives
    from uncp_spark.operators.ingest import ingest
    from uncp_spark.operators.lsh import candidate_pairs
    from uncp_spark.operators.priority import cluster_stats, priority_ranked
    from uncp_spark.operators.signatures import signature_table
    from uncp_spark.operators.verify import release_scored_cache, score_pairs
    from uncp_spark.session import ensure_parallelism

    cfg = SimilarityConfig()

    def read(name):
        return spark.read.parquet(os.path.join(base_dir, name))

    files, sigs, pairs, edges, labels = (
        read(n) for n in ("files", "sigs", "pairs", "edges", "labels"))
    out = {}
    with tracer.span("sink"):
        with tracer.span("ingest"):
            sink(ingest(repos))
        with tracer.span("exact"):
            sink(exact_representatives(files))
            sink(exact_cluster_edges(files))
        with tracer.span("signatures"):
            sink(signature_table(ensure_parallelism(exact_representatives(files)),
                                 cfg, include_shingles=False))
        with tracer.span("lsh"):
            out["lsh_pairs"] = sink(candidate_pairs(sigs, cfg)[0])["rows"]
        with tracer.span("containment_index"):
            out["containment_pairs"] = sink(containment_candidates(sigs, cfg)[0])["rows"]
        with tracer.span("verify"):
            scored = sink(score_pairs(pairs, sigs, cfg, files),
                          F.count("jaccard").alias("fat"))
            release_scored_cache()
        with tracer.span("components"):
            components.LAST_RUN_STATS.clear()
            sink(connected_components(
                edges.select("src", "dst"),
                checkpoint_dir=os.path.join(base_dir, "_sink_cc")))
        with tracer.span("priority"):
            sink(priority_ranked(cluster_stats(label_all(files, labels))))
    out["fat_path_frac"] = scored["fat"] / max(1, scored["rows"])
    out["hot_buckets"] = read("hot_buckets").count()
    out["hot_shingles"] = read("hot_shingles").count()
    out["near_edges"] = edges.filter("edge_type != 'exact'").count()
    out["pairs"] = pairs.count()
    return out


def median(values) -> float:
    return statistics.median(values) if values else 0.0
