"""SparkSession factory.

Local-mode testing surrogate for the real deployment (spark-submit
--py-files on a multi-executor cluster). Arrow + AQE on; shuffle
partitions sized to cores (the sandbox has no network shuffle, but the
plan shapes — hash-partitioned band joins, AQE skew splits — are the
ones a 1000-executor cluster would run).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of host memory, at least 1 GiB: the driver heap plus
    off-heap, Python workers and page cache must fit the host, or the
    kernel OOM-kills the JVM mid-run."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{max(1, total_kib // (4 << 20))}g"


def get_spark(
    cores: int | str | None = None,
    app_name: str = "uncp_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``cores``: int N → local[N]; "*" → local[*]; None → $SPARK_GRAFT_CPUS
    or all cores.
    """
    # glibc tuning inherited by the forked Python UDF workers: keep large
    # numpy temporaries in the heap instead of mmap/munmap per batch —
    # this VM's first-touch page-fault path is extremely slow, so
    # re-faulting the kernel work buffers every batch dominates UDF time
    # (measured: 25 s first touch vs 0.05 s steady state per batch).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n = (os.cpu_count() or 8) if cores == "*" else int(cores)
    if shuffle_partitions is None:
        # 2x cores: enough tasks for AQE to coalesce, not so many that
        # task overhead dominates at local scale. On a real cluster this
        # scales with executors*cores (set via spark-submit conf).
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # parquet codec stays on the snappy default DELIBERATELY: zstd
        # was measured (r6) at 13% smaller signature files (55 vs 63 MB)
        # and equal write time, but the candidate tiers re-read the
        # signature table's wide array columns several times per run and
        # zstd DECODE made lsh_pairs 4.4 s -> 7.5 s (noise_spread 1.03,
        # three consistent passes) — a decode-bound regression the
        # write-side A/B (count() prunes all columns) did not see.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes post-shuffle partitions by COMPRESSED shuffle bytes;
        # our stages (signature UDFs, 128-wide est-Jaccard, CC rounds)
        # cost far more per row than per byte, so let coalescing target
        # parallelism and small partitions rather than 64 MB chunks
        # (measured: default settings ran the MinHash stage on 7
        # partitions of a 32-core session).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batch size so the numpy MinHash kernel's
        # (num_perm x total_shingles) work matrix stays in-cache.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # defense in depth against plan-tree blowups: cap tree-string
        # rendering (explain / error messages / plan-change log) at 8 MB
        # instead of the 2 GB default — a runaway lineage then truncates
        # a log string instead of stalling the driver building it
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_parallelism(df):
    """Repartition a DataFrame that feeds a compute-heavy (UDF) stage to
    2 × cores, but only when the input is actually starved of
    partitions — decided by PLAN INSPECTION only, never by running a
    job. AQE coalesces shuffles by *compressed shuffle bytes*, which
    under-parallelizes stages whose per-row cost is much higher than
    their byte size (measured: the MinHash stage coalesced to 7
    partitions on a 32-core session — a 4.5× wall-time loss). (The
    previous form called ``df.rdd.getNumPartitions()``, which under AQE
    materializes the plan's shuffle stages by submitting real jobs — the
    exact_representatives groupBy/semi-join executed eagerly here and
    AGAIN at the downstream action, doubling that work every run.)

      - Plan already contains a shuffle-inducing operator (join /
        aggregate / sort / window / repartition): downstream parallelism
        is governed by spark.sql.shuffle.partitions + AQE coalescing
        (parallelismFirst in get_spark), sized to >= 2x cores — leave
        the plan alone.
      - Narrow plan over a file scan: the scan's split count is bounded
        above by its file count, and our checkpoints are written from
        >= 2x-core-partitioned frames, so enough files => enough splits.
      - In-memory/local source (no files, no shuffle): repartition
        unconditionally — small fixture frames where one cheap exchange
        is noise.
    """
    import re

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # optimizedPlan() runs analysis+optimization only — no Spark jobs
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # match NODE NAMES at the head of each tree line (after the +- : |
    # drawing rail), not raw substrings — a filter literal, column, or
    # relation name containing "Join"/"Sort"/... must not false-match
    shuffling = {"Join", "Aggregate", "Sort", "Window", "Repartition",
                 "RepartitionByExpression"}
    nodes = {
        m.group(1)
        for line in logical.splitlines()
        if (m := re.match(r"^[\s:+|-]*'?([A-Za-z]+)", line))
    }
    if nodes & shuffling:
        return df
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target * 2)
