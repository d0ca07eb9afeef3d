"""S7 — cluster priority scoring + ranked dedup-candidate views.

Implements uncp's designed priority queries (DESIGN.md:283-288 "groups
by total size / largest groups"; A9/W1 in SURVEY.md) with the
north_rule's score inputs: bytes reclaimable, duplicate count, path
depth.

  bytes_reclaimable = sum(size) - max(size)   (keep one copy)
  dup_count         = member count
  min_depth         = shallowest member (shallow = more canonical)

Canonical-member election per cluster: shallowest path, then
lexicographic — row_number over the cluster window (replaces uncp's
arbitrary uuid-first semantics with a deterministic choice, F8).

Scale note: the global priority rank is computed WITHOUT a
single-partition window: range-repartition on the order keys →
row_number within each (already range-ordered) partition → add the
per-partition row-count offsets (a tiny driver-side array, like the CC
convergence checksum). Exact global ranks, every step distributed,
balanced regardless of value skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cluster_stats(labeled_files: DataFrame) -> DataFrame:
    """labeled files(file_id, cluster_id, size, depth, path, repo) →
    one row per cluster of two or more files with priority inputs."""
    return (
        labeled_files.groupBy("cluster_id")
        .agg(
            F.count("*").alias("dup_count"),
            (F.sum("size") - F.max("size")).alias("bytes_reclaimable"),
            F.sum("size").alias("total_size"),
            F.min("depth").alias("min_depth"),
            F.countDistinct("repo").alias("n_repos"),
        )
        .filter(F.col("dup_count") >= 2)
    )


def _priority_order() -> list:
    # built lazily: Column construction needs an active SparkContext
    return [
        F.desc("bytes_reclaimable"),
        F.desc("dup_count"),
        F.asc("min_depth"),
        F.asc("cluster_id"),
    ]


def global_rank(df: DataFrame, order: list, band: "F.Column") -> DataFrame:
    """Exact global row_number over ``order`` as ``priority_rank``, with
    NO single-partition window.

    ``band`` must be a deterministic integer expression of the row that
    COARSENS the order: band(a) < band(b) ⇒ a sorts before b (for the
    priority order, a descending log2 bucket of the leading sort key).
    Rows are ranked within their band by a partitioned window, then each
    band adds the cumulative row count of the bands before it. The
    offsets are a running sum over the band-COUNT aggregate — at most
    ~64 rows by construction (one per log2 bucket of a 64-bit value),
    so it runs as an in-plan single-partition window over a bounded
    frame and joins back broadcast. Expressing the offsets in-plan
    (rather than collecting them to a driver array) removes the only
    mid-plan action from the ranking: the stage that consumes the rank
    is ONE Spark job, not a count-collect barrier followed by a second
    pass over the same lineage — at bench scale the two-pass rank was
    part of the sequential-job tail that capped N→4N scaling (round-4
    verdict). Every data-sized step is distributed; a value-derived
    band (unlike repartitionByRange's SAMPLED boundaries) is identical
    across re-executions, so rank-vs-offset consistency needs no
    caching."""
    banded = df.withColumn("_band", band)
    local = banded.withColumn(
        "_local_rank",
        F.row_number().over(Window.partitionBy("_band").orderBy(*order)),
    )
    # Band offsets = exclusive prefix sum of per-band counts. The band
    # count frame is ≤ ~64 rows BY CONSTRUCTION (one per log2 bucket of
    # a 64-bit value), so the prefix sum collapses it to ONE array row
    # (collect_list over the already-aggregated band counts, never over
    # data rows) and computes each band's offset with a bounded
    # higher-order aggregate — no window at all. The previous form used
    # `Window.partitionBy(F.lit(0))`: Catalyst folds the constant away,
    # leaving an empty partition spec, and Spark logged the
    # single-partition `WindowExec` warning on every priority run —
    # indistinguishable in logs from a real unbounded-window
    # scale-killer. Same offsets, same one data-sized aggregation.
    counts_arr = (
        banded.groupBy("_band")
        .agg(F.count("*").alias("_n"))
        .agg(F.sort_array(F.collect_list(F.struct("_band", "_n"))).alias("_arr"))
    )
    # filter first: empty input leaves the no-group agg's single row
    # holding an empty array, and sequence(1, 0) would DESCEND
    offsets = counts_arr.filter(F.size("_arr") > 0).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_arr")),
                lambda i: F.struct(
                    F.element_at("_arr", i)["_band"].alias("_band"),
                    F.aggregate(
                        F.slice("_arr", 1, i - 1),
                        F.lit(0).cast("long"),
                        lambda acc, s: acc + s["_n"],
                    ).alias("_offset"),
                ),
            )
        ).alias("_s")
    ).select("_s._band", "_s._offset")
    return (
        local.join(F.broadcast(offsets), "_band")
        .withColumn("priority_rank",
                    (F.col("_offset") + F.col("_local_rank")).cast("int"))
        .drop("_band", "_local_rank", "_offset")
    )


def _priority_band() -> "F.Column":
    """Descending log2 bucket of bytes_reclaimable: equal values share a
    band, larger values get strictly smaller bands — a coarsening of
    bytes_reclaimable DESC, so per-band ranks + offsets = global rank."""
    return (F.lit(64) - F.floor(F.log2(F.col("bytes_reclaimable") + 2))).cast("int")


def priority_ranked(clusters: DataFrame) -> DataFrame:
    """Ranked dedup candidates — bytes reclaimable first, then dup count,
    then shallowest path. ``metadata`` carries the score inputs as a JSON
    blob (uncp's group metadata field, src/relations.rs:415 / F9) and
    ``reclaimable_human`` the B/KB/MB rendering (tui df_render F10).
    Every cluster is ranked by the distributed ``global_rank``."""
    ranked = global_rank(clusters, _priority_order(), _priority_band())
    return (
        ranked.withColumn(
            "metadata",
            F.to_json(F.struct("dup_count", "bytes_reclaimable", "min_depth", "n_repos")),
        )
        .withColumn("reclaimable_human", format_bytes(F.col("bytes_reclaimable")))
    )


def format_bytes(col) -> "F.Column":
    """Human-readable byte size (tui/src/df_render.rs:18-31 parity)."""
    return (
        F.when(col >= 1024**4, F.concat(F.round(col / 1024**4, 2).cast("string"), F.lit(" TB")))
        .when(col >= 1024**3, F.concat(F.round(col / 1024**3, 2).cast("string"), F.lit(" GB")))
        .when(col >= 1024**2, F.concat(F.round(col / 1024**2, 2).cast("string"), F.lit(" MB")))
        .when(col >= 1024, F.concat(F.round(col / 1024, 2).cast("string"), F.lit(" KB")))
        .otherwise(F.concat(col.cast("string"), F.lit(" B")))
    )


def elect_canonical(labeled_files: DataFrame) -> DataFrame:
    """Per-cluster canonical member: keep the shallowest, lexicographically
    first path; all other members are deletion candidates."""
    w = Window.partitionBy("cluster_id").orderBy(F.asc("depth"), F.asc("path"), F.asc("file_id"))
    return labeled_files.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    )


def register_views(spark, clusters_ranked: DataFrame, labeled: DataFrame) -> None:
    """Expose the north_star's 'priority-ordered dedup candidate lists as
    Spark SQL queries'."""
    clusters_ranked.createOrReplaceTempView("cluster_priority")
    elect_canonical(labeled).createOrReplaceTempView("file_clusters")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW dedup_candidates AS
        SELECT f.cluster_id, f.repo, f.path, f.size, f.is_canonical,
               c.bytes_reclaimable, c.dup_count, c.priority_rank
        FROM file_clusters f JOIN cluster_priority c USING (cluster_id)
        WHERE NOT f.is_canonical
        ORDER BY c.priority_rank, f.path
        """
    )
