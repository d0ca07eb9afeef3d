"""Exact tier — hash / name / size group relations.

Reproduces uncp's relation tables (the only fully-specified cluster
semantics in the reference):

  exact_clusters    IdenticalHashes  (src/relations.rs:327-339): one row
                    per content hash shared by ≥2 files, with the member
                    path list and count. A4 in SURVEY.md §2.4.
  same_name_groups  SameFileName     (src/relations.rs:354-366), A5.
  same_size_groups  SameSize         (src/relations.rs:369-392), A6 —
                    uncp's designed cheap blocking tier.

Scale notes: one shuffle each (groupBy on the key); partial aggregation
(map-side combine) applies to count/min but NOT to collect_list — at
100 TB a collect_list of paths per hash is only safe because dup-group
sizes are bounded in practice (boilerplate aside, which the hot-band cap
tracks); the pairwise/cluster tables downstream never materialize member
lists for giant groups. Member lists are sorted so cluster ids and
oracle hashes are deterministic (uncp uses uuid v4, src/data.rs:439-444;
we need reproducibility, F8 in SURVEY.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MAX_GROUP_MEMBERS = 1000


def _group_relation(
    files: DataFrame, key: str, out_key: str,
    max_members: int = MAX_GROUP_MEMBERS,
) -> DataFrame:
    """One row per ``key`` value shared by two or more files.
    ``file_paths`` holds the sorted member paths for groups of at most
    ``max_members``; groups past the cap get an EMPTY list (count-only
    row). ``file_count``/``total_size``/``first_seen`` always cover the
    FULL group, so truncation is detectable, not silent:
    file_count > size(file_paths).

    Two-phase skew discipline (the one containment_index.py:86-95
    established): phase 1 aggregates counts per key — a 2-3-column
    groupBy with full map-side combine, so the hottest key (a byte size
    shared by 10^7 files, the empty-file hash) costs one partial-agg
    row per input partition, never 10^7 rows in one reducer. Phase 2
    collects member lists ONLY for sub-cap keys: over-cap keys are
    anti-joined out (broadcast — there are at most N/cap of them, and
    AQE picks the strategy at runtime) BEFORE any collect_list or sort,
    so no aggregation buffer and no single ranking task ever sees an
    uncapped hot key's rows. The previous form ranked every row of every
    key through a row_number window partitioned by key — partial-agg-
    free, so the hot key's entire membership serialized through one
    task just to be nulled past the cap.

    Shuffle discipline: both phases only ever see the columns the
    output needs — (key, path, size[, processed_at]); dragging content
    bytes through these exchanges is the class of bug documented in
    exact_representatives below (measured ~25 s)."""
    needed = [key, "path", "size"]
    if "processed_at" in files.columns:
        needed.append("processed_at")
    skinny = files.select(*dict.fromkeys(needed))  # key may equal "size"
    aggs = [
        F.count("*").alias("file_count"),
        F.sum("size").alias("total_size"),
    ]
    if "processed_at" in files.columns:
        # F7: relation tables carry first_seen (i64 ns-epoch), matching
        # uncp's relation schemas (src/relations.rs:330,360,386)
        aggs.append(F.min("processed_at").alias("first_seen"))
    counts = (
        skinny.groupBy(F.col(key).alias(out_key)).agg(*aggs)
        .filter(F.col("file_count") >= 2)
    )
    over_cap = counts.filter(F.col("file_count") > max_members)
    members = (
        skinny.select(F.col(key).alias(out_key), "path")
        .join(F.broadcast(over_cap.select(out_key)), out_key, "left_anti")
        .groupBy(out_key)
        .agg(F.sort_array(F.collect_list("path")).alias("file_paths"))
    )
    return counts.join(members, out_key, "left").withColumn(
        "file_paths",
        F.coalesce("file_paths", F.array().cast("array<string>")),
    ).select(out_key, "file_paths", *[c for c in counts.columns if c != out_key])


def exact_clusters(files: DataFrame) -> DataFrame:
    """groupBy(sha256) → member lists. uncp IdenticalHashes semantics."""
    return _group_relation(files, "sha256", "hash_value").withColumn(
        "hash_type", F.lit("sha256")
    )


def same_name_groups(files: DataFrame) -> DataFrame:
    return _group_relation(files, "filename", "filename_key")


def same_size_groups(files: DataFrame) -> DataFrame:
    return _group_relation(files, "size", "size_bytes")


def exact_cluster_edges(files: DataFrame) -> DataFrame:
    """Exact-dup edges (file_id_a < file_id_b) feeding connected
    components: each file links to the min-file_id representative of its
    sha256 group — a star, not a quadratic clique, so a boilerplate blob
    shared by 10^6 files yields 10^6-1 edges, not 10^12.
    """
    ids = files.select("file_id", "sha256")
    reps = ids.groupBy("sha256").agg(F.min("file_id").alias("rep_id"))
    return (
        # skinny join: only (file_id, sha256) rows shuffle — joining the
        # full files table here would drag every content byte through
        # the exchange for a 2-column output
        ids.join(reps, "sha256")
        .filter(F.col("file_id") != F.col("rep_id"))
        .select(
            F.least("file_id", "rep_id").alias("src"),
            F.greatest("file_id", "rep_id").alias("dst"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("edge_type"),
            # per-pair evidence (DESIGN.md:109-117 `data` JSON): the
            # shared key that produced the edge — already in the row,
            # so this costs nothing extra through the exchange
            F.to_json(F.struct("sha256")).alias("data"),
        )
    )


def exact_representatives(files: DataFrame) -> DataFrame:
    """One representative row per distinct content hash — the LSH tiers
    run over representatives only, so N exact copies cost one signature
    and boilerplate cannot create hot LSH buckets by itself. The scale
    lever: at 10^12 files with heavy duplication this shrinks the
    signature stage by the duplication factor.

    Shuffle discipline: the representative CHOICE (min file_id per
    sha256) aggregates a 2-column projection, so only (sha256, file_id)
    ever crosses the exchange; the fat content column comes back via a
    semi-join that AQE turns into a broadcast when the rep-id set is
    small (always, relative to the corpus) and a sort-merge at most once
    otherwise. The previous form — a row_number window over the full
    row — shuffled every content byte to pick ids (measured as a ~25 s
    serial disk component on the bench host), and its callers then paid
    a SECOND full-content exchange to re-spread the UDF stage."""
    nonnull = files.filter(F.col("content").isNotNull())
    rep_ids = (
        nonnull.select("file_id", "sha256")
        .groupBy("sha256")
        .agg(F.min("file_id").alias("file_id"))
        .select("file_id")
    )
    w_cols = ["file_id", "repo", "path", "lang", "content", "sha256", "size", "depth"]
    return nonnull.select(*w_cols).join(rep_ids, "file_id", "left_semi")
