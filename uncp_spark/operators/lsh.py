"""S4 — LSH banding and candidate-pair generation.

Replaces the reference's *designed* pairwise similarity self-join
(DESIGN.md:109-117, J3 in SURVEY.md §2.3) with the scalable plan: never
the naive cross join — signatures are split into b bands of r rows,
each band slice hashed to a bucket key, and only same-bucket files pair
up. Collision probability for a pair at Jaccard s is 1 - (1 - s^r)^b
(≈ 0.9998 at s = 0.7 with b=32, r=4 — the ≥0.99 recall budget).

Scale/skew design (north_rule "salted band-key repartitioning and
broadcast of hot bands"):
  - exact duplicates never enter LSH (exact.exact_representatives), so
    byte-identical boilerplate cannot flood buckets;
  - pair expansion happens inside a groupBy bucket (one shuffle), not a
    self-join (two), and is JVM-side (transform/flatten combinatorics);
  - buckets above cfg.hot_band_cap are quarantined, counted, and
    reported — a quadratic blow-up inside one bucket is the single way
    an LSH job dies at 10^12 files. Hot buckets still contribute edges
    via a linear star (every member → bucket-min member) so recall on
    pathological near-identical floods degrades gracefully instead of
    exploding; the star edges are marked ``from_hot_band`` and counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig


def intern_hex_id(df: DataFrame, *cols: str) -> tuple[DataFrame, bool]:
    """Convert 32-char-hex id columns to ``binary(16)`` for the shuffle-
    heavy interior of an operator; ``extern_hex_id`` restores the hex
    form at the boundary. The pipeline's file_id is a lowercase md5 hex
    string (ingest.py) — 32 chars plus offsets through EVERY exchange,
    vs 16 bytes packed; and lowercase-hex string order equals unsigned
    byte order, so min/least/sort semantics commute exactly with the
    conversion. Non-string ids (tests use longs) pass through untouched."""
    if dict(df.dtypes).get(cols[0]) != "string":
        return df, False
    return df.withColumns({c: F.unhex(c) for c in cols}), True


def extern_hex_id(df: DataFrame, *cols: str) -> DataFrame:
    """Inverse of ``intern_hex_id`` (hex() emits uppercase; the pipeline
    id is lowercase, so lower() restores the exact original)."""
    return df.withColumns({c: F.lower(F.hex(c)) for c in cols})


def band_keys(sigs: DataFrame, cfg: SimilarityConfig) -> DataFrame:
    """(file_id, band, band_hash) — one row per file per band of its
    ``minhash``."""
    r = cfg.rows_per_band
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda i: F.slice(F.col("minhash"), i * r + 1, r),
    )
    return (
        sigs.select("file_id", F.posexplode(slices).alias("band", "band_sig"))
        .select("file_id", "band", F.xxhash64("band", "band_sig").alias("band_hash"))
    )


def _explode_pairs(bucket_df: DataFrame, ids_col: str = "ids",
                   keep: tuple[str, ...] = ()) -> DataFrame:
    """JVM-side expansion of all (ids[i], ids[j]) i<j pairs from a sorted
    id array → (src, dst) rows. No Python, no self-join.

    Peak-memory shape: TWO nested explodes, not one flatten. A single
    flatten(transform(...)) materializes the entire O(n²) pair array in
    ONE JVM row before its explode — at hot_band_cap=2000 that is ~2M
    structs (~32 MB+) in a single row, a per-row spike AQE cannot split.
    Exploding the anchor index ``i`` first and slicing per-``i`` keeps
    peak per-row memory O(n): each intermediate row holds one id plus
    one suffix slice of the array."""
    n = F.size(F.col(ids_col))
    extra = [F.col(c) for c in keep]
    return (
        bucket_df.select(
            F.col(ids_col),
            *extra,
            F.explode(F.sequence(F.lit(1), n - 1)).alias("_i"),
        )
        .select(
            F.element_at(F.col(ids_col), F.col("_i")).alias("src"),
            F.explode(
                F.slice(
                    F.col(ids_col),
                    F.col("_i") + 1,
                    F.size(F.col(ids_col)) - F.col("_i"),
                )
            ).alias("dst"),
            *extra,
        )
    )


def candidate_pairs(
    sigs: DataFrame, cfg: SimilarityConfig
) -> tuple[DataFrame, DataFrame]:
    """→ (pairs(src < dst), hot_bucket_report).

    pairs carries ``from_hot_band`` so downstream metrics can separate
    full-fidelity candidates from degraded hot-bucket stars.
    """
    bk = band_keys(sigs, cfg)
    # shuffle-interior id interning: every exchange below carries ids in
    # every row (bucket arrays, pair rows); 16-byte binary halves that
    # payload vs the 32-char hex string and compares faster. Checkpoint
    # and output schemas are unchanged — hex in, hex out.
    bk, interned = intern_hex_id(bk, "file_id")
    raw_buckets = (
        bk.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("file_id")).alias("ids"))
        .withColumn("bucket_size", F.size("ids"))
        .filter(F.col("bucket_size") >= 2)
    )
    # Near-identical files collide in MOST of their b bands, so the same
    # member set recurs up to b times; expanding each recurrence emits
    # O(b·n²) pair rows that the final dedup collapses anyway. Dedup the
    # member SETS first: one extra cheap shuffle on the id arrays cuts
    # pair-expansion volume by up to b× (measured 126x redundancy on a
    # dup-dense corpus). Same candidate-pair set, same semantics.
    buckets = (
        raw_buckets.select("ids", "bucket_size").distinct()
    )
    normal = buckets.filter(F.col("bucket_size") <= cfg.hot_band_cap)
    hot = buckets.filter(F.col("bucket_size") > cfg.hot_band_cap)
    hot_buckets_report = raw_buckets.filter(
        F.col("bucket_size") > cfg.hot_band_cap
    ).select("band", "band_hash", "bucket_size")

    normal_pairs = _explode_pairs(normal.select("ids")).select(
        "src", "dst", F.lit(False).alias("from_hot_band")
    )
    # hot buckets: linear star to the min id instead of the quadratic clique
    hot_pairs = hot.select(
        F.element_at("ids", 1).alias("src"), F.explode(F.slice("ids", 2, F.size("ids"))).alias("dst")
    ).select("src", "dst", F.lit(True).alias("from_hot_band"))

    pairs = (
        normal_pairs.unionByName(hot_pairs)
        .groupBy("src", "dst")
        .agg(F.max("from_hot_band").alias("from_hot_band"))
    )
    if interned:
        pairs = extern_hex_id(pairs, "src", "dst")
    return pairs, hot_buckets_report
