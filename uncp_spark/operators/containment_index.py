"""S4b — containment candidate generation beyond MinHash-LSH reach.

MinHash-LSH banding surfaces pairs whose JACCARD clears the band curve;
asymmetric containment pairs (a 200-line file verbatim inside a 10k-line
file: J ≈ 0.02, containment = 1.0) never band-collide — exactly the
north_rule's "file A = a block of file B plus extra code" tier (uncp
DESIGN.md:231-258, designed but never implemented in the reference).

Plan shape (the 100 TB-safe construction):

  index     every file's ``bottomk`` sketch (its m smallest shingle
            ids — computed for free in the signature stage, fixed-width
            ≤ m longs) explodes to (shid, file_id) rows; a shared id is
            evidence two files share content REGARDLESS of size ratio:
            for A ⊆ B, P(some id of A's sketch ranks in B's bottom m)
            ≈ 1 - exp(-m / (|B|/|A|)).
  buckets   groupBy shid. Sizes are counted FIRST (map-side-combinable
            count, never collect_list on an uncapped key): only shids
            with 2 ≤ size ≤ ``hot_shingle_cap`` reach the collect_list
            — a semi-join drops singletons (the large majority of a
            bottom-k index) and hot shids map-side, so the data-sized
            exchange carries shared entries only. Over-cap shids are
            additionally REPORTED: a shingle shared by 10^6 files is
            boilerplate whose pairs are noise, and the one way this
            index goes quadratic.
  pairs     the same O(n)-peak-memory JVM pair expansion as the LSH
            tier. Never a self-join, never a cross join.
            A SIZE-RATIO FLOOR (config.containment_ratio_min) drops
            near-equal-size pairs before they shuffle: containment ≥ 0.9
            at ratio < 1.1 implies Jaccard ≥ 0.75, which the band tier
            already surfaces — so same-size files sharing a boilerplate
            block (the dominant candidate-noise class on real corpora:
            measured 26× candidate inflation on a 200k-file bench
            corpus, every one a dead-end phase-1 comparison) cost
            nothing here without losing a single reachable edge.

Candidates then flow through the normal verify stage, where exact
shingle containment (|A ∩ B| / min) decides acceptance — this module
only proposes, verify disposes, so false candidates cost one residual
check and true containments are caught at any size ratio the sketch
reaches (see config.containment_sketch_size for the recall math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig
from uncp_spark.operators.lsh import (
    _explode_pairs,
    candidate_pairs,
    extern_hex_id,
    intern_hex_id,
)


def containment_entries(sigs: DataFrame) -> DataFrame:
    """(shid, file_id, n) inverted-index rows from the bottom-m sketches.

    ``n`` is the file's exact shingle-set cardinality, carried inline so
    pair expansion can apply the size-ratio floor without a join back to
    the signature table (8 bytes/row against a skinny-join's extra
    exchange of the whole index)."""
    return sigs.select(
        "file_id",
        F.col("n_shingles").cast("long").alias("n"),
        F.explode("bottomk").alias("shid"),
    )


def _containment_pair_rows(
    sigs: DataFrame, cfg: SimilarityConfig
) -> tuple[DataFrame, DataFrame, bool]:
    """→ (raw_pairs(src < dst) — ONE ROW PER SHARED SKETCH ID, i.e.
    before the shared-count aggregation — hot_shingle_report, interned).

    Split out so ``combined_candidate_pairs`` can fold the
    ``containment_min_shared`` count into its cross-tier dedup groupBy
    (one exchange instead of two); ``containment_candidates`` keeps the
    standalone aggregate for callers that want this tier alone.

    When ``interned`` is True the pair ids are still ``binary(16)``
    (lsh.intern_hex_id): the caller restores hex with ``extern_hex_id``
    after its own (src, dst) exchange, or before a union with hex ids."""
    ent = containment_entries(sigs)
    # shuffle-interior id interning (see lsh.intern_hex_id): the index
    # carries an id in every entry row and bucket array; binary(16)
    # halves that vs the hex string. Hex in; the caller externs.
    ent, interned = intern_hex_id(ent, "file_id")
    # pass 1 — bucket sizes only: count() partial-aggregates map-side,
    # so the exchange carries one row per DISTINCT shid, never the full
    # index. This is the no-OOM guard: collect_list may only ever run
    # on buckets this pass proved sub-cap.
    sizes = ent.groupBy("shid").agg(F.count("*").alias("bucket_size"))
    hot_report = sizes.filter(F.col("bucket_size") > cfg.hot_shingle_cap)
    # pass 2 — ONE exchange of the SURVIVING index: entries are
    # semi-joined to the shids pass 1 proved shareable (2 ≤ size ≤ cap)
    # BEFORE the collect_list groupBy. Singleton shids are the large
    # majority of a bottom-k index (256 mostly-unique ids per distinct
    # content), so filtering them map-side shrinks the only data-sized
    # exchange ~3x on the bench corpus (7.7M → 2.7M entry rows; the
    # round-5 form anti-joined hot shids only and shuffled every
    # singleton into the groupBy just to drop it in a post-agg size
    # filter). Join strategy is left to AQE: the ok-list is one 8-byte
    # id per shared shid (broadcast at bench scale); if a corpus ever
    # outgrows the threshold the semi-join degrades to a shuffle that
    # the groupBy then reuses (same partitioning, no extra exchange) —
    # never worse than the unfiltered form, correct either way.
    ok = sizes.filter(
        (F.col("bucket_size") >= 2)
        & (F.col("bucket_size") <= cfg.hot_shingle_cap)
    ).select("shid")
    buckets = (
        ent.join(ok, "shid", "left_semi")
        .groupBy("shid")
        .agg(F.sort_array(F.collect_list(F.struct("file_id", "n"))).alias("ids"))
        .select("ids")
    )
    # size-ratio floor (config.containment_ratio_min: lossless — a
    # sub-ratio pair acceptable by containment has J ≥ 0.75, band-tier
    # territory). Applied TWICE: whole buckets where no member pair can
    # clear the ratio die before pair expansion (the common case — a
    # boilerplate block shared by same-size files puts all of them in
    # one bucket), and mixed buckets' surviving pairs are filtered
    # per-pair right after the explode, BEFORE the (src, dst) shuffle.
    # (The band tier's member-set dedup is NOT mirrored here: the ratio
    # prefilter already kills the recurring same-member buckets this
    # index produces, and the per-bucket occurrence count that dedup
    # carried falls out of the groupBy below for free.)
    ratio = F.lit(float(cfg.containment_ratio_min))
    ns = F.transform("ids", lambda s: s["n"])
    buckets = buckets.filter(
        F.array_max(ns).cast("double") >= ratio * F.array_min(ns).cast("double")
    )
    raw = (
        _explode_pairs(buckets)
        .filter(
            F.greatest(F.col("src.n"), F.col("dst.n")).cast("double")
            >= ratio * F.least(F.col("src.n"), F.col("dst.n")).cast("double")
        )
        .select(
            F.col("src.file_id").alias("src"),
            F.col("dst.file_id").alias("dst"),
        )
    )
    return raw, hot_report, interned


def containment_candidates(
    sigs: DataFrame, cfg: SimilarityConfig
) -> tuple[DataFrame, DataFrame]:
    """→ (pairs(src < dst, from_hot_band=False), hot_shingle_report)."""
    raw, hot_report, interned = _containment_pair_rows(sigs, cfg)
    # the (src, dst) exchange carries interned ids; hex only after it
    pairs = (
        raw.groupBy("src", "dst")
        .agg(F.count("*").alias("shared"))
        # evidence floor: a true containment pair at size ratio r shares
        # ~m/r indexed ids (λ = m/r Poisson), so requiring ≥2 barely
        # moves recall where the sketch reaches at all — at r = 30,
        # P(<2) ≈ 1.5e-3; at r = 50, ≈ 3.7e-2 — while pairs sharing
        # exactly ONE id are overwhelmingly coincidence (one common
        # window), and each spurious candidate costs a fat-shingle
        # residual verification downstream. Measured at sf0.1/amplify=8:
        # 85k containment-only candidates → 44k.
        .filter(F.col("shared") >= cfg.containment_min_shared)
    )
    if interned:
        pairs = extern_hex_id(pairs, "src", "dst")
    return pairs.select("src", "dst", F.lit(False).alias("from_hot_band")), hot_report


def combined_candidate_pairs(
    sigs: DataFrame, cfg: SimilarityConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """LSH band candidates ∪ containment-sketch candidates, deduped →
    (pairs(src, dst, from_hot_band), hot_band_report, hot_shingle_report).

    The one candidate-generation entry point the batch pipeline, bench,
    and driver queries share: Jaccard-reachable pairs come from the band
    tier, low-Jaccard/high-containment pairs from the sketch index, and
    the verify stage decides both under one acceptance rule.

    The containment tier's ``containment_min_shared`` count is folded
    INTO the cross-tier dedup groupBy (raw shared-id rows union the band
    pairs; one exchange decides both the shared-count floor and the
    dedup) — the standalone ``containment_candidates`` aggregate would
    exchange the containment pair set twice for identical output
    (measured ~1 s at the 40k bench corpus). A pair is kept iff the
    band tier proposed it OR it shares ≥ min_shared sketch ids — exactly
    the union of the two tiers' standalone outputs."""
    lsh_pairs, hot_bands = candidate_pairs(sigs, cfg)
    cont_raw, hot_shingles, interned = _containment_pair_rows(sigs, cfg)
    if interned:  # the band tier's pairs are hex
        cont_raw = extern_hex_id(cont_raw, "src", "dst")
    u = lsh_pairs.select(
        "src", "dst", "from_hot_band",
        F.lit(True).alias("_band_tier"), F.lit(0).alias("_shared"),
    ).unionByName(cont_raw.select(
        "src", "dst", F.lit(False).alias("from_hot_band"),
        F.lit(False).alias("_band_tier"), F.lit(1).alias("_shared"),
    ))
    pairs = (
        u.groupBy("src", "dst")
        .agg(
            F.max("from_hot_band").alias("from_hot_band"),
            F.max("_band_tier").alias("_band_tier"),
            F.sum("_shared").alias("_shared"),
        )
        .filter(
            F.col("_band_tier")
            | (F.col("_shared") >= cfg.containment_min_shared)
        )
        .select("src", "dst", "from_hot_band")
    )
    return pairs, hot_bands, hot_shingles
