"""S5 — candidate-pair verification → scored edge table.

Implements the reference's designed multi-tier similarity scoring
(DESIGN.md:219-258; SimilarityProvider stub src/similarity.rs:3-7) as
pure column math over the signature table — no Python in this stage:

  est_jaccard   fraction of agreeing MinHash positions
                (zip_with + filter + size — F12 in SURVEY.md §2.7)
  hamming       bit_count(simhash_a XOR simhash_b)
  containment   |shingles_a ∩ shingles_b| / min(|a|, |b|)  — exact on
                the shingle sets, evaluated only for candidate pairs

A pair becomes an edge when (pinned thresholds, SimilarityConfig):
  est_jaccard ≥ 0.7  OR  hamming ≤ 3  OR  containment ≥ 0.9

Scale notes: the signature table is joined twice (src, dst). Shingle
arrays ride along only here, only for candidates (a small multiple of
the true-dup count, never O(n²)). Both joins are plain equi-joins on
file_id; AQE handles size-based strategy choice.
"""

from __future__ import annotations

import math
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from uncp_spark.config import SimilarityConfig
from uncp_spark.operators.signatures import shingle_sets


@lru_cache(maxsize=8)
def _binom_keep_thresholds(m: int, p: float, tail: float) -> tuple[int, ...]:
    """keep[d] = smallest x with P(X ≤ x | Binom(d, p)) > tail, d = 0..m.

    A pair observing x ≥ keep[d] successes in d trials cannot be ruled
    out as a true-p pair at the given tail; x < keep[d] means observing
    so few successes is a ≤ tail event under true rate p — confidently
    below threshold. Exact binomial CDF in log space (d ≤ a few hundred,
    driver-side, cached)."""
    lp, lq = math.log(p), math.log1p(-p)
    out = []
    for d in range(m + 1):
        lg_d = math.lgamma(d + 1)
        cdf = 0.0
        keep = d + 1  # if even x = d is a ≤ tail event, nothing is keepable
        for x in range(d + 1):
            lpmf = (lg_d - math.lgamma(x + 1) - math.lgamma(d - x + 1)
                    + x * lp + (d - x) * lq)
            cdf += math.exp(lpmf)
            if cdf > tail:
                keep = x
                break
        out.append(keep)
    return tuple(out)

class ScorerCache:
    """Owner-scoped registry of the persist handles score_pairs creates
    (phase-1 signature comparison, residual shingle recompute).

    Previously a module-global list: two pipelines interleaved in one
    driver process would unpersist each other's phase-1 caches
    (correctness unaffected — plans recompute — but the cache win
    silently vanished). Each pipeline/bench run now owns a cache and
    activates it with ``with ScorerCache() as c:`` — a contextvar keeps
    activation thread-safe, and scope exit releases exactly that
    owner's handles. Outside any scope, a process-global default cache
    applies with the historical retire-on-next-call policy (a long-
    lived ad-hoc session running many queries doesn't accumulate
    persisted partitions). Releasing is always safe: unpersist only
    drops the cache, the plan stays recomputable."""

    def __init__(self) -> None:
        self._handles: list[DataFrame] = []
        self._token = None

    def add(self, df: DataFrame) -> DataFrame:
        self._handles.append(df)
        return df

    def release(self) -> None:
        while self._handles:
            df = self._handles.pop()
            try:
                df.unpersist()
            except Exception:
                pass

    def __enter__(self) -> "ScorerCache":
        self._token = _ACTIVE_CACHE.set(self)
        return self

    def __exit__(self, *exc) -> None:
        if self._token is not None:
            _ACTIVE_CACHE.reset(self._token)
            self._token = None
        self.release()


import contextvars  # noqa: E402

_GLOBAL_CACHE = ScorerCache()
_ACTIVE_CACHE: "contextvars.ContextVar[ScorerCache]" = contextvars.ContextVar(
    "uncp_scorer_cache", default=_GLOBAL_CACHE
)


def release_scored_cache() -> None:
    """Unpersist phase-1 caches left by score_pairs in the ACTIVE cache
    (the enclosing ScorerCache scope, else the process-global default).
    Call after the scored edges are materialized (checkpointed /
    collected)."""
    _ACTIVE_CACHE.get().release()


def score_pairs(
    pairs: DataFrame, sigs: DataFrame, cfg: SimilarityConfig, files: DataFrame,
) -> DataFrame:
    """pairs(src, dst, from_hot_band) × sigs(file_id, minhash, simhash,
    bottomk) → scored pairs, with shingle sets recomputed from ``files``.

    Two-phase to keep the shuffle thin: phase 1 joins only the fixed-
    width signatures (minhash ~1 KB + simhash 8 B per side) and decides
    est_jaccard / hamming. The variable-width shingle arrays — the
    dominant shuffle payload — are needed only for pairs NOT already
    accepted by phase 1 (containment can only *add* acceptances, so the
    accepted edge set is identical to a single-phase evaluation;
    phase-1 winners report containment = NULL, meaning 'not
    evaluated'), and only for those pairs' member ids.

    Phase 1.5 (``cfg.containment_screen``): residual pairs that the
    fixed-width bottom-k sketches certify below EVERY acceptance
    threshold — exact binomial tails, see config — skip the fat path
    entirely and come back with containment/jaccard = NULL. The fat recompute then scales with the
    surviving (plausible) pairs' member set, not with containment-tier
    candidate noise.

    The shingle sets are RECOMPUTED from ``files`` content for exactly
    the residual member set (signatures.shingle_sets — bit-identical
    ids, same kernel), so the signature stage never ships its fat
    shingle arrays through Arrow or into the checkpoint at all."""
    mh = sigs.select("file_id", "minhash", "simhash")
    a = mh.select(
        F.col("file_id").alias("src"),
        F.col("minhash").alias("mh_a"),
        F.col("simhash").alias("sh_a"),
    )
    b = mh.select(
        F.col("file_id").alias("dst"),
        F.col("minhash").alias("mh_b"),
        F.col("simhash").alias("sh_b"),
    )
    eq = F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int"))
    est_j = F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(cfg.num_perm)

    # Join strategy, measured both ways at bench scale (200k files,
    # 660k pairs, 16 cores): under the session's 64 MB broadcast
    # threshold the pair table (~30 MB) is BROADCAST here — a serial
    # driver-side build that does not scale with cores (verify stage
    # ~flat 4→16) — but pinning shuffle_hash instead forces an exchange
    # of the 1 KB/row signature frame and measured 20% SLOWER at both
    # core counts. Broadcasting the small side is the right plan at
    # every scale: at production size the pair table outgrows the
    # threshold and AQE flips this to a two-sided exchange on its own.
    phase1 = (
        pairs.join(a, "src")
        .join(b, "dst")
        .withColumn("est_jaccard", est_j)
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .select("src", "dst", "from_hot_band", "est_jaccard", "hamming")
    )
    # both output branches scan phase1; persist so the 128-wide signature
    # comparison runs once (narrow 5-column cache, spills to disk if big)
    cache = _ACTIVE_CACHE.get()
    if cache is _GLOBAL_CACHE:
        # un-scoped callers keep the historical retire-on-next-call
        # policy; scoped caches are released by their owner's scope exit
        cache.release()
    phase1 = cache.add(phase1.persist(StorageLevel.MEMORY_AND_DISK))

    accepted1 = (F.col("est_jaccard") >= cfg.jaccard_threshold) | (
        F.col("hamming") <= cfg.hamming_threshold
    )
    residual_base = phase1.filter(~accepted1)
    screened_out = None
    if cfg.containment_screen:
        # phase 1.5 — bottom-k sketch screen (see config.containment_screen
        # for the estimator and its recall bounds). The fat path below
        # scales with the number of residual MEMBERS (a full shingle
        # recompute per member); most residuals are spurious containment
        # candidates that the fixed-width sketches already in `sigs`
        # refute, so screening here is what keeps verify proportional to
        # the true-dup density rather than to candidate noise at scale.
        m = cfg.containment_sketch_size
        keep_j = _binom_keep_thresholds(m, cfg.jaccard_threshold,
                                        cfg.screen_tail_jaccard)
        keep_c = _binom_keep_thresholds(m, cfg.containment_threshold,
                                        cfg.screen_tail_containment)
        est_keep = cfg.jaccard_threshold - 4.0 * math.sqrt(
            cfg.jaccard_threshold * (1 - cfg.jaccard_threshold) / cfg.num_perm
        )
        bk = sigs.select("file_id", "bottomk")
        bka = bk.select(F.col("file_id").alias("src"),
                        F.col("bottomk").alias("bk_a"))
        bkb = bk.select(F.col("file_id").alias("dst"),
                        F.col("bottomk").alias("bk_b"))
        union_k = F.slice(F.sort_array(F.array_union("bk_a", "bk_b")), 1, m)
        # broadcast of the residual frame (same measured trade as
        # phase1: a shuffle_hash pin exchanges the ~2 KB/row sketch
        # frame and is slower at bench scale; AQE flips the strategy
        # itself once residuals outgrow the threshold)
        with_bk = (
            residual_base.join(bka, "src")
            .join(bkb, "dst")
            .withColumn("_uk", union_k)
            .withColumn("_x", F.size(F.array_intersect(
                "_uk", F.array_intersect("bk_a", "bk_b"))))
            .withColumn("_d", F.least(
                F.size(F.array_intersect("_uk", "bk_a")),
                F.size(F.array_intersect("_uk", "bk_b")),
            ))
            .withColumn("_mp", F.size("_uk"))
        )
        keep_j_arr = F.array(*[F.lit(v) for v in keep_j])
        keep_c_arr = F.array(*[F.lit(v) for v in keep_c])
        keep = (
            (F.col("est_jaccard") >= F.lit(est_keep))
            | (F.col("_x") >= F.element_at(keep_j_arr, F.col("_mp") + 1))
            | (F.col("_x") >= F.element_at(keep_c_arr, F.col("_d") + 1))
        )
        base_cols = residual_base.columns
        # LINEAGE CUT, not just a cache: `decided` is referenced by both
        # output branches AND (via `need`) by the shingle recompute, so
        # its subtree — phase 1, two sketch joins, 2×(m+1) literal
        # lookup arrays — would be copied ~6× into the final union. Over
        # inputs with deep lineage (signatures unioned from several
        # un-checkpointed frames rather than read from one checkpoint)
        # that multiplied the plan tree past 2 GB of tree-string and
        # hung Catalyst. localCheckpoint truncates the plan to an RDD
        # leaf (same trade as connected-components: blocks
        # pinned to executors, not fault-tolerant — acceptable inside one
        # stage of a pipeline that checkpoints every stage to parquet).
        # LAZY (eager=False): the Dataset is wrapped in a LogicalRDD at
        # THIS call either way — the plan-tree cut that protects Catalyst
        # does not depend on eagerness — but eager=True inserted a
        # blocking materialization job into the verify stage, one of the
        # short sequential jobs that made the stage latency-bound at
        # bench scale (round-4 scaling verdict). Lazily the RDD
        # materializes inside the first downstream action instead; its
        # implicit persist still makes the three consumers share one
        # compute.
        decided = with_bk.select(
            *base_cols, keep.alias("_keep")
        ).localCheckpoint(eager=False)
        screened_out = decided.filter(~F.col("_keep")).select(*base_cols)
        residual_base = decided.filter("_keep").select(*base_cols)
    # shingle arrays only for files that actually appear in a residual
    # pair: the recompute is sized to residual members
    need = (
        residual_base.select(F.col("src").alias("file_id"))
        .unionByName(residual_base.select(F.col("dst").alias("file_id")))
        .distinct()
    )
    # persisted: BOTH join sides (sa, sb) scan sg — without the pin the
    # tokenize+UDF recompute would run twice
    sg = cache.add(
        shingle_sets(files, cfg, ids=need).persist(StorageLevel.MEMORY_AND_DISK)
    )
    sa = sg.select(F.col("file_id").alias("src"), F.col("shingles").alias("sg_a"))
    sb = sg.select(F.col("file_id").alias("dst"), F.col("shingles").alias("sg_b"))
    inter = F.size(F.array_intersect("sg_a", "sg_b")).cast("double")
    containment = (
        inter / F.least(F.size("sg_a"), F.size("sg_b")).cast("double")
    ).alias("containment")
    # EXACT Jaccard rides along for free — array_intersect is already
    # paid for containment, union = |a| + |b| - inter. Thresholding on
    # the 128-perm ESTIMATE alone misses borderline-above pairs ~20% of
    # the time (σ ≈ 0.04 at J = 0.7); the exact value makes acceptance
    # deterministic for every candidate the estimate rejected.
    union = (F.size("sg_a") + F.size("sg_b")).cast("double") - inter
    jaccard = (inter / F.greatest(union, F.lit(1.0))).alias("jaccard")

    residual = (
        residual_base
        .join(sa, "src")
        .join(sb, "dst")
        .select("src", "dst", "from_hot_band", "est_jaccard", "hamming",
                containment, jaccard)
    )
    # phase-1 winners are accepted regardless of containment; NULL marks
    # "not evaluated" and keeps the shingle arrays out of their shuffle
    winners = phase1.filter(accepted1).select(
        "src", "dst", "from_hot_band", "est_jaccard", "hamming",
        F.lit(None).cast("double").alias("containment"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    out = winners.unionByName(residual)
    if screened_out is not None:
        # screened pairs stay visible in the scored table (every
        # candidate gets a row) with containment/jaccard = NULL — the
        # screen certified them below every threshold, so accept_edges
        # rejects them exactly as it rejects phase-1 losers
        out = out.unionByName(screened_out.select(
            "src", "dst", "from_hot_band", "est_jaccard", "hamming",
            F.lit(None).cast("double").alias("containment"),
            F.lit(None).cast("double").alias("jaccard"),
        ))
    return out


def accept_edges(scored: DataFrame, cfg: SimilarityConfig) -> DataFrame:
    """``score_pairs`` output → edges(src, dst, score, edge_type, data).

    ``jaccard`` (exact, residual-phase only) outranks the estimate: a
    pair whose true Jaccard clears the threshold is an edge even when
    the 128-perm estimate undershot — acceptance is exact wherever the
    exact value was computed.

    The guarantee is therefore RECALL-ONLY at the Jaccard threshold:
    every pair with true J >= threshold that reaches scoring is accepted
    (estimate-undershoot is repaired by the exact ride-along), but a
    phase-1 winner whose estimate OVERSHOT (est >= threshold, true J
    below it) is accepted without ever computing the exact value —
    precision at the boundary stays estimate-bound (σ ≈ 0.04 at J=0.7).
    That asymmetry is deliberate: computing exact Jaccard for phase-1
    winners would drag the fat shingle arrays into the winners' join for
    no recall gain; near-dup dedup pipelines bound FALSE NEGATIVES (a
    missed dup survives forever), while a borderline false positive
    merely groups two ~0.68-similar files for human review."""
    exact_ok = F.col("jaccard") >= cfg.jaccard_threshold
    cond = (
        (F.col("est_jaccard") >= cfg.jaccard_threshold)
        | (F.col("hamming") <= cfg.hamming_threshold)
        | (F.col("containment") >= cfg.containment_threshold)
        | exact_ok
    )
    # per-pair evidence blob (uncp DESIGN.md:109-117: pairwise relations
    # carry a typed `data` JSON column alongside relation_type): every
    # measurement that informed acceptance, so a reviewer of a dedup
    # candidate can see WHY the edge exists without re-scoring. to_json
    # omits null fields, so phase-1 winners (containment/jaccard never
    # evaluated) stay compact.
    evidence = ["est_jaccard", "hamming", "containment", "jaccard", "from_hot_band"]
    return scored.filter(cond).select(
        "src",
        "dst",
        F.greatest("est_jaccard", "containment", "jaccard").alias("score"),
        F.when(F.col("containment") >= cfg.containment_threshold, "containment")
        .when(F.col("est_jaccard") >= cfg.jaccard_threshold, "minhash")
        .when(exact_ok, "jaccard")
        .otherwise("simhash")
        .alias("edge_type"),
        F.to_json(F.struct(*evidence)).alias("data"),
    )
