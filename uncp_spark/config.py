"""Pinned similarity configuration (FIXTURES.md §4).

The dup-pair recall gate (≥0.99 vs brute-force exact Jaccard) is defined
*at this config*; every signature-producing operator takes a
``SimilarityConfig`` so one dataclass pins the whole pipeline.

Reference parity: uncp reads raw bytes and blake3-hashes them
(src/systems/hashing.rs:188-190); the north_rule replaces that with
sha256 for the exact tier and adds the normalize→shingle→MinHash/SimHash
fuzzy tiers that uncp only designed (DESIGN.md:219-258,
src/similarity.rs:1-7 stub).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import hashlib
import json

# Mersenne prime 2^31 - 1. Shingle hashes are reduced mod MINHASH_PRIME
# before permutation so a_i * h + b_i stays < 2^62 and fits int64/uint64
# inside the vectorized numpy kernel (no Python bigints in the hot path).
MINHASH_PRIME = (1 << 31) - 1


@dataclass(frozen=True)
class SimilarityConfig:
    """One dataclass = the pinned shingle/signature config."""

    # --- shingling (F14) ---
    shingle_k: int = 5          # tokens per shingle
    char_shingle_k: int = 9     # char k-grams for files shorter than shingle_k tokens

    # --- MinHash (F15) ---
    # one-permutation hashing with rotation densification
    # (kernels.oph_minhash_batch): num_perm buckets, one pass over the
    # shingles, so signature cost is O(shingles), not O(num_perm × shingles)
    num_perm: int = 128
    seed: int = 42

    # --- LSH ---
    bands: int = 32
    rows_per_band: int = 4      # bands * rows_per_band == num_perm

    # --- pair acceptance thresholds (S5 verify) ---
    jaccard_threshold: float = 0.7
    hamming_threshold: int = 3
    containment_threshold: float = 0.9

    # --- containment candidate tier (S4b) ---
    # MinHash-LSH only surfaces pairs with Jaccard near the band curve's
    # knee; a 200-line file verbatim inside a 10k-line file has J ≈ 0.02
    # and never band-collides, yet containment = 1.0 — exactly the
    # north_rule's "file A = a block of file B plus extra code" case.
    # The containment tier indexes each file's BOTTOM-m shingle ids
    # (smallest m int64 ids — a consistent bottom-k sketch, Cohen &
    # Kaplan 2007): if A ⊆ B, every id of A is in B, and a shared id
    # joins the pair iff it also ranks in B's bottom m. For size ratio
    # r = |B|/|A|, P(no shared indexed id) ≈ exp(-m/r): m = 256 reaches
    # r ≈ 50 at ~0.6% miss, r ≈ 100 at ~8%. Fixed-width (≤ m longs), so
    # the signature stage stays bounded per row.
    containment_sketch_size: int = 256
    # minimum shared indexed ids before a pair becomes a containment
    # candidate: a true pair at ratio r shares ~sketch_size/r ids, so 2
    # costs ~0.15% recall at r=30 (~3.7% at r=50) and filters the
    # dominant noise class — pairs sharing exactly one common window
    containment_min_shared: int = 2
    # size-ratio floor for containment candidates: a pair with shingle-
    # set sizes (s, r·s) and containment c = I/min has Jaccard
    # J = c/(1 + r − c), so c ≥ containment_threshold (0.9) together
    # with r < 1.1 forces J ≥ 0.9/1.2 = 0.75 > jaccard_threshold —
    # i.e. every near-equal-size pair the containment predicate could
    # accept is already inside the band tier's reach (collision
    # P ≈ 1 − 5e-6 at J = 0.75). Dropping sub-ratio pairs from THIS
    # tier is therefore lossless for the acceptance rule, and it is the
    # guard that keeps the sketch index linear on corpora with many
    # same-size moderately-similar files (shared boilerplate blocks):
    # those pairs share ≥ min_shared sketch ids yet can never be
    # containment edges, and without the floor each one costs a phase-1
    # signature comparison. Exact: n_shingles is the true set size.
    containment_ratio_min: float = 1.1
    # --- residual sketch screen (S5 verify, phase 1.5) ---
    # Residual pairs (not accepted by fixed-width phase 1) normally pay
    # the fat path: shingle-set recompute for their members plus an
    # array_intersect join. Most residuals are spurious containment-tier
    # candidates; the bottom-m sketches ALREADY in the signature table
    # decide them in column math first. Bottom-k sketches compose —
    # bottom-m(A∪B) = bottom-m(sketch_A ∪ sketch_B) — and any union-
    # sketch element that belongs to A necessarily ranks in A's own
    # bottom-m, so membership tests against the side sketches are EXACT;
    # the only randomness is which elements land in the union sample.
    # With x = |union_k ∩ A ∩ B| and d = min-side survivors
    # |union_k ∩ sketch_min|, x ~ Binom(d, containment) and
    # x ~ Binom(|union_k|, jaccard). A pair is screened out (skips the
    # fat path, reported with containment = NULL) only when ALL of:
    #   - est_jaccard is 4σ below jaccard_threshold (128-perm estimate),
    #   - P(X ≤ x | |union_k|, p=jaccard_threshold) ≤ screen_tail_jaccard
    #     (an independent second Jaccard estimator — combined false-drop
    #     probability for a true J ≥ threshold pair ≈ 5e-5 × 1e-3),
    #   - P(X ≤ x | d, p=containment_threshold) ≤ screen_tail_containment
    #     (the sole containment evidence, hence the tighter tail).
    # The exact binomial quantiles auto-disable the screen where the
    # sketch has no power: at size ratio r, d ≈ m/r, and for small d the
    # keep-threshold falls to 0-2 shared ids — high-ratio containment
    # pairs (the tier's reason to exist) are never screened, while
    # same-size junk (d ≈ m/2, x ≪ 0.9·d) is decisively rejected.
    containment_screen: bool = True
    screen_tail_jaccard: float = 1e-3
    screen_tail_containment: float = 1e-5
    # shingle ids shared by more than this many files are boilerplate
    # (stopword-like windows); their index buckets are dropped AND
    # REPORTED, mirroring hot_band_cap — a true containment pair shares
    # ~m/r indexed ids, so losing its most-common ones rarely loses the
    # pair, and an uncapped common shingle is the one way this index
    # goes quadratic.
    hot_shingle_cap: int = 1000

    # --- skew handling (M7) ---
    # LSH buckets larger than this are "hot bands" (boilerplate: LICENSE
    # files, generated code). They are not self-joined quadratically;
    # counts of skipped buckets are logged to metrics. Exact duplicates
    # never reach LSH (they collapse to one representative per sha256),
    # so a hot bucket here is genuinely pathological content.
    hot_band_cap: int = 2000

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands ({self.bands}) * rows_per_band ({self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )

    def config_hash(self) -> str:
        """Stable hash of the config; stamped into checkpoint manifests so a
        resume with a different config invalidates downstream stages."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = SimilarityConfig()
