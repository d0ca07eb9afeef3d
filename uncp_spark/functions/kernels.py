"""Vectorized numpy kernels for MinHash (F15) and SimHash (F16).

Pure functions over batches of shingle-hash arrays — unit-testable
without Spark, called once per Arrow batch by the signature-stage
pandas UDF in operators/signatures.py. Replaces the reference's
designed-but-stubbed similarity providers (src/similarity.rs:1-7,
DESIGN.md:240-258) with the standard MinHash/SimHash constructions
(Broder 1997; Charikar 2002).

All arithmetic stays in fixed-width integers: shingle hashes are reduced
mod p = 2^31 - 1, permutation params a, b < p, so a*h + b < 2^62 fits
uint64 with no Python bigints in the hot path.
"""

from __future__ import annotations

import numpy as np

from uncp_spark.config import MINHASH_PRIME, SimilarityConfig

# cap on tokens unpacked to the (tokens x 64) bit matrix per simhash chunk
_SIMHASH_CHUNK_TOKENS = 500_000


def minhash_params(cfg: SimilarityConfig) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic permutation parameters, seeded once — identical on
    every executor for every batch (broadcast-by-construction)."""
    rng = np.random.RandomState(cfg.seed)
    a = rng.randint(1, MINHASH_PRIME, size=cfg.num_perm).astype(np.uint64)
    b = rng.randint(0, MINHASH_PRIME, size=cfg.num_perm).astype(np.uint64)
    return a, b


def oph_minhash_batch(
    shingle_arrays: list[np.ndarray],
    a: np.ndarray,
    b: np.ndarray,
    num_perm: int,
) -> np.ndarray:
    """One-permutation MinHash with rotation densification.

    Each shingle hash is mixed once ((a0·h + b0) mod p) and assigned
    to bucket h mod num_perm; the signature is the per-bucket min, with
    empty buckets filled from the nearest non-empty bucket to the right
    (cyclic), offset-encoded so
    borrowed positions still collide consistently (Shrivastava & Li,
    ICML 2014). One pass over the shingles — memory traffic is
    O(shingles), vs O(num_perm × shingles) for the classic
    per-permutation construction, which saturates DRAM bandwidth long
    before it saturates cores.

    Empty input rows get the sentinel signature [p·num_perm]* (never
    collides with real values). p is ``MINHASH_PRIME`` = 2^31 − 1: the
    Mersenne fold below hard-codes its 31-bit shift.
    """
    n_rows = len(shingle_arrays)
    p = np.int64(MINHASH_PRIME)
    empty_sentinel = p * np.int64(num_perm)
    out = np.full((n_rows, num_perm), empty_sentinel, dtype=np.int64)

    lens = np.fromiter((len(s) for s in shingle_arrays), dtype=np.int64, count=n_rows)
    nz = np.flatnonzero(lens)
    if nz.size == 0:
        return out

    flat = np.concatenate([np.asarray(shingle_arrays[i], dtype=np.int64) for i in nz])
    h = np.mod(flat, p).astype(np.uint64)
    # one mixing permutation (a[0], b[0]), reduced mod p via the
    # Mersenne identity (2^31 ≡ 1 mod p): shifts+adds instead of u64
    # division, identical results to %
    x = a[0] * h + b[0]
    mask = np.uint64(MINHASH_PRIME)
    x = (x & mask) + (x >> np.uint64(31))
    x = (x & mask) + (x >> np.uint64(31))
    x = (x & mask) + (x >> np.uint64(31))
    x[x == mask] = 0
    vals = x.astype(np.int64)
    buckets = (h % np.uint64(num_perm)).astype(np.int64)

    # scatter-min into (row, bucket) cells
    row_idx = np.repeat(np.arange(nz.size, dtype=np.int64), lens[nz])
    sig = np.full((nz.size, num_perm), empty_sentinel, dtype=np.int64)
    np.minimum.at(sig, (row_idx, buckets), vals)

    # rotation densification: empty bucket j borrows from bucket j+k
    # (cyclic, smallest k), value offset by k·p to keep borrowed
    # positions distinguishable yet consistent across rows
    empty = sig == empty_sentinel
    if empty.any():
        filled = sig.copy()
        for k in range(1, num_perm):
            if not empty.any():
                break
            donor = np.roll(filled, -k, axis=1)
            take = empty & (donor != empty_sentinel)
            sig[take] = donor[take] + k * MINHASH_PRIME
            empty &= ~take
    out[nz] = sig
    return out


def simhash_batch(token_hash_arrays: list[np.ndarray]) -> np.ndarray:
    """64-bit frequency-weighted SimHash per row (Charikar 2002).

    Input arrays keep token repetition, so each occurrence votes — the
    'token-frequency weighted' variant the pinned config requires.
    Returns int64 array of shape (n_rows,); empty rows hash to 0.
    """
    n_rows = len(token_hash_arrays)
    out = np.zeros(n_rows, dtype=np.int64)
    lens = np.fromiter((len(s) for s in token_hash_arrays), dtype=np.int64, count=n_rows)
    nz = np.flatnonzero(lens)
    if nz.size == 0:
        return out

    flat = np.ascontiguousarray(
        np.concatenate(
            [np.asarray(token_hash_arrays[i], dtype=np.int64) for i in nz]
        )
    )
    starts = np.zeros(nz.size, dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=starts[1:])
    ends = starts + lens[nz]

    # (tokens, 64) bit matrix via unpackbits on the raw little-endian
    # bytes (byte j bit i of the int64 = bit 8j+i) — uint8 throughout,
    # chunked on segment boundaries to bound the unpacked buffer
    ones = np.empty((nz.size, 64), dtype=np.int64)
    seg_lo = 0
    while seg_lo < nz.size:
        seg_hi = seg_lo + 1
        while (
            seg_hi < nz.size
            and ends[seg_hi - 1] - starts[seg_lo] < _SIMHASH_CHUNK_TOKENS
        ):
            seg_hi += 1
        tok_lo, tok_hi = int(starts[seg_lo]), int(ends[seg_hi - 1])
        bits8 = np.unpackbits(
            flat[tok_lo:tok_hi].view(np.uint8).reshape(-1, 8),
            axis=1, bitorder="little",
        )
        local_starts = (starts[seg_lo:seg_hi] - tok_lo).astype(np.int64)
        ones[seg_lo:seg_hi] = np.add.reduceat(
            bits8, local_starts, axis=0, dtype=np.int64
        )
        seg_lo = seg_hi

    # signed vote sum = ones - zeros = 2*ones - n_tokens; bit set iff > 0
    positive = (2 * ones) > lens[nz][:, None]
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    packed = (positive.astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[nz] = packed.view(np.int64)
    return out


def est_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Signature-estimated Jaccard — fraction of agreeing positions."""
    return float(np.mean(np.asarray(sig_a) == np.asarray(sig_b)))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (Steele/Lea/Flood 2014, public domain
    construction) — bijective uint64 mix, vectorized."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def shingle_weights(k: int, seed: int) -> np.ndarray:
    """Deterministic odd uint64 position weights for the rolling
    k-token shingle id (odd ⇒ invertible mod 2^64, so each position
    contributes a bijection of its token hash)."""
    rng = np.random.RandomState(seed ^ 0x5317)
    w = rng.randint(0, 1 << 62, size=k).astype(np.uint64)
    return (w << np.uint64(1)) | np.uint64(1)


def shingle_ids_batch(
    token_hash_arrays: list[np.ndarray], k: int, weights: np.ndarray
) -> list[np.ndarray]:
    """Distinct k-token-window shingle ids per row, fully vectorized.

    id_i = splitmix64( Σ_j  w_j · th[i+j] )  (wraparound uint64): five
    shifted multiply-adds over the token-hash array + one mix — no
    per-window array slicing. Equivalent *as a set key* to hashing the
    window (position-weighted, so permuted windows differ; collision
    odds ~ n²/2^64). Rows with fewer than k tokens return an empty
    array — callers route those through the char-gram fallback.

    The batch is processed as ONE flat concatenated array (windows
    crossing row boundaries are sliced away afterwards), so the numpy
    cost is 6 ufunc passes per batch regardless of row count.
    """
    n_rows = len(token_hash_arrays)
    lens = np.fromiter(
        (len(s) for s in token_hash_arrays), dtype=np.int64, count=n_rows
    )
    out: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * n_rows
    ok = np.flatnonzero(lens >= k)
    if ok.size == 0:
        return out
    flat = np.concatenate(
        [np.asarray(token_hash_arrays[i], dtype=np.int64) for i in ok]
    ).view(np.uint64)
    n = flat.size
    acc = np.zeros(n - k + 1, dtype=np.uint64)
    for j in range(k):
        acc += weights[j] * flat[j : n - k + 1 + j]
    ids = _splitmix64(acc).view(np.int64)
    starts = np.zeros(ok.size, dtype=np.int64)
    np.cumsum(lens[ok][:-1], out=starts[1:])
    for pos, i in enumerate(ok):
        lo = int(starts[pos])
        out[i] = np.unique(ids[lo : lo + int(lens[i]) - k + 1])
    return out
