"""Unit tests for the numpy kernels — no Spark needed.

Mirrors the reference's hashing determinism tests
(src/systems/hashing.rs:369-382: same content ⇒ same hash, different ⇒
different) for the MinHash/SimHash constructions.
"""

from __future__ import annotations

import random

import numpy as np

from uncp_spark.config import MINHASH_PRIME, SimilarityConfig
from uncp_spark.functions.kernels import (
    est_jaccard,
    minhash_params,
    oph_minhash_batch,
    simhash_batch,
)

CFG = SimilarityConfig()


def _rand_set(rng: random.Random, n: int) -> np.ndarray:
    return np.array(
        sorted({rng.randint(-(2**62), 2**62) for _ in range(n)}), dtype=np.int64
    )


def test_minhash_deterministic():
    """minhash_params is a pure function of the config, so signatures
    computed from separately drawn params agree; another seed differs."""
    a, b = minhash_params(CFG)
    a2, b2 = minhash_params(CFG)
    assert np.array_equal(a, a2) and np.array_equal(b, b2)
    rng = random.Random(7)
    s = _rand_set(rng, 100)
    sig1 = oph_minhash_batch([s], a, b, CFG.num_perm)
    sig2 = oph_minhash_batch([s.copy()], a2, b2, CFG.num_perm)
    assert np.array_equal(sig1, sig2)
    a3, b3 = minhash_params(SimilarityConfig(seed=CFG.seed + 1))
    sig3 = oph_minhash_batch([s], a3, b3, CFG.num_perm)
    assert not np.array_equal(sig1, sig3)


def test_minhash_identical_sets_identical_sigs():
    a, b = minhash_params(CFG)
    rng = random.Random(3)
    s = _rand_set(rng, 200)
    sigs = oph_minhash_batch(
        [s, np.random.default_rng(0).permutation(s)], a, b, CFG.num_perm
    )
    assert np.array_equal(sigs[0], sigs[1])  # order-invariant (set semantics)


def test_minhash_empty_set_sentinel():
    a, b = minhash_params(CFG)
    sigs = oph_minhash_batch([np.empty(0, np.int64)], a, b, CFG.num_perm)
    assert (sigs == MINHASH_PRIME * CFG.num_perm).all()


def test_minhash_estimates_jaccard():
    """Sets smaller than num_perm leave most buckets to densification;
    the estimate still tracks true Jaccard within ~1/sqrt(128) std-error
    across overlap levels."""
    a, b = minhash_params(CFG)
    rng = random.Random(11)
    base = _rand_set(rng, 100)
    for frac in (0.3, 0.5, 0.8, 0.95):
        keep = int(len(base) * frac)
        other = np.unique(np.concatenate([base[:keep], _rand_set(rng, len(base) - keep)]))
        true_j = len(np.intersect1d(base, other)) / len(np.union1d(base, other))
        sigs = oph_minhash_batch([base, other], a, b, CFG.num_perm)
        est = est_jaccard(sigs[0], sigs[1])
        assert abs(est - true_j) < 0.14, (frac, true_j, est)


def test_minhash_batch_matches_single_rows():
    """Batch layout must equal row-at-a-time for small rows (fewer
    shingles than buckets, so densification borrows in every row)."""
    a, b = minhash_params(CFG)
    rng = random.Random(5)
    sets = [_rand_set(rng, rng.randint(1, 60)) for _ in range(9)]
    sets.insert(3, np.empty(0, np.int64))  # empty row mid-batch
    batched = oph_minhash_batch(sets, a, b, CFG.num_perm)
    for i, s in enumerate(sets):
        single = oph_minhash_batch([s], a, b, CFG.num_perm)
        assert np.array_equal(batched[i], single[0]), i


def test_simhash_properties():
    rng = random.Random(13)
    base = _rand_set(rng, 300)
    near = base.copy()
    near[:6] = _rand_set(rng, 6)[:6]  # perturb a few tokens
    far = _rand_set(rng, 300)
    sigs = simhash_batch([base, near, far, np.empty(0, np.int64)])
    def ham(x, y):
        return bin((int(x) ^ int(y)) & ((1 << 64) - 1)).count("1")
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])
    assert ham(sigs[0], sigs[1]) <= 10
    assert sigs[3] == 0
    # frequency weighting: repeated tokens shift the vote
    rep = np.concatenate([base, base[:50]])
    sig_rep = simhash_batch([rep])[0]
    assert ham(sigs[0], sig_rep) <= 8  # still close to base


def test_simhash_batch_matches_single_rows():
    rng = random.Random(17)
    sets = [_rand_set(rng, rng.randint(1, 80)) for _ in range(7)]
    sets.insert(0, np.empty(0, np.int64))
    batched = simhash_batch(sets)
    for i, s in enumerate(sets):
        assert simhash_batch([s])[0] == batched[i], i


def test_simhash_matches_slow_reference():
    """Optimized unpackbits kernel vs a direct per-row reference."""
    rng = random.Random(99)
    sets = [_rand_set(rng, rng.randint(1, 200)) for _ in range(30)]
    sets.append(np.empty(0, np.int64))
    fast = simhash_batch(sets)
    for i, s in enumerate(sets):
        if len(s) == 0:
            assert fast[i] == 0
            continue
        u = s.astype(np.int64).view(np.uint64)
        acc = np.zeros(64, dtype=np.int64)
        for h in u:
            for k in range(64):
                acc[k] += 1 if (int(h) >> k) & 1 else -1
        expect = 0
        for k in range(64):
            if acc[k] > 0:
                expect |= 1 << k
        expect = np.uint64(expect).astype(np.int64) if expect < 2**63 else np.int64(expect - 2**64)
        assert fast[i] == expect, i


def test_minhash_mersenne_reduction_matches_modulo():
    """The shift-add Mersenne reduction must equal (a*h+b) % p exactly:
    a one-element set's value in its own bucket (h mod num_perm) is the
    single mixed hash, undensified."""
    a, b = minhash_params(CFG)
    rng = random.Random(101)
    p = MINHASH_PRIME
    vals = [rng.randint(-(2**63), 2**63 - 1) for _ in range(500)]
    vals += [0, 1, p - 1, p, p + 1, 2 * p, -1, -p, 2**63 - 1, -(2**63)]
    # the h whose mixed value is 0: exercises the x == p fix-up
    vals.append(-int(b[0]) * pow(int(a[0]), -1, p) % p)
    sigs = oph_minhash_batch(
        [np.array([v], dtype=np.int64) for v in vals], a, b, CFG.num_perm
    )
    for row, v in zip(sigs, vals):
        h = v % p  # Python % is non-negative for p > 0, like np.mod
        assert row[h % CFG.num_perm] == (int(a[0]) * h + int(b[0])) % p, v


def test_oph_deterministic_and_shapes():
    a, b = minhash_params(CFG)
    rng = random.Random(7)
    s = _rand_set(rng, 300)
    s1 = oph_minhash_batch([s], a, b, CFG.num_perm)
    s2 = oph_minhash_batch([s.copy()], a, b, CFG.num_perm)
    assert np.array_equal(s1, s2)
    assert s1.shape == (1, CFG.num_perm)
    # no empty sentinel left after densification
    assert (s1 < MINHASH_PRIME * CFG.num_perm).all()


def test_oph_batch_matches_single_rows():
    a, b = minhash_params(CFG)
    rng = random.Random(5)
    sets = [_rand_set(rng, rng.randint(1, 400)) for _ in range(9)]
    sets.insert(3, np.empty(0, np.int64))
    batched = oph_minhash_batch(sets, a, b, CFG.num_perm)
    for i, s in enumerate(sets):
        single = oph_minhash_batch([s], a, b, CFG.num_perm)
        assert np.array_equal(batched[i], single[0]), i
    assert (batched[3] == MINHASH_PRIME * CFG.num_perm).all()  # empty row sentinel


def test_oph_estimates_jaccard():
    a, b = minhash_params(CFG)
    rng = random.Random(11)
    base = _rand_set(rng, 400)
    for frac in (0.3, 0.5, 0.8, 0.95):
        keep = int(len(base) * frac)
        other = np.unique(np.concatenate([base[:keep], _rand_set(rng, len(base) - keep)]))
        true_j = len(np.intersect1d(base, other)) / len(np.union1d(base, other))
        sigs = oph_minhash_batch([base, other], a, b, CFG.num_perm)
        est = est_jaccard(sigs[0], sigs[1])
        assert abs(est - true_j) < 0.15, (frac, true_j, est)
