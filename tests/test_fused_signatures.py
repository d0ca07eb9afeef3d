"""The signature stage (signature_table: with_token_hashes → one fused
pandas UDF), checked against independent Python oracles:
  - n_shingles = number of distinct k-token windows of the normalized text
  - char-gram fallback rows carry exactly their distinct char-gram hashes
  - simhash = the SimHash kernel over the row's token hashes
  - est-Jaccard from minhash tracks true shingle Jaccard
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig
from uncp_spark.functions.kernels import (
    est_jaccard,
    shingle_ids_batch,
    shingle_weights,
    simhash_batch,
)
from uncp_spark.operators.signatures import signature_table

CFG = SimilarityConfig()


def _corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight") * 3
    rows = [
        (1, base),
        (2, base + " with a small appended tail of extra tokens"),
        (3, "completely different content about spark dataframes "
            "and shuffle partitioning strategies at scale " * 2),
        (4, "tiny"),                      # < k tokens → char fallback
        (5, "four tokens only here"),     # < k tokens → char fallback
        (6, base),                        # exact dup of 1
    ]
    return spark.createDataFrame(rows, "file_id long, content string")


def _sigs(spark):
    return signature_table(_corpus(spark), CFG).select(
        "file_id", "norm_text", "token_hashes", "char_hashes",
        "shingles", "n_shingles", "minhash", "simhash",
    ).toPandas().set_index("file_id").sort_index()


def test_counts_simhash_and_char_fallback_agree(spark):
    k = CFG.shingle_k
    for fid, r in _sigs(spark).iterrows():
        assert r["n_shingles"] == len(r["shingles"])
        th = np.asarray(r["token_hashes"], dtype=np.int64)
        assert r["simhash"] == simhash_batch([th])[0]
        toks = r["norm_text"].split(" ")
        if len(toks) >= k:
            windows = {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}
            assert r["n_shingles"] == len(windows), fid
            assert r["char_hashes"] is None
        else:
            # char-fallback rows (< k tokens): the set of char-gram hashes
            assert fid in (4, 5)
            assert list(r["shingles"]) == sorted(set(r["char_hashes"]))


def test_est_jaccard_tracks_truth(spark):
    frame = _sigs(spark)
    s1 = set(frame.loc[1, "shingles"])
    s2 = set(frame.loc[2, "shingles"])
    true_j = len(s1 & s2) / len(s1 | s2)
    est = est_jaccard(
        np.asarray(frame.loc[1, "minhash"]), np.asarray(frame.loc[2, "minhash"])
    )
    assert est == pytest.approx(true_j, abs=0.15)
    # exact dup → identical signature
    assert list(frame.loc[1, "minhash"]) == list(frame.loc[6, "minhash"])
    # unrelated docs → near-zero estimate
    assert est_jaccard(
        np.asarray(frame.loc[1, "minhash"]), np.asarray(frame.loc[3, "minhash"])
    ) < 0.1


def test_shingle_ids_batch_kernel():
    w = shingle_weights(5, 42)
    rng = np.random.RandomState(0)
    rows = [
        rng.randint(-(1 << 62), 1 << 62, size=n).astype(np.int64)
        for n in (0, 3, 5, 6, 40)
    ]
    out = shingle_ids_batch(rows, 5, w)
    assert [len(o) for o in out[:3]] == [0, 0, 1]
    assert len(out[3]) == 2
    assert len(out[4]) == len(np.unique(out[4])) <= 36
    # order-sensitivity: reversing a window changes its id
    a = shingle_ids_batch([rows[4]], 5, w)[0]
    b = shingle_ids_batch([rows[4][::-1].copy()], 5, w)[0]
    assert set(a.tolist()) != set(b.tolist())
    # concatenation flattening must not leak windows across row
    # boundaries: each row's ids equal the ids computed row-alone
    solo = [shingle_ids_batch([r], 5, w)[0] for r in rows]
    for got, want in zip(out, solo):
        assert got.tolist() == want.tolist()


def test_shingle_sets_recompute_bit_identical(spark, repos_df, cfg):
    """The residual-verify recompute path (signatures.shingle_sets) must
    reproduce the fused pass's shingle arrays exactly — same kernel,
    same token-hash prelude, pinned seed."""
    from uncp_spark.operators.exact import exact_representatives
    from uncp_spark.operators.ingest import ingest
    from uncp_spark.operators.signatures import shingle_sets, signature_table

    files = ingest(repos_df)
    reps = exact_representatives(files)
    fat = signature_table(reps, cfg).select("file_id", "shingles")
    rec = shingle_sets(files, cfg, ids=reps.select("file_id")).withColumnRenamed(
        "shingles", "shingles2"
    )
    joined = fat.join(rec, "file_id")
    assert joined.count() == fat.count()
    assert joined.filter(F.col("shingles") != F.col("shingles2")).count() == 0


def test_skinny_signature_table_yields_identical_edges(spark, repos_df, cfg):
    """Production shape: signature table WITHOUT shingle arrays (they
    never cross Arrow), verify recomputing them for residual members —
    accepted edge set must equal the one from the fat table exactly."""
    from uncp_spark.operators.exact import exact_representatives
    from uncp_spark.operators.ingest import ingest
    from uncp_spark.operators.lsh import candidate_pairs
    from uncp_spark.operators.signatures import signature_table
    from uncp_spark.operators.verify import accept_edges, score_pairs

    files = ingest(repos_df)
    reps = exact_representatives(files)
    fat = signature_table(reps, cfg)
    skinny = signature_table(reps, cfg, include_shingles=False)
    assert "shingles" not in skinny.columns

    pf, _ = candidate_pairs(fat, cfg)
    ps, _ = candidate_pairs(skinny, cfg)
    ef = accept_edges(score_pairs(pf, fat, cfg, files), cfg)
    es = accept_edges(score_pairs(ps, skinny, cfg, files=files), cfg)
    rows_f = {(r.src, r.dst, round(r.score, 6), r.edge_type) for r in ef.collect()}
    rows_s = {(r.src, r.dst, round(r.score, 6), r.edge_type) for r in es.collect()}
    assert rows_f == rows_s and rows_f


def test_skinny_fused_udf_return_type_excludes_shingle_arrays():
    """The Arrow-payload contract itself: the production UDF's return
    struct must not carry the shingle arrays (a select after the UDF
    cannot remove them from the transfer)."""
    from uncp_spark.operators.signatures import make_fused_signatures_udf

    skinny = make_fused_signatures_udf(CFG, include_shingles=False).returnType
    assert [f.name for f in skinny.fields] == [
        "n_shingles", "minhash", "simhash", "bottomk"
    ]
    fat = make_fused_signatures_udf(CFG, include_shingles=True).returnType
    assert [f.name for f in fat.fields] == [
        "shingles", "n_shingles", "minhash", "simhash", "bottomk"
    ]
    # bottomk is admissible in the skinny payload because it is BOUNDED:
    # at most containment_sketch_size longs per row (a fixed-width sketch,
    # not the unbounded shingle array the contract exists to exclude)
    assert CFG.containment_sketch_size <= 1024
