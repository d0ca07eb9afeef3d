"""The signature stage: k-shingle ids + MinHash + SimHash in ONE pandas UDF pass.

The JVM stops at the per-token xxhash64 prelude
(shingle.with_token_hashes); k-token windowing, distinct, one-permutation
MinHash, SimHash and the bottom-m containment sketch all happen in one
numpy pass per Arrow batch — the signature stage touches every distinct
content once, so one Arrow transfer and one python-worker pass per row
is the whole cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uncp_spark.config import SimilarityConfig
from uncp_spark.functions.kernels import (
    minhash_params,
    oph_minhash_batch,
    shingle_ids_batch,
    shingle_weights,
    simhash_batch,
)
from uncp_spark.operators.shingle import with_token_hashes

_FUSED_TYPE = T.StructType(
    [
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
        T.StructField("n_shingles", T.IntegerType(), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("bottomk", T.ArrayType(T.LongType()), False),
    ]
)


# the production shape: every field but the unbounded shingle arrays
_FUSED_TYPE_SKINNY = T.StructType(_FUSED_TYPE.fields[1:])


def _shingle_batch(
    token_hashes: pd.Series, char_hashes: pd.Series, k: int, weights: np.ndarray
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """(token-hash arrays, sorted distinct shingle ids) for one Arrow
    batch: k-token rolling ids, or the char-gram set for rows shorter
    than k tokens (the only rows whose ``char_hashes`` is non-null)."""
    th = [
        np.asarray(s, dtype=np.int64) if s is not None else np.empty(0, np.int64)
        for s in token_hashes
    ]
    sh = shingle_ids_batch(th, k, weights)
    for i, ch in enumerate(char_hashes):
        if ch is not None:
            sh[i] = np.unique(np.asarray(ch, dtype=np.int64))
    return th, sh


def make_fused_signatures_udf(cfg: SimilarityConfig, include_shingles: bool = True):
    """shingle-windowing + MinHash + SimHash in ONE numpy pass.

    Input: ``token_hashes`` (per-token xxhash64, with repetition) and
    ``char_hashes`` (char-gram hashes, non-null only for rows shorter
    than ``shingle_k`` tokens). The k-token shingle ids come from the
    vectorized rolling positional hash (kernels.shingle_ids_batch) —
    the JVM never materializes window slices. Consumers use the ids as
    opaque set keys.

    ``include_shingles=False`` drops the shingle arrays from the RETURN
    STRUCT — a select after the UDF cannot do this (the whole struct
    crosses Arrow regardless of downstream pruning), and the arrays are
    the dominant transfer payload (~8 B/token/row vs 1 KB fixed). The
    production pipeline runs skinny and recomputes shingles for the
    residual verify set only (shingle_sets below)."""
    a, b = minhash_params(cfg)
    num_perm = cfg.num_perm
    k = cfg.shingle_k
    m = cfg.containment_sketch_size
    weights = shingle_weights(k, cfg.seed)

    out_type = _FUSED_TYPE if include_shingles else _FUSED_TYPE_SKINNY

    @F.pandas_udf(out_type)
    def fused_udf(token_hashes: pd.Series, char_hashes: pd.Series) -> pd.DataFrame:
        th, sh = _shingle_batch(token_hashes, char_hashes, k, weights)
        mh = oph_minhash_batch(sh, a, b, num_perm)
        sim = simhash_batch(th)
        cols = {
            "n_shingles": [len(s) for s in sh],
            "minhash": list(mh),
            "simhash": sim,
            # shingle ids are already sorted unique int64 (np.unique),
            # so the bottom-m containment sketch is a zero-cost slice
            "bottomk": [s[:m] for s in sh],
        }
        if include_shingles:
            cols = {"shingles": list(sh), **cols}
        return pd.DataFrame(cols)

    return fused_udf


def make_shingles_udf(cfg: SimilarityConfig):
    """Shingle-set-only pandas UDF — same kernel, same ids, bit-identical
    to the ``shingles`` column of the fused pass."""
    k = cfg.shingle_k
    weights = shingle_weights(k, cfg.seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingles_udf(token_hashes: pd.Series, char_hashes: pd.Series) -> pd.Series:
        return pd.Series(_shingle_batch(token_hashes, char_hashes, k, weights)[1])

    return shingles_udf


def shingle_sets(files: DataFrame, cfg: SimilarityConfig,
                 ids: DataFrame | None = None) -> DataFrame:
    """(file_id, shingles) recomputed from content — the RESIDUAL path.

    The signature stage does not ship its shingle arrays downstream:
    they are the dominant Arrow-transfer + checkpoint-write payload
    (~8 B/token/row — same order as the content itself), and only the
    small residual-candidate population ever needs them (exact
    containment / exact Jaccard in verify phase 2). Recomputing for
    exactly that population — ``ids`` semi-join, then the same
    deterministic kernel — trades a tiny bounded UDF pass for removing
    the fat column from the signature stage's shuffle/write entirely;
    at 10^12 files that column is petabytes that never existed.

    Ids are bit-identical to what the fused pass produced (same
    token-hash prelude, same kernel, pinned seed), so exact-Jaccard /
    containment values are unchanged."""
    src = files.select("file_id", "content")
    if ids is not None:
        src = src.join(ids.select("file_id"), "file_id", "left_semi")
    pre = with_token_hashes(src, cfg)
    return pre.select(
        "file_id",
        make_shingles_udf(cfg)(
            F.col("token_hashes"), F.col("char_hashes")
        ).alias("shingles"),
    )


def signature_table(reps: DataFrame, cfg: SimilarityConfig,
                    include_shingles: bool = True) -> DataFrame:
    """The signature stage — the one entry point pipeline/bench/queries
    share. Adds [``shingles``/]``n_shingles``/``minhash``/``simhash``/
    ``bottomk`` (plus the ``with_token_hashes`` prelude columns) in one
    fused pandas-UDF pass.

    ``include_shingles=False`` is the production shape: fixed-width
    output only (see make_fused_signatures_udf)."""
    sig = make_fused_signatures_udf(cfg, include_shingles)(
        F.col("token_hashes"), F.col("char_hashes")
    )
    out = with_token_hashes(reps, cfg).withColumn("_sig", sig)
    if include_shingles:
        out = out.withColumn("shingles", F.col("_sig.shingles"))
    return (
        out.withColumn("n_shingles", F.col("_sig.n_shingles"))
        .withColumn("minhash", F.col("_sig.minhash"))
        .withColumn("simhash", F.col("_sig.simhash"))
        .withColumn("bottomk", F.col("_sig.bottomk"))
        .drop("_sig")
    )
