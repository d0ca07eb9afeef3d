"""F14 — content normalization + the JVM-side token-hash prelude.

uncp reads raw bytes and hashes them whole (src/systems/hashing.rs:188);
its designed "content-aware" similarity tier (DESIGN.md:219-258) never
shipped. The north_rule pins the tier as normalize → k-shingle →
hash-per-shingle. The part here is built-in expressions (lower /
regexp_replace / split / transform / xxhash64) inside whole-stage
codegen; the k-token windowing happens in the signature UDF
(operators/signatures.py).

Shingle definition (pinned by SimilarityConfig):
  - normalize: lowercase, collapse runs of whitespace to one space, trim
  - tokens:    split on single space, each hashed with xxhash64
  - shingles:  k-token windows, id = rolling positional hash of the k
               token hashes (kernels.shingle_ids_batch); files with
               fewer than k tokens fall back to xxhash64 of
               char_shingle_k-char grams of the normalized text
  - the shingle *set* feeds MinHash; the raw token hash array (with
    repetition) feeds frequency-weighted SimHash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig


def normalize_content(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _char_shingle_hashes(norm: Column, k: int) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(norm) - (k - 1))),
        lambda i: F.xxhash64(F.substring(norm, i, k)),
    )


def with_token_hashes(df: DataFrame, cfg: SimilarityConfig) -> DataFrame:
    """Minimal JVM prelude for the FUSED signature stage: ``norm_text``,
    ``token_hashes`` and (short rows only) ``char_hashes``.

    The k-token windowing, distinct, MinHash and SimHash all happen in
    one numpy pass inside the fused pandas UDF
    (operators/signatures.signature_table), so the JVM never allocates
    per-window slices. ``char_hashes`` materializes only for rows under
    ``shingle_k`` tokens (the fallback population, typically ≪1%)."""
    norm = normalize_content(F.col("content"))
    df = df.withColumn("norm_text", norm)
    tokens = F.split(F.col("norm_text"), " ")
    df = df.withColumn("token_hashes", F.transform(tokens, lambda t: F.xxhash64(t)))
    return df.withColumn(
        "char_hashes",
        F.when(
            F.size("token_hashes") < cfg.shingle_k,
            _char_shingle_hashes(F.col("norm_text"), cfg.char_shingle_k),
        ),
    )
