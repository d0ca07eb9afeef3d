"""Shingling + signature operators on Spark (properties + determinism)."""

from __future__ import annotations

import pyspark.sql.functions as F

from uncp_spark.config import MINHASH_PRIME
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.signatures import signature_table


def _sigs(spark, cfg, rows):
    df = spark.createDataFrame(rows, "file_id long, content string")
    return signature_table(df, cfg)


def test_shingle_counts(spark, cfg):
    text = " ".join(f"tok{i}" for i in range(20))
    out = _sigs(spark, cfg, [(1, text)]).first()
    # 20 tokens, k=5 → 16 windows, all distinct here
    assert out["n_shingles"] == 16
    assert len(out["token_hashes"]) == 20


def test_short_text_char_fallback(spark, cfg):
    out = _sigs(spark, cfg, [(1, "ab cd")]).first()  # 2 tokens < k=5
    assert out["n_shingles"] >= 1  # char grams kick in


def test_normalization_collapses_case_and_ws(spark, cfg):
    a = "Hello   World  FOO bar baz qux"
    b = "hello world foo\tbar  baz qux"
    rows = _sigs(spark, cfg, [(1, a), (2, b)]).select("minhash", "simhash").collect()
    assert rows[0]["minhash"] == rows[1]["minhash"]
    assert rows[0]["simhash"] == rows[1]["simhash"]


def test_signature_determinism_across_runs(spark, cfg):
    text = " ".join(f"w{i % 37}" for i in range(200))
    r1 = _sigs(spark, cfg, [(1, text)]).select("minhash", "simhash").first()
    r2 = _sigs(spark, cfg, [(1, text)]).select("minhash", "simhash").first()
    assert r1 == r2


def test_signature_length_and_range(spark, cfg, repos_df):
    files = ingest(repos_df).limit(50)
    sigs = signature_table(files, cfg, include_shingles=False)
    # OPH densified values are bounded by num_perm * prime (offset coding)
    max_val = MINHASH_PRIME * cfg.num_perm
    bad = sigs.filter(
        (F.size("minhash") != cfg.num_perm)
        | F.exists("minhash", lambda v: (v < 0) | (v > max_val))
    )
    assert bad.count() == 0
