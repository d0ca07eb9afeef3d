"""The dup-pair recall gate (BASELINE.md): LSH-derived accepted pairs
must recover ≥ 0.99 of pairs whose TRUE shingle-set Jaccard ≥ the pinned
threshold, measured against a brute-force all-pairs oracle on the
planted fixture corpus at the pinned shingle/signature config.
"""

from __future__ import annotations

from itertools import combinations

import pyspark.sql.functions as F
import pytest

from uncp_spark.operators.exact import exact_representatives
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.lsh import band_keys, candidate_pairs
from uncp_spark.operators.signatures import signature_table
from uncp_spark.operators.verify import accept_edges, score_pairs


@pytest.fixture(scope="module")
def files(repos_df):
    return ingest(repos_df)


@pytest.fixture(scope="module")
def sigs(spark, cfg, files):
    reps = exact_representatives(files)
    # bottomk kept: the verify stage's sketch screen runs in the loop
    out = (
        signature_table(reps, cfg)
        .select("file_id", "minhash", "simhash", "shingles", "bottomk")
        .cache()
    )
    out.count()
    return out


def _true_jaccard_pairs(sigs, threshold):
    rows = sigs.select("file_id", "shingles").collect()
    sets = {r["file_id"]: frozenset(r["shingles"]) for r in rows}
    out = set()
    for a, b in combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out.add((a, b))
    return out


def test_band_keys_shape(sigs, cfg):
    bk = band_keys(sigs.limit(5), cfg)
    assert bk.count() == 5 * cfg.bands
    assert bk.groupBy("file_id").count().filter(F.col("count") != cfg.bands).count() == 0


def test_recall_gate(spark, cfg, sigs, files):
    truth = _true_jaccard_pairs(sigs, cfg.jaccard_threshold)
    assert len(truth) >= 10, "fixture must plant enough near-dup pairs"

    pairs, hot = candidate_pairs(sigs, cfg)
    edges = accept_edges(score_pairs(pairs, sigs, cfg, files), cfg)
    got = {(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()}

    recalled = truth & got
    recall = len(recalled) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({len(truth)} true pairs)"


def test_candidate_precision_reasonable(spark, cfg, sigs):
    """LSH shouldn't degenerate toward the cross join: candidate count
    stays a small multiple of the true-pair count."""
    n = sigs.count()
    pairs, _ = candidate_pairs(sigs, cfg)
    assert pairs.count() < n * 10


def test_accepted_edges_respect_thresholds(spark, cfg, sigs, files):
    pairs, _ = candidate_pairs(sigs, cfg)
    scored = score_pairs(pairs, sigs, cfg, files)
    edges = accept_edges(scored, cfg)
    # accept_edges' full rule: the exact Jaccard (residual phase) counts
    # too; NULL containment/jaccard means "not evaluated", never "passed"
    ok = (
        (F.col("est_jaccard") >= cfg.jaccard_threshold)
        | (F.col("hamming") <= cfg.hamming_threshold)
        | (F.coalesce("containment", F.lit(0.0)) >= cfg.containment_threshold)
        | (F.coalesce("jaccard", F.lit(0.0)) >= cfg.jaccard_threshold)
    )
    bad = edges.join(scored, ["src", "dst"]).filter(~ok)
    assert bad.count() == 0


def test_hot_band_cap(spark, cfg):
    """With a tiny cap, hot buckets degrade to linear stars + get
    reported instead of exploding quadratically."""
    base = " ".join(f"w{i}" for i in range(60))
    # 12 near-identical variants (distinct content, same shingle mass)
    rows = [(i, base + f" tail{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "file_id long, content string")
    variant_sigs = signature_table(df, cfg)
    small_cap = type(cfg)(hot_band_cap=5)
    pairs_capped, hot = candidate_pairs(variant_sigs, small_cap)
    assert hot.count() > 0
    assert hot.filter(F.col("bucket_size") <= 5).count() == 0
    star = pairs_capped.filter(F.col("from_hot_band"))
    assert star.count() > 0
    # star edges are linear in flood size, and components stay connected:
    # every member pairs (directly or transitively) with the min id
    full_pairs, _ = candidate_pairs(variant_sigs, cfg)
    assert pairs_capped.count() <= full_pairs.count()


def test_edges_carry_evidence_json(spark, cfg, sigs, files):
    """Accepted edges expose a per-pair `data` JSON evidence blob (uncp
    DESIGN.md:109-117: pairwise relations carry relation_type + data):
    every measurement that informed acceptance, parseable, and
    consistent with the edge's own type."""
    import json

    pairs, _ = candidate_pairs(sigs, cfg)
    edges = accept_edges(score_pairs(pairs, sigs, cfg, files), cfg).collect()
    assert edges
    for r in edges:
        ev = json.loads(r["data"])
        assert "est_jaccard" in ev and "hamming" in ev
        if r["edge_type"] == "containment":
            assert ev["containment"] >= cfg.containment_threshold
        if r["edge_type"] == "minhash":
            assert ev["est_jaccard"] >= cfg.jaccard_threshold
        if r["edge_type"] == "simhash":
            assert ev["hamming"] <= cfg.hamming_threshold
