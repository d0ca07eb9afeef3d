"""Parity against the reference's own fixture corpus.

Runs this engine over /root/reference/test_data (read-only), whose
planted structure is documented in the reference repo:
  - documents/readme.md == documents/readme_copy.md  (byte-identical)
  - documents/medium.txt == documents/medium_copy.txt (byte-identical)
  - documents/readme_near.md — 2-line diff from readme.md (near-dup)
  - documents/medium_similar.txt — +1 byte vs medium.txt (near-dup)

The exact tier must group the byte-identical pairs (uncp's
IdenticalHashes semantics — the one fully-implemented cluster output of
the reference, src/relations.rs:327-339 + blake3 tier
src/systems/hashing.rs:177-218); the fuzzy tier must additionally
co-cluster the near variants.
"""

from __future__ import annotations

import os

import pytest

from uncp_spark.config import SimilarityConfig
from uncp_spark.operators.components import connected_components, label_all
from uncp_spark.operators.exact import exact_cluster_edges, exact_clusters, exact_representatives
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.lsh import candidate_pairs

from uncp_spark.operators.signatures import signature_table
from uncp_spark.operators.verify import accept_edges, score_pairs

TEST_DATA = "/root/reference/test_data"
CFG = SimilarityConfig()


@pytest.fixture(scope="module")
def ref_repos(spark):
    rows = []
    for root, _dirs, files in os.walk(TEST_DATA):
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, TEST_DATA)
            if rel.startswith("."):
                continue
            with open(full, encoding="utf-8", errors="replace") as f:
                content = f.read()
            rows.append(("ref/test_data", rel, "refcommit", "text", content))
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def _clusters_by_path(labeled):
    return {r["path"]: r["cluster_id"] for r in labeled.collect()}


def test_exact_tier_matches_reference_fixture(spark, ref_repos):
    files = ingest(ref_repos)
    clusters = exact_clusters(files).collect()
    member_sets = {tuple(r["file_paths"]) for r in clusters}
    assert ("documents/readme.md", "documents/readme_copy.md") in member_sets
    assert ("documents/medium.txt", "documents/medium_copy.txt") in member_sets
    # nothing else in the fixture is byte-identical
    assert len(member_sets) == 2


def test_fuzzy_tier_coclusters_near_variants(spark, ref_repos):
    files = ingest(ref_repos)
    sigs = signature_table(exact_representatives(files), CFG).select(
        "file_id", "minhash", "simhash", "bottomk"
    )
    pairs, _ = candidate_pairs(sigs, CFG)
    near = accept_edges(score_pairs(pairs, sigs, CFG, files), CFG)
    edges = near.select("src", "dst").unionByName(
        exact_cluster_edges(files).select("src", "dst")
    )
    labeled = label_all(files, connected_components(edges))
    by_path = _clusters_by_path(labeled)

    assert by_path["documents/readme.md"] == by_path["documents/readme_copy.md"]
    assert by_path["documents/readme.md"] == by_path["documents/readme_near.md"]
    assert by_path["documents/medium.txt"] == by_path["documents/medium_copy.txt"]
    assert by_path["documents/medium.txt"] == by_path["documents/medium_similar.txt"]
    # unrelated files stay apart
    assert by_path["configs/config.json"] != by_path["documents/readme.md"]
    assert by_path["web/app.js"] != by_path["documents/medium.txt"]
