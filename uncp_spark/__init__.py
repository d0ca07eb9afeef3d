"""uncp_spark — a PySpark-native near-duplicate detection and
dedup-prioritization engine.

Brand-new Spark-first rebuild of the capabilities of Waridley/uncp
(reference: /root/reference, Rust + Polars). NOT a port: the reference's
ECS systems / engine loop / interned-path arena collapse into declarative
DataFrame plans, checkpointed pipeline stages, and vectorized Arrow UDFs.

Pipeline (SURVEY.md §7.1):

    repos(repo, path, commit, lang, content)
      → ingest (sha256, size, depth)            [exact tier key]
      → exact clusters (groupBy sha256)         [uncp IdenticalHashes]
      → normalize + per-token xxhash64 (JVM-side)
      → k-token shingle ids + one-permutation MinHash(128) + SimHash64
        + bottom-k sketch                       [one fused pandas UDF]
      → LSH banding self-join → candidate pairs [skew-capped hot buckets]
        ∪ bottom-k sketch containment index
      → verify (est. Jaccard / Hamming / containment) → edges
      → connected components (union-find in one task) → clusters
      → priority scores (bytes reclaimable, dup count, path depth)

Containment is found one way: the bottom-k sketch index proposes the
candidates and verify computes their exact shingle containment. The
query entry point (``__spark_entry__``) reads one ``DedupPipeline.run``
per session and corpus rather than a stage graph of its own. Every
module is imported on the way from ``DedupPipeline.run``, the command
surface, the ``--py-files`` packaging seam or the query entry point,
and every top-level function and class is named somewhere outside its
own definition (tests/test_reachability.py).

Every stage checkpoints to Parquet with a manifest + per-partition
metrics so a killed job resumes mid-pipeline (uncp's atomic save,
src/persist.rs:112-233, re-expressed).
"""

from uncp_spark.config import SimilarityConfig

__all__ = ["SimilarityConfig"]
__version__ = "0.1.0"
