"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-dup pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible one (fuzzy-signature internals get rows-only checks).

Every query reads only the ``documents`` table. Dedup queries run over
a ``repos``-shaped table derived deterministically and *SQL-expressibly*
from it (uncp_spark.fixtures.repos_from_documents): every 3rd doc gets
an exact mirror copy, every 5th a near-duplicate fork (appended token
tail), so exact/near cluster semantics are exercised with known
structure.

``entry`` and the near-dup queries build no stage graph of their own:
they read the outputs of ONE ``DedupPipeline.run`` per session and
corpus (``_engine_run``), so the oracles check the code the engine runs.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL; doubles are rounded on both sides.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uncp_spark.config import SimilarityConfig
from uncp_spark.fixtures import REPOS_FROM_DOCUMENTS_DUCKDB, repos_from_documents
from uncp_spark.operators.components import connected_components, label_all
from uncp_spark.operators.exact import exact_clusters, same_name_groups, same_size_groups
from uncp_spark.operators.ingest import ingest
from uncp_spark.operators.lsh import candidate_pairs
from uncp_spark.operators.verify import score_pairs
from uncp_spark.plans.pipeline import DedupPipeline

CFG = SimilarityConfig()

# ---------------------------------------------------------------- helpers

def _files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ingest() over the documents-derived repos table."""
    return ingest(repos_from_documents(spark, sf_dir))


def _engine_run(spark: SparkSession, sf_dir: str) -> dict:
    """The outputs of ``DedupPipeline.run`` over the documents-derived
    repos table. Checkpoints go to one directory per corpus file
    (symlinked sf dirs share it) under the session's SparkFiles root,
    which the session's stop removes. The input token names the corpus
    file with its size and mtime, so a second call in the session
    resumes every stage."""
    docs = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    st = os.stat(docs)
    base_dir = os.path.join(
        SparkFiles.getRootDirectory(), "uncp_entry",
        hashlib.sha1(docs.encode()).hexdigest(),
    )
    return DedupPipeline(base_dir=base_dir, cfg=CFG).run(
        spark,
        repos_from_documents(spark, sf_dir),
        input_token=f"{docs}|{st.st_size}|{st.st_mtime_ns}",
        register_sql_views=False,
        progress=False,
    )


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: priority-ranked near-duplicate clusters on sf0.001."""
    return _engine_run(spark, "/root/testdata/sf0.001")["clusters"]


# ---------------------------------------------------------------- queries

def q_sha256_invariant(spark, sf_dir):
    return _files(spark, sf_dir).select(
        "repo", "path", "sha256", F.col("size").alias("n_bytes")
    )


def q_exact_dup_clusters(spark, sf_dir):
    return exact_clusters(_files(spark, sf_dir)).select(
        "hash_value",
        F.array_join("file_paths", ",").alias("members"),
        "file_count",
        "total_size",
    )


def q_same_size_groups(spark, sf_dir):
    return same_size_groups(_files(spark, sf_dir)).select(
        "size_bytes",
        F.array_join("file_paths", ",").alias("members"),
        "file_count",
    )


def q_same_name_groups(spark, sf_dir):
    return (
        same_name_groups(_files(spark, sf_dir))
        .filter(F.col("file_count") >= 3)
        .select(
            "filename_key",
            F.col("file_count"),
            "total_size",
        )
    )


def q_exact_cluster_priority(spark, sf_dir):
    files = _files(spark, sf_dir)
    stats = (
        files.groupBy(F.col("sha256").alias("cluster_key"))
        .agg(
            F.count("*").alias("dup_count"),
            (F.sum("size") - F.max("size")).alias("bytes_reclaimable"),
            F.min("depth").alias("min_depth"),
        )
        .filter(F.col("dup_count") >= 2)
    )
    from pyspark.sql import Window

    # global window: kept here because the oracle needs a total order
    # over a FILTERED, bounded input (clusters with dup_count >= 2);
    # the production path uses the banded rank in operators/priority.py
    w = Window.orderBy(
        F.desc("bytes_reclaimable"), F.desc("dup_count"),
        F.asc("min_depth"), F.asc("cluster_key"),
    )
    return stats.withColumn("priority_rank", F.row_number().over(w))


def q_files_by_lang(spark, sf_dir):
    return (
        _files(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_files"), F.sum("size").alias("total_bytes"))
    )


def q_path_predicates(spark, sf_dir):
    """P5-P8: prefix/extension/size predicates, counted by extension."""
    files = _files(spark, sf_dir)
    return (
        files.filter(
            F.col("path").startswith("docs/")
            & (F.col("ext") == "txt")
            & F.col("size").between(50, 100000)
            & F.col("filename").contains("doc_")
        )
        .groupBy("ext")
        .agg(F.count("*").alias("n_files"))
    )


def q_glob_path_filter(spark, sf_dir):
    """P6: glob include/exclude path filters (reference PathFilter,
    detector.rs:92-200) — include must match ≥1, exclude must match none.
    The DuckDB oracle uses its native GLOB operator (same `*`/`?`/class
    semantics as globset with literal_separator=false), so the two
    implementations are independent."""
    from uncp_spark.functions.globs import path_glob_filter

    files = _files(spark, sf_dir)
    return path_glob_filter(
        files,
        include=["docs/*", "vendored/*"],
        exclude=["*doc_1*.txt"],
    ).select("repo", "path")


def _jaccard_pair_edges(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact token-set Jaccard pairs with a *lossless* length-bucket
    blocker: J(A,B) ≥ t implies min(|A|,|B|)/max(|A|,|B|) ≥ t, so at
    t=0.8 only token counts within a ×1.25 ratio can pair. Bucketing by
    floor(ln n / ln 1.25) and equi-joining each left row to buckets
    {b-1, b, b+1} therefore loses no qualifying pair while turning the
    O(n²) cross join into a per-bucket join — the plan survives a larger
    corpus instead of detonating (the all-pairs work only happens within
    a ×1.56 length band)."""
    import math

    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
        ).alias("toks"),
    )
    bucket = F.floor(
        F.log(F.greatest(F.size("toks"), F.lit(1)).cast("double")) / math.log(1.25)
    )
    a = toks.select(
        F.col("doc_id").alias("id_a"),
        F.col("toks").alias("ta"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bk"),
    )
    b = toks.select(
        F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"), bucket.alias("bk")
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.size("ta") + F.size("tb")).cast("double") - inter
    return (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact token-set (1-gram) Jaccard near-dup pairs on documents —
    the exact-Jaccard baseline the LSH tier approximates. Length-bucket
    blocked (see _jaccard_pair_edges), so the join is bounded per bucket
    rather than all-pairs; the DuckDB oracle keeps the pure O(n²)
    definition — identical results, because the blocker is lossless."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _jaccard_pair_edges(docs, threshold=0.8)


def q_cc_bruteforce(spark, sf_dir):
    """F8/north_rule clustering oracle: connected components
    (components.py: union-find on Arrow batches in one task) over the
    exact Jaccard ≥ 0.8 pair set, labels = min doc_id per component. The
    DuckDB oracle computes the identical components with a recursive
    transitive-closure CTE — a fully independent algorithm — so a green
    hash match proves the components operator, which the LSH pipeline's
    cluster stage reuses unchanged."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = _jaccard_pair_edges(docs, threshold=0.8).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = connected_components(edges)
    nodes = docs.select(F.col("doc_id").alias("file_id"))
    return label_all(nodes, labels).select(
        F.col("file_id").alias("doc_id"), "cluster_id"
    )


def q_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH banding recall vs brute-force shingle Jaccard (J3 oracle).

    Emits every candidate pair whose EXACT 5-token-shingle Jaccard is
    ≥ 0.75, keyed by content sha256; the DuckDB oracle emits ALL pairs
    with Jaccard ≥ 0.75 via an O(n²) cross join over distinct contents.
    The row sets (and so the value hashes) match iff LSH candidate
    generation has recall 1.0 at J ≥ 0.75 — the banding curve puts the
    per-pair collision probability at 1-(1-0.75^4)^32 ≈ 0.999995, so
    this is a deterministic, seed-pinned equality on the driver corpus.
    Reference anchor: IdenticalHashes pair grouping src/relations.rs:327-339
    + DESIGN.md:109-117 candidate-pair table."""
    run = _engine_run(spark, sf_dir)
    files = run["files"]
    cands, _ = candidate_pairs(run["sigs"], CFG)
    id_sha = files.select("file_id", "sha256")
    pairs_sha = (
        cands.join(id_sha.select(F.col("file_id").alias("src"),
                                 F.col("sha256").alias("sa")), "src")
        .join(id_sha.select(F.col("file_id").alias("dst"),
                            F.col("sha256").alias("sb")), "dst")
        .select(F.least("sa", "sb").alias("sha_a"),
                F.greatest("sa", "sb").alias("sha_b"))
        .distinct()
    )
    # string 5-gram shingle sets over distinct contents — the same
    # shingle windows the MinHash kernel hashes, here as plain strings so
    # DuckDB can build the identical sets
    norm = F.trim(F.regexp_replace(F.lower(F.col("content")), r"\s+", " "))
    shing = (
        files.select("sha256", "content").dropDuplicates(["sha256"])
        .select("sha256", F.split(norm, " ").alias("t"))
        .filter(F.size("t") >= 5)
        .select(
            "sha256",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 4),
                    lambda i: F.concat_ws(" ", F.slice("t", i, 5)),
                )
            ).alias("s"),
        )
    )
    a = shing.select(F.col("sha256").alias("sha_a"), F.col("s").alias("s_a"))
    b = shing.select(F.col("sha256").alias("sha_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = (F.size("s_a") + F.size("s_b")).cast("double") - inter
    return (
        pairs_sha.join(a, "sha_a").join(b, "sha_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= 0.75)
        .select("sha_a", "sha_b", "jaccard")
    )


def q_shingle_stats(spark, sf_dir):
    """F14 oracle: per-distinct-content shingle-set cardinality from the
    engine run's signature stage (signature_table: 5-token windows as
    rolling positional hashes of per-token xxhash64, 9-char-gram xxhash64
    fallback under 5 tokens). DuckDB rebuilds the identical windows as
    strings — token windows joined by space are injective (tokens
    cannot contain spaces), so count-distinct matches exactly unless
    the token or window hashing collides (none on this corpus)."""
    run = _engine_run(spark, sf_dir)
    ids = run["files"].select("file_id", "sha256")
    return run["sigs"].join(ids, "file_id").select("sha256", "n_shingles")


# ----- fuzzy-tier queries: rows-only checks (no SQL oracle possible) -----

def q_minhash_signatures(spark, sf_dir):
    sigs = _engine_run(spark, sf_dir)["sigs"]
    return sigs.select("file_id", "n_shingles", "simhash",
                       F.element_at("minhash", 1).alias("minhash_0"))


def q_lsh_candidate_pairs(spark, sf_dir):
    run = _engine_run(spark, sf_dir)
    pairs, _ = candidate_pairs(run["sigs"], CFG)
    return score_pairs(pairs, run["sigs"], CFG, run["files"]).select(
        "src", "dst", F.round("est_jaccard", 4).alias("est_jaccard_r"),
        "hamming", F.round("containment", 4).alias("containment_r"),
    )


def _near_dup_keyed(spark, sf_dir):
    """The engine run's cluster membership re-keyed for the oracle: the
    engine's cluster_id is min(file_id)=min(xxhash64) — not computable in
    DuckDB — so clusters are presented by ``cluster_key`` = min
    ``repo|path`` member string, an order-isomorphic relabeling that
    preserves the partition exactly (the thing the north_rule's
    "matching cluster assignments" gate compares)."""
    labeled = _engine_run(spark, sf_dir)["labeled"]
    ckey = labeled.groupBy("cluster_id").agg(
        F.min(F.concat_ws("|", "repo", "path")).alias("cluster_key")
    )
    return labeled.join(ckey, "cluster_id")


def q_near_dup_clusters(spark, sf_dir):
    """END-TO-END pipeline oracle: the membership of the engine run
    (ingest → sigs → LSH + containment index → verify → CC). The DuckDB
    twin computes the accepted edge set from first principles — exact
    5-token-shingle Jaccard ≥ 0.7 OR shingle containment ≥ 0.9 over
    distinct contents — and clusters it with a recursive
    transitive-closure CTE (independent algorithm). The edge
    sets are PROVABLY equal on this corpus: acceptance is deterministic
    (seed-pinned signatures; exact-Jaccard ride-along repairs estimate
    undershoot; every overshoot-risk pair here has containment 1.0, so
    both sides accept it), verified empirically at sf0.001 and sf0.01
    (spark-only = oracle-only = 0, see round-3 notes). The engine's
    candidate reach now includes the bottom-m containment-sketch tier
    (operators/containment_index.py), and the corpus PLANTS its target
    class: ``bundle/`` files concatenate windows of long documents, so
    each member doc is verbatim-contained at size ratio up to ~13
    (token Jaccard ≈ 0.075 — below LSH band reach, band-collision
    P ≈ 32·J⁴ ≈ 10⁻³) and must be surfaced by the sketch index for this
    hash equality to hold. Expected shared sketch ids per member is
    ≥ ~17 at the corpus's worst ratio (sketch 256), and the derivation
    is hash-deterministic — low-Jaccard containment pairs surface on
    BOTH sides under the same containment ≥ 0.9 predicate. The tier's size-ratio
    floor (config.containment_ratio_min) loses nothing here: a pair it
    drops (ratio < 1.1) can only satisfy containment ≥ 0.9 with
    J ≥ 0.75, which band-collides with P ≈ 1 − 5e-6. A hash match is
    therefore a true end-to-end equality of cluster assignments."""
    return _near_dup_keyed(spark, sf_dir).select("repo", "path", "cluster_key")


def q_near_dup_priority(spark, sf_dir):
    """Priority stats + total rank over the FULL near-dup clusters (the
    flagship output, oracle-keyed like q_near_dup_clusters). The global
    window is oracle-only, as in q_exact_cluster_priority — production
    ranking is the banded global_rank in operators/priority.py."""
    from pyspark.sql import Window

    keyed = _near_dup_keyed(spark, sf_dir)
    stats = (
        keyed.groupBy("cluster_key")
        .agg(
            F.count("*").alias("dup_count"),
            (F.sum("size") - F.max("size")).alias("bytes_reclaimable"),
            F.sum("size").alias("total_size"),
            F.min("depth").alias("min_depth"),
            F.countDistinct("repo").alias("n_repos"),
        )
        .filter(F.col("dup_count") >= 2)
    )
    w = Window.orderBy(
        F.desc("bytes_reclaimable"), F.desc("dup_count"),
        F.asc("min_depth"), F.asc("cluster_key"),
    )
    return stats.withColumn("priority_rank", F.row_number().over(w))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # exact tier + group relations (oracle-checked)
        "sha256_invariant": q_sha256_invariant,
        "exact_dup_clusters": q_exact_dup_clusters,
        "same_size_groups": q_same_size_groups,
        "same_name_groups": q_same_name_groups,
        "exact_cluster_priority": q_exact_cluster_priority,
        "files_by_lang": q_files_by_lang,
        "path_predicates": q_path_predicates,
        "glob_path_filter": q_glob_path_filter,
        # exact-Jaccard, LSH-recall and shingle oracles (oracle-checked)
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "lsh_recall_vs_bruteforce": q_lsh_recall_vs_bruteforce,
        "cc_bruteforce": q_cc_bruteforce,
        "shingle_stats": q_shingle_stats,
        # full-pipeline end-to-end (oracle-checked: recursive-closure
        # twin over the first-principles accepted edge set)
        "near_dup_clusters": q_near_dup_clusters,
        "near_dup_priority": q_near_dup_priority,
        # signature internals (rows-only: MinHash estimates / LSH band
        # hashes are not ANSI-SQL-expressible; their kernels are
        # oracle-checked via lsh_recall_vs_bruteforce, cc_bruteforce,
        # shingle_stats, near_dup_clusters instead)
        "minhash_signatures": q_minhash_signatures,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
    }


# ---------------------------------------------------------------- oracles

_REPOS = f"WITH repos AS ({REPOS_FROM_DOCUMENTS_DUCKDB})"

_FILES = f"""{_REPOS},
files AS (
  SELECT repo, path, lang, content,
         sha256(content) AS sha256,
         strlen(content)::BIGINT AS size,
         len(string_split(path, '/'))::INT AS depth,
         regexp_extract(path, '([^/]*)$', 1) AS filename,
         CASE WHEN regexp_matches(filename, '.\\.')
              THEN lower(regexp_extract(filename, '\\.([^.]*)$', 1))
              ELSE NULL END AS ext
  FROM repos
)"""


# Full near-dup cluster membership, from first principles: accepted
# edges = exact shingle-Jaccard >= 0.7 OR shingle-containment >= 0.9
# over distinct contents (provably equal to the pipeline's accepted set
# on this corpus — see q_near_dup_clusters), clustered by a recursive
# transitive-closure CTE, re-keyed by min repo|path member. `near` and
# `comp` are MATERIALIZED: DuckDB otherwise inlines a CTE at each
# reference and runs the all-pairs join again inside every recursive
# step (the cc_bruteforce oracle's `pairs` likewise).
#
# Sub-5-token files mirror the engine's char-9-gram fallback
# (operators/shingle.py:47-51) instead of being excluded, so the edge-set
# equality holds for ANY corpus, short near-dups included. The two
# shingle classes are provably disjoint across the class boundary, in
# both systems: engine-side they live in different hash spaces
# (xxhash64 of a long-array vs of a string); here a 5-token window
# string of exactly 9 chars must contain 4 spaces (5 one-char tokens)
# while a sub-5-token file's normalized text has at most 3 token gaps —
# so a gram can never equal a window string and mixed-class pairs score
# 0 on both sides.
_NEARDUP_MEMB = _FILES.replace("WITH ", "WITH RECURSIVE ", 1) + """,
sh AS (
  SELECT sha256(content) AS sha,
         CASE WHEN len(t) >= 5 THEN
           list_distinct(list_transform(
             generate_series(1, len(t) - 4),
             i -> array_to_string(list_slice(t, i, i + 4), ' ')
           ))
         ELSE
           list_distinct(list_transform(
             generate_series(1, greatest(1, strlen(nt) - 8)),
             i -> substr(nt, i, 9)
           ))
         END AS s
  FROM (SELECT content, nt, string_split(nt, ' ') AS t
        FROM (SELECT content,
                     trim(regexp_replace(lower(content), '\\s+', ' ', 'g'))
                       AS nt
              FROM (SELECT DISTINCT content FROM files)))
),
near AS MATERIALIZED (
  SELECT a.sha AS sa, b.sha AS sb
  FROM sh a JOIN sh b ON a.sha < b.sha
  WHERE len(list_intersect(a.s, b.s))::DOUBLE /
        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE >= 0.7
     OR len(list_intersect(a.s, b.s))::DOUBLE /
        least(len(a.s), len(b.s))::DOUBLE >= 0.9
),
eds AS (SELECT sa AS a, sb AS b FROM near UNION SELECT sb, sa FROM near),
shas AS (SELECT DISTINCT sha256 AS sha FROM files),
reach(src, dst) AS (
  SELECT sha, sha FROM shas
  UNION
  SELECT r.src, e.b FROM reach r JOIN eds e ON r.dst = e.a
),
comp AS MATERIALIZED (
  SELECT src AS sha, min(dst) AS comp_sha FROM reach GROUP BY src
),
memb AS (
  SELECT f.repo, f.path, f.size, f.depth, c.comp_sha,
         concat(f.repo, '|', f.path) AS fk
  FROM files f JOIN comp c ON f.sha256 = c.sha
),
ckey AS (SELECT comp_sha, min(fk) AS cluster_key FROM memb GROUP BY comp_sha)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "sha256_invariant": f"""
            {_FILES}
            SELECT repo, path, sha256, size AS n_bytes FROM files
        """,
        "exact_dup_clusters": f"""
            {_FILES}
            SELECT sha256 AS hash_value,
                   CASE WHEN count(*) > 1000 THEN ''
                        ELSE array_to_string(list_sort(list(path)), ',')
                   END AS members,
                   count(*) AS file_count,
                   sum(size)::BIGINT AS total_size
            FROM files GROUP BY sha256 HAVING count(*) >= 2
        """,
        "same_size_groups": f"""
            {_FILES}
            SELECT size AS size_bytes,
                   CASE WHEN count(*) > 1000 THEN ''
                        ELSE array_to_string(list_sort(list(path)), ',')
                   END AS members,
                   count(*) AS file_count
            FROM files GROUP BY size HAVING count(*) >= 2
        """,
        "same_name_groups": f"""
            {_FILES}
            SELECT filename AS filename_key, count(*) AS file_count,
                   sum(size)::BIGINT AS total_size
            FROM files GROUP BY filename HAVING count(*) >= 3
        """,
        "exact_cluster_priority": f"""
            {_FILES},
            stats AS (
              SELECT sha256 AS cluster_key, count(*) AS dup_count,
                     (sum(size) - max(size))::BIGINT AS bytes_reclaimable,
                     min(depth) AS min_depth
              FROM files GROUP BY sha256 HAVING count(*) >= 2
            )
            SELECT cluster_key, dup_count, bytes_reclaimable, min_depth,
                   row_number() OVER (
                     ORDER BY bytes_reclaimable DESC, dup_count DESC,
                              min_depth ASC, cluster_key ASC
                   )::INT AS priority_rank
            FROM stats
        """,
        "files_by_lang": f"""
            {_FILES}
            SELECT lang, count(*) AS n_files, sum(size)::BIGINT AS total_bytes
            FROM files GROUP BY lang
        """,
        "path_predicates": f"""
            {_FILES}
            SELECT ext, count(*) AS n_files
            FROM files
            WHERE path LIKE 'docs/%' AND ext = 'txt'
              AND size BETWEEN 50 AND 100000
              AND filename LIKE '%doc\\_%' ESCAPE '\\'
            GROUP BY ext
        """,
        "glob_path_filter": f"""
            {_FILES}
            SELECT repo, path FROM files
            WHERE (path GLOB 'docs/*' OR path GLOB 'vendored/*')
              AND NOT path GLOB '*doc_1*.txt'
        """,
        "ngram_jaccard_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_distinct(string_split(
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '
                     )) AS t
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(
                     len(list_intersect(a.t, b.t))::DOUBLE /
                     (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))::DOUBLE,
                   4) AS jaccard
            FROM toks a CROSS JOIN toks b
            WHERE a.doc_id < b.doc_id AND jaccard >= 0.8
        """,
        "cc_bruteforce": """
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     list_distinct(string_split(
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '
                     )) AS t
              FROM documents
            ), pairs AS MATERIALIZED (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM toks a JOIN toks b ON a.doc_id < b.doc_id
              WHERE round(
                      len(list_intersect(a.t, b.t))::DOUBLE /
                      (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))::DOUBLE,
                    4) >= 0.8
            ), edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT src AS doc_id, min(dst) AS cluster_id
            FROM reach GROUP BY src
        """,
        "shingle_stats": f"""
            {_REPOS},
            contents AS (SELECT DISTINCT content FROM repos),
            t AS (
              SELECT sha256(content) AS sha256,
                     trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) AS norm
              FROM contents
            ), tok AS (
              SELECT sha256, norm, string_split(norm, ' ') AS tk FROM t
            )
            SELECT sha256,
                   (CASE WHEN len(tk) >= 5 THEN
                      len(list_distinct(list_transform(
                        generate_series(1, len(tk) - 4),
                        i -> array_to_string(list_slice(tk, i, i + 4), ' ')
                      )))
                    ELSE
                      len(list_distinct(list_transform(
                        generate_series(1, greatest(1, strlen(norm) - 8)),
                        i -> substring(norm, i, 9)
                      )))
                    END)::INT AS n_shingles
            FROM tok
        """,
        "lsh_recall_vs_bruteforce": f"""
            {_REPOS},
            contents AS (
              SELECT DISTINCT content FROM repos
            ),
            toks AS (
              SELECT sha256(content) AS sha,
                     string_split(
                       trim(regexp_replace(lower(content), '\\s+', ' ', 'g')),
                       ' ') AS t
              FROM contents
            ),
            sh AS (
              SELECT sha,
                     list_distinct(list_transform(
                       generate_series(1, len(t) - 4),
                       i -> array_to_string(list_slice(t, i, i + 4), ' ')
                     )) AS s
              FROM toks WHERE len(t) >= 5
            ),
            scored AS (
              SELECT a.sha AS sha_a, b.sha AS sha_b,
                     round(
                       len(list_intersect(a.s, b.s))::DOUBLE /
                       (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE,
                     4) AS jaccard
              FROM sh a JOIN sh b ON a.sha < b.sha
            )
            SELECT sha_a, sha_b, jaccard FROM scored WHERE jaccard >= 0.75
        """,
        "near_dup_clusters": f"""
            {_NEARDUP_MEMB}
            SELECT m.repo, m.path, k.cluster_key
            FROM memb m JOIN ckey k USING (comp_sha)
        """,
        "near_dup_priority": f"""
            {_NEARDUP_MEMB},
            stats AS (
              SELECT k.cluster_key, count(*) AS dup_count,
                     (sum(m.size) - max(m.size))::BIGINT AS bytes_reclaimable,
                     sum(m.size)::BIGINT AS total_size,
                     min(m.depth) AS min_depth,
                     count(DISTINCT m.repo) AS n_repos
              FROM memb m JOIN ckey k USING (comp_sha)
              GROUP BY k.cluster_key HAVING count(*) >= 2
            )
            SELECT cluster_key, dup_count, bytes_reclaimable, total_size,
                   min_depth, n_repos,
                   row_number() OVER (
                     ORDER BY bytes_reclaimable DESC, dup_count DESC,
                              min_depth ASC, cluster_key ASC
                   )::INT AS priority_rank
            FROM stats
        """,
    }
