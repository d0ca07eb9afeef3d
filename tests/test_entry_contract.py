"""Mini-driver harness: every oracle-backed queries() entry must match
its oracle_sql() on DuckDB at sf0.001 — same columns, same row count,
same values (order-insensitive). Catches contract drift before the
real driver runs at sf0.01. The queries run on an sf dir that holds
only the TABLES they may read, so one that reads any other table
fails."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = ["documents"]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    for t in TABLES:
        os.symlink(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


def test_every_oracle_key_has_a_query():
    qs = entrymod.queries()
    missing = [k for k in ORACLE_KEYS if k not in qs]
    assert not missing


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, sf_dir).toPandas()
    duck_pdf = duck.sql(entrymod.oracle_sql()[name]).df()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), name
    assert len(spark_pdf) == len(duck_pdf), name

    # dtype-KIND parity (int vs float vs object): the real driver hashes
    # typed values, so a DuckDB HUGEINT (→ float/object) against a Spark
    # long hash-mismatches even when the values compare equal — this is
    # exactly the round-1 uncast-sum failure mode
    for c in spark_pdf.columns:
        ka, kb = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        assert ka == kb or {ka, kb} <= {"i", "u"}, (
            f"{name}.{c}: dtype kind {ka} (spark) vs {kb} (oracle)"
        )

    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    # numeric columns: exact after the queries' own rounding
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                  rtol=0, atol=1e-9)


def test_rows_only_queries_return_rows(spark, sf_dir):
    qs = entrymod.queries()
    rows_only = sorted(set(qs) - set(entrymod.oracle_sql()))
    assert rows_only
    for name in rows_only:
        df = qs[name](spark, sf_dir)
        assert df.count() > 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    cols = set(df.columns)
    assert {"cluster_id", "dup_count", "bytes_reclaimable", "priority_rank"} <= cols


def test_entry_returns_the_engine_runs_clusters(spark):
    got = entrymod.entry(spark)
    want = entrymod._engine_run(spark, SF)["clusters"]
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())


def test_second_engine_query_resumes_every_stage(spark, sf_dir, monkeypatch):
    """Engine queries share one DedupPipeline.run per session and
    corpus: the second query's run builds no stage."""
    reports = []
    run = entrymod.DedupPipeline.run

    def recording_run(self, *args, **kwargs):
        out = run(self, *args, **kwargs)
        reports.append(out["report"])
        return out

    monkeypatch.setattr(entrymod.DedupPipeline, "run", recording_run)
    qs = entrymod.queries()
    qs["minhash_signatures"](spark, sf_dir).count()
    qs["near_dup_clusters"](spark, sf_dir).count()
    assert len(reports) == 2
    stages = reports[1]["stages"]
    assert [s["stage"] for s in stages] == [
        "files", "sigs", "pairs", "edges", "labels", "clusters"
    ]
    assert all(s["resumed"] for s in stages), stages
