"""spark-submit --py-files deployment proof (north_rule wording).

Two levels: (1) the package zipimports cleanly with the repo OFF the
path — driver-side proof; (2) a real ``spark-submit --py-files`` run
whose job executes a pandas-UDF stage, which forces every EXECUTOR
python worker to re-import the numpy kernels from the zip — the
cluster-shaped proof that the zip is the complete deployable artifact.
"""

from __future__ import annotations

import os
import subprocess
import sys

from uncp_spark.deploy import build_pyfiles_zip, spark_submit_cmd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zipimports_without_repo_on_path(tmp_path):
    zip_path = build_pyfiles_zip(str(tmp_path / "uncp_spark.zip"))
    code = "\n".join([
        "import sys",
        f"sys.path.insert(0, {zip_path!r})",
        "import uncp_spark",
        "import uncp_spark.plans.pipeline",
        "import uncp_spark.plans.incremental",
        "import uncp_spark.functions.kernels",
        f"assert uncp_spark.__file__.startswith({zip_path!r}), uncp_spark.__file__",
        "print('ZIPIMPORT_OK')",
    ])
    env = {**os.environ, "PYTHONPATH": ""}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd="/", env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert "ZIPIMPORT_OK" in out.stdout, out.stdout + out.stderr


def test_spark_submit_pyfiles_runs_udf_stage(tmp_path):
    """End-to-end: spark-submit --py-files zip app.py, where the app runs
    the fused signature stage — driver imports from the zip AND executor
    workers unpickle the UDF by module reference, re-importing
    uncp_spark.functions.kernels from the shipped zip."""
    zip_path = build_pyfiles_zip(str(tmp_path / "uncp_spark.zip"))
    app = tmp_path / "app.py"
    app.write_text(
        "\n".join([
            "import uncp_spark",
            "assert '.zip' in uncp_spark.__file__, uncp_spark.__file__",
            "from pyspark.sql import SparkSession",
            "from uncp_spark.config import SimilarityConfig",
            "from uncp_spark.operators.ingest import ingest",
            "from uncp_spark.operators.signatures import signature_table",
            "spark = (SparkSession.builder",
            "         .config('spark.sql.shuffle.partitions', '4')",
            "         .config('spark.ui.enabled', 'false').getOrCreate())",
            "rows = [('o/r', f'f{i}.py', 'c1', 'py',",
            "         ' '.join(f'tok{i}_{j}' for j in range(40)))",
            "        for i in range(16)]",
            "repos = spark.createDataFrame(rows,",
            "    'repo string, path string, commit string, lang string,'",
            "    ' content string')",
            "sigs = signature_table(ingest(repos), SimilarityConfig())",
            "n = sigs.select('file_id', 'minhash').count()",
            "assert n == 16, n",
            "print('SUBMIT_OK', n)",
        ])
    )
    env = {**os.environ, "PYTHONPATH": "", "PYSPARK_PYTHON": sys.executable}
    cmd = spark_submit_cmd(str(app), zip_path, master="local[2]",
                           driver_memory="2g")
    out = subprocess.run(
        cmd, cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "SUBMIT_OK 16" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
