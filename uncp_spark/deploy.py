"""spark-submit --py-files packaging — the deployment seam.

north_rule deployment contract: "run via spark-submit --py-files on a
multi-executor cluster". The engine is a pure-Python package with no
data files, so it ships as one zip importable via zipimport on the
driver AND the executors (the pandas-UDF kernels are pickled by
reference, so every executor re-imports ``uncp_spark.functions.kernels``
from the --py-files zip — tests/test_pyfiles_packaging.py proves both
sides).

On a real cluster:

    spark-submit --master yarn --deploy-mode cluster \\
        --py-files uncp_spark.zip \\
        --conf spark.sql.shuffle.partitions=<executors*cores*2> \\
        app.py
"""

from __future__ import annotations

import os
import shutil
import sys
import zipfile


def build_pyfiles_zip(out_path: str, repo_root: str | None = None) -> str:
    """Zip the ``uncp_spark`` package (source only, no caches) for
    ``spark-submit --py-files``. Returns ``out_path``."""
    if repo_root is None:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo_root, "uncp_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, repo_root))
    return out_path


def find_spark_submit() -> str:
    """Locate spark-submit: $SPARK_HOME/bin, PATH, or pyspark's own
    launcher script (always present alongside the installed package)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        cand = os.path.join(home, "bin", "spark-submit")
        if os.path.exists(cand):
            return cand
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    raise FileNotFoundError("spark-submit not found (SPARK_HOME/PATH/pyspark)")


def spark_submit_cmd(
    app: str,
    pyfiles_zip: str,
    master: str = "local[8]",
    driver_memory: str | None = None,
    conf: dict[str, str] | None = None,
) -> list[str]:
    """Build the spark-submit argv for a --py-files deployment.

    ``driver_memory`` must be passed HERE (not via SparkSession.builder):
    under spark-submit the driver JVM is already running by the time the
    builder sees the conf, so a builder-side spark.driver.memory is
    silently ignored."""
    cmd = [find_spark_submit(), "--master", master,
           "--py-files", pyfiles_zip]
    if driver_memory:
        cmd += ["--driver-memory", driver_memory]
    for k, v in (conf or {}).items():
        cmd += ["--conf", f"{k}={v}"]
    cmd.append(app)
    return cmd
