"""T4 — live progress events during a pipeline run.

Reference parity: uncp streams ``SystemProgress { total, processed,
current_item }`` while a system runs (src/systems/mod.rs:57-93, consumed
by the engine loop src/engine.rs:437-461); checkpoint manifests alone
only give POST-HOC per-partition metrics. This bridge emits live rows
(wall-clock ns, pipeline stage, Spark stage id, task totals/progress)
to ``<base_dir>/_metrics/progress.jsonl`` WHILE jobs execute, and
exposes them as a DataFrame/SQL view.

Mechanism: a daemon thread samples ``SparkContext.statusTracker()``
(active stages → StageInfo task counters) every 0.25 s.
A JVM SparkListener via the Py4J callback server would push instead of
poll, but it requires an open callback socket per driver and is the
classic source of shutdown hangs in python drivers; the poller reads
the same scheduler state with no JVM-side registration, degrades to
zero rows when the pipeline is idle, and works identically under
spark-submit. At 1000 executors this is one driver-local RPC per
sample — cost independent of cluster size.

The JSONL file is truncated per run (so repeated runs on one base_dir
never grow it without bound or mix historical runs) and line-atomic
within a run (single writer thread, one ``write`` + ``flush`` per
sample), so concurrent readers — a monitoring tail, ``read_progress``
in another session — always see a prefix of the live run's complete
lines.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession

PROGRESS_SCHEMA = (
    "ts_ns long, run_id string, pipeline_stage string, spark_stage_id int, "
    "stage_name string, num_tasks int, completed_tasks int, active_tasks int, "
    "failed_tasks int"
)
_INTERVAL_S = 0.25  # seconds between samples


class ProgressReporter:
    """Samples active Spark stages into a progress.jsonl metrics table.

    ``set_stage(name)`` attributes subsequent samples to a pipeline
    stage (uncp's ``current_item``); the pipeline calls it at each stage
    boundary and also mirrors it into the Spark job description so the
    UI and the metrics table tell the same story.
    """

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self._spark = spark
        self._dir = out_dir
        self._path = os.path.join(out_dir, "progress.jsonl")
        self._run_id = f"run-{os.getpid()}-{int(time.time())}"
        self._stage = "-"
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------- control

    def set_stage(self, name: str) -> None:
        self._stage = name
        try:
            self._spark.sparkContext.setJobDescription(f"uncp:{name}")
        except Exception:
            pass

    def start(self) -> "ProgressReporter":
        os.makedirs(self._dir, exist_ok=True)
        self._thread = threading.Thread(
            target=self._loop, name="uncp-progress", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    # ------------------------------------------------------------- sampling

    def _loop(self) -> None:
        # single writer; file handle kept open so each sample is one
        # buffered write + flush (line-atomic for readers). Opened "w":
        # the metrics file is truncated PER RUN — append-across-runs grew
        # without bound and made read_progress mix rows from historical
        # runs (all rows still carry run_id for the rare multi-writer
        # case; the live-tail contract within a run is unchanged).
        with open(self._path, "w") as f:
            while not self._stop.is_set():
                for row in self._sample():
                    f.write(json.dumps(row) + "\n")
                f.flush()
                self._stop.wait(_INTERVAL_S)

    def _sample(self) -> list[dict]:
        rows: list[dict] = []
        try:
            st = self._spark.sparkContext.statusTracker()
            now = time.time_ns()
            for sid in st.getActiveStageIds():
                info = st.getStageInfo(sid)
                if info is None:
                    continue
                rows.append(
                    {
                        "ts_ns": now,
                        "run_id": self._run_id,
                        "pipeline_stage": self._stage,
                        "spark_stage_id": int(sid),
                        "stage_name": str(info.name),
                        "num_tasks": int(info.numTasks),
                        "completed_tasks": int(info.numCompletedTasks),
                        "active_tasks": int(info.numActiveTasks),
                        "failed_tasks": int(info.numFailedTasks),
                    }
                )
        except Exception:
            pass  # a sampling hiccup must never kill the pipeline
        return rows


def read_progress(spark: SparkSession, base_dir: str) -> DataFrame:
    """The live metrics table as a DataFrame (queryable mid-run; zero
    rows — not an error — when no run has emitted progress yet)."""
    path = os.path.join(base_dir, "_metrics", "progress.jsonl")
    if not os.path.exists(path):
        return spark.createDataFrame([], PROGRESS_SCHEMA)
    return spark.read.schema(PROGRESS_SCHEMA).json(path)
