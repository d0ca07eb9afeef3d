"""F7 — timestamp → ns-epoch conversions.

Reference parity: uncp stores every time as an i64 of *nanoseconds*
since the Unix epoch — file mtimes and the per-row ``last_processed``
stamp (src/data.rs:241-246, ``timestamp_nanos_opt``), and the
``first_seen`` column of every relation table (src/relations.rs:330,
360,386). Spark timestamps carry microsecond precision, so ts → ns is
exact (µs × 1000).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def timestamp_to_ns(col: Column) -> Column:
    """timestamp → i64 ns-epoch (exact: Spark timestamps are µs). NTZ
    inputs are interpreted in the session timezone (pinned UTC)."""
    return (F.unix_micros(col.cast("timestamp")) * F.lit(1000)).cast("long")


def now_ns(spark=None) -> Column:
    """Query-stable 'now' as i64 ns-epoch (uncp's Utc::now().timestamp_
    nanos, data.rs:245): current_timestamp() is fixed per query, so all
    rows of one ingest share one processed_at, like one engine tick."""
    return timestamp_to_ns(F.current_timestamp())
