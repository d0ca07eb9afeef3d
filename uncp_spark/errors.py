"""Typed error taxonomy (reference parity: uncp ``src/error.rs:1-301``
defines a structured error enum — persistence, config, cancellation —
with per-variant tests so driver retry logic can dispatch on TYPE).

The rebuild previously raised ad-hoc ``ValueError``/``RuntimeError``;
these classes make the failure contract testable: a driver wrapping
``DedupPipeline.run`` / ``incremental_update`` can catch

  CheckpointCorruptError   a stage checkpoint is missing or its write
                           never committed — resume from the previous
                           stage / rebuild the stage
  ConfigMismatchError      a checkpoint chain was built under a
                           different SimilarityConfig — rerun batch (or
                           pass the original config); retrying with the
                           same arguments can never succeed
  CancelledError           cooperative cancellation landed — not a
                           failure; rerun resumes from the checkpoints

Every class subclasses both ``UncpSparkError`` and the ad-hoc builtin
it replaces (``ValueError`` / ``RuntimeError``), so pre-existing
callers that caught the builtin keep working.
"""

from __future__ import annotations


class UncpSparkError(Exception):
    """Base class for every typed uncp_spark failure."""


class CheckpointCorruptError(UncpSparkError, RuntimeError):
    """A persisted checkpoint/store is missing, incomplete, or a crash
    left it unrecoverable (uncp PersistError parity)."""


class ConfigMismatchError(UncpSparkError, ValueError):
    """A checkpoint chain was built under a different SimilarityConfig
    than the one this run supplies (signature spaces cannot mix)."""


class CancelledError(UncpSparkError, RuntimeError):
    """Raised at the next cooperative checkpoint after
    ``CancellationToken.cancel()`` (re-exported by plans.cancellation,
    its historical home, so existing ``except`` sites keep working)."""

__all__ = [
    "UncpSparkError",
    "CheckpointCorruptError",
    "ConfigMismatchError",
    "CancelledError",
]
