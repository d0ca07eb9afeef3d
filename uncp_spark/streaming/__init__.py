"""Streaming ingest (SURVEY.md §2.8).

The reference is not a stream engine — its 'streaming' is a control
loop (src/engine.rs:66-102) plus incremental re-scan; this package
carries the continuous re-scan as a Structured Streaming keep-last
merge (stream_ingest.py). The incremental re-scan's file diff is tier 1
of plans/incremental.incremental_update."""
