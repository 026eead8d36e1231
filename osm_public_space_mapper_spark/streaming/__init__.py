"""Structured Streaming operators — engine-side surface beyond the reference.

The reference is strictly one-shot batch (SURVEY.md §2.7: no watermarks,
windows or stateful operators anywhere in it). These modules run the batch
path's expressions on a stream; tests/test_streaming.py drives them with an
availableNow trigger and compares them with the batch results:

  geofence  ``pip_join_expr``: broadcast mask-lookup point-in-polygon
            assignment (the streaming lane of the raster PIP join)
  dedup     exact watermarked dedup, near-dup tombstones over 64-bit
            fingerprints, windowed distinct counts
  windows   event-time window counts, stateful sessionization, per-window
            top-k
  ingest    cell-encode image rows and append each micro-batch to an
            Icelite table with per-partition lineage

Batch resume ("resumable from checkpoint with per-partition lineage") lives
in tables/icelite.py (``commit_resumable``).
"""
