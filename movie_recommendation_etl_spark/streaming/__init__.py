"""Structured Streaming surface (SURVEY.md §2.11 X1 — a capability the
reference lacks entirely). Batch-equivalent window expressions live in
plans/events_stream.py; this package wires the same expressions into
readStream/writeStream with watermarks:

- ``windows``: event-stream reader, tumbling/session counts, availableNow
  drains (q30's stream arm);
- ``heavy_hitters``: the streaming Misra-Gries twin (q48's stream arm);
- ``decontaminate``: the eval-contamination gate (q76's stream arm);
- ``incremental``: merge-upsert and near-duplicate admission into
  persisted stores."""
