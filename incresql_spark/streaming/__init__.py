"""Continuous surface (reference SURVEY §2.5).

The reference built scaffolding for continuous queries (freq model,
retractable aggregates, MVCC log sections) but never shipped the
incremental planner.  Here the intent is realized as delta consumption,
not as Spark streaming state: a maintainer keeps materialized state and
folds in each newly appended batch (the reference's "operators keep
track of where they're up to", storage/src/storage.rs:26-65).

- ``*_incremental.py`` — the sketch maintainers (HLL, Count-Min, Bloom,
  bottom-k quantile) and the near-dup index maintainers (MinHash,
  passages, embeddings), each with a batch twin in ``operators``.
- ``sessionize.py`` — gap-based sessionization as a batch window-function
  query (oracle-checkable).
"""
