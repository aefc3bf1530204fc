"""Incremental Bloom filter — eval-set contamination-screen maintenance
over an append-only stream of benchmark documents without rebuilds, the
last cell of the sketch-maintainer matrix (HLL max-merge, CMS sum-merge,
quantile min-k-merge — round 16 adds Bloom OR-merge).  The reference's
own merge-operator idea (storage/src/storage.rs:115-150, the freq-merge
RocksDB operator) applied to the m-bit screen of dedup.py.

``dedup_contamination_bloom`` folds the WHOLE eval corpus's shingles into
the m-bit set every run; when a new benchmark document lands, that is a
full eval-corpus rescan for a state change of at most k bits.  A Bloom
bit set is PERFECTLY mergeable — the bit set of a union of eval batches
is the bitwise OR of the batches' bit sets (OR is commutative,
associative, idempotent) — and on the engine's sparse representation
(the frame of distinct set ``idx`` positions) OR is just union +
distinct.  The maintainer keeps that frame as manifest-versioned
AggState (the same hash-bucketed commit machinery the MV family uses,
fence-capable for HA writers) and, per eval delta batch:

1. computes the DELTA's bit positions with ``bloom_bits`` — the exact
   code path of the batch operator, so values are byte-identical;
2. OR-merges them into the state (``AggState.merge_all``): read (at most
   m = 65,536 rows), union, distinct, write new bucket versions — O(m)
   regardless of how many eval docs ever streamed through;
3. ``screen()`` runs the batch operator's own ``bloom_screen`` over a
   training frame with the maintained bits.

Because the merge is exact, the maintained screen after N eval waves
EQUALS ``dedup_contamination_bloom`` with the full eval set — which is
exactly what the DuckDB oracle recomputes for the
``dedup_contamination_bloom_incremental`` gate query (the strongest
evidence class: a from-scratch batch recompute on an independent
engine).  Bloom's no-false-negatives guarantee is preserved wave by
wave: bits are only ever ADDED, so anything the exact overlap would
flag is already Bloom-positive after the wave that carried it.

Scale: each wave scans only its eval delta; the state exchange is
bounded at m rows; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..materialize import AggState
from ..operators.dedup import bloom_bits, bloom_screen


class IncrementalBloom:
    """Materialized Bloom bit-set state + per-batch OR-merge.

    ``state_dir`` holds one AggState keyed on ``idx``.
    ``add_eval_batch(ev)`` merges an eval-shingle frame's bits;
    ``screen(tr)`` runs the production screen over a training
    (train_doc_id, shingle) frame against the maintained bits."""

    #: the bit frame never exceeds m = 65,536 rows — two buckets keep
    #: per-bucket files comfortably sized without tiny-file spray
    NUM_BUCKETS = 2

    def __init__(self, spark: SparkSession, state_dir: str,
                 fence: bool = False):
        self.spark = spark
        self.state = AggState(spark, state_dir, num_buckets=self.NUM_BUCKETS)
        if fence:
            self.state.acquire_writer_fence()

    def add_eval_batch(self, ev: DataFrame) -> None:
        """OR-merge an eval batch's bits into the state.  ``ev`` is any
        frame with a ``shingle`` column (need not be distinct)."""
        # the merge's distinct dedups the delta's bits as well
        self.state.merge_all(bloom_bits(ev), ["idx"], DataFrame.distinct)

    def bits(self) -> DataFrame | None:
        return self.state.read()

    def screen(self, tr: DataFrame) -> DataFrame:
        """Production Bloom screen of ``tr`` (train_doc_id, shingle)
        against the maintained bit set."""
        bits = self.state.read()
        if bits is None:
            raise ValueError("no eval batches ingested yet")
        return bloom_screen(tr, bits)
