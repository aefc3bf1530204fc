"""Incremental bottom-k quantile sketch — quantile maintenance over an
append-only stream without rescans, completing the incremental sketch
family (HLL max-merge, CMS sum-merge, bottom-k min-k-merge); the
sketch-side instance of the reference's changelog-consuming operator goal
(storage/src/storage.rs:26-65).

``op_quantile_sketch`` samples the whole corpus; at 100 TB that is a full
scan when only a sliver of new rows arrived.  The bottom-k state is
PERFECTLY mergeable — the k smallest hashes of a union are the k smallest
of the parts' bottom-k frames (min-k is commutative, associative and
idempotent, the same property class as HLL's register max) — so the
maintainer keeps the (v, h) frame as manifest-versioned AggState and, per
delta batch:

1. computes the DELTA's bottom-k with the batch operator's own ordering
   (ORDER BY h, v LIMIT k — TakeOrderedAndProject, exchange bounded at
   k x tasks rows);
2. min-k-merges it into the state (``AggState.merge_all``): read, union,
   re-apply bottom-k, write — O(k) regardless of the data streamed;
3. ``estimate(base)`` finalizes the maintained sample through the batch
   operator's own ``quantile_finalize`` arithmetic.

Because the merge is exact, the maintained sample after N waves EQUALS
the batch sample over the union of the waves — which is exactly what the
DuckDB oracle recomputes for the ``op_quantile_incremental`` gate query
(the op_hll_incremental / text_cms_incremental evidence pattern).

Idempotence note: unlike CMS's sum-merge, min-k-merge IS idempotent —
replaying a delta changes nothing — so the maintainer tolerates at-least-
once wave delivery, not just AggState's exactly-once manifest protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..materialize import AggState
from ..operators.relational import QSK_K, quantile_finalize


class IncrementalQuantile:
    """Materialized bottom-k state + per-batch min-k-merge.

    ``state_dir`` holds one AggState of (v, h) rows bucketed on h.
    ``add_batch(base)`` merges a delta's (v, h) frame (see
    ``quantile_base``); ``estimate(base, verify=)`` finalizes the current
    sample (``base`` supplies the row count — and, under verify, the
    exact-rank ride-along — over the full corpus)."""

    NUM_BUCKETS = 4

    def __init__(self, spark: SparkSession, state_dir: str,
                 k: int = QSK_K, fence: bool = False):
        self.spark = spark
        self.k = k
        self.state = AggState(spark, state_dir, num_buckets=self.NUM_BUCKETS)
        if fence:
            self.state.acquire_writer_fence()

    def add_batch(self, base: DataFrame) -> None:
        """Min-k-merge the batch's bottom-k into the maintained state."""
        # the merge dedups before its bottom-k on every write, the first
        # included: the sample keeps set semantics (round-15 advice: the
        # batch operator keeps (h, v) multiset duplicates, so a 60-bit
        # hash collision with equal values — probability ~2^-60 — could
        # otherwise make the first-batch sample diverge from a later
        # merge of the same rows), and replayed deltas are true no-ops
        # (the idempotence claim above): without it a replayed row would
        # occupy two sample slots and evict a legitimate one.  The frames
        # are <= 2k rows.
        self.state.merge_all(
            base.orderBy("h", "v").limit(self.k), ["h"],
            lambda df: df.dropDuplicates(["h", "v"])
            .orderBy("h", "v").limit(self.k),
        )

    def sample(self) -> DataFrame | None:
        return self.state.read()

    def estimate(self, base: DataFrame, verify: bool = True) -> DataFrame:
        s = self.state.read()
        if s is None:
            raise ValueError("no batches ingested yet")
        return quantile_finalize(base, s, verify)


class IncrementalQuantileGrouped:
    """Per-GROUP bottom-k state + min-k-merge (round 15): the grouped
    sibling of IncrementalQuantile, maintaining op_quantile_grouped's
    per-group sample.  State is the (g, v, h) frame bounded at
    k x |groups| rows; the per-group bottom-k on both the delta and the
    merge goes through ``quantile_grouped_sample`` — the batch operator's
    own code path (WindowGroupLimit bounds per-partition forwarding), so
    the maintained sample after N waves EQUALS the batch sample over the
    union and finalizing reproduces ``op_quantile_grouped`` row-for-row.
    Min-k-merge per group is idempotent, as in the global maintainer."""

    NUM_BUCKETS = 4

    def __init__(self, spark: SparkSession, state_dir: str,
                 k: int | None = None, fence: bool = False):
        from ..operators.relational import QSK_GROUP_K

        self.spark = spark
        self.k = QSK_GROUP_K if k is None else k
        self.state = AggState(spark, state_dir, num_buckets=self.NUM_BUCKETS)
        if fence:
            self.state.acquire_writer_fence()

    def add_batch(self, base: DataFrame) -> None:
        """Min-k-merge the batch's per-group bottom-k into the state."""
        from ..operators.relational import quantile_grouped_sample

        # the merge dedups before every bottom-k for set semantics under
        # 60-bit hash collisions, as in the global maintainer
        self.state.merge_all(
            quantile_grouped_sample(base, self.k), ["g", "h"],
            lambda df: quantile_grouped_sample(
                df.dropDuplicates(["g", "h", "v"]), self.k),
        )

    def sample(self) -> DataFrame | None:
        return self.state.read()

    def estimate(self, base: DataFrame, verify: bool = True) -> DataFrame:
        from ..operators.relational import quantile_grouped_finalize

        s = self.state.read()
        if s is None:
            raise ValueError("no batches ingested yet")
        return quantile_grouped_finalize(base, s, verify)
