"""Incremental HyperLogLog — distinct-count maintenance over an
append-only stream without rescans, the sketch-side instance of the
reference's changelog-consuming operator goal (storage/src/storage.rs:
26-65: "operators … keep track of where they're up to").

``op_hll_distinct`` recomputes registers from the whole corpus; at 100 TB
that is a full scan when only a sliver of new rows arrived.  HLL registers
are PERFECTLY mergeable — the registers of a union of batches are the
per-key MAX of the batches' registers (max is commutative, associative,
idempotent) — so the maintainer keeps the (name, register) frame as
manifest-versioned AggState (the same hash-bucketed commit machinery the
MV family uses, fence-capable for HA writers) and, per delta batch:

1. computes the DELTA's registers with ``hll_registers`` — the exact code
   path of the batch operator, so values are byte-identical;
2. max-merges them into the state (``AggState.merge_all``): read (at
   most |columns| x m = 12k rows), union, groupBy max, write new bucket
   versions — O(m) regardless of how much data ever streamed through;
3. ``estimate()`` finalizes the maintained registers through the batch
   operator's own ``hll_finalize`` arithmetic.

Because the merge is exact, the maintained estimate after N waves EQUALS
``op_hll_distinct`` over the union of the waves — which is exactly what
the DuckDB oracle recomputes for the ``op_hll_incremental`` gate query
(the strongest evidence class: a from-scratch batch recompute on an
independent engine).

Scale: each wave scans only its delta; the state exchange is bounded at
columns x m register rows; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import AggState
from ..operators.relational import (
    HLL_P,
    hll_finalize,
    hll_registers,
    hll_values,
)


class IncrementalHll:
    """Materialized HLL register state + per-batch max-merge.

    ``state_dir`` holds one AggState keyed (*keys, j).  ``add_batch(df)``
    merges a lineitem batch's registers through the default per-column
    values frame; ``add_batch_values(vals)`` takes any (*keys, val)
    frame — the grouped maintainer's entrypoint (keys=("g", "name"),
    round 15).  ``estimate(exact)`` finalizes the current state
    (``exact`` is the verification-only per-key exact count frame the
    batch operator also carries).  Geometry (p) and keys are pinned at
    construction — sketches of different shapes never merge."""

    NUM_BUCKETS = 4

    def __init__(self, spark: SparkSession, state_dir: str,
                 fence: bool = False, keys: tuple[str, ...] = ("name",),
                 p: int = HLL_P):
        self.spark = spark
        self.keys = list(keys)
        self.p = p
        self.state = AggState(spark, state_dir, num_buckets=self.NUM_BUCKETS)
        if fence:
            self.state.acquire_writer_fence()

    def add_batch(self, df: DataFrame) -> None:
        """Max-merge a lineitem batch's registers into the state."""
        self.add_batch_values(hll_values(df))

    def add_batch_values(self, vals: DataFrame) -> None:
        """Max-merge the registers of any (*keys, val) frame."""
        self.state.merge_all(
            hll_registers(vals, self.p, tuple(self.keys)), self.keys + ["j"],
            lambda df: df.groupBy(*self.keys, "j")
            .agg(F.max("mj").alias("mj")),
        )

    def registers(self) -> DataFrame | None:
        return self.state.read()

    def estimate(self, exact: DataFrame) -> DataFrame:
        regs = self.state.read()
        if regs is None:
            raise ValueError("no batches ingested yet")
        return hll_finalize(regs, exact, self.p, tuple(self.keys))
