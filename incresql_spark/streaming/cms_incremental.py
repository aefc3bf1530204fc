"""Incremental Count-Min sketch — token-frequency maintenance over an
append-only stream without rescans; the frequency sibling of
streaming/hll_incremental.py and the sketch-side instance of the
reference's changelog-consuming operator goal (storage/src/storage.rs:
26-65: "operators … keep track of where they're up to").

CMS counters are ADDITIVE — the sketch of a union of batches is the
per-(row, bucket) SUM of the batches' sketches (sum is commutative and
associative over disjoint delta streams) — so the maintainer keeps the
(i, b, c) counter frame as manifest-versioned AggState (the same
hash-bucketed commit machinery the MV family uses, fence-capable for HA
writers) and, per delta batch:

1. computes the DELTA's counters with ``cms_sketch`` — the exact code
   path of the batch operator, so values are byte-identical;
2. sum-merges them into the state (``AggState.merge_all``): read (at
   most d x min(w, |vocab|) counters), union, groupBy sum, write new
   bucket versions — O(d*w) regardless of the data ever streamed;
3. ``estimate(cands)`` probes the maintained counters through the batch
   operator's own ``cms_probe`` arithmetic.

Because the merge is exact, the maintained sketch after N waves EQUALS
``cms_sketch`` over the union of the waves — which is exactly what the
DuckDB oracle recomputes for the ``text_cms_incremental`` gate query
(the strongest evidence class: a from-scratch batch recompute on an
independent engine; the op_hll_incremental / dedup_*_incremental
pattern).

Scale: each wave scans only its delta; the state exchange is bounded at
d x w counter rows (d x |vocab| when the vocabulary is smaller); nothing
collects to the driver.  Unlike HLL's idempotent max-merge, sum-merge is
NOT idempotent — replaying the same delta twice double-counts — so the
maintainer relies on AggState's manifest versioning for exactly-once
wave application, the same at-most-once contract the MV refresh cycle
already guarantees.

RETRACTION (round 17 — the reference's retractable-aggregate contract,
functions/src/lib.rs:112-163, ``supports_retract`` :156-162, extended
from the MV family to the sketch family).  Counter addition over the
integers is a GROUP — every wave has an inverse (its negation) — so a
retraction wave is just a sum-merge of NEGATED counters:
``retract_batch(toks)`` / ``retract_batch_counters(delta)`` flip the
sign and reuse the exact add path.  After any merge the state drops
(key, i, b) rows whose counter reached 0, so the maintained frame is
IDENTICAL (not just probe-equivalent) to ``cms_sketch`` over the net
corpus — the grouped report inner-joins probes to the sketch, so a
lingering zero row would resurrect a dead candidate with estimate 0.
Retracting rows never added drives counters negative; that is the
caller's contract violation (exactly the reference's signed-frequency
model, where a DELETE of a row never inserted corrupts the multiset),
and ``estimate`` would then under-report — the same failure the
reference accepts.

THE RETRACTABILITY MATRIX (the one documented place — VERDICT r16
task 2).  A maintainer can accept retraction waves iff its merge
operation forms a group (has inverses), per the reference's own
criterion (its aggregate library carries count/sum/avg, all group-
based, and omits min/max for exactly this reason, SURVEY §2.4):

  - CMS counter SUM  (flat + grouped, THIS module) — group (ℤ, +):
    RETRACTABLE, implemented here.
  - HLL register MAX (hll_incremental.py)  — max is idempotent but has
    NO inverse (knowing max(a, b) = 5 and removing a 5 cannot recover
    whether another 5 remains): NOT retractable; rebuild from the net
    corpus instead.
  - Quantile bottom-k MIN-K (quantile_incremental.py) — same: a
    retracted sample member cannot be replaced without the discarded
    tail; NOT retractable.
  - Bloom bit OR (bloom_incremental.py) — OR saturates (a set bit
    cannot be unset without per-bit counts): NOT retractable; the
    counting-Bloom variant that could retract would multiply state by
    the counter width, which the O(m)-bit broadcast exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import AggState
from ..operators.text import CMS_D, CMS_PROD_W, cms_probe, cms_sketch


class IncrementalCms:
    """Materialized CMS counter state + per-batch sum-merge.

    ``state_dir`` holds one AggState keyed (*keys, i, b).
    ``add_batch(toks)`` sum-merges a flat token batch's counters;
    ``add_batch_counters(delta)`` takes any pre-sketched (*keys, i, b, c)
    frame — the GROUPED maintainer's entrypoint (keys=("g",), round 16:
    the delta comes from text.cms_grouped_sketch, the batch operator's
    own code path).  ``estimate(cands)`` probes the current state for a
    candidate frame (a ``tok`` column, extra columns ride through).
    Geometry and keys are fixed at construction — merging sketches of
    different shapes is meaningless."""

    NUM_BUCKETS = 4

    def __init__(self, spark: SparkSession, state_dir: str,
                 width: int = CMS_PROD_W, depth: int = CMS_D,
                 fence: bool = False, keys: tuple[str, ...] = ()):
        self.spark = spark
        self.width = width
        self.depth = depth
        self.keys = list(keys)
        self.state = AggState(spark, state_dir, num_buckets=self.NUM_BUCKETS)
        if fence:
            self.state.acquire_writer_fence()

    def add_batch(self, toks: DataFrame) -> None:
        """Sum-merge a flat token batch's counters into the state."""
        self.add_batch_counters(cms_sketch(toks, self.width, self.depth))

    def retract_batch(self, toks: DataFrame) -> None:
        """Retract a previously-ingested flat token batch: sum-merge its
        NEGATED counters (counter addition is a group, so this is the
        exact inverse of ``add_batch`` — module docstring).  The caller
        owns the only-retract-what-was-added contract, exactly as with
        the engine's signed-frequency DELETE."""
        self.retract_batch_counters(cms_sketch(toks, self.width,
                                               self.depth))

    def retract_batch_counters(self, delta: DataFrame) -> None:
        """Retract any pre-sketched (*keys, i, b, c) counter frame — the
        GROUPED retraction entrypoint (negate, then the exact add
        path)."""
        self.add_batch_counters(
            delta.withColumn("c", (-F.col("c")).cast("bigint"))
        )

    def add_batch_counters(self, delta: DataFrame) -> None:
        """Sum-merge any (*keys, i, b, c) counter frame into the state.
        Negative counters retract (see retract_batch_counters); rows
        whose counter reaches 0 are PURGED so the maintained frame stays
        identical to the from-scratch sketch of the net corpus."""
        key_cols = self.keys + ["i", "b"]
        # merge_all applies the merge+purge on the bootstrap write too: a
        # caller-supplied counter frame may carry duplicate (*keys, i, b)
        # rows or c<=0 rows (e.g. a first operation that is itself a
        # retraction/correction), and persisting those verbatim would
        # seed a state that is not row-identical to the from-scratch
        # sketch — a later candidate hashing to a lingering c=0 row would
        # read MIN(c)=0, violating the CMS no-underestimate guarantee the
        # purge exists to protect.
        self.state.merge_all(
            delta, key_cols,
            lambda df: df.groupBy(*key_cols)
            .agg(F.sum("c").cast("bigint").alias("c"))
            .filter(F.col("c") != 0),
        )

    def sketch(self) -> DataFrame | None:
        return self.state.read()

    def estimate(self, cands: DataFrame) -> DataFrame:
        """Probe the maintained FLAT sketch.  Grouped instances must go
        through ``sketch()`` + text.cms_grouped_report instead:
        cms_probe joins only on (i, b), so probing a keyed state here
        would blend every group's counters and could return estimates
        BELOW a group's true count — a silent violation of the CMS
        no-underestimate guarantee (round-16 self-review)."""
        if self.keys:
            raise ValueError(
                "estimate() probes a flat sketch; this maintainer is "
                f"grouped (keys={self.keys}) — probe via sketch() + "
                "text.cms_grouped_report"
            )
        sk = self.state.read()
        if sk is None:
            raise ValueError("no batches ingested yet")
        return cms_probe(sk, cands, self.width, self.depth)
