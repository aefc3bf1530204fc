"""Incremental MinHash-LSH dedup — the reference's unfinished continuous
goal (storage/src/storage.rs:26-65: operators consuming table deltas)
applied to the flagship pipeline operator.

Batch ``dedup_minhash_lsh`` recomputes signatures for the WHOLE corpus on
every run; at 100 TB that is the expensive path when only a sliver of new
documents arrived.  This maintainer keeps the LSH band table and the
shingle table as materialized multiset state (FreqTable segments) and,
per delta batch:

1. computes shingles + signatures + band keys for the DELTA only
   (``minhash_bands_long`` — the same code path as the batch operator, so
   band keys are byte-identical);
2. finds candidates as delta-bands ⋈ history-bands plus delta ⋈ delta
   (one equi-join each on (band_id, bk) — only 16-byte band keys shuffle);
3. exact-Jaccard-verifies candidates against the shingle state (the
   verification join fetches ONLY the candidate docs' shingle arrays);
4. appends the delta's bands + shingles as new state segments (O(delta)
   writes — history is never rewritten).

Union of per-batch outputs == the batch operator's output over the full
corpus: every pair (a, b) shares some band bucket in both formulations and
is emitted exactly once, by the batch in which its LATER document arrives
(delta-vs-history orders the pair min/max; delta-vs-delta uses a < b).
``tests/test_minhash_incremental.py`` asserts byte-identical pairs vs the
batch operator and O(delta)-sized state segments.

Scale: per batch, signature work is O(|delta| shingles); the history side
contributes only a band-table scan (N_BANDS rows × ~24 bytes per historic
doc, pruned further by the join's runtime filters) and shingle lookups for
candidates.  Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frequency import FREQ, FreqTable
from ..plans.layout import materialize_alongside
from ..session import overlap
from ..operators.dedup import (
    JACCARD_THRESHOLD,
    N_BANDS,
    N_MINHASH,
    SHINGLES_SPARK,
    doc_shingles_df,
    minhash_bands_long,
    verify_jaccard_pairs,
)
from ._geometry import pin_geometry, unpin_geometry

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
        T.StructField("bk", T.StringType()),
    ]
)
_SHINGLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingles", T.ArrayType(T.StringType())),
        T.StructField("n_shingles", T.IntegerType()),
    ]
)


class IncrementalMinHashDedup:
    """Materialized MinHash-LSH state + per-batch delta maintenance.

    ``state_dir`` holds two FreqTables: ``bands`` (doc_id, band_id, bk) and
    ``shingles`` (doc_id, shingles, n_shingles).  ``add_batch(docs)``
    returns the NEW near-duplicate pairs this delta introduces (both ends
    ordered doc_a < doc_b, same schema as ``dedup_minhash_lsh``).
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 fence: bool = False):
        self.spark = spark
        self.state_dir = state_dir
        self.bands = FreqTable(spark, f"{state_dir}/bands")
        self.shingles = FreqTable(spark, f"{state_dir}/shingles")
        self._deferred_pins: list[DataFrame] = []
        if fence:
            # long-lived maintainers are the natural single-writer owners
            # of their state dirs: claim the writer fence so a second
            # maintainer instance fences this one loudly at its next
            # commit instead of interleaving segment seqs (commit.py)
            self.bands.acquire_writer_fence()
            self.shingles.acquire_writer_fence()
        # Geometry here is all code constants, but state OUTLIVES code: a
        # newer build with different signature/shingle construction must
        # refuse this state, not silently stop matching history.  The
        # shingle expression itself is part of the fingerprint.
        import hashlib

        pin_geometry(
            state_dir,
            {
                "n_minhash": N_MINHASH,
                "n_bands": N_BANDS,
                "jaccard_threshold": JACCARD_THRESHOLD,
                "shingle_expr_md5": hashlib.md5(
                    SHINGLES_SPARK.encode()
                ).hexdigest(),
            },
        )

    def _ensure_state(self) -> None:
        if not self.bands.exists():
            self.bands.create(_BANDS_SCHEMA)
        if not self.shingles.exists():
            self.shingles.create(_SHINGLES_SCHEMA)

    def prepare_batch(
        self, docs: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Compute (and eagerly pin) the delta's shingle and band frames —
        the per-wave signature arithmetic, which depends on ``docs`` alone
        and never on the maintained state.  That independence is the §2.6
        overlap lever for cycle drivers (r19): wave i+1's prepare runs on
        a worker thread concurrently with wave i's candidate-join/verify
        stage, whose tail otherwise leaves most cores idle.  The count
        materializes both caches (bands read through shingles), so the
        signature jobs genuinely run HERE, not lazily inside add_batch.
        Pass the result to ``add_batch(prepared=...)``; both frames are
        unpersisted there."""
        delta_sh = doc_shingles_df(docs).persist()
        delta_bands = minhash_bands_long(delta_sh).persist()
        delta_bands.count()
        return delta_sh, delta_bands

    def add_batch(
        self,
        docs: DataFrame | None,
        prepared: tuple[DataFrame, DataFrame] | None = None,
        defer: bool = False,
    ) -> DataFrame:
        """Ingest a delta of ``documents``-shaped rows (doc_id, text);
        return the verified near-dup pairs involving at least one delta doc.

        Signatures are computed from ``docs`` alone — history participates
        only through the materialized band/shingle state.  ``prepared``
        takes the pre-pinned (delta_sh, delta_bands) pair from
        ``prepare_batch`` (the same code path, so results are identical);
        ``docs`` is unused then.

        ``defer=True`` (r19) returns the pair plan UNevaluated (and
        unordered): the state scans inside it pinned the PRE-batch
        segment list at plan construction and segments are immutable, so
        evaluating it after further batches still reads exactly this
        batch's history — identical rows to the eager path.  A cycle
        driver can then evaluate every wave's pair plan in ONE job at the
        end (guide §1.2 / §2.6: three small straggler-tailed verify jobs
        become one well-packed job).  The state appends still commit
        before returning; the delta pins stay alive until
        ``release_deferred()`` — call it after consuming the result, or
        after a failure: the pins are registered before any job runs.
        """
        self._ensure_state()
        if prepared is not None:
            delta_sh, delta_bands = prepared
        else:
            # Persist: the delta shingle table feeds the signature build,
            # the verify join, and the state append — one computation,
            # three reads.
            delta_sh = doc_shingles_df(docs).persist()
            delta_bands = minhash_bands_long(delta_sh).persist()
        if defer:
            # registered before any job runs, so a failed batch's pins
            # are reclaimed by release_deferred() too
            self._deferred_pins += [delta_sh, delta_bands]
            return self._ingest(delta_sh, delta_bands, defer)
        try:
            return self._ingest(delta_sh, delta_bands, defer)
        finally:
            delta_sh.unpersist()
            delta_bands.unpersist()

    def _ingest(self, delta_sh: DataFrame, delta_bands: DataFrame,
             defer: bool) -> DataFrame:
        """``add_batch`` past the delta pins, which the caller owns."""
        # Unmerged scans: band/shingle state is append-only with
        # batch-unique doc_ids, so the cross-segment freq merge is a no-op
        # — skipping it removes a state-wide shuffle per scan (the cost
        # that would make delta refreshes degrade with corpus size).
        hist_bands = self.bands.scan(expand=False, merged=False)
        da = delta_bands.select(F.col("doc_id").alias("d_id"), "band_id", "bk")

        # delta vs delta: classic a < b self-pairing.
        db = delta_bands.select(F.col("doc_id").alias("doc_b"), "band_id", "bk")
        cand_dd = (
            da.withColumnRenamed("d_id", "doc_a")
            .join(db, ["band_id", "bk"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

        # delta vs history: pair ordered (min, max) so output matches the
        # batch operator regardless of which side arrived first.  (scan()
        # of an empty table is an empty relation, never None — no
        # first-batch special case needed.)
        hb = hist_bands.select(F.col("doc_id").alias("h_id"), "band_id", "bk")
        cand_dh = (
            da.join(hb, ["band_id", "bk"])
            .filter(F.col("d_id") != F.col("h_id"))
            .select(
                F.least("d_id", "h_id").alias("doc_a"),
                F.greatest("d_id", "h_id").alias("doc_b"),
            )
        )
        candidates = cand_dd.unionByName(cand_dh).distinct()

        # Verification shingles: delta docs + (only the referenced) history
        # docs.  The union is the lookup table; the candidate join prunes it.
        all_sh = delta_sh.unionByName(
            self.shingles.scan(expand=False, merged=False).drop(FREQ)
        )
        pairs = verify_jaccard_pairs(candidates, all_sh, all_sh)
        # The two state appends are unique by construction (one row per
        # doc / per (doc, band)), so they skip the in-batch merge shuffle.
        appends = (
            lambda: self.bands.insert(delta_bands, assume_distinct=True),
            lambda: self.shingles.insert(delta_sh, assume_distinct=True),
        )
        if defer:
            overlap(self.spark, *appends)
            return pairs
        # Materialize results BEFORE appending state (the pairs plan reads
        # the pre-batch state scan; FreqTable segments are immutable, so a
        # lazy read after insert would still see only the old segments — the
        # eager pin keeps the contract obvious).  materialize() computes the
        # pair set ONCE and truncates lineage executor-side: the pairs never
        # round-trip the driver, so a near-dup-heavy delta whose pair set
        # exceeds driver memory is fine — the reference keeps deltas in
        # storage, never in the client (storage/src/storage.rs:26-65).
        # Callers that fully consume the result may reclaim its blocks with
        # ``plans.layout.release(out)``.
        #
        # The appends land on independent dirs with independent commits,
        # and the pair materialization's plan reads the PRE-batch segment
        # paths (pinned at plan time above), so all three run as
        # concurrent driver jobs (guide §2.6) — the verify join's stage
        # tail back-fills with the segment writes instead of paying them
        # serially afterwards (r18).  All three read the persisted delta
        # frames, so no recomputation races exist.
        return materialize_alongside(pairs.orderBy("doc_a", "doc_b"),
                                     *appends)

    def release_deferred(self) -> None:
        """Unpersist the delta pins accumulated by ``add_batch(defer=True)``
        calls — safe once the caller has evaluated the returned plans."""
        for df in self._deferred_pins:
            df.unpersist()
        self._deferred_pins.clear()

    def drop(self) -> None:
        self.bands.drop()
        self.shingles.drop()
        unpin_geometry(self.state_dir)
