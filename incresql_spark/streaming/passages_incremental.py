"""Incremental passage-boilerplate dedup — retroactive keep-flag
maintenance over a growing corpus.

Batch ``dedup_passages`` re-tokenizes and re-chunks the WHOLE corpus per
run.  Worse than minhash, its output is **not append-only**: a newly
arrived document can push an old chunk over the shared threshold
(``PASSAGE_SHARED_MIN_DOCS`` distinct docs), which retroactively raises
OLD documents' boilerplate fraction and can flip their ``keep`` flag.
That makes it the textbook incremental-view-maintenance case (the
reference's continuous-query goal, storage/src/storage.rs:26-65): the
maintained result must emit *updates* for previously-output rows, which
the FreqTable multiset layer expresses as a -1/+1 segment pair — the same
retraction mechanics the MV layer uses for retractable aggregates
(materialize.py).

State (FreqTable segments under ``state_dir``):

* ``chunks`` — (doc_id, chunk_hash), one multiset instance per chunk
  occurrence (``__freq`` folds within-doc repeats).  Digests only; text
  is tokenized exactly once, on arrival.
* ``results`` — the maintained per-doc output table, identical schema to
  the batch operator.

Per ``add_batch(docs)``:

1. chunk + digest the DELTA only (``doc_chunks_df`` — the batch
   operator's code path, so digests are byte-identical);
2. find chunks whose distinct-doc count CROSSES the shared threshold in
   this batch (history contributes counts via one digest-keyed join —
   old bodies are never re-read);
3. changed docs = delta docs ∪ history docs holding a crossing chunk;
   recompute stats for those docs only;
4. retract the changed docs' old result rows (freq −1) and insert the
   new ones (freq +1) — ``current()`` always equals the batch operator
   over everything ingested so far (asserted byte-identical in
   tests/test_passages_incremental.py, including a batch split chosen so
   batch 2 flips a batch-1 doc's keep flag).

Scale: per batch, tokenization is O(|delta|); every join keys on 16-byte
md5 digests or doc_ids; the history side contributes one segment scan of
(doc_id, chunk_hash) pairs (merged map-side by the FreqTable scan), and
only crossing chunks / changed docs flow any further.  Nothing collects
to the driver — the changed-row batch is pinned executor-side
(``plans.layout.materialize``), since a threshold-crossing boilerplate
chunk can flip arbitrarily many history rows at once.

Assumes doc_ids are unique across batches (an upsert of a CHANGED body
for an existing doc_id would need a chunks-state retraction first —
out of scope, as in the reference's INSERT-only continuous tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frequency import FREQ, FreqTable
from ..plans.layout import materialize_alongside, release
from ..operators.dedup import (
    PASSAGE_MAX_SHARED_FRAC,
    PASSAGE_SHARED_MIN_DOCS,
    PASSAGE_TOKENS,
    doc_chunks_df,
)
from ._geometry import pin_geometry, unpin_geometry

_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_hash", T.StringType()),
    ]
)
_RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_chunks", T.LongType()),
        T.StructField("n_shared_chunks", T.LongType()),
        T.StructField("shared_frac", T.DoubleType()),
        T.StructField("keep", T.BooleanType()),
    ]
)


class IncrementalPassagesDedup:
    """Materialized passage-dedup state + per-batch delta maintenance."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 fence: bool = False):
        self.spark = spark
        self.state_dir = state_dir
        self.chunks = FreqTable(spark, f"{state_dir}/chunks")
        self.results = FreqTable(spark, f"{state_dir}/results")
        if fence:
            # single-writer fence over both state tables (see commit.py)
            self.chunks.acquire_writer_fence()
            self.results.acquire_writer_fence()
        # chunk geometry is frozen with the state: digests of differently
        # sized chunks never match, so a changed PASSAGE_TOKENS in a newer
        # build must refuse this state rather than silently stop dedup
        pin_geometry(
            state_dir,
            {
                "passage_tokens": PASSAGE_TOKENS,
                "shared_min_docs": PASSAGE_SHARED_MIN_DOCS,
                "max_shared_frac": PASSAGE_MAX_SHARED_FRAC,
            },
        )

    def _ensure_state(self) -> None:
        if not self.chunks.exists():
            self.chunks.create(_CHUNKS_SCHEMA)
        if not self.results.exists():
            self.results.create(_RESULTS_SCHEMA)

    def add_batch(self, docs: DataFrame) -> DataFrame:
        """Ingest a delta of ``documents``-shaped rows (doc_id, text);
        return every result row that changed — new docs' rows plus the
        UPDATED rows of history docs whose chunks just became shared."""
        self._ensure_state()
        # One computation, three reads (count join, state append, stats).
        delta = doc_chunks_df(docs).persist()
        pins = [delta]  # unpersisted on the way out, failure or not
        try:
            # Distinct-doc contribution of the delta per chunk digest.
            delta_counts = delta.groupBy("chunk_hash").agg(
                F.countDistinct("doc_id").alias("d_new")
            )

            # Pre-batch history pairs (scan BEFORE the append below).  Unmerged:
            # chunks state is append-only with batch-unique doc_ids (module
            # contract above), so the cross-segment merge is a no-op — skipping
            # it removes a state-wide shuffle per scan (the cost that made the
            # delta path degrade with corpus size: 28.8s → 3.1s at 500k docs).
            hist = self.chunks.scan(expand=False, merged=False).select(
                "doc_id", "chunk_hash"
            )

            # Chunks crossing the shared threshold in THIS batch: history count
            # for the delta's digests only (digest-keyed join), old < MIN <= new.
            hist_counts = (
                hist.join(delta_counts.select("chunk_hash"), "chunk_hash")
                .groupBy("chunk_hash")
                .agg(F.countDistinct("doc_id").alias("d_old"))
            )
            crossing = (
                delta_counts.join(hist_counts, "chunk_hash", "left")
                .withColumn("d_old", F.coalesce("d_old", F.lit(0)))
                .filter(
                    (F.col("d_old") < PASSAGE_SHARED_MIN_DOCS)
                    & (F.col("d_old") + F.col("d_new") >= PASSAGE_SHARED_MIN_DOCS)
                )
                .select("chunk_hash")
            )

            # History docs affected by a crossing chunk + the delta's docs.
            changed_docs = (
                hist.join(crossing, "chunk_hash")
                .select("doc_id")
                .union(delta.select("doc_id"))
                .distinct()
            ).persist()
            pins.append(changed_docs)

            # Append the delta FIRST so the stats recompute reads one unified
            # post-batch state (FreqTable segments are immutable; the plans
            # above captured the pre-batch segment list already).
            self.chunks.insert(delta.select("doc_id", "chunk_hash"))

            all_pairs = self.chunks.scan(expand=False, merged=False)
            changed_rows = all_pairs.join(changed_docs, "doc_id").persist()
            pins.append(changed_rows)
            # Shared set restricted to digests the changed docs actually hold.
            shared = (
                all_pairs.join(
                    changed_rows.select("chunk_hash").distinct(), "chunk_hash"
                )
                .groupBy("chunk_hash")
                .agg(F.countDistinct("doc_id").alias("n_docs"))
                .filter(F.col("n_docs") >= PASSAGE_SHARED_MIN_DOCS)
                .select("chunk_hash", F.lit(1).alias("is_shared"))
            )
            new_rows = (
                changed_rows.join(shared, "chunk_hash", "left")
                .groupBy("doc_id")
                .agg(
                    F.sum(FREQ).alias("n_chunks"),
                    F.sum(
                        F.when(F.col("is_shared").isNotNull(), F.col(FREQ)).otherwise(
                            F.lit(0)
                        )
                    ).alias("n_shared_chunks"),
                )
                .withColumn(
                    "shared_frac",
                    F.col("n_shared_chunks").cast("double")
                    / F.col("n_chunks").cast("double"),
                )
                .withColumn("keep", F.col("shared_frac") < PASSAGE_MAX_SHARED_FRAC)
            )
            # Pin the changed-row batch before mutating the results state (the
            # retraction below must see the PRE-update rows, and returning a
            # plan that re-reads state after two more segments land would be a
            # lazy-evaluation trap for callers).  materialize() pins it
            # executor-side — a threshold-crossing chunk in a boilerplate-heavy
            # crawl can flip millions of history rows, which must never
            # round-trip the driver.  Callers may layout.release(out) when done.
            # Upsert = retraction segment (freq −1 of the old rows) + insert.
            # ``old_rows`` pins the PRE-update results segments at scan time,
            # so its retraction write can run CONCURRENTLY with the new-rows
            # materialization (guide §2.6, the minhash maintainer's r18
            # shape) — the two read disjoint pinned inputs and the write
            # lands on the results dir the materialization never touches.
            # The +1 insert stays AFTER both: same table, and the writer seq
            # discipline keeps segment commits single-file-ordered.
            old_rows = self.results.scan().join(changed_docs, "doc_id").select(
                *[f.name for f in _RESULTS_SCHEMA.fields]
            )
            # both frames are unique per doc_id — skip the in-batch merge
            out = materialize_alongside(
                new_rows.select(*[f.name for f in _RESULTS_SCHEMA.fields]),
                lambda: self.results.insert(old_rows, freq=-1,
                                            assume_distinct=True),
            )
            try:
                self.results.insert(out, assume_distinct=True)
            except BaseException:
                release(out)
                raise
            return out
        finally:
            for df in pins:
                df.unpersist()

    def current(self) -> DataFrame:
        """The maintained result table — equals batch ``dedup_passages``
        over every ingested document."""
        self._ensure_state()
        return self.results.scan().orderBy("doc_id")

    def drop(self) -> None:
        self.chunks.drop()
        self.results.drop()
        unpin_geometry(self.state_dir)
