"""Incremental embedding near-dup dedup — the third heavy operator given a
materialized-state delta form (after minhash and passages; the reference's
continuous-operator goal, storage/src/storage.rs:26-65).

Batch ``dedup_embedding`` re-projects the WHOLE corpus through the
hyperplane bands per run.  This maintainer keeps the band table and the
(vec_id, embedding, norm) verify table as FreqTable segments; a delta
batch projects only its own vectors, joins its band keys against history
(delta-vs-history + delta-vs-delta — band-key equi-joins, never vectors),
exact-cosine-verifies the candidates, and appends O(delta) state.

One design point batch dedup does not have: the per-band bit width is
FROZEN at maintainer creation (``band_bits``).  The batch operator widens
bands as the corpus grows (``_embed_band_bits(count)``); an incremental
index cannot re-band history lazily, so — like every production LSH
index — it fixes the geometry up front (size it for the corpus you expect)
and a re-band is an explicit state rebuild.  Equivalence to batch
therefore holds whenever ``band_bits`` equals what the batch operator
derives for the final corpus size (asserted in
tests/test_embedding_incremental.py).

Scale: per batch, projection work is O(|delta| · bands · bits); history
contributes band keys (16 bytes/row) through the candidate joins and only
the candidates' embeddings through the verify join.  Nothing collects to
the driver — the per-batch pair list is pinned executor-side
(``plans.layout.materialize``) and handed back as a distributed frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..frequency import FreqTable
from ..operators.dedup import (
    COSINE_THRESHOLD,
    EMBED_BAND_HI,
    N_EMBED_BANDS,
    _DOT_SPARK,
    _NORM_SPARK,
    _embed_band_spark,
)
from ._geometry import pin_geometry, unpin_geometry
from ..plans.layout import materialize, materialize_alongside, release

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
        T.StructField("bk", T.LongType()),
    ]
)


class IncrementalEmbeddingDedup:
    """Materialized hyperplane-LSH state + per-batch delta maintenance."""

    def __init__(self, spark: SparkSession, state_dir: str, band_bits: int,
                 fence: bool = False):
        # the stride between bands is EMBED_BAND_HI physical planes: a band
        # wider than the stride would reuse a neighbouring band's planes
        if not 1 <= band_bits <= EMBED_BAND_HI:
            raise ValueError(
                f"band_bits must be in 1..{EMBED_BAND_HI} (plane stride), "
                f"got {band_bits}"
            )
        self.spark = spark
        self.band_bits = band_bits
        self.state_dir = state_dir
        self.bands = FreqTable(spark, f"{state_dir}/bands")
        self.vectors = FreqTable(spark, f"{state_dir}/vectors")
        if fence:
            # single-writer fence over both state tables (see commit.py)
            self.bands.acquire_writer_fence()
            self.vectors.acquire_writer_fence()
        # The geometry an existing state was built with is FROZEN — a
        # maintainer reopened with different band_bits / band count / plane
        # stride would silently mis-bucket every future delta against
        # history.  Persist it at creation, verify it on reopen.
        pin_geometry(
            state_dir,
            {
                "band_bits": band_bits,
                "n_bands": N_EMBED_BANDS,
                "plane_stride": EMBED_BAND_HI,
                "plane_salt": "dplane",
            },
        )

    def _ensure_state(self, embedding_type: T.DataType) -> None:
        if not self.bands.exists():
            self.bands.create(_BANDS_SCHEMA)
        if not self.vectors.exists():
            self.vectors.create(
                T.StructType(
                    [
                        T.StructField("vec_id", T.LongType()),
                        T.StructField("embedding", embedding_type),
                        T.StructField("norm", T.DoubleType()),
                    ]
                )
            )

    def add_batch(self, vecs: DataFrame) -> DataFrame:
        """Ingest a delta of ``embeddings``-shaped rows (vec_id, embedding);
        return the verified near-dup pairs (vec_a < vec_b, cosine) that
        involve at least one delta vector."""
        self._ensure_state(vecs.schema["embedding"].dataType)
        # Projection folds over literal hyperplanes are megabyte-scale
        # expression trees — materialize once (same rationale as the batch
        # operator's banded table).
        delta = materialize(
            vecs.select(
                "vec_id",
                "embedding",
                F.expr(_NORM_SPARK).alias("norm"),
                *[
                    F.expr(_embed_band_spark(b, self.band_bits)).alias(f"band{b}")
                    for b in range(N_EMBED_BANDS)
                ],
            )
        )
        try:
            return self._ingest(delta)
        finally:
            # Both state inserts have read the materialized delta — free
            # its blocks, or a long-lived maintainer accumulates one block
            # set per batch (the leak the minhash/passages unpersists
            # already avoid).
            release(delta)

    def _ingest(self, delta: DataFrame) -> DataFrame:
        """``add_batch`` past the delta pin, which the caller owns."""
        band_cols = F.array(
            *[
                F.struct(
                    F.lit(b).cast("int").alias("band_id"),
                    F.col(f"band{b}").alias("bk"),
                )
                for b in range(N_EMBED_BANDS)
            ]
        )
        delta_bands = delta.select(
            "vec_id", F.explode(band_cols).alias("bb")
        ).select("vec_id", F.col("bb.band_id").alias("band_id"), F.col("bb.bk").alias("bk"))

        da = delta_bands.select(F.col("vec_id").alias("d_id"), "band_id", "bk")
        db = delta_bands.select(F.col("vec_id").alias("vec_b"), "band_id", "bk")
        cand_dd = (
            da.withColumnRenamed("d_id", "vec_a")
            .join(db, ["band_id", "bk"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
        )
        # Unmerged scans (see the minhash maintainer): append-only state
        # with batch-unique vec_ids — the cross-segment merge is a no-op,
        # skipping it removes a state-wide shuffle per scan.
        hist_bands = self.bands.scan(expand=False, merged=False)
        hb = hist_bands.select(F.col("vec_id").alias("h_id"), "band_id", "bk")
        cand_dh = (
            da.join(hb, ["band_id", "bk"])
            .filter(F.col("d_id") != F.col("h_id"))
            .select(
                F.least("d_id", "h_id").alias("vec_a"),
                F.greatest("d_id", "h_id").alias("vec_b"),
            )
        )
        candidates = cand_dd.unionByName(cand_dh).distinct()

        delta_vecs = delta.select("vec_id", "embedding", "norm")
        all_vecs = delta_vecs.unionByName(
            self.vectors.scan(expand=False, merged=False).drop("__freq")
        )
        a = all_vecs.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("norm").alias("norm_a"),
        )
        b_ = all_vecs.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("norm").alias("norm_b"),
        )
        pairs = (
            candidates.join(a, "vec_a")
            .join(b_, "vec_b")
            .withColumn(
                "cosine", F.expr(_DOT_SPARK) / (F.col("norm_a") * F.col("norm_b"))
            )
            .filter(F.col("cosine") >= COSINE_THRESHOLD)
            .select("vec_a", "vec_b", "cosine")
            .orderBy("vec_a", "vec_b")
        )
        # Pin results before mutating state (as in the minhash maintainer):
        # materialize() computes the pair set once, executor-side — it never
        # round-trips the driver, so pair-heavy deltas scale.  Callers that
        # fully consume the result may reclaim it with layout.release(out).
        #
        # The two state appends are unique by construction (one row per
        # (vec, band) / per vec — skip the in-batch merge shuffle of the
        # embedding payloads), land on independent dirs, and the pairs
        # plan reads the PRE-batch segment paths (pinned at scan time
        # above) plus the already-materialized ``delta`` — so all three
        # run as concurrent driver jobs (guide §2.6, the minhash
        # maintainer's r18 shape).
        return materialize_alongside(
            pairs,
            lambda: self.bands.insert(delta_bands, assume_distinct=True),
            lambda: self.vectors.insert(delta_vecs, assume_distinct=True),
        )

    def drop(self) -> None:
        self.bands.drop()
        self.vectors.drop()
        # geometry dies with the state — a rebuilt index may re-band freely
        unpin_geometry(self.state_dir)
