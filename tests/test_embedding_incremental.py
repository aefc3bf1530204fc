"""Incremental embedding-LSH dedup: N-batch run ≡ batch operator when the
frozen band width matches what batch derives for the final corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incresql_spark.catalog import load_table
from incresql_spark.operators.dedup import _embed_band_bits, dedup_embedding
from incresql_spark.streaming.embedding_incremental import IncrementalEmbeddingDedup
from tests.conftest import SF_SMALL


def _rows(df):
    return sorted((r.vec_a, r.vec_b, round(r.cosine, 9)) for r in df.collect())


def test_two_batch_incremental_equals_batch(spark, tmp_path):
    vecs = load_table(spark, SF_SMALL, "embeddings")
    n = vecs.count()
    bits = _embed_band_bits(n)

    split = vecs.agg({"vec_id": "max"}).first()[0] * 6 // 10
    b1, b2 = vecs.filter(F.col("vec_id") <= split), vecs.filter(
        F.col("vec_id") > split
    )
    assert 0 < b1.count() < n

    inc = IncrementalEmbeddingDedup(spark, str(tmp_path / "emb_state"), bits)
    p1 = inc.add_batch(b1)
    p2 = inc.add_batch(b2)

    expected = _rows(dedup_embedding(spark, SF_SMALL))
    got = sorted(_rows(p1) + _rows(p2))
    assert got == expected and expected, "incremental union must equal batch"

    # batch 2 must pair against HISTORY vectors, not only within itself
    b1_ids = {r.vec_id for r in b1.select("vec_id").collect()}
    assert any(a in b1_ids for a, _b, _c in _rows(p2)), (
        "expected delta-vs-history pairs"
    )

    # O(delta) state: the second batch appended exactly its own rows
    bands = inc.bands.scan()
    from incresql_spark.operators.dedup import N_EMBED_BANDS

    assert bands.count() == n * N_EMBED_BANDS
    assert inc.vectors.scan().count() == n


def test_frozen_geometry_validated_on_reopen(spark, tmp_path):
    """The LSH geometry an index was built with is frozen state (ADVICE
    r6/r8): reopening the same state dir with different band_bits must
    raise instead of silently mis-bucketing future deltas; a width beyond
    the plane stride is rejected outright; drop() releases the pin."""
    vecs = load_table(spark, SF_SMALL, "embeddings").limit(8)
    inc = IncrementalEmbeddingDedup(spark, str(tmp_path / "geo_state"), 8)
    inc.add_batch(vecs)

    with pytest.raises(ValueError, match="geometry mismatch"):
        IncrementalEmbeddingDedup(spark, str(tmp_path / "geo_state"), 6)
    # same geometry reopens fine
    IncrementalEmbeddingDedup(spark, str(tmp_path / "geo_state"), 8)

    from incresql_spark.operators.dedup import EMBED_BAND_HI

    with pytest.raises(ValueError, match="band_bits"):
        IncrementalEmbeddingDedup(spark, str(tmp_path / "other"), EMBED_BAND_HI + 1)

    inc.drop()  # geometry pin dies with the state
    IncrementalEmbeddingDedup(spark, str(tmp_path / "geo_state"), 6)


def test_failed_state_append_releases_its_pins(spark, tmp_path, monkeypatch):
    """A failed state append surfaces its own error and releases both the
    materialized delta and the pair pin."""
    from incresql_spark.plans.layout import release
    from tests.test_refresh_pipeline import _persisted

    vecs = load_table(spark, SF_SMALL, "embeddings")
    inc = IncrementalEmbeddingDedup(spark, str(tmp_path / "emb_state"),
                                    _embed_band_bits(vecs.count()))
    release(inc.add_batch(vecs.filter(F.col("vec_id") % 2 == 0)))  # history
    err = RuntimeError("injected vectors append failure")

    def failing(*args, **kwargs):
        raise err

    monkeypatch.setattr(inc.vectors, "insert", failing)
    before = _persisted(spark)
    with pytest.raises(RuntimeError) as info:
        inc.add_batch(vecs.filter(F.col("vec_id") % 2 == 1))
    assert info.value is err
    assert _persisted(spark) - before == set()
