"""Incremental passage dedup: N-batch run ≡ batch operator, WITH updates.

Unlike minhash, the passage operator's output is not append-only — a new
batch can push a chunk over the shared threshold and retroactively change
an OLD doc's boilerplate fraction / keep flag.  The maintainer must emit
those rows as updates (FreqTable −1/+1 retraction), and ``current()``
must always equal batch ``dedup_passages`` over everything ingested.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incresql_spark.catalog import load_table
from incresql_spark.operators.dedup import dedup_passages
from incresql_spark.streaming.passages_incremental import IncrementalPassagesDedup
from tests.conftest import SF_SMALL


@pytest.fixture()
def state_dir(tmp_path):
    return str(tmp_path / "passages_state")


def _rows(df):
    return sorted(tuple(r) for r in df.select(
        "doc_id", "n_chunks", "n_shared_chunks", "shared_frac", "keep"
    ).collect())


def test_two_batch_incremental_equals_batch(spark, state_dir):
    docs = load_table(spark, SF_SMALL, "documents")
    split = docs.agg({"doc_id": "max"}).first()[0] * 6 // 10
    batch1 = docs.filter(docs.doc_id <= split)
    batch2 = docs.filter(docs.doc_id > split)
    b1_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    assert b1_ids and batch2.count() > 0

    inc = IncrementalPassagesDedup(spark, state_dir)
    out1 = inc.add_batch(batch1)

    # Mid-stream invariant: state == batch semantics over batch 1 alone
    # (sharing computed within the ingested half only, via the same
    # helper chain the operator uses).
    from incresql_spark.operators.dedup import (
        PASSAGE_MAX_SHARED_FRAC,
        PASSAGE_SHARED_MIN_DOCS,
        doc_chunks_df,
    )

    def batch_over(d):
        chunks = doc_chunks_df(d)
        shared = (
            chunks.groupBy("chunk_hash")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .filter(F.col("n_docs") >= PASSAGE_SHARED_MIN_DOCS)
            .select("chunk_hash", F.lit(1).alias("is_shared"))
        )
        return (
            chunks.join(shared, "chunk_hash", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.coalesce(F.col("is_shared"), F.lit(0))).alias(
                    "n_shared_chunks"
                ),
            )
            .withColumn(
                "shared_frac",
                F.col("n_shared_chunks").cast("double")
                / F.col("n_chunks").cast("double"),
            )
            .withColumn("keep", F.col("shared_frac") < PASSAGE_MAX_SHARED_FRAC)
        )

    assert _rows(inc.current()) == _rows(batch_over(batch1))
    assert _rows(out1) == _rows(batch_over(batch1))

    out2 = inc.add_batch(batch2)

    # Final invariant: maintained table == the registered batch operator
    # over the full corpus, byte-identical.
    assert _rows(inc.current()) == _rows(dedup_passages(spark, SF_SMALL))

    # Retroactivity: batch 2 must have UPDATED at least one batch-1 doc
    # (a chunk crossed the shared threshold only once both halves were in).
    updated_old = {r.doc_id for r in out2.collect()} & b1_ids
    assert updated_old, "expected retroactive updates to batch-1 docs"

    # And those updates are real value changes, not no-op rewrites.
    v1 = {r[0]: r for r in _rows(out1)}
    changed = [
        r for r in _rows(out2) if r[0] in v1 and v1[r[0]] != r
    ]
    assert changed, "batch-2 updates must change batch-1 values"

    # Retraction hygiene: exactly one live row per doc after the upsert.
    cnt = (
        inc.current().groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    assert cnt == 0


def test_three_batch_and_fresh_reader(spark, state_dir):
    """Order-robustness across 3 uneven batches + a fresh maintainer
    instance reading the same state dir sees the identical table."""
    docs = load_table(spark, SF_SMALL, "documents")
    inc = IncrementalPassagesDedup(spark, state_dir)
    for cond in (
        docs.doc_id % 3 == 0,
        docs.doc_id % 3 == 1,
        docs.doc_id % 3 == 2,
    ):
        inc.add_batch(docs.filter(cond))

    expected = _rows(dedup_passages(spark, SF_SMALL))
    assert _rows(inc.current()) == expected

    fresh = IncrementalPassagesDedup(spark, state_dir)
    assert _rows(fresh.current()) == expected


def test_passages_geometry_pinned_with_state(spark, tmp_path):
    """Chunk geometry rides with the state: a different PASSAGE_TOKENS in
    a newer build must refuse existing chunk digests, not silently stop
    deduplicating against history."""
    import json
    import os

    import pytest

    inc = IncrementalPassagesDedup(spark, str(tmp_path / "pp_state"))
    geo_path = os.path.join(str(tmp_path / "pp_state"), "_geometry.json")
    assert os.path.exists(geo_path)
    with open(geo_path) as fh:
        geo = json.load(fh)
    geo["passage_tokens"] = geo["passage_tokens"] * 2
    with open(geo_path, "w") as fh:
        json.dump(geo, fh)
    with pytest.raises(ValueError, match="geometry mismatch"):
        IncrementalPassagesDedup(spark, str(tmp_path / "pp_state"))
    inc.drop()
    IncrementalPassagesDedup(spark, str(tmp_path / "pp_state"))


def test_failed_state_append_releases_its_pins(spark, state_dir, monkeypatch):
    """A failed results append surfaces its own error and leaves nothing
    persisted: the delta, changed-doc and changed-row frames and the
    materialized new rows are all released."""
    from incresql_spark.plans.layout import release
    from tests.test_refresh_pipeline import _persisted

    docs = load_table(spark, SF_SMALL, "documents")
    inc = IncrementalPassagesDedup(spark, state_dir)
    release(inc.add_batch(docs.filter(docs.doc_id % 2 == 0)))  # history
    err = RuntimeError("injected results append failure")

    def failing(*args, **kwargs):
        raise err

    monkeypatch.setattr(inc.results, "insert", failing)
    before = _persisted(spark)
    with pytest.raises(RuntimeError) as info:
        inc.add_batch(docs.filter(docs.doc_id % 2 == 1))
    assert info.value is err
    assert _persisted(spark) - before == set()
