"""Incremental MinHash-LSH dedup: 2-batch run ≡ batch operator.

The equivalence property (VERDICT r4 task 3): splitting the corpus into
delta batches and unioning each batch's new pairs must reproduce the batch
``dedup_minhash_lsh`` output byte-for-byte, while the second batch's
signature work and state writes are O(delta).
"""

from __future__ import annotations

import pytest

from incresql_spark.catalog import load_table
from incresql_spark.operators.dedup import N_BANDS, dedup_minhash_lsh
from incresql_spark.streaming.minhash_incremental import IncrementalMinHashDedup
from tests.conftest import SF_SMALL


@pytest.fixture()
def state_dir(tmp_path):
    return str(tmp_path / "minhash_state")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_two_batch_incremental_equals_batch(spark, state_dir):
    docs = load_table(spark, SF_SMALL, "documents")
    n = docs.count()
    split = docs.agg({"doc_id": "max"}).first()[0] * 6 // 10
    batch1 = docs.filter(docs.doc_id <= split)
    batch2 = docs.filter(docs.doc_id > split)
    assert 0 < batch1.count() < n

    inc = IncrementalMinHashDedup(spark, state_dir)
    pairs1 = inc.add_batch(batch1)
    pairs2 = inc.add_batch(batch2)

    expected = _rows(dedup_minhash_lsh(spark, SF_SMALL))
    got = sorted(_rows(pairs1) + _rows(pairs2))
    assert got == expected
    # No pair is emitted twice across batches.
    keys = [r[:2] for r in _rows(pairs1) + _rows(pairs2)]
    assert len(keys) == len(set(keys))

    # Batch-1 pairs must be exactly the batch operator restricted to docs
    # that existed then (pairs appear when their LATER doc arrives).
    b1_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    expected_b1 = [r for r in expected if r[0] in b1_ids and r[1] in b1_ids]
    assert _rows(pairs1) == expected_b1


def test_state_segments_are_o_delta(spark, state_dir):
    docs = load_table(spark, SF_SMALL, "documents")
    split = docs.agg({"doc_id": "max"}).first()[0] * 6 // 10
    batch1 = docs.filter(docs.doc_id <= split)
    batch2 = docs.filter(docs.doc_id > split)

    inc = IncrementalMinHashDedup(spark, state_dir)
    inc.add_batch(batch1)
    segs_after_1 = inc.bands._segments()
    inc.add_batch(batch2)
    segs_after_2 = inc.bands._segments()

    # One immutable band segment per batch; batch 2 appended exactly one —
    # history was not rewritten.
    assert len(segs_after_1) == 1
    assert len(segs_after_2) == 2
    assert segs_after_2[0]["dir"] == segs_after_1[0]["dir"]

    # The new segment holds N_BANDS rows per SHINGLED delta doc and nothing
    # from history: O(delta) signature writes.
    seg2 = spark.read.parquet(segs_after_2[1]["dir"])
    from incresql_spark.operators.dedup import doc_shingles_df

    delta_shingled = {r.doc_id for r in doc_shingles_df(batch2).select("doc_id").collect()}
    assert seg2.count() == N_BANDS * len(delta_shingled)
    seg2_ids = {r.doc_id for r in seg2.select("doc_id").distinct().collect()}
    assert seg2_ids == delta_shingled


def test_empty_history_then_empty_delta(spark, state_dir):
    docs = load_table(spark, SF_SMALL, "documents")
    inc = IncrementalMinHashDedup(spark, state_dir)
    all_pairs = inc.add_batch(docs)
    assert _rows(all_pairs) == _rows(dedup_minhash_lsh(spark, SF_SMALL))
    # Re-ingesting nothing yields nothing (and state stays consistent).
    empty = docs.filter("doc_id < 0")
    assert inc.add_batch(empty).count() == 0


def test_minhash_geometry_pinned_with_state(spark, tmp_path):
    """Frozen-geometry pinning across all maintainers (round 9): the
    minhash index records its signature/shingle geometry at creation;
    tampered-geometry state refuses to reopen; drop() releases the pin."""
    import json
    import os

    import pytest

    inc = IncrementalMinHashDedup(spark, str(tmp_path / "mh_state"))
    geo_path = os.path.join(str(tmp_path / "mh_state"), "_geometry.json")
    assert os.path.exists(geo_path)
    # same geometry reopens fine
    IncrementalMinHashDedup(spark, str(tmp_path / "mh_state"))
    # simulate a build with different constants: tamper the stored pin
    with open(geo_path) as fh:
        geo = json.load(fh)
    geo["n_minhash"] = geo["n_minhash"] + 1
    with open(geo_path, "w") as fh:
        json.dump(geo, fh)
    with pytest.raises(ValueError, match="geometry mismatch"):
        IncrementalMinHashDedup(spark, str(tmp_path / "mh_state"))
    inc.drop()
    IncrementalMinHashDedup(spark, str(tmp_path / "mh_state"))


def test_deferred_prepared_drive_equals_eager(spark, tmp_path):
    """r19 cycle-drive contract: prepare_batch + add_batch(defer=True),
    with every deferred plan evaluated only AFTER all waves have appended
    state, must produce exactly the eager per-wave pair sets — the state
    scans pin each wave's pre-batch segment list at plan construction, so
    later appends cannot leak in."""
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    waves_src = [docs.filter(f"doc_id % 3 = {w}") for w in range(3)]

    eager = IncrementalMinHashDedup(spark, str(tmp_path / "eager"))
    expected = [_rows(eager.add_batch(w)) for w in waves_src]

    lazy = IncrementalMinHashDedup(spark, str(tmp_path / "lazy"))
    plans = []
    for w in waves_src:
        prep = lazy.prepare_batch(w)
        plans.append(lazy.add_batch(None, prepared=prep, defer=True))
    got = [_rows(p) for p in plans]  # evaluated after ALL appends
    lazy.release_deferred()
    assert got == expected


@pytest.mark.parametrize("defer", [False, True])
def test_failed_state_append_releases_delta_pins(spark, tmp_path,
                                                 monkeypatch, defer):
    """A failed state append surfaces its own error, with the other
    append's failure chained, and leaves nothing persisted: the eager
    path unpersists the delta frames and releases the pair pin; the
    deferred path hands its frames to ``release_deferred()``."""
    from incresql_spark.plans.layout import release
    from tests.test_refresh_pipeline import _persisted

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    dd = IncrementalMinHashDedup(spark, str(tmp_path / "state"))
    release(dd.add_batch(docs.filter("doc_id % 3 = 0")))  # some history
    bands_err = RuntimeError("injected bands append failure")
    shingles_err = RuntimeError("injected shingles append failure")

    def failing(err):
        def insert(*args, **kwargs):
            raise err
        return insert

    monkeypatch.setattr(dd.bands, "insert", failing(bands_err))
    monkeypatch.setattr(dd.shingles, "insert", failing(shingles_err))
    before = _persisted(spark)
    # the prepared delta frames are already cached when the appends fail;
    # each case caches its own wave (the cache reuses an identical plan)
    batch = dd.prepare_batch(docs.filter(f"doc_id % 3 = {1 + defer}"))
    with pytest.raises(RuntimeError) as info:
        try:
            dd.add_batch(None, prepared=batch, defer=defer)
        finally:
            dd.release_deferred()
    assert info.value is bands_err
    assert info.value.__cause__ is shingles_err
    assert _persisted(spark) - before == set()
