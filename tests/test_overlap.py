"""``session.overlap`` / ``worker_pool``: the one way the package runs
Spark jobs off the calling thread.  Pins the contract: results in call
order, the first failure raised with the later ones chained, a return
only after every call finished, per-thread JVM local properties, and
every job a maintainer overlaps landing in its caller's job group."""

from __future__ import annotations

import threading
import time

import pytest

from incresql_spark.session import overlap, worker_pool

from tests.conftest import SF_SMALL


def _after(seconds, value):
    def call():
        time.sleep(seconds)
        return value
    return call


def _raise_after(seconds, exc):
    def call():
        time.sleep(seconds)
        raise exc
    return call


def test_overlap_returns_results_in_call_order(spark):
    # the later calls finish first; the results still follow call order
    assert overlap(spark, _after(0.3, "a"), _after(0.2, "b"),
                   _after(0.0, "c")) == ["a", "b", "c"]
    assert overlap(spark, lambda: 7) == [7]


def test_overlap_raises_the_first_failure_with_later_ones_chained(spark):
    second = RuntimeError("second call")
    third = RuntimeError("third call")
    # the third call fails first in time; call order decides
    with pytest.raises(RuntimeError) as info:
        overlap(spark, _after(0.0, "ok"), _raise_after(0.3, second),
                _raise_after(0.0, third))
    assert info.value is second
    assert info.value.__cause__ is third

    first = ValueError("calling-thread call")
    with pytest.raises(ValueError) as info:
        overlap(spark, _raise_after(0.0, first), _raise_after(0.2, third))
    assert info.value is first
    assert info.value.__cause__ is third


def test_overlap_returns_only_after_every_call_finished(spark):
    finished = threading.Event()

    def slow():
        time.sleep(0.5)
        finished.set()

    with pytest.raises(RuntimeError):
        overlap(spark, _raise_after(0.0, RuntimeError("fast")), slow)
    assert finished.is_set()


def test_worker_pool_threads_own_their_local_properties(spark):
    """Each worker thread installs its own clone of the caller's
    properties: a key one thread sets is invisible to the other thread
    and to the caller."""
    sc = spark.sparkContext
    key = "incresql.test.owner"
    both = threading.Barrier(2, timeout=30)

    def probe(i):
        sc.setLocalProperty(key, str(i))
        both.wait()
        return sc.getLocalProperty(key)

    sc.setLocalProperty(key, "caller")
    try:
        with worker_pool(spark, 2) as pool:
            got = list(pool.map(probe, [0, 1]))
        assert got == ["0", "1"]
        assert sc.getLocalProperty(key) == "caller"
    finally:
        sc.setLocalProperty(key, None)


def test_maintainer_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """Every job one minhash ``add_batch`` launches, the state appends it
    overlaps included, is listed under the caller's job group, so a KILL
    of that group reaches all of them."""
    from incresql_spark.catalog import load_table
    from incresql_spark.plans.layout import release
    from incresql_spark.streaming.minhash_incremental import (
        IncrementalMinHashDedup)

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    dd = IncrementalMinHashDedup(spark, str(tmp_path / "state"))
    release(dd.add_batch(docs.filter("doc_id % 2 = 0")))
    sc, group = spark.sparkContext, "incresql-test-overlap-group"
    tracker = sc.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "minhash add_batch")
    try:
        release(dd.add_batch(docs.filter("doc_id % 2 = 1")))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert not set(tracker.getJobIdsForGroup(None)) - untagged
    assert len(tracker.getJobIdsForGroup(group)) > 0
