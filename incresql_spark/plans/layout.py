"""Materialized intermediates: compute a reused frame once, pin it, and
release it when its consumers are done.

``materialize`` is the single seam every operator that pins goes through
(local checkpoint by default, a reliable checkpoint directory on a
cluster); ``materialize_bounded`` caps a session's outstanding returned
pins; ``release`` frees a pin's blocks.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame

from ..session import overlap


CHECKPOINT_DIR_CONF = "incresql.checkpoint.dir"


def materialize(df: DataFrame) -> DataFrame:
    """Materialize an intermediate that multiple downstream branches reuse
    (LSH signature tables, iterative-graph edge lists): compute it exactly
    once and truncate its lineage so re-scans read rows instead of
    re-running the producing pipeline.

    Default is an eager ``localCheckpoint`` — right for local mode and
    modest clusters, but its blocks live on executor-local storage and die
    with the executor.  For 1000-executor runs set the session conf
    ``incresql.checkpoint.dir`` to a reliable location (HDFS/object store):
    this helper then switches to ``sc.setCheckpointDir`` +
    ``df.checkpoint()``, whose RDD blocks survive executor loss.  The
    calling dataflow is identical either way — this helper is the single
    seam, and every operator that materializes goes through it.

    Cleanup: reliable checkpoint files are only reclaimed when the
    checkpointed RDD is garbage-collected AND
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is true —
    ``session.get_spark`` sets it; a session built elsewhere should too,
    or a long-lived loop of materialize() calls leaks one intermediate
    copy per call onto shared storage.
    """
    spark = df.sparkSession
    ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if ckpt_dir:
        sc = spark.sparkContext
        # setCheckpointDir is idempotent for the same path; cheap to re-call.
        sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def materialize_alongside(df: DataFrame, *calls) -> DataFrame:
    """``materialize(df)`` on the calling thread while ``calls`` run
    (``session.overlap``); when any of them fails, the pin is released
    before the error propagates."""
    pinned = []
    try:
        overlap(df.sparkSession, lambda: pinned.append(materialize(df)),
                *calls)
    except BaseException:
        for out in pinned:
            release(out)
        raise
    return pinned[0]


#: capacity of the bounded auto-pin registry (see materialize_bounded)
AUTO_PIN_CAPACITY = 8
#: SparkSession attribute holding that session's FIFO registry.  It lives
#: on the session object, so a dropped session's pins go with it (a
#: weakly keyed dict never dropped an entry: each pinned frame references
#: its session), and two engines in one process do not evict each
#: other's pins (round-10 advice).
AUTO_PINS_ATTR = "_incresql_auto_pins"


def materialize_bounded(df: DataFrame) -> DataFrame:
    """``materialize()`` whose pin is tracked in a bounded FIFO registry,
    scoped to the frame's SparkSession: once more than
    ``AUTO_PIN_CAPACITY`` frames are outstanding in that session, the
    OLDEST is released automatically.

    This is the long-lived-session guard for operators that return a
    pinned result the caller may never release (text_dsir_select's score
    frame was the documented footgun: one doc-count-sized block set leaked
    per call).  Use it for returned results with consume-soon semantics —
    a caller holding a returned frame past the eviction window gets an
    unreadable frame (lineage truncated, blocks gone); frames a caller
    must hold indefinitely should use ``materialize()`` directly and own
    the release.  Releasing twice is harmless, so callers may still
    ``release()`` early."""
    spark = df.sparkSession
    pins = getattr(spark, AUTO_PINS_ATTR, None)
    if pins is None:
        pins = deque()
        setattr(spark, AUTO_PINS_ATTR, pins)
    out = materialize(df)
    pins.append(out)
    while len(pins) > AUTO_PIN_CAPACITY:
        release(pins.popleft())
    return out


def release(df: DataFrame) -> None:
    """Free the storage blocks of a ``materialize()``d DataFrame once every
    consumer has read it.

    ``localCheckpoint`` persists an internal RDD that ``DataFrame.unpersist``
    cannot reach (the Dataset was never ``persist()``ed — the blocks hang off
    the ``LogicalRDD`` node), so a long-lived maintainer that materializes a
    delta per batch would otherwise accumulate one block set per batch for
    the life of the session.  This reaches through the analyzed plan to the
    checkpointed RDD and unpersists it.  AFTER release the frame is
    unreadable (its lineage was truncated — there is nothing to recompute
    from), so call it only when the materialized value is fully consumed.

    Safe on reliable-checkpoint frames too (files are reclaimed separately
    by the ContextCleaner on GC; unpersisting cached blocks is harmless) and
    a silent no-op on anything whose plan is not a bare LogicalRDD.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass
