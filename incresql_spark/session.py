"""SparkSession bootstrap tuned for both local testing and cluster scale.

The reference engine is single-threaded pull iterators (SURVEY §4); on Spark the
same logical plans execute distributed, so the session config concentrates on
the things that matter at 100 TB: AQE (runtime re-planning, skew-join
splitting, partition coalescing), sane shuffle partition counts, Arrow for any
pandas-UDF exchange, and ANSI-ish timestamp behaviour pinned to UTC so results
are reproducible against the DuckDB oracle.

``overlap`` and ``worker_pool`` are the one way this package runs Spark
jobs off the calling thread, each in its caller's job group.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession

# At local[N] a shuffle partition count near the core count avoids tiny-task
# overhead; on a real cluster AQE coalesces from this initial value, so a
# larger initial number is safe (it is an upper bound, not a fixed fanout).
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "incresql_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    All settings below are equally valid on a 1000-executor cluster: AQE and
    broadcast thresholds are scale-adaptive, and nothing here pins data to the
    driver.
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # reliable-checkpoint mode (plans/layout.materialize with
        # incresql.checkpoint.dir) writes RDD checkpoints to shared storage;
        # without this, Spark never deletes them and a long-lived session
        # leaks a full intermediate copy per materialize() call
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        # Only force a master when nothing is running — when the driver hands
        # us a session (cluster mode) we must not override it.
        # 48g heap: local[32] runs driver + all 32 executor threads in one
        # JVM, and a 24g heap put the bench into sustained full-GC stretches
        # (measured: individual TPC-H queries spiking 4-6x, a different
        # victim each run; 48g removes every spike and cuts the sf0.1 TPC-H
        # total ~2x).  On a real cluster this setting is ignored — executor
        # memory is sized per-node by the deployer.
        builder = (
            builder.master(f"local[{cpus}]")
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            )
            .config(
                "spark.driver.extraJavaOptions",
                "-XX:+UseG1GC -XX:MaxGCPauseMillis=200",
            )
            # Local-mode split sizing: the testdata tables are one parquet
            # file each, so the 128MB/4MB defaults leave most of the 32
            # cores idle on scans (measured at the tiled sf10: lineitem =
            # 10 splits, documents = 14; q5 -18% wall with 32MB splits).
            # Deliberately NOT set on the cluster path: with thousands of
            # files per table, 128MB splits are the right amortization of
            # per-task overhead against object-store request counts.
            .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
            .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
            # Local-mode file listing: a read of more than 32 paths (the
            # default threshold) lists them in a Spark job, and a full
            # read of an aggregate MV's 64-bucket state is 64 paths.
            # Measured at local[4] on a 4-core Xeon: building that read
            # takes a median 0.33-0.49 s with the listing job, 0.04-0.06 s
            # listing on the driver.  Raised above the bucket layout (and
            # typical segment counts) so state and table reads list on the
            # driver.  Deliberately NOT set on the cluster path: there
            # paths live on object storage, where a parallel listing job
            # is the fast way to list many of them.
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                    "1024")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    disable_generate_filter_inference(spark)
    return spark


_INFER_FROM_GENERATE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def disable_generate_filter_inference(spark: SparkSession) -> None:
    """Exclude the InferFiltersFromGenerate optimizer rule (idempotent; safe
    to call on a caller-provided session).

    The rule adds ``size(arr) > 0 AND arr IS NOT NULL`` below every
    ``explode(arr)``.  When ``arr`` is a *computed* column — every exploded
    array in this engine is (token/shingle arrays from regexp_extract_all,
    minhash band structs, frame index sequences) — predicate pushdown then
    inlines the full generating expression into a Filter node, and a filter
    containing a higher-order function (transform/filter lambdas) falls out
    of whole-stage codegen into the interpreted evaluator, which re-runs the
    inner regex for every lambda element access.  Measured on the tiled-sf1
    corpus: dedup_contamination 185s -> 16.6s with the rule excluded, with
    row-identical output (the rule is a pure optimization; exclusion never
    changes semantics).  The saved inference only ever skips exploding
    already-empty arrays, which the generator itself does for free.

    Operators that explode computed arrays call this with the live session so
    the exclusion also holds when the driver (not get_spark) built the
    session.  Existing exclusions are preserved.
    """
    cur = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    rules = [r for r in cur.split(",") if r] if cur else []
    if _INFER_FROM_GENERATE not in rules:
        rules.append(_INFER_FROM_GENERATE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))


def worker_pool(spark: SparkSession, workers: int = 1) -> ThreadPoolExecutor:
    """A pool whose threads run like the calling thread on the JVM side:
    under its local properties (job group, description), so an engine
    KILL of the statement cancels the workers' jobs too and session
    accounting sees them tagged, and with its active session, so pyspark
    calls on a worker do not fall back to ``getOrCreate`` round trips.
    Each thread installs its own clone of the properties, taken here on
    the caller (Spark sets per-query keys on a thread's properties
    object), once when it starts: a handful of py4j calls per thread,
    where ``pyspark.inheritable_thread_target``'s per-call
    pinned-connection churn measured ~0.9s per cascade cycle."""
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties()
    clones = [props.clone() for _ in range(workers)]
    jvm_session = spark.sparkContext._jvm.SparkSession

    def start() -> None:
        # the pool starts at most ``workers`` threads, one clone each
        jsc.setLocalProperties(clones.pop())
        jvm_session.setActiveSession(spark._jsparkSession)

    return ThreadPoolExecutor(max_workers=workers, initializer=start)


def raise_chained(errors: list[BaseException]) -> None:
    """Raise the first of ``errors``, each later one chained as the cause
    of the one before it; return when there are none."""
    if not errors:
        return
    for a, b in zip(errors, errors[1:]):
        if a.__cause__ is None:
            a.__cause__ = b
    raise errors[0]


def overlap(spark: SparkSession, *calls: Callable[[], Any]) -> list[Any]:
    """Run ``calls`` concurrently: the first on the calling thread, the
    others on ``worker_pool`` threads, so every job they launch runs in
    the caller's job group.  Returns once every call has finished, with
    the results in call order; if calls raised, raises the first failure
    in call order with the later ones chained."""
    with worker_pool(spark, max(len(calls) - 1, 1)) as pool:
        futures = [pool.submit(call) for call in calls[1:]]
        try:
            results, errors = [calls[0]()], []
        except BaseException as exc:
            results, errors = [None], [exc]
    # leaving the pool waited for every worker call
    for f in futures:
        exc = f.exception()
        if exc is None:
            results.append(f.result())
        else:
            errors.append(exc)
    raise_chained(errors)
    return results
