"""Every cached frame has an owner: all registered queries, run back to back
in one long-lived session, leave nothing persisted but the bounded
registry's pins (``plans.layout.materialize_bounded``)."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import time

from incresql_spark.plans import layout

from .conftest import SF_SMALL
from .test_refresh_pipeline import _persisted

#: Driver heap of the sweep's own session.  The sweep runs in a child
#: process so its garbage never grows the shared test session's heap,
#: whose default ceiling is at most half the host's memory
#: (session.get_spark).
SWEEP_DRIVER_MEM = "4g"


def sweep() -> None:
    """Run every ``queries()`` entry at sf0.001 in one session and drop
    each result.  After a Python and a JVM GC, every RDD the sweep left
    persisted must be a registry pin, so the registry's capacity bounds
    what a long-lived server session can accumulate.

    Most gate drivers return a bare ``localCheckpoint()`` that only the
    caller's reference owns.  Once that reference is dropped the
    ContextCleaner frees it, but the JVM can keep the last result
    reachable for some seconds after Python lets go (up to ~25 s seen
    for ``mv_cascade_q3_incremental``), so the check polls before it
    judges."""
    import __spark_entry__ as entry
    from incresql_spark.session import get_spark

    spark = get_spark("cache_sweep",
                      cpus=int(os.environ.get("SPARK_TEST_CPUS", "8")))
    before = _persisted(spark)
    for fn in entry.queries().values():
        fn(spark, SF_SMALL).collect()

    deadline = time.monotonic() + 120
    while True:
        gc.collect()
        spark._jvm.System.gc()
        grown = _persisted(spark) - before
        pins = {p._jdf.queryExecution().analyzed().rdd().id()
                for p in getattr(spark, layout.AUTO_PINS_ATTR, ())}
        if grown <= pins or time.monotonic() > deadline:
            break
        time.sleep(1)
    assert len(grown) <= layout.AUTO_PIN_CAPACITY
    assert grown <= pins, grown - pins


def test_all_queries_in_one_session_leave_only_registry_pins():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_cache_sweep"], cwd=root,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM=SWEEP_DRIVER_MEM),
        capture_output=True, text=True, timeout=1800)
    assert proc.returncode == 0, proc.stderr[-4000:]


if __name__ == "__main__":
    sweep()
