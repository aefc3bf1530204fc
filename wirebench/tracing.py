"""Spans at the layer boundaries of the system under test.

Used only in the system-under-test process of a traced run.  ``install``
wraps public functions of each layer from outside (no file of the
package changes): the wrapper records a span ``[name, start, end,
parent, statement, attrs]`` when tracing is on and is a plain call when it
is off.  Spans stay in memory; ``dump`` writes them out at the end.

A statement is one ``MySqlServer._query`` call (execute plus row
streaming).  When it ends, ``Tracer`` reads that statement's Spark jobs
from the status store by the connection's job group (which the engine
sets for KILL; it is only read here), the JVM's GC time and heap, and the
warehouse bytes the statement wrote, and folds everything into one record
of per-layer numbers.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

import py4j.clientserver
from pyspark.sql import SparkSession

from incresql_spark import commit, dialect, engine, frequency, materialize
from incresql_spark.server import mysql

#: statements that can write to the warehouse
_WRITES = ("INSERT", "DELETE", "REFRESH", "COMPACT", "CREATE", "DROP")


def _segments_on_disk(table: frequency.FreqTable) -> int:
    try:
        names = os.listdir(table.path)
    except FileNotFoundError:
        return 0
    return sum(
        1 for n in names
        if n.startswith("seg-")
        and os.path.exists(os.path.join(table.path, n, "_segmeta.json"))
    )


class SparkProbe:
    """Per-statement Spark and JVM counters, read through py4j."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.memory = mf.getMemoryMXBean()

    def job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self.gc_beans))

    def heap_mb(self) -> float:
        return self.memory.getHeapMemoryUsage().getUsed() / 2**20

    def jobs(self, ids: set[int]) -> dict[str, float]:
        out = defaultdict(float)
        intervals = []
        for j in sorted(ids):
            try:
                job = self.store.job(j)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            out["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    st = self.store.lastStageAttempt(stages.apply(i))
                except Exception:  # noqa: BLE001 — skipped stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.executor_run_ms"] += st.executorRunTime()
                out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        busy, end = 0.0, float("-inf")
        for lo, hi in sorted(intervals):
            lo = max(lo, end)
            if hi > lo:
                busy += hi - lo
            end = max(end, hi)
        out["spark.job_busy_ms"] = busy
        return out


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.enabled = False
        self.stmt = -1
        self.spans: list[list] = []
        self.records: list[dict] = []
        self.warehouse = warehouse
        self.probe = SparkProbe(spark)
        self._tls = threading.local()
        self._originals: list[tuple[object, str, object]] = []
        #: clear while a statement (and its record) is in progress; the
        #: control channel waits on it before switching tracing
        self.idle = threading.Event()
        self.idle.set()

    def _active(self) -> bool:
        return self.enabled and not getattr(self._tls, "probing", False)

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def wrap(self, owner, attr: str, name: str, measure=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.  ``measure``
        (args, kwargs, result) returns a dict of counts for the span; it
        runs after the span is closed, so its cost is not in the span."""
        fn = getattr(owner, attr)
        self._originals.append((owner, attr, fn))
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._active():
                return fn(*args, **kwargs)
            stack = tracer._stack()
            rec = [name, time.perf_counter(), 0.0,
                   stack[-1] if stack else None, tracer.stmt, None]
            stack.append(len(tracer.spans))
            tracer.spans.append(rec)
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:
                rec[2] = time.perf_counter()
                rec[5] = {"error": type(exc).__name__}
                raise
            finally:
                stack.pop()
            rec[2] = time.perf_counter()
            if measure is not None:
                rec[5] = measure(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics are read from."""
        w = self.wrap
        w(py4j.clientserver.ClientServerConnection, "send_command", "py4j")
        w(engine.Engine, "execute_statement", "engine.stmt")
        w(dialect, "rewrite", "dialect.rewrite")
        w(mysql, "row_packet", "server.row_packet")
        w(mysql, "write_packet", "server.write_packet",
          lambda a, k, out: {"bytes": len(a[2]) + 4})
        ft = frequency.FreqTable
        w(ft, "insert", "frequency.insert")
        w(ft, "delete_where", "frequency.delete")
        w(ft, "scan", "frequency.scan",
          lambda a, k, out: {"segments": _segments_on_disk(a[0])})
        w(ft, "compact", "frequency.compact")
        w(ft, "delta", "frequency.delta")
        for cls in (materialize.MaterializedView,
                    materialize.AggregateJoinMaterializedView):
            w(cls, "refresh", "materialize.refresh",
              lambda a, k, out: {"delta_rows": out or 0})
        st = materialize.AggState
        w(st, "read_buckets", "materialize.read_buckets",
          lambda a, k, out: {"buckets": len(a[1] if len(a) > 1
                                            else k["buckets"])})
        w(st, "write_buckets", "materialize.write_buckets",
          lambda a, k, out: {"buckets": len(a[3] if len(a) > 3
                                            else k["touched"]),
                             "total": a[0].num_buckets})
        for backend in (commit.RenameCommitBackend,
                        commit.CasPointerCommitBackend):
            w(backend, "seal_segment", "commit.seal")
            w(backend, "publish_manifest", "commit.manifest")
        w(commit, "allocate_seq", "commit.allocate_seq")
        w(commit, "write_json_atomic", "commit.json")
        self._wrap_statement()

    def uninstall(self) -> None:
        """Put back every function ``install`` replaced."""
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals.clear()

    def _wrap_statement(self) -> None:
        fn = mysql.MySqlServer._query
        self._originals.append((mysql.MySqlServer, "_query", fn))
        tracer = self

        @functools.wraps(fn)
        def query(server, sock, sql, caps, deprecate_eof, session_id=None):
            tracer.idle.clear()
            try:
                if not tracer.enabled:
                    return fn(server, sock, sql, caps, deprecate_eof,
                              session_id)
                group = server.engine._group(session_id)
                writes = sql.lstrip().upper().startswith(_WRITES)
                # the probes' own py4j calls are not traced
                tracer._tls.probing = True
                before_jobs = tracer.probe.job_ids(group)
                before_gc = tracer.probe.gc_ms()
                before_files = _files(tracer.warehouse) if writes else None
                tracer.stmt += 1
                first = len(tracer.spans)
                tracer._tls.probing = False
                tracer._span_call("server.query", fn, server, sock, sql, caps,
                                 deprecate_eof, session_id)
                tracer._tls.probing = True
                tracer.records.append(tracer._record(
                    first, group, before_jobs, before_gc, before_files))
            finally:
                tracer._tls.probing = False
                tracer.idle.set()

        mysql.MySqlServer._query = query

    def _span_call(self, name: str, fn, *args):
        stack = self._stack()
        rec = [name, time.perf_counter(), 0.0, None, self.stmt, None]
        stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            return fn(*args)
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    # -- per-statement record ------------------------------------------------
    def _record(self, first: int, group: str, before_jobs: set[int],
                before_gc: float, before_files) -> dict:
        spans = self.spans[first:]
        children = defaultdict(list)
        for s in spans:
            if s[3] is not None:
                children[s[3]].append((s[1], s[2]))
        calls, ms, self_ms = defaultdict(int), defaultdict(float), defaultdict(float)
        attrs = defaultdict(float)
        for i, s in enumerate(spans, start=first):
            name, lo, hi = s[0], s[1], s[2]
            calls[name] += 1
            ms[name] += (hi - lo) * 1e3
            self_ms[name] += (hi - lo - _covered(children.get(i, []), lo, hi)) * 1e3
            for k, v in (s[5] or {}).items():
                if k == "error":
                    attrs[f"{name}.error"] += 1
                else:
                    attrs[f"{name}.{k}"] += v
        r = defaultdict(float)
        r["wall_ms"] = ms["server.query"]
        r["server.packets"] = calls["server.write_packet"]
        r["server.bytes_out"] = attrs["server.write_packet.bytes"]
        r["server.encode_ms"] = ms["server.row_packet"]
        r["server.send_ms"] = ms["server.write_packet"]
        r["engine.stmt_ms"] = ms["engine.stmt"]
        r["engine.self_ms"] = self_ms["engine.stmt"]
        r["dialect.rewrite_calls"] = calls["dialect.rewrite"]
        r["dialect.rewrite_ms"] = ms["dialect.rewrite"]
        r["py4j.calls"] = calls["py4j"]
        r["py4j.ms"] = ms["py4j"]
        for op in ("insert", "delete", "scan", "compact", "delta"):
            r[f"frequency.{op}_calls"] = calls[f"frequency.{op}"]
            r[f"frequency.{op}_ms"] = ms[f"frequency.{op}"]
        r["frequency.scan_segments"] = attrs["frequency.scan.segments"]
        r["commit.seal_calls"] = calls["commit.seal"]
        r["commit.seal_ms"] = ms["commit.seal"]
        r["commit.manifest_publishes"] = calls["commit.manifest"]
        r["commit.manifest_ms"] = ms["commit.manifest"]
        r["commit.seq_conflicts"] = attrs["commit.allocate_seq.error"]
        r["commit.json_writes"] = calls["commit.json"]
        r["materialize.refresh_calls"] = calls["materialize.refresh"]
        r["materialize.refresh_ms"] = ms["materialize.refresh"]
        r["materialize.delta_rows"] = attrs["materialize.refresh.delta_rows"]
        r["materialize.buckets_read"] = attrs["materialize.read_buckets.buckets"]
        r["materialize.buckets_written"] = attrs["materialize.write_buckets.buckets"]
        r["materialize.buckets_total"] = attrs["materialize.write_buckets.total"]
        r.update(self.probe.jobs(self.probe.job_ids(group) - before_jobs))
        r["spark.driver_ms"] = r["wall_ms"] - r["spark.job_busy_ms"]
        r["jvm.gc_ms"] = self.probe.gc_ms() - before_gc
        r["jvm.heap_used_mb"] = self.probe.heap_mb()
        if before_files is not None:
            after = _files(self.warehouse)
            r["storage.bytes_written"] = float(sum(
                size for p, (size, mtime) in after.items()
                if before_files.get(p, (None, None))[1] != mtime
            ))
        else:
            r["storage.bytes_written"] = 0.0
        return dict(r)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, lo, hi, parent, stmt, attrs in self.spans:
                fh.write(json.dumps({
                    "name": name, "start_ms": lo * 1e3, "end_ms": hi * 1e3,
                    "parent": parent, "stmt": stmt, "attrs": attrs,
                }) + "\n")
