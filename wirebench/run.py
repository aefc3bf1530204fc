"""SQL-over-the-wire benchmark of incresql_spark.

    python3 wirebench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  The program under test is one process
(``sut.py``: Spark ``local[nproc]``, the ``Engine`` and ``MySqlServer``);
this process is the load generator.  It generates the TPC-H tables with
DuckDB, turns the seed into the workload's statement script
(``workloads.py``), has the system under test load the base tables, then
runs a closed loop over one MySQL connection for ``--seconds`` (whole
cycles), checks the results, and prints one JSON object as its last line
of output: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it holds every metric the
workload produced, with sample counts.

Everything is written under ``.wirebench/`` in the current directory and
the run's own directory there is removed at exit; the span file of the
latest traced run of each workload is kept there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import datagen
from client import Connection, ServerError

HERE = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = ".wirebench"
#: driver heap of the system under test.  Twice the peak heap use seen at
#: this scale; a 4 GB heap ran no faster and its peak RSS wandered by
#: ±15% between runs with G1 reclaiming old regions late
HEAP = "2g"
SETUP_REPS = 3
#: disk_mb is taken after this many cycles, so it does not grow with speed
DISK_AFTER_CYCLES = 1
#: the whole run, less the clean-up after it (at most 45 s, Sut.stop)
DEADLINE_S = 120
#: the end-to-end metrics every workload reports (BENCHMARK.json); the
#: rest of each workload's metrics are on the line before the result.
#: rss_peak_mb is among the rest: the JVM's peak is 1.1 GB in some runs
#: and 1.5-1.8 GB in others of the same seed, by when G1 grows the heap
E2E = ("setup_s", "stmt_per_s", "query_ms.p50", "disk_mb")


class BenchError(RuntimeError):
    pass


# ---- the system under test --------------------------------------------------
class Sut:
    """The system-under-test process and its control channel."""

    def __init__(self, work: str, cpus: int, trace: int, root: str):
        env = dict(os.environ)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env.update({
            "PYTHONPATH": root,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            # a fixed young generation: peak RSS then follows the
            # program's memory, not G1's adaptive sizing of the young gen
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Xmn512m",
        })
        self.log_path = os.path.join(work, "sut.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), "--work", work,
             "--cpus", str(cpus), "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=work, env=env, text=True,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def recv(self, timeout: float = 150) -> dict:
        try:
            line = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise BenchError("system under test did not answer") from None
        if line is None:
            raise BenchError("system under test exited:\n" + self.log_tail())
        return json.loads(line)

    def call(self, timeout: float = 150, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout)

    def log_tail(self, n: int = 30) -> str:
        with open(self.log_path) as fh:
            return "".join(fh.readlines()[-n:])

    def rss_peak_mb(self) -> dict[str, float]:
        """Peak resident memory (VmHWM) of each process, by command name."""
        out: dict[str, float] = {}
        for pid in descendants(self.proc.pid):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh)
            except OSError:
                continue
            if "VmHWM" not in fields:  # a zombie
                continue
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
        return out

    def stop(self) -> None:
        """Quit politely, let the JVM run its shutdown, then make sure
        every process of the run has ended and been reaped."""
        # the clean-up below has its own time limits; nothing cuts it short
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if self.proc.poll() is None:
                self.call(timeout=10, cmd="quit")
                self.proc.wait(timeout=10)
        except (BenchError, OSError, subprocess.TimeoutExpired,
                json.JSONDecodeError):
            pass
        end_children(grace=15)
        self._log.close()


# ---- processes --------------------------------------------------------------
def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants.  The JVM
    outlives the system-under-test process that started it, and the JVM's
    own helpers (``rm`` in its shutdown hooks) can outlive the JVM; without
    this they would be handed to pid 1, which need not reap them."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int) -> list[int]:
    """``root`` and the pids of every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def end_children(grace: float) -> None:
    """Reap children until none is left.  Those still running after
    ``grace`` seconds are killed with everything below them.  As the
    subreaper this process inherits every orphan, so once it has no
    children left, nothing it started is left either."""
    deadline = time.monotonic() + grace
    killed = False
    while time.monotonic() < deadline + 10:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if not killed and time.monotonic() >= deadline:
            for pid in descendants(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


# ---- statistics -------------------------------------------------------------
def pct(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def du_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except FileNotFoundError:
                pass
    return total / 2**20


# ---- correctness ------------------------------------------------------------
def as_text(rows) -> list[tuple]:
    """DuckDB rows rendered the way the server renders cells."""
    def cell(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "1" if v else "0"
        return str(v)
    return [tuple(cell(v) for v in r) for r in rows]


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    key = repr
    return sorted(a, key=key) == sorted(b, key=key)


def row_bytes_sql(con, relation: str) -> str:
    cols = [r[0] for r in con.execute(f"DESCRIBE {relation}").fetchall()]
    return (f"SELECT count(*), coalesce(sum(strlen(concat_ws('|', "
            f"{', '.join(cols)}))), 0) FROM {relation}")


def replay(con, stmts) -> tuple[int, int]:
    """Apply the DML statements to the DuckDB mirror; returns (rows, text
    bytes) of user rows they changed."""
    rows = nbytes = 0
    for s in stmts:
        if s.kind != "dml":
            continue
        if s.sql.startswith("INSERT"):
            rel = f"({s.source})"
        else:
            rel = f"(SELECT * FROM {s.table} WHERE {s.source})"
        n, b = con.execute(row_bytes_sql(con, rel)).fetchone()
        rows, nbytes = rows + n, nbytes + b
        con.execute(s.sql)
    return rows, nbytes


# ---- the run ----------------------------------------------------------------
def traced(script_stmts):
    """Trace-mode schedule: the k-th run of each statement key is traced
    when ``(k + k // 2) % 2 == 1``, so traced and untraced runs of the same
    statement alternate (and alternate which goes first) — the per-key
    latency ratio is the tracing overhead."""
    seen: dict[str, int] = {}
    out = []
    for s in script_stmts:
        k = seen.get(s.key, 0)
        seen[s.key] = k + 1
        out.append((k + k // 2) % 2 == 1)
    return out


def window(conn, sut, cycles, seconds: float, trace: bool, warehouse: str):
    """The timed closed loop: whole cycles, started while fewer than
    ``seconds`` have passed.  A traced run makes at least two, so every
    statement of a cycle has a traced and an untraced run.  Returns
    (results, cycle ms, window s, disk MB), with one
    ``(stmt, ms, reply, ok, traced)`` result per statement."""
    plan = iter(traced([s for c in cycles for s in c]))
    results, cycle_ms, disk = [], [], None
    t_start = time.perf_counter()
    for cycle in cycles:
        if (time.perf_counter() - t_start >= seconds
                and len(cycle_ms) >= (2 if trace else 1)):
            break
        c0 = time.perf_counter()
        for s in cycle:
            on = next(plan)
            if trace:
                sut.call(cmd="trace", on=on)
            t0 = time.perf_counter()
            try:
                reply, ok = conn.query(s.sql), True
            except ServerError as exc:
                print(f"statement failed: {s.sql[:120]}: {exc}",
                      file=sys.stderr)
                reply, ok = None, False
            ms = (time.perf_counter() - t0) * 1e3
            if ok and s.kind == "lookup":
                k = s.sql.rsplit("=", 1)[1].strip()
                ok = len(reply.rows) == 1 and reply.rows[0][0] == k
            results.append((s, ms, reply, ok, on))
            print(f"{ms:9.1f} ms  {s.key}", file=sys.stderr)
        cycle_ms.append((time.perf_counter() - c0) * 1e3)
        if len(cycle_ms) == DISK_AFTER_CYCLES:
            disk = du_mb(warehouse)
    window_s = time.perf_counter() - t_start
    if trace:
        sut.call(cmd="trace", on=False)
    return results, cycle_ms, window_s, disk or du_mb(warehouse)


def run(args, root: str, work: str) -> tuple[dict, dict | None]:
    import workloads  # needs the repository root on sys.path

    t0 = time.perf_counter()
    phases = {}

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - t0

    sut = Sut(work, len(os.sched_getaffinity(0)), args.trace, root)
    try:
        data = os.path.join(work, "data")
        datagen.generate(data, workloads.SF)
        con = datagen.connect(data, {"orders": ("orders", None)})
        orderkeys = [r[0] for r in con.execute(
            "SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
        con.close()
        script = workloads.build(args.workload, args.seed, orderkeys)
        cycles = script.cycles
        if args.trace and args.workload == "tpch_read":
            # every query twice, so each has a traced and an untraced run
            cycles = [c for c in cycles for _ in (0, 1)]
        hello = sut.recv(timeout=150)
        mark("boot")
        setup = sut.call(cmd="setup", data=data, tables=script.tables,
                         views=script.views, reps=SETUP_REPS)
        mark("setup")
        conn = Connection(setup["port"])
        try:
            for s in script.warmup:
                conn.query(s.sql)
            mark("warmup")
            results, cycle_ms, window_s, disk = window(
                conn, sut, cycles, args.seconds, bool(args.trace),
                setup["warehouse"])
            mark("window")
            rss = sut.rss_peak_mb()
            executed = script.warmup + [r[0] for r in results]
            checks, bad = check(args.workload, script, executed, results,
                                conn, data)
            mark("checks")
            user = records = None
            if args.trace:
                if args.workload != "tpch_read":
                    con = datagen.connect(data, script.tables)
                    user = replay(con, executed)
                    con.close()
                os.makedirs(OUT_DIR, exist_ok=True)
                spans = os.path.abspath(os.path.join(
                    OUT_DIR, f"spans-{args.workload}.jsonl"))
                records = sut.call(cmd="stats", spans=spans)["records"]
        finally:
            conn.close()
    finally:
        sut.stop()
    mark("stop")

    failed = sum(1 for r in results if not r[3]) + bad
    attempted = len(results) + checks
    setup_s = statistics.median(setup["load_s"]) + setup["views_s"]
    info = {
        "workload": args.workload, "seed": args.seed, "sf": workloads.SF,
        "cores": hello["cores"], "heap": hello["heap"],
        "boot_s": hello["boot_s"], "load_s": setup["load_s"],
        "views_s": setup["views_s"], "phases_s": phases,
        "window_s": window_s, "cycles": len(cycle_ms), "rss_mb": rss,
        "statements": len(results), "checks": checks,
        "attempted": attempted, "failed": failed,
        "metrics": end_to_end(results, cycle_ms, window_s, setup_s,
                              sum(rss.values()),
                              disk, attempted, failed, args.workload),
    }
    layers = per_layer(results, records, user) if args.trace else None
    return info, layers


def check(workload, script, executed, results, conn, data) -> tuple[int, int]:
    """Correctness checks after the window: (checks made, checks failed)."""
    made = bad = 0
    if workload == "tpch_read":
        con = datagen.connect(data)
        expected: dict[str, list] = {}
        for s, _, reply, ok, _ in results:
            if not ok:
                continue
            if s.sql not in expected:
                expected[s.sql] = as_text(con.execute(s.sql).fetchall())
            made += 1
            if not same_rows(reply.rows, expected[s.sql]):
                bad += 1
                print(f"wrong result: {s.key}", file=sys.stderr)
        con.close()
    elif workload == "mv_refresh":
        for view_sql, batch_sql in script.checks:
            made += 1
            try:
                if not same_rows(conn.query(view_sql).rows,
                                 conn.query(batch_sql).rows):
                    bad += 1
                    print(f"view differs from recompute: {view_sql}",
                          file=sys.stderr)
            except ServerError as exc:
                bad += 1
                print(f"check failed: {exc}", file=sys.stderr)
    else:
        import workloads

        con = datagen.connect(data, script.tables)
        replay(con, executed)
        try:
            for t in ("lineitem", "orders"):
                conn.query(f"COMPACT TABLE {t}")
            for name in ("tpch_q1", "tpch_q6"):
                made += 1
                sql = " ".join(workloads.ORACLE[name].split())
                want = as_text(con.execute(sql).fetchall())
                if not same_rows(conn.query(sql).rows, want):
                    bad += 1
                    print(f"wrong result after compaction: {name}",
                          file=sys.stderr)
        except ServerError as exc:
            bad += 1
            print(f"check failed: {exc}", file=sys.stderr)
        con.close()
    return made, bad


def end_to_end(results, cycle_ms, window_s, setup_s, rss, disk, attempted,
               failed, workload) -> dict:
    def ms_of(*kinds):
        return [ms for s, ms, _, ok, _ in results if ok and s.kind in kinds]

    m: dict[str, tuple[float, str, int]] = {}

    def timing(name, values):
        if values:
            m[f"{name}.p50"] = (pct(values, 50), "ms", len(values))
            m[f"{name}.p90"] = (pct(values, 90), "ms", len(values))

    m["setup_s"] = (setup_s, "s", SETUP_REPS)
    m["stmt_per_s"] = (len(results) / window_s, "1/s", len(results))
    timing("stmt_ms", [ms for _, ms, _, ok, _ in results if ok])
    timing("query_ms", ms_of("query", "wide", "mvread"))
    lookups = ms_of("lookup")
    if lookups:
        m["lookup_ms.p50"] = (pct(lookups, 50), "ms", len(lookups))
    timing("dml_ms", ms_of("dml"))
    timing("refresh_ms", ms_of("refresh"))
    if workload == "mv_refresh":
        timing("fresh_ms", cycle_ms)
    wide = [(ms, len(r.rows)) for s, ms, r, ok, _ in results
            if ok and s.kind == "wide"]
    if wide:
        m["rows_per_s"] = (sum(n for _, n in wide)
                           / (sum(ms for ms, _ in wide) / 1e3), "1/s",
                           len(wide))
    m["error_rate"] = (failed / attempted, "ratio", attempted)
    m["rss_peak_mb"] = (rss, "MB", 1)
    m["disk_mb"] = (disk, "MB", 1)
    return {k: {"value": v, "unit": u, "samples": n}
            for k, (v, u, n) in m.items()}


#: per-layer metrics that are per-statement means of the records
_MEAN = {
    "server.packets": "count", "server.bytes_out": "bytes",
    "server.encode_ms": "ms", "server.send_ms": "ms",
    "engine.stmt_ms": "ms", "engine.self_ms": "ms",
    "dialect.rewrite_calls": "count", "dialect.rewrite_ms": "ms",
    "py4j.calls": "count", "py4j.ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_ms": "ms", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.driver_ms": "ms",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "frequency.insert_calls": "count", "frequency.insert_ms": "ms",
    "frequency.delete_calls": "count", "frequency.delete_ms": "ms",
    "frequency.scan_calls": "count", "frequency.compact_ms": "ms",
    "frequency.delta_calls": "count",
    "commit.seal_calls": "count", "commit.seal_ms": "ms",
    "commit.manifest_publishes": "count", "commit.manifest_ms": "ms",
    "commit.seq_conflicts": "count", "commit.json_writes": "count",
    "materialize.refresh_calls": "count", "materialize.refresh_ms": "ms",
    "materialize.delta_rows": "count", "materialize.buckets_read": "count",
    "materialize.buckets_written": "count",
    "storage.bytes_written": "bytes", "jvm.gc_ms": "ms",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(results, records, user) -> dict:
    """Per-statement means over the traced statements, ratios of sums, and
    the tracing overhead from the untraced runs of the same statements."""
    n = len(records)
    tot = {k: sum(r.get(k, 0.0) for r in records) for k in
           set(_MEAN) | {"spark.tasks", "frequency.scan_segments",
                         "materialize.buckets_total"}}
    out = {k: (_ratio(tot[k], n), u) for k, u in _MEAN.items()}
    out["spark.tasks_per_job"] = (_ratio(tot["spark.tasks"],
                                         tot["spark.jobs"]), "count")
    out["frequency.segments_per_scan"] = (
        _ratio(tot["frequency.scan_segments"], tot["frequency.scan_calls"]),
        "count")
    out["materialize.bucket_touch_ratio"] = (
        _ratio(tot["materialize.buckets_written"],
               tot["materialize.buckets_total"]), "ratio")
    out["storage.write_amp"] = (
        _ratio(tot["storage.bytes_written"], user[1]) if user else 0.0,
        "ratio")
    out["jvm.heap_used_mb"] = (max((r["jvm.heap_used_mb"] for r in records),
                                   default=0.0), "MB")
    by_key: dict[tuple[str, bool], list[float]] = {}
    for s, ms, _, ok, on in results:
        if ok:
            by_key.setdefault((s.key, on), []).append(ms)
    ratios = [math.log(statistics.median(by_key[(k, True)])
                       / statistics.median(by_key[(k, False)]))
              for k, on in by_key if on and (k, False) in by_key]
    out["trace.overhead_pct"] = (
        (math.exp(statistics.fmean(ratios)) - 1) * 100 if ratios else 0.0,
        "%")
    out["trace.statements"] = (float(n), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(out.items())}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "incresql_spark", "engine.py")):
        print("run from the repository root: incresql_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    def on_alarm(signum, frame):
        raise BenchError(f"run exceeded {DEADLINE_S}s")

    def on_term(signum, frame):
        raise BenchError(f"stopped by signal {signum}")

    become_subreaper()
    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_term)
    signal.alarm(DEADLINE_S)
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.abspath(os.path.join(OUT_DIR, f"run-{os.getpid()}"))
    os.makedirs(work)
    try:
        info, layers = run(args, root, work)
    except BenchError as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        end_children(grace=5)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    if args.trace:
        metrics = layers
    else:
        metrics = {k: {"value": info["metrics"][k]["value"],
                       "unit": info["metrics"][k]["unit"]} for k in E2E}
    print(json.dumps({"correct": info["failed"] == 0,
                      "attempted": info["attempted"],
                      "failed": info["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
