"""RefreshPipeline: the one scheduler every multi-window MV refresh goes
through (the gate cycle drivers).  Pins its contract: pipelined ≡ serial
refresh ≡ from-scratch recompute, failures release every persisted frame
and recover through ``refresh()``, and every job a refresh launches on a
worker thread carries the caller's job group."""

from __future__ import annotations

import random
import sys
import threading
import time
from collections import Counter

import pytest
from pyspark.sql import types as T

from incresql_spark.engine import Engine
from incresql_spark.frequency import FreqTable
from incresql_spark.materialize import (AggregateJoinMaterializedView,
                                        MaterializedView, RefreshPipeline)

from tests.conftest import SF_SMALL

_A = T.StructType([T.StructField("k", T.IntegerType()),
                   T.StructField("v", T.LongType())])
_B = T.StructType([T.StructField("bk", T.IntegerType()),
                   T.StructField("w", T.LongType())])


def _persisted(spark) -> set[int]:
    """Ids of the RDDs persisted now.  Tests compare id sets, not counts:
    RDDs cached by earlier tests may be unpersisted while a test runs
    (their Python frames are collected), which shrinks a count."""
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _build(spark, root, kind, levels):
    """Base tables plus a ``levels``-deep cascade: the root aggregates a
    single base or an inner/left-outer join, each lower level aggregates
    the changelog of the one above."""
    a = FreqTable(spark, f"{root}/a")
    a.create(_A)
    tables = {"a": a}
    log = levels > 1
    if kind == "single":
        top = MaterializedView(spark, "r", a, "k, count(*) AS n, sum(v) AS s",
                               None, "k", f"{root}/r", changelog=log)
    else:
        b = FreqTable(spark, f"{root}/b")
        b.create(_B)
        tables["b"] = b
        top = AggregateJoinMaterializedView(
            spark, "r", [a, b], ["k = bk"], "k, count(*) AS n, sum(w) AS s",
            None, "k", f"{root}/r", hows=[kind], changelog=log)
    chain = [top]
    if levels > 1:
        chain.append(MaterializedView(
            spark, "l2", top.changelog, "n, count(*) AS c, sum(s) AS t",
            None, "n", f"{root}/l2", changelog=levels > 2))
    if levels > 2:
        chain.append(MaterializedView(
            spark, "l3", chain[1].changelog, "count(*) AS g, sum(t) AS tt",
            None, None, f"{root}/l3"))
    return tables, chain


def _waves(rng, kind, n):
    """Random insert/delete mixes.  Every wave inserts a matching a/b pair,
    so every wave feeds the root a non-empty delta; deletes only target
    values of earlier waves."""
    waves, seen = [], {"a": [], "b": []}
    for _ in range(n):
        ops = []
        k = rng.randrange(4)
        rows_a = [(k, rng.randrange(1, 1000))] + [
            (rng.randrange(4), rng.randrange(1, 1000))
            for _ in range(rng.randrange(3))]
        ops.append(("insert", "a", rows_a))
        if kind != "single":
            rows_b = [(k, rng.randrange(1, 1000))] + [
                (rng.randrange(5), rng.randrange(1, 1000))
                for _ in range(rng.randrange(3))]
            ops.append(("insert", "b", rows_b))
        for t in ("a", "b"):
            if seen[t] and rng.random() < 0.5:
                ops.append(("delete", t, rng.choice(seen[t])))
        seen["a"] += [v for _, v in rows_a]
        if kind != "single":
            seen["b"] += [w for _, w in rows_b]
        waves.append(ops)
    return waves


def _apply(spark, tables, model, ops):
    for op, t, arg in ops:
        col = "v" if t == "a" else "w"
        if op == "insert":
            schema = _A if t == "a" else _B
            tables[t].insert(spark.createDataFrame(arg, schema))
            model[t].update(arg)
        else:
            tables[t].delete_where(f"{col} = {arg}")
            for row in [r for r in model[t] if r[1] == arg]:
                del model[t][row]


def _sum(vals):
    vals = [v for v in vals if v is not None]
    return sum(vals) if vals else None


def _recompute(kind, model, levels):
    """From-scratch answer of every level, in plain Python."""
    joined = []  # (k, value, multiplicity)
    for (k, v), m in model["a"].items():
        if kind == "single":
            joined.append((k, v, m))
            continue
        matches = [(w, mb) for (bk, w), mb in model["b"].items() if bk == k]
        joined += [(k, w, m * mb) for w, mb in matches]
        if kind == "left_outer" and not matches:
            joined.append((k, None, m))
    groups: dict = {}
    for k, val, m in joined:
        groups.setdefault(k, []).extend([val] * m)
    out = [sorted((k, len(vs), _sum(vs)) for k, vs in groups.items())]
    if levels > 1:
        by_n: dict = {}
        for _, n, s in out[0]:
            by_n.setdefault(n, []).append(s)
        out.append(sorted((n, len(ss), _sum(ss)) for n, ss in by_n.items()))
    if levels > 2:
        out.append([(len(out[1]), _sum([t for _, _, t in out[1]]))]
                   if out[1] else [])
    return out


def _reads(chain):
    return [sorted(tuple(r) for r in v.read().collect()) for v in chain]


def _inject(chain, phase, at):
    """Make the root fail on its ``at``-th call of ``phase``: inside the
    fused delta job's bookkeeping (prepare), inside the merge (commit), or
    in the changelog segment write.  Returns the call counter."""
    root, calls = chain[0], Counter()
    target = {"prepare": (root, "_prepare_agg"),
              "commit": (root, "_merge_agg"),
              "changelog": (root.changelog, "_write_segment")}[phase]
    real = getattr(*target)

    def failing(*args, **kwargs):
        calls["n"] += 1
        out = real(*args, **kwargs)  # after the real work persisted frames
        if calls["n"] == at:
            raise RuntimeError(f"injected {phase} failure")
        return out

    setattr(*target, failing)
    return calls, lambda: delattr(*target)


@pytest.mark.parametrize("seed,kind,phase", [
    (11, "single", "changelog"),
    (12, "inner", "prepare"),
    (13, "left_outer", "commit"),
    (14, "inner", "changelog"),
])
def test_randomized_pipeline_differential(spark, tmp_path, seed, kind, phase):
    """Random cascades (1–3 levels over a single-base or inner/left-outer
    join view) and random insert/delete waves, driven through the
    pipeline with one injected failure, then recovered with ``refresh()``:
    every level must equal a serial ``refresh(until)`` cadence and a
    from-scratch recompute, and no persisted RDD may be left behind."""
    rng = random.Random(seed)
    levels = rng.randint(2 if phase == "changelog" else 1, 3)
    waves = _waves(rng, kind, rng.randint(1, 5))
    at = rng.randint(1, len(waves))

    # serial reference
    tables, chain = _build(spark, tmp_path / "ser", kind, levels)
    model = {"a": Counter(), "b": Counter()}
    for ops in waves:
        _apply(spark, tables, model, ops)
        for view in chain:
            view.refresh()
    want = _reads(chain)
    assert want == _recompute(kind, model, levels)

    # pipelined drive with one injected failure, then recovery
    before = _persisted(spark)
    tables, chain = _build(spark, tmp_path / "pipe", kind, levels)
    calls, restore = _inject(chain, phase, at)
    model = {"a": Counter(), "b": Counter()}
    done = 0
    with pytest.raises(RuntimeError, match=f"injected {phase} failure"):
        with RefreshPipeline(chain) as pipe:
            for ops in waves:
                _apply(spark, tables, model, ops)
                done += 1
                pipe.submit()
    assert calls["n"] >= at
    assert _persisted(spark) - before == set()  # every prepared handle released
    restore()
    for ops in waves[done:]:
        _apply(spark, tables, model, ops)
    for view in chain:
        view.refresh()
    assert _reads(chain) == want
    assert _persisted(spark) - before == set()


def test_pipeline_releases_queued_handles_when_a_commit_fails(spark, tmp_path):
    """A commit failure while the next window is already prepared: the
    prepared-but-uncommitted handle is unpersisted, the failure surfaces
    when the pipeline drains, and refresh() recovers the exact state."""
    tables, chain = _build(spark, tmp_path / "q", "inner", 1)
    mv = chain[0]
    gate, merges, prepared = threading.Event(), Counter(), Counter()
    real_merge, real_prepare = mv._merge_agg, mv.prepare

    def failing_merge(*args, **kwargs):
        merges["n"] += 1
        if merges["n"] == 1:
            gate.wait(60)  # hold commit 1 until window 2 is prepared
            raise RuntimeError("injected commit failure")
        return real_merge(*args, **kwargs)

    def counting_prepare(until=None):
        handle = real_prepare(until)
        prepared["n"] += 1
        if prepared["n"] == 2:
            gate.set()
        return handle

    mv._merge_agg, mv.prepare = failing_merge, counting_prepare
    before = _persisted(spark)
    model = {"a": Counter(), "b": Counter()}
    with pytest.raises(RuntimeError, match="injected commit failure"):
        with RefreshPipeline(chain) as pipe:
            _apply(spark, tables, model, [("insert", "a", [(1, 5), (2, 6)]),
                                          ("insert", "b", [(1, 7)])])
            pipe.submit()
            _apply(spark, tables, model, [("insert", "b", [(2, 8)])])
            pipe.submit()
    assert prepared["n"] == 2 and merges["n"] == 1
    assert _persisted(spark) - before == set()
    del mv._merge_agg, mv.prepare
    mv.refresh()
    assert _reads(chain) == _recompute("inner", model, 1)


class _FakeLog:
    def __init__(self):
        self.seq = 0

    def last_seq(self):
        return self.seq


class _FakeView:
    """Pure-Python stand-in for a view: integer cursors, every step
    appended to a shared log, random yields inside each step."""

    def __init__(self, spark, name, base, log, rng):
        self.spark, self.name, self.base = spark, name, base
        self.log, self.rng = log, rng
        self.changelog, self._prepared, self.committed = _FakeLog(), None, 0
        self.released = 0

    def _pause(self):
        time.sleep(self.rng.random() * 1e-4)

    def _bound(self, until=None):
        return self.base.last_seq() if until is None else until

    def windows(self, until=None):
        since = self.committed if self._prepared is None else self._prepared
        return [until] if until > since else []

    def prepare(self, until=None):
        self._pause()
        self.log.append(("prepare", self.name, until))
        self._prepared = until
        return {"w": until}

    def commit(self, handle):
        self._pause()
        self.log.append(("commit", self.name, handle["w"]))
        self.committed = self.changelog.seq = handle["w"]
        return 1

    def release(self, handle):
        self.released += 1

    def refresh(self, until=None):
        self._prepared = None
        return sum(self.commit(self.prepare(w)) for w in self.windows(until))


def test_pipeline_ordering_under_thread_stress(spark):
    """More stage threads than cores and a tiny switch interval: commits
    stay in window order per view, level k commits window i only after
    level k-1 did, and every window reaches every level."""
    rng, log, base = random.Random(5), [], _FakeLog()
    chain = []
    for k in range(6):
        chain.append(_FakeView(spark, f"v{k}", chain[-1].changelog if chain
                               else base, log, rng))

    def drive():
        with RefreshPipeline(chain) as pipe:
            for _ in range(40):
                base.seq += 1
                pipe.submit()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=drive)
        t.start()
        t.join(120)
        assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    windows = list(range(1, 41))
    where = {(op, name, w): i for i, (op, name, w) in enumerate(log)}
    for k, view in enumerate(chain):
        assert [w for op, n, w in log if op == "commit" and n == view.name] \
            == windows
        if k:
            assert all(where["commit", chain[k - 1].name, w]
                       < where["prepare", view.name, w] for w in windows)
    assert all(view.released == 0 for view in chain)


def test_pipeline_rejects_a_level_without_changelog(spark, tmp_path):
    _, chain = _build(spark, tmp_path / "nolog", "single", 1)
    with pytest.raises(ValueError, match="needs a changelog"):
        RefreshPipeline([chain[0], chain[0]])


def test_cascade_refresh_jobs_carry_the_statement_job_group(spark, tmp_path):
    """Engine REFRESH of a 3-level cascade (table → agg view → view over
    its changelog → view over that one) writes each level's changelog on
    a worker thread: every job the statement launches is listed under the
    session's job group (so KILL reaches them), none runs untagged, and
    the statement launches 26 jobs: one shuffle serves each level's merge
    and bucket write (29 while the write shuffled again)."""
    e = Engine(spark, str(tmp_path / "wh"))
    x = e.execute_statement
    x("CREATE TABLE t (g TEXT, v INT)")
    x("INSERT INTO t VALUES ('a', 1), ('b', 2), ('c', 3)")
    x("CREATE MATERIALIZED VIEW l1 AS "
      "SELECT g, count(*) AS n, sum(v) AS s FROM t GROUP BY g")
    x("CREATE MATERIALIZED VIEW l2 AS "
      "SELECT n, count(*) AS k, sum(s) AS s2 FROM l1 GROUP BY n")
    x("CREATE MATERIALIZED VIEW l3 AS "
      "SELECT count(*) AS groups, sum(s2) AS total FROM l2")
    x("INSERT INTO t VALUES ('a', 10), ('d', 4)")
    x("DELETE FROM t WHERE g = 'b'")
    tracker = spark.sparkContext.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    res = x("REFRESH MATERIALIZED VIEW l3", session_id="jobgroup-cascade")
    assert res.rows == [(3,)]
    jobs = tracker.getJobIdsForGroup("incresql-session-jobgroup-cascade")
    assert not set(tracker.getJobIdsForGroup(None)) - untagged
    assert len(jobs) == 26
    assert sorted(x("SELECT * FROM l3").rows) == [(2, 18)]


def test_minhash_driver_releases_pins_when_a_wave_fails(spark, monkeypatch):
    """A failed wave in dedup_minhash_incremental surfaces its own error
    and still releases every deferred delta pin and every materialized
    wave, so a long session does not accumulate cached blocks."""
    from incresql_spark.operators.pipeline import dedup_minhash_incremental
    from incresql_spark.plans import layout

    real, calls = layout.materialize, Counter()
    lock = threading.Lock()

    def failing(df):
        with lock:
            calls["n"] += 1
            n = calls["n"]
        if n == 2:
            raise RuntimeError("injected wave-2 failure")
        return real(df)

    monkeypatch.setattr(layout, "materialize", failing)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="injected wave-2 failure"):
        dedup_minhash_incremental(spark, SF_SMALL)
    assert calls["n"] == 3
    assert _persisted(spark) - before == set()


def test_pipeline_commit_resize_while_next_window_prepares(
        spark, tmp_path, monkeypatch):
    """Commit i resizes the root's state while prepare i+1 already hashed
    its delta with the old bucket count: commit i+1 re-buckets, and every
    level ends equal to serial ``refresh(until)`` calls."""
    from incresql_spark import materialize

    # 28-byte root state rows, 4 per bucket: 3 groups fit one bucket, the
    # second wave's 9 need four; the third wave also updates group 1, which
    # a commit merging into the wrong bucket would duplicate
    monkeypatch.setattr(materialize, "BUCKET_BYTES", 4 * 28)
    waves = [[("insert", "a", [(k, k) for k in range(lo, hi)])]
             for lo, hi in [(0, 3), (3, 9), (9, 12)]]
    waves[2][0][2].append((1, 100))

    tables, chain = _build(spark, tmp_path / "ser", "single", 2)
    model = {"a": Counter(), "b": Counter()}
    for ops in waves:
        _apply(spark, tables, model, ops)
        for view in chain:
            view.refresh()
    want = _reads(chain)
    assert want == _recompute("single", model, 2)

    tables, chain = _build(spark, tmp_path / "pipe", "single", 2)
    root = chain[0]
    prepared, hashed, merges = threading.Event(), [], Counter()
    real_prepare, real_merge = root.prepare, root._merge_agg

    def prepare(until=None):
        handle = real_prepare(until)
        hashed.append(handle.get("buckets"))
        if len(hashed) == 3:
            prepared.set()
        return handle

    def merge(handle, cursor):
        merges["n"] += 1
        if merges["n"] == 2:
            prepared.wait(60)  # commit 2 resizes once prepare 3 hashed
        return real_merge(handle, cursor)

    root.prepare, root._merge_agg = prepare, merge
    model = {"a": Counter(), "b": Counter()}
    with RefreshPipeline(chain) as pipe:
        for ops in waves:
            _apply(spark, tables, model, ops)
            pipe.submit()
    assert hashed == [1, 1, 1]
    assert root.state._load_manifest()["num_buckets"] == 4
    assert _reads(chain) == want
