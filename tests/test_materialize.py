"""Incremental materialized-view refresh: delta propagation must equal a
full recompute after arbitrary insert/delete histories (the reference's
retractable-aggregate contract, functions/src/lib.rs:112-163)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incresql_spark import commit
from incresql_spark.engine import Engine
from incresql_spark.frequency import FreqTable
from incresql_spark.materialize import AggregateJoinMaterializedView


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def _join_rows_view(spark, a, b, state_dir, how="inner"):
    """The plain join of a (k, av) and b (bk, bv) as a view: grouped by
    every output column with count(*), which keeps the join's multiset."""
    return AggregateJoinMaterializedView(
        spark, "mv_rows", [a, b], ["k = bk"], "k, av, bv, count(*) AS n",
        None, "k, av, bv", state_dir, hows=[how],
    )


def _join_rows(mv):
    """A ``_join_rows_view``'s rows expanded back to the join multiset."""
    got = mv.read().collect()
    assert all(r.n > 0 for r in got), got
    return sorted(tuple(r)[:-1] for r in got for _ in range(r.n))


def rows(e, sql):
    return sorted(e.execute_statement(sql).rows)


def test_aggregate_mv_incremental(engine):
    engine.execute_statement("CREATE TABLE sales (region TEXT, amount INT)")
    engine.execute_statement("INSERT INTO sales VALUES ('n', 10), ('n', 20), ('s', 5)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_sales AS "
        "SELECT region, count(*) AS cnt, sum(amount) AS total, avg(amount) AS mean "
        "FROM sales GROUP BY region"
    )
    assert rows(engine, "SELECT * FROM mv_sales ORDER BY region") == [
        ("n", 2, 30, 15.0),
        ("s", 1, 5, 5.0),
    ]
    # Incremental: new inserts only propagate the delta
    engine.execute_statement("INSERT INTO sales VALUES ('n', 30), ('e', 1)")
    r = engine.execute_statement("REFRESH MATERIALIZED VIEW mv_sales")
    assert r.rows[0][0] > 0
    assert rows(engine, "SELECT * FROM mv_sales") == [
        ("e", 1, 1, 1.0),
        ("n", 3, 60, 20.0),
        ("s", 1, 5, 5.0),
    ]
    # Retraction: deletes shrink counts; group vanishing at cnt=0
    engine.execute_statement("DELETE FROM sales WHERE region = 's'")
    engine.execute_statement("DELETE FROM sales WHERE amount = 30")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_sales")
    assert rows(engine, "SELECT * FROM mv_sales") == [
        ("e", 1, 1, 1.0),
        ("n", 2, 30, 15.0),
    ]


def test_aggregate_mv_matches_full_recompute(engine):
    engine.execute_statement("CREATE TABLE ev (k TEXT, v INT)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_ev AS "
        "SELECT k, count(*) AS cnt, sum(v) AS sv FROM ev GROUP BY k"
    )
    import random

    rng = random.Random(7)
    live = []
    for step in range(5):
        batch = [(rng.choice("abc"), rng.randint(1, 9)) for _ in range(4)]
        live.extend(batch)
        vals = ", ".join(f"('{k}', {v})" for k, v in batch)
        engine.execute_statement(f"INSERT INTO ev VALUES {vals}")
        if step % 2 == 1 and live:
            victim = live[0][0]
            live = [r for r in live if r[0] != victim]
            engine.execute_statement(f"DELETE FROM ev WHERE k = '{victim}'")
        engine.execute_statement("REFRESH MATERIALIZED VIEW mv_ev")
        expect = rows(engine, "SELECT k, count(*) AS cnt, sum(v) AS sv FROM ev GROUP BY k")
        assert rows(engine, "SELECT * FROM mv_ev") == expect, f"diverged at step {step}"


def test_linear_mv(engine):
    engine.execute_statement("CREATE TABLE logs (lvl TEXT, msg TEXT)")
    engine.execute_statement(
        "INSERT INTO logs VALUES ('E','boom'),('I','ok'),('E','bad')"
    )
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_err AS SELECT msg FROM logs WHERE lvl = 'E'"
    )
    assert rows(engine, "SELECT * FROM mv_err") == [("bad",), ("boom",)]
    engine.execute_statement("INSERT INTO logs VALUES ('E','again'),('I','fine')")
    engine.execute_statement("DELETE FROM logs WHERE msg = 'boom'")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_err")
    assert rows(engine, "SELECT * FROM mv_err") == [("again",), ("bad",)]


def test_join_mv_bilinear_delta(spark, tmp_path):
    a = FreqTable(spark, str(tmp_path / "a"))
    b = FreqTable(spark, str(tmp_path / "b"))
    from pyspark.sql import types as T

    a.create(T.StructType([T.StructField("k", T.IntegerType()), T.StructField("av", T.StringType())]))
    b.create(T.StructType([T.StructField("bk", T.IntegerType()), T.StructField("bv", T.StringType())]))
    a.insert(spark.createDataFrame([(1, "a1"), (2, "a2")], "k int, av string"))
    b.insert(spark.createDataFrame([(1, "b1")], "bk int, bv string"))
    mv = _join_rows_view(spark, a, b, str(tmp_path / "mvj"))
    mv.refresh()
    assert _join_rows(mv) == [(1, "a1", "b1")]
    # delta on both sides, including a match for pre-existing a-row 2
    a.insert(spark.createDataFrame([(3, "a3")], "k int, av string"))
    b.insert(spark.createDataFrame([(2, "b2"), (3, "b3")], "bk int, bv string"))
    mv.refresh()
    assert _join_rows(mv) == [
        (1, "a1", "b1"),
        (2, "a2", "b2"),
        (3, "a3", "b3"),
    ]
    # retraction through the join
    b.delete_where("bv = 'b1'")
    mv.refresh()
    assert _join_rows(mv) == [
        (2, "a2", "b2"),
        (3, "a3", "b3"),
    ]


def test_join_mv_ddl_incremental(engine):
    """CREATE MATERIALIZED VIEW over a JOIN (the Q3 shape) through the SQL
    surface: inserts on EITHER base table and DELETE retractions propagate
    O(delta) through AggregateJoinMaterializedView, and the MV is
    queryable like any table."""
    engine.execute_statement("CREATE TABLE o (ok INT, cust TEXT)")
    engine.execute_statement("CREATE TABLE li (lk INT, qty INT)")
    engine.execute_statement("INSERT INTO o VALUES (1, 'a'), (2, 'b')")
    engine.execute_statement("INSERT INTO li VALUES (1, 10), (1, 5), (2, 7)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_j AS "
        "SELECT cust, count(*) AS n, sum(qty) AS total "
        "FROM o JOIN li ON ok = lk GROUP BY cust"
    )
    assert rows(engine, "SELECT * FROM mv_j ORDER BY cust") == [
        ("a", 2, 15),
        ("b", 1, 7),
    ]
    # delta on the LEFT table: a new order picks up existing lineitems? no
    # (none match) — and a delta on the RIGHT table extends existing groups
    engine.execute_statement("INSERT INTO o VALUES (3, 'a')")
    engine.execute_statement("INSERT INTO li VALUES (3, 2), (2, 1)")
    r = engine.execute_statement("REFRESH MATERIALIZED VIEW mv_j")
    assert r.rows[0][0] > 0
    assert rows(engine, "SELECT * FROM mv_j") == [
        ("a", 3, 17),
        ("b", 2, 8),
    ]
    # retraction on the right table: group 'b' loses a row; retraction on
    # the left kills every joined row of order 1
    engine.execute_statement("DELETE FROM li WHERE qty = 1")
    engine.execute_statement("DELETE FROM o WHERE ok = 1")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_j")
    assert rows(engine, "SELECT * FROM mv_j") == [
        ("a", 1, 2),
        ("b", 1, 7),
    ]
    # join MVs require aggregates
    with pytest.raises(ValueError, match="GROUP BY"):
        engine.execute_statement(
            "CREATE MATERIALIZED VIEW mv_bad AS "
            "SELECT cust, qty FROM o JOIN li ON ok = lk"
        )


def test_compact_refreshes_dependent_join_mvs(engine):
    """COMPACT TABLE on ANY base table of a JOIN MV must bring the MV's
    cursor for that table to head first — the compact guard extended to
    multi-table metas (round 6): without it the collapsed seq range would
    make the next refresh fail in delta()'s compaction check."""
    engine.execute_statement("CREATE TABLE jo (ok INT, cust TEXT)")
    engine.execute_statement("CREATE TABLE jli (lk INT, qty INT)")
    engine.execute_statement("INSERT INTO jo VALUES (1, 'a'), (2, 'b')")
    engine.execute_statement("INSERT INTO jli VALUES (1, 10), (2, 7)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW jmv AS "
        "SELECT cust, count(*) AS n, sum(qty) AS total "
        "FROM jo JOIN jli ON ok = lk GROUP BY cust"
    )
    # new segments on BOTH tables, then compact each in turn
    engine.execute_statement("INSERT INTO jli VALUES (1, 5)")
    engine.execute_statement("COMPACT TABLE jli")
    engine.execute_statement("INSERT INTO jo VALUES (3, 'a')")
    engine.execute_statement("COMPACT TABLE jo")
    engine.execute_statement("INSERT INTO jli VALUES (3, 2)")
    engine.execute_statement("REFRESH MATERIALIZED VIEW jmv")
    got = rows(engine, "SELECT * FROM jmv ORDER BY cust")
    assert got == [("a", 3, 17), ("b", 1, 7)], got


def test_join_mv_random_histories_match_recompute(spark, tmp_path):
    """Randomized differential check for the aggregate-over-join MV:
    seeded random histories of inserts and predicate deletes on BOTH base
    tables, refreshed at random points, must always equal a from-scratch
    recompute over the live rows (count + sum + avg, including groups
    born and killed mid-history)."""
    import random

    from pyspark.sql import functions as F

    from incresql_spark.materialize import AggregateJoinMaterializedView

    rng = random.Random(42)
    # distinct join-key names so the chain-join condition is unambiguous
    a2 = FreqTable(spark, str(tmp_path / "ra2"))
    b2 = FreqTable(spark, str(tmp_path / "rb2"))
    a2.create(spark.createDataFrame([], "a_k int, grp string").schema)
    b2.create(spark.createDataFrame([], "b_k int, v int").schema)
    mv = AggregateJoinMaterializedView(
        spark, "rmv2", [a2, b2], ["a_k = b_k"],
        "grp, count(*) AS n, sum(v) AS s, avg(v) AS m",
        None, "grp", str(tmp_path / "rmv2"),
    )

    live_a: list[tuple[int, str]] = []
    live_b: list[tuple[int, int]] = []
    for step in range(8):
        op = rng.choice(["ins_a", "ins_b", "del_a", "del_b"])
        if op == "ins_a" or not live_a:
            rows_ = [(rng.randint(0, 5), rng.choice("xyz")) for _ in range(rng.randint(1, 4))]
            a2.insert(spark.createDataFrame(rows_, "a_k int, grp string"))
            live_a += rows_
        elif op == "ins_b" or not live_b:
            rows_ = [(rng.randint(0, 5), rng.randint(-9, 9)) for _ in range(rng.randint(1, 4))]
            b2.insert(spark.createDataFrame(rows_, "b_k int, v int"))
            live_b += rows_
        elif op == "del_a":
            g = rng.choice("xyz")
            a2.delete_where(f"grp = '{g}'")
            live_a = [r for r in live_a if r[1] != g]
        else:
            k = rng.randint(0, 5)
            b2.delete_where(f"b_k = {k}")
            live_b = [r for r in live_b if r[0] != k]
        if rng.random() < 0.6 or step == 7:
            mv.refresh()
            got = {
                r.grp: (r.n, r.s, r.m) for r in mv.read().collect()
            }
            # reference recompute over the live multiset
            want: dict = {}
            for ak, grp in live_a:
                for bk, v in live_b:
                    if ak == bk:
                        n, s = want.get(grp, (0, 0))
                        want[grp] = (n + 1, s + v)
            want = {g: (n, s, s / n) for g, (n, s) in want.items()}
            assert set(got) == set(want), (step, got, want)
            for g in want:
                assert got[g][0] == want[g][0], (step, g, got[g], want[g])
                assert got[g][1] == want[g][1], (step, g, got[g], want[g])
                assert got[g][2] == pytest.approx(want[g][2]), (step, g)


def test_agg_state_merge_rewrites_only_touched_buckets(spark, tmp_path,
                                                      monkeypatch):
    """The O(delta + touched groups) contract, structurally: a refresh whose
    delta touches ONE group must commit a new version of at most ONE state
    bucket — every other bucket's (version, files) pair is untouched
    (materialize.AggState's manifest layout; VERDICT r6/r7 weak item: the
    old merge unioned and rewrote the ENTIRE state each refresh)."""
    import json
    import os

    from incresql_spark import materialize
    from incresql_spark.materialize import MaterializedView

    # 200 groups of 28-byte state rows at 100 bytes per bucket: 64 buckets
    monkeypatch.setattr(materialize, "BUCKET_BYTES", 100)

    def manifest(agg_path):
        vs = sorted(
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(agg_path)
            if f.startswith("manifest-") and f.endswith(".json")
        )
        with open(os.path.join(agg_path, f"manifest-{vs[-1]}.json")) as fh:
            return json.load(fh)

    base = FreqTable(spark, str(tmp_path / "base"))
    seed = spark.range(200).selectExpr("CAST(id AS INT) AS k", "CAST(id AS INT) AS v")
    base.create(seed.schema)
    base.insert(seed)
    mv = MaterializedView(
        spark, "mv_bkt", base,
        "k, count(*) AS cnt, sum(v) AS sv", None, "k",
        str(tmp_path / "state"),
    )
    mv.refresh()
    agg_path = os.path.join(str(tmp_path / "state"), "agg")
    m0 = manifest(agg_path)
    assert len(m0["buckets"]) > 4  # groups actually spread across buckets
    from incresql_spark.materialize import AggState

    files0 = {
        b: sorted(os.listdir(os.path.join(agg_path, f"b-{b}",
                                          AggState._vdir(v))))
        for b, v in m0["buckets"].items()
    }

    # delta touching exactly one group
    base.insert(spark.createDataFrame([(7, 100)], "k INT, v INT"))
    mv.refresh()
    m1 = manifest(agg_path)
    changed = {
        b for b in set(m0["buckets"]) | set(m1["buckets"])
        if m0["buckets"].get(b) != m1["buckets"].get(b)
    }
    assert len(changed) <= 1, f"1-group delta rewrote buckets {sorted(changed)}"
    # untouched buckets: same version AND same files on disk
    for b, v in m0["buckets"].items():
        if b in changed:
            continue
        assert m1["buckets"][b] == v
        assert (
            sorted(os.listdir(os.path.join(agg_path, f"b-{b}",
                                           AggState._vdir(v))))
            == files0[b]
        )
    # and the result is still right
    got = sorted(tuple(r) for r in mv.read().collect())
    assert (7, 2, 107) in got
    assert len(got) == 200


def test_agg_state_bucket_emptied_on_group_vanish(spark, tmp_path):
    """A bucket whose last group retracts to zero leaves the manifest, and
    the view reads back empty (the reference's zero-freq compaction)."""
    from incresql_spark.materialize import MaterializedView

    base = FreqTable(spark, str(tmp_path / "base"))
    seed = spark.createDataFrame([("x", 1), ("x", 2)], "k STRING, v INT")
    base.create(seed.schema)
    base.insert(seed)
    mv = MaterializedView(
        spark, "mv_vanish", base,
        "k, count(*) AS cnt, sum(v) AS sv", None, "k",
        str(tmp_path / "state"),
    )
    mv.refresh()
    assert [tuple(r) for r in mv.read().collect()] == [("x", 2, 3)]
    base.delete_where("k = 'x'")
    mv.refresh()
    assert mv.read().collect() == []


def test_agg_state_recovers_from_crashed_refresh_leftovers(spark, tmp_path):
    """Crash recovery (ADVICE r8 medium; reworked in round 13): a refresh
    that died AFTER moving bucket versions into place but BEFORE the
    manifest commit leaves v-{next} dirs (and possibly its stage dir)
    behind with the manifest never advanced.  Since round 13 new dirs are
    writer-unique (v-N-tag), so the orphans cannot collide with the next
    refresh's names — the refresh must simply succeed, and the
    version-scoped post-commit sweep must then reclaim the orphans (their
    version is <= the newly committed one)."""
    import json
    import os

    from incresql_spark.materialize import MaterializedView

    base = FreqTable(spark, str(tmp_path / "base"))
    seed = spark.range(100).selectExpr("CAST(id AS INT) AS k", "CAST(id AS INT) AS v")
    base.create(seed.schema)
    base.insert(seed)
    mv = MaterializedView(
        spark, "mv_crash", base, "k, count(*) AS cnt, sum(v) AS sv",
        None, "k", str(tmp_path / "state"),
    )
    mv.refresh()
    agg_path = os.path.join(str(tmp_path / "state"), "agg")
    vs = sorted(
        int(f.split("-")[1].split(".")[0])
        for f in os.listdir(agg_path)
        if f.startswith("manifest-") and f.endswith(".json")
    )
    with open(os.path.join(agg_path, f"manifest-{vs[-1]}.json")) as fh:
        m = json.load(fh)
    nxt = m["version"] + 1
    # simulate the crash: uncommitted v-{nxt} under EVERY live bucket plus
    # a leftover stage dir — worst case, every touched rename would collide
    for b in m["buckets"]:
        d = os.path.join(agg_path, f"b-{b}", f"v-{nxt}")
        os.makedirs(d)
        with open(os.path.join(d, "junk.parquet"), "w") as fh:
            fh.write("crashed")
    os.makedirs(os.path.join(agg_path, f"stage-{nxt}", "__bkt=0"))

    base.insert(spark.createDataFrame([(7, 100)], "k INT, v INT"))
    mv.refresh()  # must not raise, and must produce the right state
    got = {r.k: (r.cnt, r.sv) for r in mv.read().collect()}
    assert got[7] == (2, 107)
    assert len(got) == 100
    # no stage leftovers; no version dirs beyond the committed manifest
    with_stage = [n for n in os.listdir(agg_path) if n.startswith("stage-")]
    assert with_stage == []
    with open(os.path.join(agg_path, f"manifest-{nxt}.json")) as fh:
        m1 = json.load(fh)
    from incresql_spark.materialize import AggState

    live = {AggState._vdir(v) for v in m1["buckets"].values()}
    for name in os.listdir(agg_path):
        if not name.startswith("b-"):
            continue
        for d in os.listdir(os.path.join(agg_path, name)):
            v = AggState._vdir_version(d)
            assert v <= m1["version"], f"orphan {name}/{d} survived"
            # the crashed legacy-named v-{nxt} orphans must be GONE —
            # everything still on disk at <= committed is either live or
            # the retained superseded generation of a touched bucket
            assert d in live or v < m1["version"], (
                f"crashed orphan {name}/{d} not reclaimed"
            )


def test_agg_state_explicit_bucket_count_mismatch_raises(spark, tmp_path):
    """An EXPLICIT bucket count conflicting with an existing manifest must
    fail with the real cause (ADVICE r8 low), not the staged-subset
    assertion downstream; a reader without a count defers to the manifest."""
    from incresql_spark.materialize import AggState

    st = AggState(spark, str(tmp_path / "agg"), num_buckets=8)
    df = spark.createDataFrame([(1, 1), (2, 1)], "k INT, __cnt BIGINT")
    st.write_buckets(
        df, ["k"],
        touched=sorted(
            r["__bkt"]
            for r in df.withColumn("__bkt", st.bucket_expr(["k"])).select("__bkt").distinct().collect()
        ),
    )
    # a reader without a count pins to the manifest silently
    st2 = AggState(spark, str(tmp_path / "agg"))
    assert st2.read() is not None and st2.num_buckets == 8
    # explicit conflicting count fails loudly at manifest load
    st3 = AggState(spark, str(tmp_path / "agg"), num_buckets=16)
    with pytest.raises(ValueError, match="bucket count mismatch"):
        st3.read()


def test_agg_state_retention_stays_bounded_across_refreshes(spark, tmp_path):
    """Bucket-aware GC (VERDICT r8 task 7): across ~10 refreshes the layout
    keeps at most 2 versions per bucket (current + one superseded), at most
    2 manifests, and no stage dirs — disk usage is bounded however long the
    MV lives."""
    import os

    from incresql_spark.materialize import MaterializedView

    base = FreqTable(spark, str(tmp_path / "base"))
    seed = spark.range(60).selectExpr("CAST(id AS INT) AS k", "CAST(id AS INT) AS v")
    base.create(seed.schema)
    base.insert(seed)
    mv = MaterializedView(
        spark, "mv_gc", base, "k, count(*) AS cnt, sum(v) AS sv",
        None, "k", str(tmp_path / "state"),
    )
    mv.refresh()
    agg_path = os.path.join(str(tmp_path / "state"), "agg")
    for step in range(9):
        # rotate through keys so different buckets get touched over time
        base.insert(spark.createDataFrame([(step * 7 % 60, 1)], "k INT, v INT"))
        mv.refresh()
        manifests = [n for n in os.listdir(agg_path) if n.startswith("manifest-")]
        assert len(manifests) <= 2, manifests
        assert not [n for n in os.listdir(agg_path) if n.startswith("stage-")]
        for name in os.listdir(agg_path):
            if name.startswith("b-"):
                vers = os.listdir(os.path.join(agg_path, name))
                assert len(vers) <= 2, f"{name} kept {sorted(vers)}"
    got = {r.k: (r.cnt, r.sv) for r in mv.read().collect()}
    # k=0: seed row (v=0) + the step-0 delta (v=1)
    assert len(got) == 60 and got[0] == (2, 1)


def test_mv_avg_double_finalize_golden(engine):
    """Documented deviation from the reference (VERDICT r8 task 6): the
    reference finalizes avg over DECIMAL inputs as a DECIMAL division
    (functions/src/registry/aggregates/avg.rs:8-190: state=(sum, count),
    finalize sum/count in decimal); we finalize as DOUBLE
    (materialize.py avg branch: sum/count both cast to double).  For
    avg(10.10, 20.20, 30.25) the reference yields DECIMAL '20.183333'
    (scale+4); we yield the IEEE double 20.183333333333334.  Pinned here so
    the deviation is a tested contract, not an accident."""
    engine.execute_statement("CREATE TABLE prices (item TEXT, p DECIMAL(10,2))")
    engine.execute_statement(
        "INSERT INTO prices VALUES ('a', 10.10), ('a', 20.20), ('a', 30.25)"
    )
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_avg AS "
        "SELECT item, avg(p) AS mean FROM prices GROUP BY item"
    )
    r = engine.execute_statement("SELECT * FROM mv_avg").rows
    assert len(r) == 1
    item, mean = r[0]
    assert item == "a"
    # DOUBLE, not Decimal — the IEEE result of double(60.55)/double(3)
    assert isinstance(mean, float)
    assert mean == pytest.approx(60.55 / 3, rel=1e-15)


def test_compact_ordering_invariant_end_to_end(engine, spark, tmp_path):
    """The refresh-before-compact invariant as a tested contract (VERDICT
    r8 stretch task 8): through the ENGINE, COMPACT TABLE refreshes
    dependent MVs first, so compaction never strands an MV cursor; a
    LIBRARY user who compacts the base underneath an unrefreshed MV gets
    the loud delta()/scan() ValueError, never a silent wrong refresh."""
    # engine path: single-table aggregate MV survives COMPACT mid-stream
    engine.execute_statement("CREATE TABLE cmp (k TEXT, v INT)")
    engine.execute_statement("INSERT INTO cmp VALUES ('a', 1), ('b', 2)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_cmp AS "
        "SELECT k, count(*) AS cnt, sum(v) AS sv FROM cmp GROUP BY k"
    )
    engine.execute_statement("INSERT INTO cmp VALUES ('a', 3)")
    engine.execute_statement("COMPACT TABLE cmp")  # refreshes mv_cmp first
    engine.execute_statement("INSERT INTO cmp VALUES ('b', 4)")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_cmp")
    assert rows(engine, "SELECT * FROM mv_cmp") == [("a", 2, 4), ("b", 2, 6)]

    # library path: compact WITHOUT refreshing first → the next refresh's
    # delta cursor points inside the compacted span and must refuse
    from incresql_spark.materialize import MaterializedView

    base = FreqTable(spark, str(tmp_path / "lib_base"))
    seed = spark.createDataFrame([("x", 1)], "k STRING, v INT")
    base.create(seed.schema)
    base.insert(seed)
    mv = MaterializedView(
        spark, "mv_lib", base, "k, count(*) AS cnt", None, "k",
        str(tmp_path / "lib_state"),
    )
    mv.refresh()
    base.insert(spark.createDataFrame([("y", 2)], "k STRING, v INT"))
    base.compact()  # spans the MV's cursor without a refresh
    with pytest.raises(ValueError, match="compacted segment range"):
        mv.refresh()


def test_left_outer_join_mv_pad_flips(spark, tmp_path):
    """Incremental LEFT OUTER join MV (reference LeftOuter,
    ast/src/rel/logical.rs:55-59; NULL-pad hash_join.rs:147-160): right-side
    inserts AND deletes must flip pad rows — a key gaining its first match
    retracts the NULL-pad row and emits the joined one; a key losing its
    last match does the reverse."""
    from pyspark.sql import types as T

    a = FreqTable(spark, str(tmp_path / "loa"))
    b = FreqTable(spark, str(tmp_path / "lob"))
    a.create(T.StructType([T.StructField("k", T.IntegerType()), T.StructField("av", T.StringType())]))
    b.create(T.StructType([T.StructField("bk", T.IntegerType()), T.StructField("bv", T.StringType())]))
    a.insert(spark.createDataFrame([(1, "a1"), (2, "a2")], "k int, av string"))
    mv = _join_rows_view(spark, a, b, str(tmp_path / "mvlo"), how="left_outer")
    mv.refresh()
    # empty right side: every left row is NULL-padded
    assert _join_rows(mv) == [
        (1, "a1", None), (2, "a2", None),
    ]
    # first match for k=1 retracts its pad and emits the joined row
    b.insert(spark.createDataFrame([(1, "b1")], "bk int, bv string"))
    mv.refresh()
    assert _join_rows(mv) == [
        (1, "a1", "b1"), (2, "a2", None),
    ]
    # second match for k=1 does NOT add a pad (count 1→2, no flip); new
    # unmatched left row gets a pad
    b.insert(spark.createDataFrame([(1, "b1x")], "bk int, bv string"))
    a.insert(spark.createDataFrame([(3, "a3")], "k int, av string"))
    mv.refresh()
    assert _join_rows(mv) == [
        (1, "a1", "b1"), (1, "a1", "b1x"), (2, "a2", None), (3, "a3", None),
    ]
    # deleting ONE of k=1's matches: joined row retracts, still no pad
    b.delete_where("bv = 'b1x'")
    mv.refresh()
    assert _join_rows(mv) == [
        (1, "a1", "b1"), (2, "a2", None), (3, "a3", None),
    ]
    # deleting the LAST match flips back: pad row re-emerges
    b.delete_where("bv = 'b1'")
    mv.refresh()
    assert _join_rows(mv) == [
        (1, "a1", None), (2, "a2", None), (3, "a3", None),
    ]
    # left-side retraction drops both joined and pad rows
    a.delete_where("k = 2")
    mv.refresh()
    assert _join_rows(mv) == [
        (1, "a1", None), (3, "a3", None),
    ]


def test_left_outer_agg_join_mv_ddl(engine):
    """The Q13 shape through the SQL surface: aggregate over
    customer LEFT JOIN orders maintained incrementally, pads counted as
    groups with zero non-null matches (count(arg) skips NULL — reference
    count semantics)."""
    engine.execute_statement("CREATE TABLE cst (ck INT, nm TEXT)")
    engine.execute_statement("CREATE TABLE ord (ok INT, oid INT)")
    engine.execute_statement("INSERT INTO cst VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    engine.execute_statement("INSERT INTO ord VALUES (1, 100), (1, 101)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_q13 AS "
        "SELECT nm, count(oid) AS n_orders, count(*) AS n_rows "
        "FROM cst LEFT JOIN ord ON ck = ok GROUP BY nm"
    )
    assert rows(engine, "SELECT * FROM mv_q13") == [
        ("a", 2, 2), ("b", 0, 1), ("c", 0, 1),
    ]
    # b gains its first order (pad flip), c stays padded, new customer d
    engine.execute_statement("INSERT INTO ord VALUES (2, 200)")
    engine.execute_statement("INSERT INTO cst VALUES (4, 'd')")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_q13")
    assert rows(engine, "SELECT * FROM mv_q13") == [
        ("a", 2, 2), ("b", 1, 1), ("c", 0, 1), ("d", 0, 1),
    ]
    # a loses ONE order (no flip), then the other (flip back to pad)
    engine.execute_statement("DELETE FROM ord WHERE oid = 101")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_q13")
    assert rows(engine, "SELECT * FROM mv_q13") == [
        ("a", 1, 1), ("b", 1, 1), ("c", 0, 1), ("d", 0, 1),
    ]
    engine.execute_statement("DELETE FROM ord WHERE oid = 100")
    engine.execute_statement("DELETE FROM cst WHERE nm = 'c'")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_q13")
    assert rows(engine, "SELECT * FROM mv_q13") == [
        ("a", 0, 1), ("b", 1, 1), ("d", 0, 1),
    ]
    # batch recompute agreement through the engine's SELECT path
    expect = rows(
        engine,
        "SELECT nm, count(oid) AS n_orders, count(*) AS n_rows "
        "FROM cst LEFT JOIN ord ON ck = ok GROUP BY nm",
    )
    assert rows(engine, "SELECT * FROM mv_q13") == expect


def test_left_outer_join_mv_random_histories_match_recompute(spark, tmp_path):
    """Randomized differential for the left-outer aggregate MV: seeded
    insert/delete histories on both sides, refreshed at random points,
    must equal a from-scratch recompute of the LEFT JOIN + GROUP BY over
    the live multisets — including pad births/deaths mid-history."""
    import random

    rng = random.Random(1234)
    a2 = FreqTable(spark, str(tmp_path / "loa2"))
    b2 = FreqTable(spark, str(tmp_path / "lob2"))
    a2.create(spark.createDataFrame([], "a_k int, grp string").schema)
    b2.create(spark.createDataFrame([], "b_k int, v int").schema)
    mv = AggregateJoinMaterializedView(
        spark, "lomv", [a2, b2], ["a_k = b_k"],
        "grp, count(v) AS nv, count(*) AS n, sum(v) AS s",
        None, "grp", str(tmp_path / "lomv"), hows=["left_outer"],
    )

    live_a: list[tuple[int, str]] = []
    live_b: list[tuple[int, int]] = []
    for step in range(8):
        op = rng.choice(["ins_a", "ins_b", "del_a", "del_b"])
        if op == "ins_a" or not live_a:
            rows_ = [(rng.randint(0, 4), rng.choice("xyz")) for _ in range(rng.randint(1, 3))]
            a2.insert(spark.createDataFrame(rows_, "a_k int, grp string"))
            live_a += rows_
        elif op == "ins_b" or not live_b:
            rows_ = [(rng.randint(0, 4), rng.randint(-9, 9)) for _ in range(rng.randint(1, 3))]
            b2.insert(spark.createDataFrame(rows_, "b_k int, v int"))
            live_b += rows_
        elif op == "del_a":
            g = rng.choice("xyz")
            a2.delete_where(f"grp = '{g}'")
            live_a = [r for r in live_a if r[1] != g]
        else:
            k = rng.randint(0, 4)
            b2.delete_where(f"b_k = {k}")
            live_b = [r for r in live_b if r[0] != k]
        if rng.random() < 0.6 or step == 7:
            mv.refresh()
            got = {r.grp: (r.nv, r.n, r.s) for r in mv.read().collect()}
            # reference recompute: LEFT JOIN over the live multisets
            want: dict = {}
            for ak, grp in live_a:
                matches = [v for bk, v in live_b if bk == ak]
                nv, n, s = want.get(grp, (0, 0, 0))
                if matches:
                    want[grp] = (nv + len(matches), n + len(matches),
                                 s + sum(matches))
                else:
                    want[grp] = (nv, n + 1, s)
            want = {
                g: (nv, n, s if nv else None) for g, (nv, n, s) in want.items()
            }
            assert got == want, (step, got, want)


def test_left_outer_in_three_way_chain(engine):
    """Left-outer composed through the telescoping N-way delta: one MV
    with the outer step LAST (pads survive) and one with it in the MIDDLE
    (pads die in the later inner join — standard SQL), both maintained
    incrementally and checked against the engine's batch recompute."""
    engine.execute_statement("CREATE TABLE c3 (ck INT, nm TEXT)")
    engine.execute_statement("CREATE TABLE o3 (ok INT, oid INT)")
    engine.execute_statement("CREATE TABLE i3 (iid INT, qty INT)")
    engine.execute_statement("INSERT INTO c3 VALUES (1, 'a'), (2, 'b')")
    engine.execute_statement("INSERT INTO o3 VALUES (1, 10), (2, 20)")
    engine.execute_statement("INSERT INTO i3 VALUES (10, 5)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_last AS "
        "SELECT nm, count(qty) AS nq, count(*) AS n, sum(qty) AS sq "
        "FROM c3 JOIN o3 ON ck = ok LEFT JOIN i3 ON oid = iid GROUP BY nm"
    )
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_mid AS "
        "SELECT nm, count(*) AS n, sum(qty) AS sq "
        "FROM c3 LEFT JOIN o3 ON ck = ok JOIN i3 ON oid = iid GROUP BY nm"
    )
    batch_last = (
        "SELECT nm, count(qty) AS nq, count(*) AS n, sum(qty) AS sq "
        "FROM c3 JOIN o3 ON ck = ok LEFT JOIN i3 ON oid = iid GROUP BY nm"
    )
    batch_mid = (
        "SELECT nm, count(*) AS n, sum(qty) AS sq "
        "FROM c3 LEFT JOIN o3 ON ck = ok JOIN i3 ON oid = iid GROUP BY nm"
    )
    assert rows(engine, "SELECT * FROM mv_last") == rows(engine, batch_last)
    assert rows(engine, "SELECT * FROM mv_mid") == rows(engine, batch_mid)
    # mutations on every table, including pad flips at both depths
    engine.execute_statement("INSERT INTO i3 VALUES (20, 7)")   # b's order matches
    engine.execute_statement("INSERT INTO o3 VALUES (1, 11)")   # a gains padded order
    engine.execute_statement("INSERT INTO c3 VALUES (3, 'c')")  # fully padded customer
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_last")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_mid")
    assert rows(engine, "SELECT * FROM mv_last") == rows(engine, batch_last)
    assert rows(engine, "SELECT * FROM mv_mid") == rows(engine, batch_mid)
    assert ("c", 0, 0, None) not in rows(engine, "SELECT * FROM mv_last")  # c has no order
    engine.execute_statement("DELETE FROM i3 WHERE iid = 10")   # a's item flips back to pad
    engine.execute_statement("DELETE FROM o3 WHERE oid = 20")   # b loses its only order
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_last")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_mid")
    assert rows(engine, "SELECT * FROM mv_last") == rows(engine, batch_last)
    assert rows(engine, "SELECT * FROM mv_mid") == rows(engine, batch_mid)


def test_refresh_crash_between_state_commit_and_meta_is_exactly_once(spark, tmp_path):
    """The refresh cursor rides INSIDE the state commit (manifest /
    segment meta), so a crash AFTER the state merge but BEFORE the cursor
    meta file is saved must NOT re-apply the same delta on the next
    refresh — re-application would double-count every aggregate and
    duplicate every linear row.  Simulated for all three MV classes by
    making the meta save raise once."""
    from incresql_spark.materialize import (
        AggregateJoinMaterializedView,
        MaterializedView,
    )

    # -- aggregate single-table MV ----------------------------------------
    base = FreqTable(spark, str(tmp_path / "cbase"))
    seed = spark.createDataFrame([("x", 1), ("y", 2)], "k STRING, v INT")
    base.create(seed.schema)
    base.insert(seed)
    mv = MaterializedView(
        spark, "mv_crash2", base, "k, count(*) AS cnt, sum(v) AS sv",
        None, "k", str(tmp_path / "cstate"),
    )
    mv.refresh()
    base.insert(spark.createDataFrame([("x", 10)], "k STRING, v INT"))
    orig = mv._save_meta
    mv._save_meta = lambda meta: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        mv.refresh()  # state merged, cursor meta never saved
    mv._save_meta = orig
    mv.refresh()  # must be a no-op for the already-merged delta
    got = sorted(tuple(r) for r in mv.read().collect())
    assert got == [("x", 2, 11), ("y", 1, 2)], got

    # -- linear MV ---------------------------------------------------------
    lmv = MaterializedView(
        spark, "mv_lin_crash", base, "k, v", "v >= 1", None,
        str(tmp_path / "lstate"),
    )
    lmv.refresh()
    base.insert(spark.createDataFrame([("z", 3)], "k STRING, v INT"))
    orig = lmv._save_meta
    lmv._save_meta = lambda meta: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        lmv.refresh()
    lmv._save_meta = orig
    lmv.refresh()
    got = sorted(tuple(r) for r in lmv.read().collect())
    assert got.count(("z", 3)) == 1, got  # exactly once, not duplicated

    # -- aggregate join MV -------------------------------------------------
    aa = FreqTable(spark, str(tmp_path / "aja"))
    bb = FreqTable(spark, str(tmp_path / "ajb"))
    aa.create(spark.createDataFrame([], "a_k int, grp string").schema)
    bb.create(spark.createDataFrame([], "b_k int, v int").schema)
    aa.insert(spark.createDataFrame([(1, "g")], "a_k int, grp string"))
    bb.insert(spark.createDataFrame([(1, 5)], "b_k int, v int"))
    amv = AggregateJoinMaterializedView(
        spark, "amv_crash", [aa, bb], ["a_k = b_k"],
        "grp, count(*) AS n, sum(v) AS s", None, "grp",
        str(tmp_path / "astate"),
    )
    amv.refresh()
    bb.insert(spark.createDataFrame([(1, 7)], "b_k int, v int"))
    orig = amv._save_meta
    amv._save_meta = lambda meta: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        amv.refresh()  # manifest committed with the cursor, meta torn
    amv._save_meta = orig
    amv.refresh()  # must NOT re-apply the (1, 7) delta
    got = sorted(tuple(r) for r in amv.read().collect())
    assert got == [("g", 2, 12)], got


def test_double_left_outer_chain_random_histories(spark, tmp_path):
    """Randomized differential for A ⟕ B ⟕ C (left-outer at BOTH chain
    positions — pads of pads: an unmatched A row carries NULL b_k, which
    must then left-join C as unmatched again): seeded insert/delete
    histories on all three tables, refreshed at random points, must equal
    a Python recompute of standard SQL LEFT JOIN semantics."""
    import random

    from incresql_spark.materialize import AggregateJoinMaterializedView

    rng = random.Random(77)
    ta = FreqTable(spark, str(tmp_path / "d3a"))
    tb = FreqTable(spark, str(tmp_path / "d3b"))
    tc = FreqTable(spark, str(tmp_path / "d3c"))
    ta.create(spark.createDataFrame([], "a_k int, grp string").schema)
    tb.create(spark.createDataFrame([], "b_k int, v int").schema)
    tc.create(spark.createDataFrame([], "c_k int, w int").schema)
    mv = AggregateJoinMaterializedView(
        spark, "d3mv", [ta, tb, tc], ["a_k = b_k", "b_k = c_k"],
        "grp, count(*) AS n, count(w) AS nw, sum(w) AS sw",
        None, "grp", str(tmp_path / "d3mv"),
        hows=["left_outer", "left_outer"],
    )

    live_a: list = []
    live_b: list = []
    live_c: list = []
    for step in range(7):
        op = rng.choice(["ins_a", "ins_b", "ins_c", "del_b", "del_c"])
        if op == "ins_a" or not live_a:
            rows_ = [(rng.randint(0, 3), rng.choice("xy")) for _ in range(rng.randint(1, 2))]
            ta.insert(spark.createDataFrame(rows_, "a_k int, grp string"))
            live_a += rows_
        elif op == "ins_b":
            rows_ = [(rng.randint(0, 3), rng.randint(1, 9)) for _ in range(rng.randint(1, 2))]
            tb.insert(spark.createDataFrame(rows_, "b_k int, v int"))
            live_b += rows_
        elif op == "ins_c":
            rows_ = [(rng.randint(0, 3), rng.randint(1, 9)) for _ in range(rng.randint(1, 2))]
            tc.insert(spark.createDataFrame(rows_, "c_k int, w int"))
            live_c += rows_
        elif op == "del_b" and live_b:
            k = rng.randint(0, 3)
            tb.delete_where(f"b_k = {k}")
            live_b = [r for r in live_b if r[0] != k]
        elif op == "del_c" and live_c:
            k = rng.randint(0, 3)
            tc.delete_where(f"c_k = {k}")
            live_c = [r for r in live_c if r[0] != k]
        if rng.random() < 0.7 or step == 6:
            mv.refresh()
            got = {r.grp: (r.n, r.nw, r.sw) for r in mv.read().collect()}
            want: dict = {}
            for ak, grp in live_a:
                bs = [b for b in live_b if b[0] == ak] or [None]
                for b in bs:
                    cs = (
                        [c for c in live_c if c[0] == b[0]] if b is not None else []
                    ) or [None]
                    for c in cs:
                        n, nw, sw = want.get(grp, (0, 0, 0))
                        want[grp] = (
                            n + 1,
                            nw + (1 if c is not None else 0),
                            sw + (c[1] if c is not None else 0),
                        )
            want = {
                g: (n, nw, sw if nw else None) for g, (n, nw, sw) in want.items()
            }
            assert got == want, (step, got, want)


def test_inner_join_keyword_in_mv_ddl(engine):
    """The DDL join-splitter accepts the INNER JOIN keyword form (and the
    bare JOIN form) equivalently — both maintain an inner MV."""
    engine.execute_statement("CREATE TABLE ik1 (k INT, g TEXT)")
    engine.execute_statement("CREATE TABLE ik2 (k2 INT, v INT)")
    engine.execute_statement("INSERT INTO ik1 VALUES (1, 'a'), (2, 'b')")
    engine.execute_statement("INSERT INTO ik2 VALUES (1, 5)")
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_ik AS "
        "SELECT g, count(*) AS n FROM ik1 INNER JOIN ik2 ON k = k2 GROUP BY g"
    )
    assert rows(engine, "SELECT * FROM mv_ik") == [("a", 1)]
    engine.execute_statement("INSERT INTO ik2 VALUES (2, 9)")
    engine.execute_statement("REFRESH MATERIALIZED VIEW mv_ik")
    assert rows(engine, "SELECT * FROM mv_ik") == [("a", 1), ("b", 1)]


def test_left_outer_mv_non_equi_condition(spark, tmp_path):
    """The reference's left join accepts arbitrary conditions
    (tests/join/mod.rs test_left_joins: ``l_id + r_id = 3``); the
    incremental pad algebra never assumed equi-keys — anti/semi joins on
    the raw condition keep it exact.  Mutations must flip pads under the
    non-equi condition just as they do for equi keys."""
    from incresql_spark.materialize import AggregateJoinMaterializedView

    ta = FreqTable(spark, str(tmp_path / "nea"))
    tb = FreqTable(spark, str(tmp_path / "neb"))
    ta.create(spark.createDataFrame([], "l_id int, grp string").schema)
    tb.create(spark.createDataFrame([], "r_id int, v int").schema)
    mv = AggregateJoinMaterializedView(
        spark, "nemv", [ta, tb], ["l_id + r_id = 3"],
        "grp, count(v) AS nv, count(*) AS n, sum(v) AS sv",
        None, "grp", str(tmp_path / "nemv"), hows=["left_outer"],
    )

    def recompute():
        want: dict = {}
        for l, grp in live_a:
            ms = [v for r, v in live_b if l is not None and r is not None and l + r == 3]
            nv, n, sv = want.get(grp, (0, 0, 0))
            if ms:
                want[grp] = (nv + len(ms), n + len(ms), sv + sum(ms))
            else:
                want[grp] = (nv, n + 1, sv)
        return {g: (nv, n, sv if nv else None) for g, (nv, n, sv) in want.items()}

    live_a = [(1, "x"), (2, "y"), (None, "z")]
    live_b: list = []
    ta.insert(spark.createDataFrame(live_a, "l_id int, grp string"))
    mv.refresh()
    got = {r.grp: (r.nv, r.n, r.sv) for r in mv.read().collect()}
    assert got == recompute() == {"x": (0, 1, None), "y": (0, 1, None), "z": (0, 1, None)}

    # r=2 matches l=1 (1+2=3): x flips off its pad; NULL l never matches
    live_b = [(2, 10)]
    tb.insert(spark.createDataFrame(live_b, "r_id int, v int"))
    mv.refresh()
    got = {r.grp: (r.nv, r.n, r.sv) for r in mv.read().collect()}
    assert got == recompute() == {"x": (1, 1, 10), "y": (0, 1, None), "z": (0, 1, None)}

    # second match for x (r=2 again), first for y (r=1)
    tb.insert(spark.createDataFrame([(2, 20), (1, 5)], "r_id int, v int"))
    live_b += [(2, 20), (1, 5)]
    mv.refresh()
    got = {r.grp: (r.nv, r.n, r.sv) for r in mv.read().collect()}
    assert got == recompute() == {"x": (2, 2, 30), "y": (1, 1, 5), "z": (0, 1, None)}

    # deleting ALL r=2 rows flips x back to a pad
    tb.delete_where("r_id = 2")
    live_b = [r for r in live_b if r[0] != 2]
    mv.refresh()
    got = {r.grp: (r.nv, r.n, r.sv) for r in mv.read().collect()}
    assert got == recompute() == {"x": (0, 1, None), "y": (1, 1, 5), "z": (0, 1, None)}


def test_mv_ddl_rejects_unsupported_join_types(engine):
    """RIGHT/FULL/CROSS JOIN have no incremental maintainer; the DDL must
    refuse them loudly instead of letting the qualifier glue itself onto
    the preceding table name in the split (ADVICE r9 low) — and a refused
    or failed CREATE must not leave a registered-but-broken MV behind."""
    engine.execute_statement("CREATE TABLE jt_a (k INT, g TEXT)")
    engine.execute_statement("CREATE TABLE jt_b (k2 INT, v INT)")
    engine.execute_statement("INSERT INTO jt_a VALUES (1, 'x')")
    engine.execute_statement("INSERT INTO jt_b VALUES (1, 10)")
    for kw in ("RIGHT JOIN", "RIGHT OUTER JOIN", "FULL OUTER JOIN", "CROSS JOIN"):
        with pytest.raises(ValueError, match="unsupported join type"):
            engine.execute_statement(
                "CREATE MATERIALIZED VIEW mv_bad AS "
                f"SELECT g, count(*) AS n FROM jt_a {kw} jt_b ON k = k2 "
                "GROUP BY g"
            )
    # nothing registered: the name is free and SHOW lists no MV table
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_bad AS "
        "SELECT g, count(*) AS n FROM jt_a JOIN jt_b ON k = k2 GROUP BY g"
    )
    assert rows(engine, "SELECT * FROM mv_bad") == [("x", 1)]


def test_mv_ddl_failed_initial_refresh_rolls_back(engine):
    """A CREATE whose initial refresh raises (unresolvable select column)
    must unregister the MV — previously the meta was saved first, leaving
    a catalog entry every later statement would trip over."""
    engine.execute_statement("CREATE TABLE rb_t (a INT)")
    engine.execute_statement("INSERT INTO rb_t VALUES (1)")
    with pytest.raises(Exception):
        engine.execute_statement(
            "CREATE MATERIALIZED VIEW mv_rb AS "
            "SELECT no_such_col, count(*) AS n FROM rb_t GROUP BY no_such_col"
        )
    # the name is reusable — the broken entry was rolled back
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_rb AS "
        "SELECT a, count(*) AS n FROM rb_t GROUP BY a"
    )
    assert rows(engine, "SELECT * FROM mv_rb") == [(1, 1)]


def test_mv_ddl_failed_constructor_rolls_back(engine):
    """A meta that fails validation in the MV *constructor* (join + GROUP
    BY with no aggregate in the select list) must also roll back.  The old
    handler called _mv() again to drop state — re-raising the construction
    error before the catalog pop, so every later statement in the db
    (including DROP MATERIALIZED VIEW) failed until _mvs.json was
    hand-edited (round-10 ADVICE medium)."""
    engine.execute_statement("CREATE TABLE rc_a (k INT, g TEXT)")
    engine.execute_statement("CREATE TABLE rc_b (k2 INT, v INT)")
    engine.execute_statement("INSERT INTO rc_a VALUES (1, 'x')")
    engine.execute_statement("INSERT INTO rc_b VALUES (1, 10)")
    with pytest.raises(ValueError, match="non-aggregate joins"):
        engine.execute_statement(
            "CREATE MATERIALIZED VIEW mv_rc AS "
            "SELECT g, v FROM rc_a JOIN rc_b ON k = k2 GROUP BY g, v"
        )
    # the db still works: unrelated statements run and the name is free
    assert rows(engine, "SELECT count(*) AS n FROM rc_a") == [(1,)]
    engine.execute_statement(
        "CREATE MATERIALIZED VIEW mv_rc AS "
        "SELECT g, count(*) AS n FROM rc_a JOIN rc_b ON k = k2 GROUP BY g"
    )
    assert rows(engine, "SELECT * FROM mv_rc") == [("x", 1)]
    engine.execute_statement("DROP MATERIALIZED VIEW mv_rc")


def test_join_mv_left_outer_randomized_differential_with_compaction(spark, tmp_path):
    """Randomized insert/delete histories through a 2-way LEFT OUTER join
    view that keeps the join's rows (grouped by every column with
    count(*)) must match a Python multiset left-join model after EVERY
    refresh; duplicates exercise freq > 1.  The bucketed state compacts
    as it goes: at most 2 manifests, at most 2 versions per bucket and no
    stage dirs after any refresh."""
    import os
    import random
    from collections import Counter

    from pyspark.sql import types as T

    for seed in (0, 1):
        rng = random.Random(seed)
        a = FreqTable(spark, str(tmp_path / f"ra{seed}"))
        b = FreqTable(spark, str(tmp_path / f"rb{seed}"))
        a.create(T.StructType([T.StructField("k", T.IntegerType()),
                               T.StructField("av", T.StringType())]))
        b.create(T.StructType([T.StructField("bk", T.IntegerType()),
                               T.StructField("bv", T.StringType())]))
        state_dir = str(tmp_path / f"rmv{seed}")
        mv = _join_rows_view(spark, a, b, state_dir, how="left_outer")
        agg_path = os.path.join(state_dir, "agg")
        la: list[tuple] = []  # live multiset of (k, av)
        lb: list[tuple] = []  # live multiset of (bk, bv)
        for step in range(10):
            op = rng.choice(["ins_a", "ins_b", "ins_b", "del_a", "del_b"])
            if op == "ins_a":
                rows_ = [(rng.randrange(5), f"a{rng.randrange(3)}")
                         for _ in range(rng.randrange(1, 4))]
                la += rows_
                a.insert(spark.createDataFrame(rows_, "k int, av string"))
            elif op == "ins_b":
                rows_ = [(rng.randrange(5), f"b{rng.randrange(3)}")
                         for _ in range(rng.randrange(1, 4))]
                lb += rows_
                b.insert(spark.createDataFrame(rows_, "bk int, bv string"))
            elif op == "del_a" and la:
                key = rng.randrange(5)
                la = [r for r in la if r[0] != key]
                a.delete_where(f"k = {key}")
            elif op == "del_b" and lb:
                key = rng.randrange(5)
                lb = [r for r in lb if r[0] != key]
                b.delete_where(f"bk = {key}")
            mv.refresh()
            expected: Counter = Counter()
            for k, av in la:
                matches = [bv for kb, bv in lb if kb == k]
                if matches:
                    expected.update((k, av, bv) for bv in matches)
                else:
                    expected[(k, av, None)] += 1
            got = mv.read().collect()
            assert all(r.n > 0 for r in got), (seed, step, got)
            assert {(r.k, r.av, r.bv): r.n for r in got} == dict(expected), (
                f"seed={seed} step={step} op={op}"
            )
            if os.path.isdir(agg_path):
                names = os.listdir(agg_path)
                assert len([n for n in names if n.startswith("manifest-")]) <= 2
                assert not [n for n in names if n.startswith("stage-")]
                for name in names:
                    if name.startswith("b-"):
                        vers = os.listdir(os.path.join(agg_path, name))
                        assert len(vers) <= 2, f"{name} kept {sorted(vers)}"


def test_linear_mv_fused_refresh_contract(spark, tmp_path):
    """r18 linear-refresh fusion: the raw-delta count rides the segment
    write as an Observation (no separate count pass), the segment sign is
    derived statically from insert-only window metadata, a mixed window's
    sign comes from the on-write observation, and an empty refresh still
    creates neither state nor segment."""
    from incresql_spark.materialize import MaterializedView

    base = FreqTable(spark, str(tmp_path / "base_fl"))
    seed = spark.createDataFrame(
        [("a", 1), ("b", -5), ("c", 3)], "k STRING, v INT"
    )
    base.create(seed.schema)
    mv = MaterializedView(
        spark, "mv_fl", base, "k, v", "v > 0", None,
        str(tmp_path / "state_fl"),
    )
    # empty refresh before any data: no state dir, no segment, n == 0
    assert mv.refresh() == 0
    assert not mv.state.exists()

    # insert-only window: n is the RAW delta count (pre-WHERE — 'b' is
    # filtered out of the state but still counted), and the segment meta
    # carries has_negative=False from METADATA (window_all_nonnegative),
    # not a probe
    base.insert(seed)
    assert mv.refresh() == 3
    segs = mv.state._segments()
    assert len(segs) == 1 and segs[0]["has_negative"] is False
    assert sorted(tuple(r) for r in mv.read().collect()) == [
        ("a", 1), ("c", 3)
    ]

    # mixed window (insert + delete consumed by ONE refresh): the net
    # delta carries a retraction, so the observed sign must mark the
    # segment negative and the view must retract the row
    base.insert(spark.createDataFrame([("d", 7)], "k STRING, v INT"))
    base.delete_where("k = 'a'")
    assert mv.refresh() == 2  # net rows in the merged window: -a, +d
    segs = sorted(mv.state._segments(), key=lambda s: s["seq"])
    assert segs[-1]["has_negative"] is True
    assert sorted(tuple(r) for r in mv.read().collect()) == [
        ("c", 3), ("d", 7)
    ]

    # idle refresh: no new segments — no-op, no new state segment
    n_segs = len(mv.state._segments())
    assert mv.refresh() == 0
    assert len(mv.state._segments()) == n_segs


def test_join_mv_zero_task_observed_write_aborts(spark, tmp_path):
    """A non-idle refresh whose whole delta collapses to nothing (here:
    an INNER join of a left delta with a right table that has never had
    a segment, so every term is empty) must write no state and not
    crash, and the view catches up normally once the right side gets
    data."""
    from pyspark.sql import types as T

    a = FreqTable(spark, str(tmp_path / "za"))
    b = FreqTable(spark, str(tmp_path / "zb"))
    a.create(T.StructType([T.StructField("k", T.IntegerType()),
                           T.StructField("av", T.StringType())]))
    b.create(T.StructType([T.StructField("bk", T.IntegerType()),
                           T.StructField("bv", T.StringType())]))
    mv = _join_rows_view(spark, a, b, str(tmp_path / "mvz"))
    a.insert(spark.createDataFrame([(1, "a1")], "k int, av string"))
    assert mv.refresh() == 0  # left delta, right empty-forever
    assert mv.state._load_manifest() is None
    assert _join_rows(mv) == []
    b.insert(spark.createDataFrame([(1, "b1")], "bk int, bv string"))
    mv.refresh()
    assert _join_rows(mv) == [(1, "a1", "b1")]


def test_pipelined_prepare_commit_equals_serial_refresh(spark, tmp_path):
    """r19 contract: driving an agg-join MV through RefreshPipeline —
    wave i+1's prepare evaluated while wave i's commit is outstanding —
    must land the exact state the serial refresh(until) cadence
    produces, including the left-outer pad flips of a retraction wave."""
    from pyspark.sql import types as T

    from incresql_spark.materialize import (AggregateJoinMaterializedView,
                                            RefreshPipeline)

    def build(tag):
        a = FreqTable(spark, str(tmp_path / f"{tag}_a"))
        b = FreqTable(spark, str(tmp_path / f"{tag}_b"))
        a.create(T.StructType([T.StructField("k", T.IntegerType())]))
        b.create(T.StructType([T.StructField("bk", T.IntegerType()),
                               T.StructField("bv", T.LongType())]))
        mv = AggregateJoinMaterializedView(
            spark, f"mv_{tag}", [a, b], ["k = bk"],
            "k, count(bv) AS n, sum(bv) AS s", None, "k",
            str(tmp_path / f"{tag}_state"),
            table_filters=[None, None], hows=["left_outer"],
        )
        return a, b, mv

    def waves(a, b):
        a.insert(spark.createDataFrame([(1,), (2,), (3,)], "k int"))
        b.insert(spark.createDataFrame([(1, 10), (1, 20)],
                                       "bk int, bv long"))
        yield
        b.insert(spark.createDataFrame([(2, 5)], "bk int, bv long"))
        yield
        b.delete_where("bv = 20")
        yield

    # serial reference
    a1, b1, mv1 = build("ser")
    w = waves(a1, b1)
    for _ in w:
        mv1.refresh()
    want = sorted(tuple(r) for r in mv1.read().collect())

    # pipelined drive
    a2, b2, mv2 = build("pipe")
    with RefreshPipeline([mv2]) as pipe:
        for _ in waves(a2, b2):
            pipe.submit()  # ∥ outstanding commit
    got = sorted(tuple(r) for r in mv2.read().collect())
    assert got == want and len(got) == 3


def test_changelog_failure_in_cascade_source_is_not_its_own_cause(
    engine, monkeypatch
):
    """A failed changelog write of a cascade source reaches the caller
    through write_buckets' pre_publish barrier, so the staging handler
    sees that same exception again.  It must re-raise it as is, not
    chained to itself; neither the state manifest nor any cursor
    advances, and the next refresh matches a from-scratch recompute."""
    e = engine
    e.execute_statement("CREATE TABLE cs (g TEXT, v INT)")
    e.execute_statement("INSERT INTO cs VALUES ('a', 1), ('b', 2)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW cs_src AS "
        "SELECT g, count(*) AS n, sum(v) AS s FROM cs GROUP BY g")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW cs_top AS "
        "SELECT count(*) AS groups, sum(s) AS total FROM cs_src")
    e.execute_statement("INSERT INTO cs VALUES ('a', 10), ('c', 3)")
    e.execute_statement("DELETE FROM cs WHERE g = 'b'")
    src = e._mv("default", "cs_src")
    before = src.state._load_manifest()
    meta_before = src._load_meta()
    log_before = src._changelog_cursor()
    real = FreqTable._write_segment

    def failing(self, *a, **k):
        if self.path == src.changelog.path:
            raise RuntimeError("simulated changelog write failure")
        return real(self, *a, **k)

    monkeypatch.setattr(FreqTable, "_write_segment", failing)
    with pytest.raises(RuntimeError, match="changelog write failure") as info:
        e.execute_statement("REFRESH MATERIALIZED VIEW cs_src")
    assert info.value.__cause__ is not info.value
    after = src.state._load_manifest()
    assert after["version"] == before["version"]
    assert after["cursor"] == before["cursor"]
    assert src._load_meta() == meta_before
    assert src._changelog_cursor() == log_before

    monkeypatch.setattr(FreqTable, "_write_segment", real)
    e.execute_statement("REFRESH MATERIALIZED VIEW cs_top")  # cascades
    assert rows(e, "SELECT * FROM cs_src") == rows(
        e, "SELECT g, count(*), sum(v) FROM cs GROUP BY g")
    assert rows(e, "SELECT * FROM cs_top") == rows(
        e, "SELECT count(*), sum(s) FROM "
           "(SELECT g, sum(v) AS s FROM cs GROUP BY g) AS x")


def test_write_buckets_one_file_per_bucket_with_fewer_tasks(
    spark, tmp_path, monkeypatch
):
    """write_buckets runs at most defaultParallelism tasks.  With more
    touched buckets than that it still publishes exactly one parquet
    file per touched bucket, still refuses a frame holding rows of an
    untouched bucket, and leaves the same rows as one task per bucket."""
    import glob
    import os

    from pyspark import SparkContext

    from incresql_spark.materialize import AggState

    df = spark.range(300).selectExpr("CAST(id AS INT) AS k",
                                     "CAST(1 AS BIGINT) AS __cnt")

    def write(path):
        st = AggState(spark, path, num_buckets=64)
        touched = sorted(r[0] for r in df.select(
            st.bucket_expr(["k"])).distinct().collect())
        st.write_buckets(df, ["k"], touched)
        return st, touched

    st, touched = write(str(tmp_path / "capped"))
    assert len(touched) > spark.sparkContext.defaultParallelism
    m = st._load_manifest()
    assert sorted(int(b) for b in m["buckets"]) == touched
    for path in st._bucket_paths(m):
        assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1, path
    with pytest.raises(AssertionError, match="outside touched buckets"):
        st.write_buckets(df, ["k"], touched[:3])

    # uncapped: one task per touched bucket
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 10_000))
    per_bucket, _ = write(str(tmp_path / "per_bucket"))
    monkeypatch.undo()
    assert sorted(st.read().collect()) == sorted(per_bucket.read().collect())
    assert st._load_manifest()["version"] == m["version"]  # guard published nothing


def _manifest(state_dir):
    from incresql_spark.materialize import AggState

    return AggState(None, f"{state_dir}/agg",
                    backend=commit.RenameCommitBackend())._load_manifest()


def _grown_view(spark, tmp_path, monkeypatch):
    """A single-base view whose state holds 28-byte rows (int key + three
    bigint state columns), with 4 such rows per bucket."""
    from incresql_spark import materialize

    monkeypatch.setattr(materialize, "BUCKET_BYTES", 4 * 28)
    base = FreqTable(spark, str(tmp_path / "base"))
    base.create(T.StructType([T.StructField("k", T.IntegerType()),
                              T.StructField("v", T.IntegerType())]))
    mv = materialize.MaterializedView(
        spark, "grown", base, "k, count(*) AS n, sum(v) AS s", None, "k",
        str(tmp_path / "state"))
    return base, mv


def _recomputed(spark, base):
    return sorted(tuple(r) for r in base.scan().groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect())


def test_agg_state_bucket_count_doubles_as_the_state_grows(
        spark, tmp_path, monkeypatch):
    """A state that outgrows BUCKET_BYTES per bucket is rewritten at the
    next fitting power of two; the manifest records the rows it holds per
    bucket and the schema it was written with, and the view still equals
    its recomputed SELECT — after growth and after deletes."""
    base, mv = _grown_view(spark, tmp_path, monkeypatch)
    counts = []
    for lo, hi in [(0, 3), (3, 9), (9, 30)]:
        base.insert(spark.createDataFrame(
            [(k, k * 10) for k in range(lo, hi)], "k INT, v INT"))
        mv.refresh()
        m = _manifest(tmp_path / "state")
        counts.append(m["num_buckets"])
        assert sum(m["rows"].values()) == hi
        assert set(m["rows"]) == set(m["buckets"])
        assert sorted(tuple(r) for r in mv.read().collect()) == \
            _recomputed(spark, base)
    assert counts == [1, 4, 8]
    assert T.StructType.fromJson(m["schema"]).names == [
        "k", "__cnt", "__sum_s", "__cntnn_s"]
    base.delete_where("k < 20")
    mv.refresh()
    m = _manifest(tmp_path / "state")
    assert m["num_buckets"] == 8  # the count never shrinks
    assert sum(m["rows"].values()) == 10
    assert sorted(tuple(r) for r in mv.read().collect()) == \
        _recomputed(spark, base)


@pytest.mark.parametrize("when", ["before", "after"])
def test_agg_state_resize_failure_at_publish_recovers(
        spark, tmp_path, monkeypatch, when):
    """A failure just before or just after the resize's manifest
    publication leaves the previous manifest readable with every bucket
    it references, and the next refresh() recovers the exact result."""
    import os

    base, mv = _grown_view(spark, tmp_path, monkeypatch)
    base.insert(spark.createDataFrame([(1, 1), (2, 2)], "k INT, v INT"))
    mv.refresh()
    old = _manifest(tmp_path / "state")
    before = sorted(tuple(r) for r in mv.read().collect())
    base.insert(spark.createDataFrame(
        [(k, k) for k in range(3, 12)], "k INT, v INT"))
    backend = mv.state.backend
    real = backend.publish_manifest

    def failing(*args, **kwargs):
        if when == "after":
            real(*args, **kwargs)
        raise RuntimeError(f"injected failure {when} publish")

    monkeypatch.setattr(backend, "publish_manifest", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        mv.refresh()
    monkeypatch.setattr(backend, "publish_manifest", real)
    agg = os.path.join(str(tmp_path / "state"), "agg")
    for b, v in old["buckets"].items():
        assert os.path.isdir(os.path.join(agg, f"b-{b}", v))
    with open(os.path.join(agg, f"manifest-{old['version']}.json")) as fh:
        assert json.load(fh)["buckets"] == old["buckets"]
    if when == "before":
        assert _manifest(tmp_path / "state")["version"] == old["version"]
        assert sorted(tuple(r) for r in mv.read().collect()) == before
    else:
        assert _manifest(tmp_path / "state")["num_buckets"] > 1
    mv.refresh()
    assert _manifest(tmp_path / "state")["num_buckets"] == 4
    assert sorted(tuple(r) for r in mv.read().collect()) == \
        _recomputed(spark, base)


def test_agg_state_refuses_a_range_layout_manifest(spark, tmp_path):
    """The range bucket layout is gone: a state whose manifest pins one
    fails loudly on open instead of being mis-bucketed by hash."""
    from incresql_spark.materialize import AggState

    st = AggState(spark, str(tmp_path / "agg"), num_buckets=2)
    st.write_buckets(spark.createDataFrame([(1, 1)], "k INT, __cnt BIGINT"),
                     ["k"], [0, 1], extra={"range_width": 100})
    with pytest.raises(ValueError, match="range bucket layout"):
        AggState(spark, str(tmp_path / "agg")).read()


@pytest.mark.parametrize("tables", [
    "c JOIN o ON c.ck = o.ck",
    "c AS a JOIN o AS b ON a.ck = b.ck",
])
def test_join_mv_ddl_resolves_table_names_and_aliases(engine, tables):
    """Join view DDL aliases each side by its alias or table name, so
    qualified columns resolve, and a qualified key without AS is named by
    its bare column; the view equals its SELECT after INSERT and DELETE
    on both sides."""
    x = engine.execute_statement
    x("CREATE TABLE c (ck INT, name TEXT)")
    x("CREATE TABLE o (ck INT, amt INT)")
    x("INSERT INTO c VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    x("INSERT INTO o VALUES (1, 10), (1, 11), (2, 20)")
    a, b = ("a", "b") if " AS " in tables else ("c", "o")
    sel = (f"SELECT {a}.ck, count(*) AS n, sum({b}.amt) AS s "
           f"FROM {tables} GROUP BY {a}.ck")
    x(f"CREATE MATERIALIZED VIEW m AS {sel}")
    assert engine.execute_statement("SELECT * FROM m").columns[0] == "ck"
    assert rows(engine, "SELECT * FROM m") == rows(engine, sel)
    x("INSERT INTO c VALUES (4, 'w')")
    x("INSERT INTO o VALUES (3, 30), (4, 40), (2, 21)")
    x("DELETE FROM o WHERE amt = 10")
    x("DELETE FROM c WHERE ck = 2")
    x("REFRESH MATERIALIZED VIEW m")
    assert rows(engine, "SELECT * FROM m") == rows(engine, sel)
    assert rows(engine, sel) == [(1, 1, 11), (3, 1, 30), (4, 1, 40)]
