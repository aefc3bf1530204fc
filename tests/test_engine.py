"""Engine golden tests — replicas of the reference's end-to-end SQL test
corpus (FIXTURES.md F1-F8; reference tests/ directory, SURVEY §5)."""

from __future__ import annotations

import pytest

from incresql_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "warehouse"))


def q(e: Engine, sql: str) -> list[str]:
    return e.execute_statement(sql).pipes()


# F2 — group-by fixture (tests/group/mod.rs:19-41)
def test_group_by_null_handling(engine):
    engine.execute_statement("CREATE TABLE test (c1 TEXT, c2 INT)")
    engine.execute_statement(
        "INSERT INTO test VALUES ('a',1),('a',2),('b',3),('b',NULL),('c',NULL)"
    )
    got = q(
        engine,
        "SELECT c1, count(*), count(c2), sum(c2) FROM test GROUP BY c1 ORDER BY c1",
    )
    assert got == ["|a|2|2|3|", "|b|2|1|3|", "|c|1|0|NULL|"]


def test_global_agg_zero_rows(engine):
    """tests/group/mod.rs:19-25: one row |0|NULL| on empty input."""
    engine.execute_statement("CREATE TABLE t0 (a INT)")
    got = q(engine, "SELECT count(*), sum(a) FROM t0 WHERE FALSE")
    assert got == ["|0|NULL|"]


# F3 — delete / multiset fixture (tests/delete/mod.rs:4-45)
def test_delete_and_freq_split_limit(engine):
    engine.execute_statement("CREATE TABLE t1 (a INT, b TEXT)")
    engine.execute_statement("INSERT INTO t1 VALUES (1,'abc')")
    engine.execute_statement("INSERT INTO t1 VALUES (1,'abc')")  # freq → 2
    engine.execute_statement("INSERT INTO t1 VALUES (2,'def'),(3,'ghi')")
    assert sorted(q(engine, "SELECT * FROM t1 ORDER BY a")) == [
        "|1|abc|",
        "|1|abc|",
        "|2|def|",
        "|3|ghi|",
    ]
    engine.execute_statement("DELETE FROM t1 WHERE t1.b = 'def'")
    assert sorted(q(engine, "SELECT * FROM t1")) == ["|1|abc|", "|1|abc|", "|3|ghi|"]
    # DELETE LIMIT 1 must split the freq-2 tuple, leaving ONE (1,'abc')
    engine.execute_statement("DELETE FROM t1 LIMIT 1")
    assert sorted(q(engine, "SELECT * FROM t1")) == ["|1|abc|", "|3|ghi|"]


# F1 — join fixture (tests/join/mod.rs:4-29): NULL keys never join
def test_joins_null_keys(engine):
    engine.execute_statement("CREATE TABLE t_left (l_id INT, l_text TEXT)")
    engine.execute_statement("CREATE TABLE t_right (r_id INT, r_text TEXT)")
    engine.execute_statement(
        "INSERT INTO t_left VALUES (1,'la'),(1,'lb'),(2,'lc'),(2,'ld'),"
        "(3,'le'),(3,'lf'),(NULL,'lg'),(NULL,'lh')"
    )
    engine.execute_statement(
        "INSERT INTO t_right VALUES (1,'ra'),(1,'rb'),(2,'rc'),(2,'rd'),"
        "(4,'re'),(4,'rf'),(NULL,'rg'),(NULL,'rh')"
    )
    inner = engine.execute_statement(
        "SELECT l_id, l_text, r_text FROM t_left JOIN t_right ON l_id = r_id "
        "ORDER BY l_id, l_text, r_text"
    )
    assert len(inner.rows) == 8  # 2×2 for key 1 + 2×2 for key 2; NULLs drop
    left = engine.execute_statement(
        "SELECT l_id, l_text, r_text FROM t_left LEFT JOIN t_right ON l_id = r_id "
        "ORDER BY l_text, r_text"
    )
    assert len(left.rows) == 12  # 8 matches + key-3 ×2 and NULL-keys ×2 padded
    padded = [r for r in left.rows if r[2] is None]
    assert len(padded) == 4


# F4 — casts / implicit widening (tests/casts/mod.rs:22-45)
def test_casts_widening(engine):
    engine.execute_statement("CREATE TABLE tc (i INTEGER, b BIGINT, d DECIMAL(10,2))")
    engine.execute_statement("INSERT INTO tc VALUES (1, 10, 2.50)")
    r = engine.execute_statement("SELECT i + b, i + d, b + d FROM tc")
    assert r.rows[0] == (11, pytest.approx(3.50), pytest.approx(12.50))
    r2 = engine.execute_statement('SELECT CAST("2010-10-23" AS DATE)')
    assert str(r2.rows[0][0]) == "2010-10-23"


# F5 — directory CSV source (tests/file_sources/mod.rs:4-14)
def test_directory_source(engine, tmp_path):
    csvdir = tmp_path / "csv"
    csvdir.mkdir()
    (csvdir / "simple.csv").write_text('123,abc,12.1\n"456","d,ef",13.2\n')
    r = engine.execute_statement(f'SELECT * FROM DIRECTORY "{csvdir}"')
    assert sorted(r.rows) == [
        ('["123","abc","12.1"]',),
        ('["456","d,ef","13.2"]',),
    ]
    # the TPC-H load shape: ->> field extraction + cast
    r2 = engine.execute_statement(
        f'SELECT CAST(data->>"$[0]" AS BIGINT), data->>"$[1]" FROM DIRECTORY "{csvdir}" '
        "ORDER BY 1"
    )
    assert r2.rows == [(123, "abc"), (456, "d,ef")]


# F6 — JSON quirks (tests/json/mod.rs:4-55)
def test_json_extract_quirks(engine):
    r = engine.execute_statement("""SELECT '[1,2,3,4]'->"$.1" """)
    assert r.rows[0][0] == "2"
    r = engine.execute_statement("""SELECT '[[1,2],[3,4],[5,6]]'->>"$.*.0" """)
    assert r.rows[0][0] == "[1,3,5]"
    r = engine.execute_statement("""SELECT '{"a": "txt"}'->"$.a" """)
    assert r.rows[0][0] == '"txt"'  # -> keeps quotes
    r = engine.execute_statement("""SELECT '{"a": "txt"}'->>"$.a" """)
    assert r.rows[0][0] == "txt"  # ->> unquotes
    r = engine.execute_statement("""SELECT '{"a": null}'->"$.a" """)
    assert r.rows[0][0] == "null"  # json null → text 'null'


# F7 — views fixture (tests/views/mod.rs:4-30): cross-db inlining
def test_views_cross_database(engine):
    engine.execute_statement("CREATE DATABASE other")
    engine.execute_statement("CREATE TABLE other.src (c TEXT)")
    engine.execute_statement("INSERT INTO other.src VALUES ('hello')")
    engine.execute_statement("USE other")
    engine.execute_statement("CREATE VIEW default.v AS SELECT c AS renamed FROM src")
    engine.execute_statement("USE default")
    r = engine.execute_statement("SELECT renamed FROM v")
    assert r.rows == [("hello",)]


# F8 — literals / constant folding (tests/optimize/constant_folding.rs)
def test_literal_folding(engine):
    assert q(engine, "SELECT 1 + 2 * 3 - 4") == ["|3|"]
    r = engine.execute_statement("SELECT 1.0 + 2.0 * 3.0 - 4.0")
    assert float(r.rows[0][0]) == 3.0


def test_show_and_catalog(engine):
    engine.execute_statement("CREATE TABLE t_show (a INT)")
    engine.execute_statement("CREATE VIEW v_show AS SELECT a FROM t_show")
    tables = dict(engine.execute_statement("SHOW TABLES").rows)
    assert tables["t_show"] == "table" and tables["v_show"] == "view"
    dbs = [r[0] for r in engine.execute_statement("SHOW DATABASES").rows]
    assert "default" in dbs


def test_compact_table(engine):
    engine.execute_statement("CREATE TABLE tcp (a INT)")
    for i in range(3):
        engine.execute_statement(f"INSERT INTO tcp VALUES ({i})")
    engine.execute_statement("DELETE FROM tcp WHERE a = 1")
    engine.execute_statement("COMPACT TABLE tcp")
    tbl = engine._table("default", "tcp")
    assert len(tbl._segments()) == 1
    assert sorted(q(engine, "SELECT * FROM tcp")) == ["|0|", "|2|"]


def test_insert_select(engine):
    engine.execute_statement("CREATE TABLE src2 (a INT)")
    engine.execute_statement("INSERT INTO src2 VALUES (1),(2),(3)")
    engine.execute_statement("CREATE TABLE dst2 (a INT)")
    engine.execute_statement("INSERT INTO dst2 SELECT a FROM src2 WHERE a > 1")
    assert sorted(q(engine, "SELECT * FROM dst2")) == ["|2|", "|3|"]


def test_statement_clears_job_group(spark, tmp_path):
    """execute_statement with a session_id must clear the thread-local job
    group when it returns (engine.py finally) — a stale group would let a
    late KILL cancel whatever this thread runs next."""
    from incresql_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh_grp"))
    e.execute_statement("SELECT 1 + 1", session_id=99)
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.interruptOnCancel") is None
    # a KILL for that session after completion cancels nothing; the next
    # statement under the same session still runs
    e.execute_statement("KILL 99")
    r = e.execute_statement("SELECT sum(id) AS s FROM range(1000)", session_id=99)
    assert r.rows == [(499500,)]
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_embedded_collect_fence(engine, monkeypatch):
    """The embedded (non-streamed) path collects under a LIMIT fence:
    results past EMBEDDED_MAX_COLLECT_ROWS raise EmbeddedResultTooLarge
    instead of materializing on the driver; stream=True bypasses; results
    at the cap are untouched."""
    from incresql_spark import engine as engine_mod
    from incresql_spark.engine import EmbeddedResultTooLarge

    engine.execute_statement("CREATE TABLE fence_t (a INT)")
    engine.execute_statement(
        "INSERT INTO fence_t VALUES " + ",".join(f"({i})" for i in range(10))
    )
    monkeypatch.setattr(engine_mod, "EMBEDDED_MAX_COLLECT_ROWS", 5)
    with pytest.raises(EmbeddedResultTooLarge):
        engine.execute_statement("SELECT * FROM fence_t")
    # streaming is the documented escape hatch — O(partition) driver
    res = engine.execute_statement("SELECT * FROM fence_t", stream=True)
    assert sorted(v for (v,) in res.iter_rows()) == list(range(10))
    # results at or under the cap are unaffected
    monkeypatch.setattr(engine_mod, "EMBEDDED_MAX_COLLECT_ROWS", 10)
    res = engine.execute_statement("SELECT * FROM fence_t ORDER BY a")
    assert [v for (v,) in res.rows] == list(range(10))


# ---- registration cache: only relations whose on-disk identity moved are
# re-registered, and every kind of change still reaches the next SELECT
def rows(e: Engine, sql: str) -> list[tuple]:
    return sorted(e.execute_statement(sql).rows)


def test_registration_sees_table_dml(engine):
    e = engine
    e.execute_statement("CREATE TABLE rc (k INT, v INT)")
    e.execute_statement("INSERT INTO rc VALUES (1, 10), (2, 20)")
    assert rows(e, "SELECT * FROM rc") == [(1, 10), (2, 20)]
    e.execute_statement("INSERT INTO rc VALUES (3, 30), (3, 30)")
    assert rows(e, "SELECT * FROM rc") == [(1, 10), (2, 20), (3, 30), (3, 30)]
    e.execute_statement("DELETE FROM rc WHERE k = 2")
    assert rows(e, "SELECT * FROM rc") == [(1, 10), (3, 30), (3, 30)]
    e.execute_statement("DELETE FROM rc LIMIT 2")
    assert rows(e, "SELECT * FROM rc") == [(3, 30)]
    e.execute_statement("INSERT INTO rc VALUES (4, 40)")
    e.execute_statement("COMPACT TABLE rc")
    assert len(e._table("default", "rc")._segments()) == 1
    assert rows(e, "SELECT * FROM rc") == [(3, 30), (4, 40)]
    # same name, different schema: the old scan must not survive
    e.execute_statement("DROP TABLE rc")
    e.execute_statement("CREATE TABLE rc (s TEXT)")
    r = e.execute_statement("SELECT * FROM rc")
    assert r.columns == ["s"] and r.rows == []
    e.execute_statement("INSERT INTO rc VALUES ('x')")
    assert rows(e, "SELECT * FROM rc") == [("x",)]
    assert rows(e, "SELECT name FROM incresql.tables WHERE name = 'rc'") == [
        ("rc",)
    ]
    cols = e.execute_statement(
        "SELECT columns FROM incresql.tables WHERE name = 'rc'").rows
    assert cols == [('[["s", "string"]]',)]


def test_registration_sees_views_and_mvs(engine):
    e = engine
    e.execute_statement("CREATE TABLE rb (k INT, v INT)")
    e.execute_statement("INSERT INTO rb VALUES (1, 1), (1, 2), (2, 5)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW rm AS SELECT k, count(*) AS n, sum(v) AS s"
        " FROM rb GROUP BY k")
    e.execute_statement("CREATE VIEW rv AS SELECT k, v FROM rb WHERE k > 1")
    assert rows(e, "SELECT * FROM rm") == [(1, 2, 3), (2, 1, 5)]
    assert rows(e, "SELECT * FROM rv") == [(2, 5)]
    e.execute_statement("INSERT INTO rb VALUES (2, 7), (3, 1)")
    # the view re-inlines the new base rows; the MV waits for REFRESH
    assert rows(e, "SELECT * FROM rv") == [(2, 5), (2, 7), (3, 1)]
    assert rows(e, "SELECT * FROM rm") == [(1, 2, 3), (2, 1, 5)]
    e.execute_statement("REFRESH MATERIALIZED VIEW rm")
    assert rows(e, "SELECT * FROM rm") == [(1, 2, 3), (2, 2, 12), (3, 1, 1)]
    e.execute_statement("DROP VIEW rv")
    with pytest.raises(Exception):
        e.execute_statement("SELECT * FROM rv")
    e.execute_statement("DROP MATERIALIZED VIEW rm")
    with pytest.raises(Exception):
        e.execute_statement("SELECT * FROM rm")
    # recreated under the same names with other definitions
    e.execute_statement(
        "CREATE MATERIALIZED VIEW rm AS SELECT count(*) AS n FROM rb")
    e.execute_statement("CREATE VIEW rv AS SELECT v FROM rb WHERE k = 1")
    assert rows(e, "SELECT * FROM rm") == [(5,)]
    assert rows(e, "SELECT * FROM rv") == [(1,), (2,)]


def test_drop_refuses_a_table_a_view_reads(engine):
    """DROP TABLE while a materialized view reads the table would leave
    the view stale: its cursor holds the dropped table's seqs, so a table
    re-created under the name is skipped, not refreshed.  The drop is
    refused, naming the view, until the view is dropped.  DROP DATABASE
    refuses the same way for views in other databases, cascaded views
    over a view inside it included."""
    e = engine
    e.execute_statement("CREATE TABLE t (k INT, v INT)")
    e.execute_statement("INSERT INTO t VALUES (0, 10), (1, 10), (2, 10)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, sum(v) AS s FROM t GROUP BY k")
    with pytest.raises(ValueError, match="default.mv"):
        e.execute_statement("DROP TABLE t")
    # the refused drop changed nothing
    e.execute_statement("INSERT INTO t VALUES (1, 7)")
    e.execute_statement("REFRESH MATERIALIZED VIEW mv")
    assert rows(e, "SELECT * FROM mv") == [(0, 10), (1, 17), (2, 10)]
    e.execute_statement("DROP MATERIALIZED VIEW mv")
    e.execute_statement("DROP TABLE t")
    e.execute_statement("CREATE TABLE t (k INT, v INT)")
    e.execute_statement("INSERT INTO t VALUES (1, 7), (5, 7)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, sum(v) AS s FROM t GROUP BY k")
    assert rows(e, "SELECT * FROM mv") == [(1, 7), (5, 7)]

    e.execute_statement("CREATE DATABASE other")
    e.execute_statement("CREATE TABLE other.u (k INT)")
    e.execute_statement("INSERT INTO other.u VALUES (1)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW other.inner_mv AS "
        "SELECT k, count(*) AS n FROM other.u GROUP BY k")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW outer_mv AS "
        "SELECT k, count(*) AS n FROM other.u GROUP BY k")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW casc AS "
        "SELECT count(*) AS n_keys FROM other.inner_mv")
    with pytest.raises(ValueError, match="default.casc, default.outer_mv"):
        e.execute_statement("DROP DATABASE other")
    assert rows(e, "SELECT * FROM other.inner_mv") == [(1, 1)]
    # a view inside the dropped database goes with it
    e.execute_statement("DROP MATERIALIZED VIEW outer_mv")
    e.execute_statement("DROP MATERIALIZED VIEW casc")
    e.execute_statement("DROP DATABASE other")
    assert "other" not in e.databases()


def test_registration_use_switches_bare_names(engine):
    e = engine
    e.execute_statement("CREATE TABLE ru (a INT)")
    e.execute_statement("INSERT INTO ru VALUES (1)")
    e.execute_statement("CREATE TABLE only_default (a INT)")
    e.execute_statement("CREATE DATABASE other")
    e.execute_statement("CREATE TABLE other.ru (a INT)")
    e.execute_statement("INSERT INTO other.ru VALUES (2)")
    assert rows(e, "SELECT * FROM ru") == [(1,)]
    e.execute_statement("USE other")
    assert rows(e, "SELECT * FROM ru") == [(2,)]
    assert rows(e, "SELECT * FROM default.ru") == [(1,)]
    with pytest.raises(Exception):  # bare names of default are gone
        e.execute_statement("SELECT * FROM only_default")
    e.execute_statement("USE default")
    assert rows(e, "SELECT * FROM ru") == [(1,)]


def _spy_registration(monkeypatch):
    """Record which tables ``FreqTable.scan`` and which views
    ``MaterializedView.read`` are called for.  Scans a view's ``read``
    makes of its base tables (to derive its schema) are part of that
    read, not registrations of their own."""
    import os

    from incresql_spark.frequency import FreqTable
    from incresql_spark.materialize import MaterializedView

    calls: list[tuple[str, str]] = []
    in_read = [0]
    scan, read = FreqTable.scan, MaterializedView.read

    def spy_scan(self, *a, **k):
        if not in_read[0]:
            calls.append(("scan", os.path.basename(self.path)))
        return scan(self, *a, **k)

    def spy_read(self, *a, **k):
        calls.append(("read", self.name))
        in_read[0] += 1
        try:
            return read(self, *a, **k)
        finally:
            in_read[0] -= 1

    monkeypatch.setattr(FreqTable, "scan", spy_scan)
    monkeypatch.setattr(MaterializedView, "read", spy_read)
    return calls


def test_registration_rebuilds_only_the_changed_relation(engine, monkeypatch):
    e = engine
    for t in ("ra", "rz"):
        e.execute_statement(f"CREATE TABLE {t} (k INT, v INT)")
        e.execute_statement(f"INSERT INTO {t} VALUES (1, 1), (2, 2)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW rzm AS SELECT k, count(*) AS n FROM rz"
        " GROUP BY k")
    assert rows(e, "SELECT * FROM ra") == [(1, 1), (2, 2)]
    calls = _spy_registration(monkeypatch)
    e.execute_statement("INSERT INTO ra VALUES (3, 3)")
    # INSERT … VALUES registers before its write: nothing had moved yet
    assert calls == []
    assert rows(e, "SELECT * FROM ra") == [(1, 1), (2, 2), (3, 3)]
    assert calls == [("scan", "ra")]
    del calls[:]
    e.execute_statement("INSERT INTO rz VALUES (3, 3)")
    e.execute_statement("REFRESH MATERIALIZED VIEW rzm")
    del calls[:]
    assert rows(e, "SELECT * FROM rzm") == [(1, 1), (2, 1), (3, 1)]
    assert sorted(calls) == [("read", "rzm"), ("scan", "rz")]


def test_reregistering_64_bucket_mv_runs_no_spark_job(engine, spark,
                                                      monkeypatch):
    """A full read of an aggregate MV lists its 64 bucket dirs; in local
    mode that listing must run on the driver, not as a Spark job."""
    from incresql_spark import materialize

    # 400 groups of 12-byte state rows at 100 bytes per bucket: 64 buckets
    monkeypatch.setattr(materialize, "BUCKET_BYTES", 100)
    e = engine
    e.execute_statement("CREATE TABLE rj (k INT, v INT)")
    e.execute_statement(
        "INSERT INTO rj SELECT CAST(id AS INT), 1 FROM range(400)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW rjm AS SELECT k, count(*) AS n FROM rj"
        " GROUP BY k")
    e.execute_statement("SELECT * FROM rjm")
    e.execute_statement("INSERT INTO rj VALUES (7, 1)")
    e.execute_statement("REFRESH MATERIALIZED VIEW rjm")
    manifest = e._mv("default", "rjm").state._load_manifest()
    assert len(manifest["buckets"]) == 64
    calls = _spy_registration(monkeypatch)
    sc = spark.sparkContext
    group = "test-reregister-64-buckets"
    sc.setJobGroup(group, "re-register a 64-bucket MV")
    try:
        e._register_all()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert ("read", "rjm") in calls
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert rows(e, "SELECT n FROM rjm WHERE k = 7") == [(2,)]


def test_registration_view_over_view(engine, spark):
    """Views are rebuilt in creation order, so a view reads the rebuilt
    view beneath it — also when its name sorts first."""
    e = engine
    e.execute_statement("CREATE TABLE rt (k INT)")
    e.execute_statement("INSERT INTO rt VALUES (1)")
    e.execute_statement("CREATE VIEW zv AS SELECT k FROM rt")
    e.execute_statement("CREATE VIEW av AS SELECT k FROM zv")
    assert rows(e, "SELECT * FROM av") == [(1,)]
    e.execute_statement("INSERT INTO rt VALUES (2)")
    assert rows(e, "SELECT * FROM av") == [(1,), (2,)]
    assert rows(e, "SELECT * FROM zv") == [(1,), (2,)]
    # a new engine on the same warehouse (a restarted server) starts with
    # none of the views registered
    for name in ("zv", "av", "default__zv", "default__av"):
        spark.catalog.dropTempView(name)
    e2 = Engine(spark, e.warehouse)
    assert rows(e2, "SELECT * FROM av") == [(1,), (2,)]
    e2.execute_statement("INSERT INTO rt VALUES (3)")
    assert rows(e2, "SELECT * FROM av") == [(1,), (2,), (3,)]
