"""Round-17 changes: the r16 advice fixes on the SQL sketch surface
(production default width for cms_grouped, NULL-safe grouped-count join
in quantile_grouped, clause keywords excluded from alias capture) plus
the round's new operators (CMS retraction waves, wire-surface
kmv_set_ops / bm25_search — tests added alongside their code).

Cross-engine value equality stays with the DuckDB oracle gate; these
tests pin the behavioral invariants the hash can't articulate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incresql_spark import sketch_sql

from .conftest import SF_SMALL


def test_cms_retraction_equals_batch_on_net_corpus(spark, tmp_path):
    """The reference's retractable-aggregate contract through the FLAT
    CMS maintainer: ingest three waves, retract one — the maintained
    STATE (not just the report) must be row-identical to cms_sketch
    over the net corpus, zero counters purged, and the report must
    equal the batch operator recomputed from scratch on the net
    corpus."""
    from incresql_spark.operators.pipeline import load_table
    from incresql_spark.operators.text import (
        CMS_D,
        CMS_W,
        cms_heavyhitter_report,
        cms_sketch,
        cms_tokens,
    )
    from incresql_spark.streaming.cms_incremental import IncrementalCms

    d = load_table(spark, SF_SMALL, "documents")
    cms = IncrementalCms(spark, str(tmp_path / "state"), width=CMS_W,
                         depth=CMS_D)
    for w in range(3):
        cms.add_batch(cms_tokens(d.filter(f"doc_id % 3 = {w}")))
    cms.retract_batch(cms_tokens(d.filter("doc_id % 3 = 2")))
    net = d.filter("doc_id % 3 != 2")
    want_state = {
        (r.i, r.b): r.c
        for r in cms_sketch(cms_tokens(net), CMS_W, CMS_D).collect()
    }
    got_state = {(r.i, r.b): r.c for r in cms.sketch().collect()}
    assert got_state == want_state  # purge included: no zero rows linger
    assert all(c > 0 for c in got_state.values())
    got = [tuple(r) for r in cms_heavyhitter_report(
        cms.sketch(), cms_tokens(net), CMS_W, CMS_D).collect()]
    want = [tuple(r) for r in cms_heavyhitter_report(
        cms_sketch(cms_tokens(net), CMS_W, CMS_D), cms_tokens(net),
        CMS_W, CMS_D).collect()]
    assert got == want


def test_cms_grouped_retraction_equals_batch_on_net_corpus(
    spark, tmp_path
):
    """Same contract through the GROUPED maintainer (keys=('g',)): the
    per-(g, i, b) counters after a retraction wave equal the batch
    grouped sketch of the net corpus, and the grouped report matches
    text_cms_grouped's shaping recomputed on it."""
    from incresql_spark.operators.pipeline import load_table
    from incresql_spark.operators.text import (
        CMS_D,
        CMS_W,
        cms_grouped_report,
        cms_grouped_sketch,
        cms_grouped_tokens,
    )
    from incresql_spark.streaming.cms_incremental import IncrementalCms

    d = load_table(spark, SF_SMALL, "documents")
    cms = IncrementalCms(spark, str(tmp_path / "state"), width=CMS_W,
                         depth=CMS_D, keys=("g",))
    for w in range(3):
        cms.add_batch_counters(cms_grouped_sketch(
            cms_grouped_tokens(d.filter(f"doc_id % 3 = {w}")),
            CMS_W, CMS_D,
        ))
    cms.retract_batch_counters(cms_grouped_sketch(
        cms_grouped_tokens(d.filter("doc_id % 3 = 2")), CMS_W, CMS_D,
    ))
    net = d.filter("doc_id % 3 != 2")
    want_state = {
        (r.g, r.i, r.b): r.c
        for r in cms_grouped_sketch(cms_grouped_tokens(net),
                                    CMS_W, CMS_D).collect()
    }
    got_state = {(r.g, r.i, r.b): r.c for r in cms.sketch().collect()}
    assert got_state == want_state
    got = [tuple(r) for r in cms_grouped_report(
        cms.sketch(), cms_grouped_tokens(net), CMS_W, CMS_D).collect()]
    want = [tuple(r) for r in cms_grouped_report(
        cms_grouped_sketch(cms_grouped_tokens(net), CMS_W, CMS_D),
        cms_grouped_tokens(net), CMS_W, CMS_D).collect()]
    assert got == want


def test_mv_q3_batched_refresh_equals_per_wave(spark):
    """One refresh consuming all three delta windows (two inserts + the
    retraction) must produce exactly the per-wave maintained state —
    the telescoping delta rule differentiates between seq cursors, so
    wave count is invisible to correctness (VERDICT r16 task 5)."""
    from incresql_spark.operators.pipeline import (
        mv_q3_incremental,
        mv_q3_incremental_batched,
    )

    got = [tuple(r) for r in
           mv_q3_incremental_batched(spark, SF_SMALL).collect()]
    want = [tuple(r) for r in mv_q3_incremental(spark, SF_SMALL).collect()]
    assert got == want and len(got) > 0


def test_cms_retract_everything_empties_the_state(spark, tmp_path):
    """Retracting every ingested wave drives EVERY counter to zero; the
    purge must leave an EMPTY state (AggState's convention for empty is
    read() -> None), never a zero-filled one."""
    from incresql_spark.operators.pipeline import load_table
    from incresql_spark.operators.text import CMS_D, CMS_W, cms_tokens
    from incresql_spark.streaming.cms_incremental import IncrementalCms

    d = load_table(spark, SF_SMALL, "documents").filter("doc_id < 20")
    cms = IncrementalCms(spark, str(tmp_path / "state"), width=CMS_W,
                         depth=CMS_D)
    cms.add_batch(cms_tokens(d))
    assert cms.sketch().count() > 0
    cms.retract_batch(cms_tokens(d))
    sk = cms.sketch()
    assert sk is None or sk.count() == 0


def test_kmv_set_ops_sql_matches_operator(spark):
    """kmv_set_ops(...) must reproduce op_kmv_set_ops' PRODUCTION
    columns (estimates + rse, no exact ride-alongs) byte-for-byte at
    the default k, and its plan must reuse the single name-tagged
    distinct exchange instead of rescanning the corpus per sample use."""
    from incresql_spark.operators.relational import op_kmv_set_ops

    spark.read.parquet(f"{SF_SMALL}/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    q = sketch_sql.expand_sketch_calls(
        "SELECT * FROM kmv_set_ops('lineitem', 'l_partkey', 'l_suppkey')"
    )
    df = spark.sql(q)
    got = df.collect()
    want = op_kmv_set_ops(spark, SF_SMALL).select(
        "k", "a_est", "a_rse_ppm", "b_est", "b_rse_ppm",
        "union_est", "union_rse_ppm", "inter_est",
    ).collect()
    assert len(got) == 1
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # exchange reuse is an AQE runtime decision — read the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:3000]
    # the custom-k argument reaches the estimator literals
    q8 = sketch_sql.expand_sketch_calls(
        "SELECT * FROM kmv_set_ops('lineitem', 'l_partkey', "
        "'l_suppkey', 8)"
    )
    r8 = spark.sql(q8).collect()[0]
    assert r8.k == 8 and r8.a_rse_ppm == round(1_000_000 / 6 ** 0.5)


def test_bm25_search_sql_matches_operator(spark):
    """bm25_search(...) over a catalog query table must reproduce
    bm25_search_table (the production searcher) row-for-row, including
    the integer-ppb scores."""
    from incresql_spark.operators.text import (
        BM25_QUERIES,
        bm25_search_table,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    workload = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "query_id INT, term STRING",
    )
    workload.createOrReplaceTempView("bm25_workload")
    q = sketch_sql.expand_sketch_calls(
        "SELECT * FROM bm25_search('documents', 'doc_id', 'text', "
        "'bm25_workload')"
    )
    got = [tuple(r) for r in spark.sql(q).collect()]
    want = [tuple(r) for r in bm25_search_table(docs, workload).collect()]
    assert got == want and len(got) > 0
    # exactly one explode in the matched plan (the operator's pin)
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("explode") <= 2, plan[:3000]


def test_quantile_grouped_sql_keeps_null_groups(spark):
    """r16 advice #2: the SQL expansion's grouped-count join is
    NULL-safe, so a NULL group reports its quantiles exactly like the
    DataFrame operator's PARTITION BY / groupBy path does."""
    spark.sql(
        "SELECT * FROM VALUES "
        "(NULL, 10, 1), (NULL, 20, 2), (NULL, 30, 3), "
        "('a', 1, 4), ('a', 2, 5), ('a', 3, 6) AS t(g, v, k)"
    ).createOrReplaceTempView("qg_nulls")
    q = sketch_sql.expand_sketch_calls(
        "SELECT * FROM quantile_grouped('qg_nulls', 'g', 'v', 'k')"
    )
    rows = spark.sql(q).collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.g, []).append(r)
    assert set(by_g) == {None, "a"}, by_g
    # the NULL group is a real group: full quantile fan-out, correct n
    assert len(by_g[None]) == len(by_g["a"])
    assert all(r.n == 3 and r.sample_n == 3 for r in by_g[None])
    assert {r.est_value for r in by_g[None]} <= {10, 20, 30}


def test_sketch_alias_capture_skips_clause_keywords(spark):
    """r16 advice #3: keywords that can legally follow a FROM item
    (OFFSET / LATERAL / TABLESAMPLE / SORT / DISTRIBUTE / CLUSTER /
    PIVOT / UNPIVOT / VALUES) must not be swallowed as the derived
    table's alias — the generated alias is attached and the keyword
    stays a keyword."""
    spark.read.parquet(f"{SF_SMALL}/orders.parquet") \
        .createOrReplaceTempView("orders")
    q = sketch_sql.expand_sketch_calls(
        "SELECT name, estimate FROM hll_distinct('orders', 'o_custkey') "
        "LIMIT 5 OFFSET 0"
    )
    # OFFSET survived as a keyword, and the expansion carries its own
    # generated alias (not "OFFSET")
    assert "OFFSET 0" in q and ") hll_distinct_t1" in q
    assert spark.sql(q).count() == 1
    q2 = sketch_sql.expand_sketch_calls(
        "SELECT * FROM quantile_sketch('orders', 'o_totalprice', "
        "'o_orderkey') SORT BY q_pct"
    )
    assert ") quantile_sketch_t1" in q2 and "SORT BY q_pct" in q2
    assert spark.sql(q2).count() == 5
    # a real alias still wins over the generated one
    q3 = sketch_sql.expand_sketch_calls(
        "SELECT zz.name FROM hll_distinct('orders', 'o_custkey') zz"
    )
    assert ") zz" in q3 and "hll_distinct_t" not in q3
    assert spark.sql(q3).count() == 1

def test_mv_cascade_two_levels_equal_batch_recompute(spark):
    """Two-level maintained cascade (aggregate MV over an aggregate MV's
    changelog) must equal the from-scratch two-level recompute on the
    net corpus after three waves including a retraction (VERDICT r16
    task 8)."""
    from incresql_spark.operators.pipeline import (
        load_table,
        mv_cascade_incremental,
    )

    got = [tuple(r) for r in
           mv_cascade_incremental(spark, SF_SMALL).collect()]
    load_table(spark, SF_SMALL, "lineitem").createOrReplaceTempView(
        "cascade_lineitem")
    want = [tuple(r) for r in spark.sql("""
        WITH mv1 AS (
          SELECT l_suppkey, l_returnflag, COUNT(*) AS nitems,
                 SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
          FROM cascade_lineitem WHERE l_linenumber <= 4
          GROUP BY l_suppkey, l_returnflag)
        SELECT l_returnflag, COUNT(*) AS nsupp, SUM(nitems) AS total_items,
               SUM(sum_qty) AS total_qty
        FROM mv1 GROUP BY l_returnflag ORDER BY l_returnflag
    """).collect()]
    assert got == want and len(got) > 0


def _tiny_changelog_mv(spark, tmp_path):
    from pyspark.sql import types as T

    from incresql_spark.frequency import FreqTable
    from incresql_spark.materialize import MaterializedView

    base = FreqTable(spark, str(tmp_path / "base"))
    base.create(T.StructType([
        T.StructField("g", T.StringType()),
        T.StructField("v", T.LongType()),
    ]))
    mv = MaterializedView(
        spark, "log_mv", base,
        "g, count(*) AS n, sum(v) AS s", None, "g",
        str(tmp_path / "state"), changelog=True,
    )
    return base, mv


def test_changelog_emits_only_changed_groups(spark, tmp_path):
    """An unchanged group sharing a state bucket with a changed one must
    CANCEL out of the changelog (new +1 meets prior -1) — downstream
    views see O(changed groups), not O(touched buckets).  Two groups
    size the state to one bucket, so they share it."""
    base, mv = _tiny_changelog_mv(spark, tmp_path)
    base.insert(spark.createDataFrame([("a", 1), ("b", 2)], ["g", "v"]))
    mv.refresh()
    assert mv.state.num_buckets == 1
    seq1 = mv.changelog.last_seq()
    base.insert(spark.createDataFrame([("a", 10)], ["g", "v"]))
    mv.refresh()
    rows = {(r.g, r.n, r.s): r["__freq"]
            for r in mv.changelog.delta(seq1, None).collect()}
    # group b: untouched -> cancelled; group a: old out, new in
    assert rows == {("a", 1, 1): -1, ("a", 2, 11): 1}


def test_changelog_group_death_emits_bare_retraction(spark, tmp_path):
    """Deleting every row of a group must surface in the changelog as
    the old finalized row at -1 with no +1 twin — level-2 count(*) of
    live level-1 groups decrements through it."""
    base, mv = _tiny_changelog_mv(spark, tmp_path)
    base.insert(spark.createDataFrame([("a", 1), ("b", 2)], ["g", "v"]))
    mv.refresh()
    seq1 = mv.changelog.last_seq()
    base.delete_where("g = 'b'")
    mv.refresh()
    rows = {(r.g, r.n, r.s): r["__freq"]
            for r in mv.changelog.delta(seq1, None).collect()}
    assert rows == {("b", 1, 2): -1}


def test_changelog_replay_guard_skips_applied_cursor(spark, tmp_path):
    """Crash window: state commit did not land but the changelog segment
    did — the re-run of the same transition must NOT append a duplicate
    (the mv_cursor guard, mirroring _state_cursor's convention)."""
    base, mv = _tiny_changelog_mv(spark, tmp_path)
    base.insert(spark.createDataFrame([("a", 1)], ["g", "v"]))
    mv.refresh()
    seq = mv.changelog.last_seq()
    delta_state = mv._delta_agg(base.scan(expand=False))
    mv._emit_changelog(None, delta_state,
                       {"cursor": mv._state_cursor()})
    assert mv.changelog.last_seq() == seq  # early-out, nothing written

def test_changelog_torn_transition_completes_before_new_window(
    spark, tmp_path
):
    """Crash AFTER the changelog commit but BEFORE the state commit,
    with NEW base ingest arriving before the retry: the retry must
    complete the exact logged window first (no duplicate append) and
    only then log the remainder — replaying straight to the newest
    cursor would stack two overlapping transitions and double-count
    every downstream cascade (round-17 self-review finding #1)."""
    from incresql_spark.materialize import AggState

    base, mv = _tiny_changelog_mv(spark, tmp_path)
    base.insert(spark.createDataFrame([("a", 1)], ["g", "v"]))
    mv.refresh()
    base.insert(spark.createDataFrame([("a", 10), ("b", 2)], ["g", "v"]))
    real = AggState.write_buckets
    calls = {"n": 0}

    def torn(self, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after changelog commit")
        return real(self, *a, **k)

    try:
        AggState.write_buckets = torn
        try:
            mv.refresh()
        except RuntimeError:
            pass
        assert mv._changelog_cursor() > mv._state_cursor()  # torn indeed
    finally:
        AggState.write_buckets = real
    # new ingest lands BEFORE the retry
    base.insert(spark.createDataFrame([("a", 100)], ["g", "v"]))
    mv.refresh()
    # net changelog must equal the final state at +1 per live group
    net = {
        (r.g, r.n, r.s): r["__freq"]
        for r in mv.changelog.scan(expand=False).collect()
    }
    want = {(r.g, r.n, r.s): 1 for r in mv.read().collect()}
    assert net == want == {("a", 3, 111): 1, ("b", 1, 2): 1}


def test_cms_bootstrap_counter_frame_is_merged_and_purged(spark, tmp_path):
    """The FIRST caller-supplied counter frame must go through the same
    merge+purge as every later one: duplicate (i, b) rows collapse and
    c=0 rows are purged, so the bootstrapped state can never serve a
    lingering zero counter as MIN(c) (round-17 self-review finding #2)."""
    from incresql_spark.streaming.cms_incremental import IncrementalCms

    cms = IncrementalCms(spark, str(tmp_path / "state"), width=16, depth=2)
    cms.add_batch_counters(spark.createDataFrame(
        [(0, 3, 5), (0, 3, 3), (1, 7, 0)], ["i", "b", "c"]))
    assert {(r.i, r.b): r.c for r in cms.sketch().collect()} == {(0, 3): 8}

def test_join_mv_changelog_torn_vector_cursor(spark, tmp_path):
    """The join-MV cascade path: per-table seq VECTOR cursors through
    the changelog, including the torn-transition completion (crash after
    changelog commit, before state commit, with new ingest on one table
    before the retry)."""
    from pyspark.sql import types as T

    from incresql_spark.frequency import FreqTable
    from incresql_spark.materialize import (
        AggregateJoinMaterializedView,
        AggState,
    )

    a = FreqTable(spark, str(tmp_path / "a"))
    a.create(T.StructType([
        T.StructField("a_k", T.StringType()),
        T.StructField("x", T.LongType()),
    ]))
    b = FreqTable(spark, str(tmp_path / "b"))
    b.create(T.StructType([
        T.StructField("b_k", T.StringType()),
        T.StructField("y", T.LongType()),
    ]))
    mv = AggregateJoinMaterializedView(
        spark, "jlog", [a, b], ["a_k = b_k"],
        "a_k, count(*) AS n, sum(x) AS sx", None, "a_k",
        str(tmp_path / "state"), changelog=True,
    )
    a.insert(spark.createDataFrame([("g1", 1)], ["a_k", "x"]))
    b.insert(spark.createDataFrame([("g1", 7)], ["b_k", "y"]))
    mv.refresh()
    assert isinstance(mv._changelog_cursor(), list)  # vector cursor
    a.insert(spark.createDataFrame([("g1", 10), ("g2", 2)], ["a_k", "x"]))
    b.insert(spark.createDataFrame([("g2", 8)], ["b_k", "y"]))
    real = AggState.write_buckets
    calls = {"n": 0}

    def torn(self, *args, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after changelog commit")
        return real(self, *args, **kw)

    try:
        AggState.write_buckets = torn
        try:
            mv.refresh()
        except RuntimeError:
            pass
    finally:
        AggState.write_buckets = real
    # new ingest on ONE table lands before the retry
    b.insert(spark.createDataFrame([("g1", 9)], ["b_k", "y"]))
    mv.refresh()
    net = {
        (r.a_k, r.n, r.sx): r["__freq"]
        for r in mv.changelog.scan(expand=False).collect()
    }
    want = {(r.a_k, r.n, r.sx): 1 for r in mv.read().collect()}
    # g1: (1+10) x joined twice (y=7, y=9) -> n=4, sx=22; g2: n=1, sx=2
    assert net == want == {("g1", 4, 22): 1, ("g2", 1, 2): 1}

def test_cascaded_mv_through_sql(spark, tmp_path):
    """The SQL face of the cascade: CREATE MATERIALIZED VIEW ... FROM an
    EXISTING aggregate MV flips the source's changelog on (bootstrapped
    from its current state — the source had already refreshed), REFRESH
    cascades root-first through the chain, and DROP refuses to orphan a
    dependent."""
    import pytest

    from incresql_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))

    def rows(sql):
        return sorted(e.execute_statement(sql).rows)

    e.execute_statement("CREATE TABLE s2 (region TEXT, amount INT)")
    e.execute_statement(
        "INSERT INTO s2 VALUES ('n', 10), ('n', 20), ('s', 5)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW lvl1 AS "
        "SELECT region, count(*) AS cnt, sum(amount) AS total "
        "FROM s2 GROUP BY region")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW lvl2 AS "
        "SELECT count(*) AS n_regions, sum(total) AS grand FROM lvl1")
    assert rows("SELECT * FROM lvl2") == [(2, 35)]
    # a new region appears and an old one grows; one REFRESH at the top
    # pulls the whole chain
    e.execute_statement("INSERT INTO s2 VALUES ('e', 1), ('n', 30)")
    e.execute_statement("REFRESH MATERIALIZED VIEW lvl2")
    assert rows("SELECT * FROM lvl2") == [(3, 66)]
    # retraction that kills a whole level-1 group decrements the count
    e.execute_statement("DELETE FROM s2 WHERE region = 's'")
    e.execute_statement("REFRESH MATERIALIZED VIEW lvl2")
    assert rows("SELECT * FROM lvl2") == [(2, 61)]
    with pytest.raises(ValueError, match="dependent cascaded"):
        e.execute_statement("DROP MATERIALIZED VIEW lvl1")
    e.execute_statement("DROP MATERIALIZED VIEW lvl2")
    e.execute_statement("DROP MATERIALIZED VIEW lvl1")

def test_cascaded_mv_sql_rejects_linear_source(spark, tmp_path):
    """A linear view's own state table already IS a changelog — the
    cascade path must refuse it loudly instead of constructing a view
    with no changelog to read."""
    import pytest

    from incresql_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))
    e.execute_statement("CREATE TABLE logs2 (lvl TEXT, msg TEXT)")
    e.execute_statement("INSERT INTO logs2 VALUES ('E', 'boom')")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW errs AS "
        "SELECT msg FROM logs2 WHERE lvl = 'E'")
    with pytest.raises(ValueError, match="not an aggregate view"):
        e.execute_statement(
            "CREATE MATERIALIZED VIEW errs2 AS "
            "SELECT count(*) AS n FROM errs")


def test_cascaded_mv_over_join_view_sql(spark, tmp_path):
    """Cascade whose SOURCE is a JOIN materialization (vector cursors on
    the changelog segments) driven purely through SQL DDL."""
    from incresql_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))

    def rows(sql):
        return sorted(e.execute_statement(sql).rows)

    e.execute_statement("CREATE TABLE cust (ck INT, seg TEXT)")
    e.execute_statement("CREATE TABLE ords (ok INT, ock INT, amt INT)")
    e.execute_statement(
        "INSERT INTO cust VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    e.execute_statement(
        "INSERT INTO ords VALUES (10, 1, 5), (11, 1, 7), (12, 2, 3)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW perseg AS "
        "SELECT seg, count(*) AS n_ords, sum(amt) AS rev "
        "FROM cust JOIN ords ON ck = ock GROUP BY seg")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW segtotals AS "
        "SELECT count(*) AS n_segs, sum(rev) AS grand FROM perseg")
    assert rows("SELECT * FROM segtotals") == [(2, 15)]
    # new orders land on customer 3 -> segment 'a' grows (no new seg)
    e.execute_statement("INSERT INTO ords VALUES (13, 3, 100)")
    e.execute_statement("REFRESH MATERIALIZED VIEW segtotals")
    assert rows("SELECT * FROM segtotals") == [(2, 115)]
    # retract every 'b' order -> the segment dies, n_segs drops
    e.execute_statement("DELETE FROM ords WHERE ock = 2")
    e.execute_statement("REFRESH MATERIALIZED VIEW segtotals")
    assert rows("SELECT * FROM segtotals") == [(1, 112)]

def test_three_level_cascade_through_sql(spark, tmp_path):
    """A cascaded view can itself be a cascade source: level 3 reads
    level 2's changelog, and one REFRESH at the top walks the whole
    chain root-first."""
    from incresql_spark.engine import Engine

    e = Engine(spark, str(tmp_path / "wh"))

    def rows(sql):
        return sorted(e.execute_statement(sql).rows)

    e.execute_statement("CREATE TABLE ev3 (city TEXT, region TEXT, v INT)")
    e.execute_statement(
        "INSERT INTO ev3 VALUES ('p', 'n', 1), ('q', 'n', 2), "
        "('r', 's', 3)")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW city_agg AS "
        "SELECT city, region, sum(v) AS cv FROM ev3 GROUP BY city, region")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW region_agg AS "
        "SELECT region, count(*) AS n_cities, sum(cv) AS rv "
        "FROM city_agg GROUP BY region")
    e.execute_statement(
        "CREATE MATERIALIZED VIEW world_agg AS "
        "SELECT count(*) AS n_regions, sum(rv) AS total FROM region_agg")
    assert rows("SELECT * FROM world_agg") == [(2, 6)]
    # a brand-new region propagates through THREE materializations
    e.execute_statement("INSERT INTO ev3 VALUES ('z', 'w', 10)")
    e.execute_statement("REFRESH MATERIALIZED VIEW world_agg")
    assert rows("SELECT * FROM world_agg") == [(3, 16)]
    assert rows("SELECT * FROM region_agg ORDER BY region") == [
        ("n", 2, 3), ("s", 1, 3), ("w", 1, 10)]
    # kill the region again — the death cascades back out
    e.execute_statement("DELETE FROM ev3 WHERE region = 'w'")
    e.execute_statement("REFRESH MATERIALIZED VIEW world_agg")
    assert rows("SELECT * FROM world_agg") == [(2, 6)]

def test_changelog_compaction_between_cascade_refreshes(spark, tmp_path):
    """Compacting a changelog is safe WHEN the downstream view is caught
    up (its cursor sits at the log's top seq, outside the compacted
    span): later waves keep composing.  A cursor INSIDE the span is
    refused loudly by FreqTable.delta (no silent double-count) — the
    compaction contract the changelog inherits for free."""
    base, mv = _tiny_changelog_mv(spark, tmp_path)
    from incresql_spark.materialize import MaterializedView

    mv2 = MaterializedView(
        spark, "log_mv2", mv.changelog,
        "count(*) AS n_groups, sum(s) AS total", None, None,
        str(tmp_path / "state2"),
    )
    base.insert(spark.createDataFrame([("a", 1), ("b", 2)], ["g", "v"]))
    mv.refresh(); mv2.refresh()
    base.insert(spark.createDataFrame([("a", 10)], ["g", "v"]))
    mv.refresh(); mv2.refresh()  # caught up: cursor == log top
    mv.changelog.compact()
    base.insert(spark.createDataFrame([("c", 5)], ["g", "v"]))
    mv.refresh(); mv2.refresh()
    assert [tuple(r) for r in mv2.read().collect()] == [(3, 18)]


def test_changelog_failure_aborts_state_publish(spark, tmp_path):
    """r18 overlap lever: the changelog-segment job runs CONCURRENTLY
    with the state staging job, with the ordering contract (changelog
    commits BEFORE the state manifest) enforced by write_buckets'
    pre_publish barrier.  Pin the contract's failure half: a changelog
    write that FAILS must abort the state commit — no manifest, no
    cursor advance — and the retry must then complete the SAME
    transition exactly once on both sides."""
    import pytest

    base, mv = _tiny_changelog_mv(spark, tmp_path)
    base.insert(spark.createDataFrame([("a", 1)], ["g", "v"]))
    mv.refresh()
    st_cur, log_cur = mv._state_cursor(), mv._changelog_cursor()
    state_before = {(r.g, r.n, r.s) for r in mv.read().collect()}

    base.insert(spark.createDataFrame([("a", 10), ("b", 2)], ["g", "v"]))
    real = mv.changelog._write_segment

    def failing(*a, **k):
        raise RuntimeError("simulated changelog write failure")

    mv.changelog._write_segment = failing
    try:
        with pytest.raises(RuntimeError, match="changelog write failure"):
            mv.refresh()
    finally:
        mv.changelog._write_segment = real
    # neither side committed: cursors and visible state are untouched
    assert mv._state_cursor() == st_cur
    assert mv._changelog_cursor() == log_cur
    assert {(r.g, r.n, r.s) for r in mv.read().collect()} == state_before

    # retry completes the same transition exactly once on BOTH sides
    mv.refresh()
    assert mv._state_cursor() == mv._changelog_cursor() > st_cur
    net = {(r.g, r.n, r.s): r["__freq"]
           for r in mv.changelog.scan(expand=False).collect()}
    want = {(r.g, r.n, r.s): 1 for r in mv.read().collect()}
    assert net == want == {("a", 2, 11): 1, ("b", 1, 2): 1}


def test_staging_failure_surfaces_concurrent_changelog_error(
    spark, tmp_path, monkeypatch
):
    """r19 advice: when write_buckets fails during staging (before the
    pre_publish barrier consumes the changelog future), a concurrent
    changelog failure must surface CHAINED on the staging error rather
    than being discarded by the pool exit."""
    base, mv = _tiny_changelog_mv(spark, tmp_path)
    base.insert(spark.createDataFrame([("a", 1), ("b", 2)], "g string, v long"))
    mv.refresh()
    base.insert(spark.createDataFrame([("a", 5)], "g string, v long"))

    def boom_changelog(old, new, cursor):
        raise RuntimeError("changelog exploded")

    def boom_staging(*a, **k):
        import time

        time.sleep(0.2)  # let the changelog thread start (not cancellable)
        raise RuntimeError("staging exploded")

    monkeypatch.setattr(mv, "_emit_changelog", boom_changelog)
    monkeypatch.setattr(mv.state, "write_buckets", boom_staging)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="staging exploded") as exc_info:
        mv.refresh()
    assert exc_info.value.__cause__ is not None
    assert "changelog exploded" in str(exc_info.value.__cause__)
