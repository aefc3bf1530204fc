"""Round-14 operators: the bottom-k quantile sketch (op_quantile_sketch),
the incremental Count-Min maintainer, and the table-driven BM25 search.

Cross-engine value equality is covered by the DuckDB oracle gate
(tools/check_oracle.py); these tests pin the semantic invariants the hash
can't articulate: the sample really is the bottom-k of the hash (so states
merge exactly), the estimates really sit near their target ranks, and the
production (verify=False) plan really avoids the global sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incresql_spark.functions.hashing import hash60_spark_sql
from incresql_spark.operators.relational import (
    QSK_K,
    QSK_QS,
    _QSK_KEY_SPARK,
    load_table,
    op_quantile_sketch,
)

from .conftest import SF_SMALL
from .oracle import py_hash60, quantile_sample


def test_quantile_estimates_sit_near_their_target_ranks(spark):
    """For each target percentile q, the exact rank of the estimated value
    must be within 6 percentage points (≈4 sigma at K=1024: stderr of the
    sample rank is sqrt(q(1-q)/K) <= 1.6 points)."""
    rows = op_quantile_sketch(spark, SF_SMALL).collect()
    assert [r.q_pct for r in rows] == sorted(QSK_QS)
    li = load_table(spark, SF_SMALL, "lineitem")
    n = rows[0].n
    for r in rows:
        below = li.filter(F.col("l_extendedprice") <= r.est_price).count()
        frac = 100.0 * below / n
        assert abs(frac - r.q_pct) <= 6.0, (r.q_pct, frac, r.est_price)
        assert r.sample_n == min(QSK_K, n)


def test_quantile_sample_is_mergeable(spark):
    """Bottom-k of the union == bottom-k of the parts' bottom-k frames —
    the exact-merge property an incremental maintainer relies on (the HLL
    register-max property class)."""
    li = load_table(spark, SF_SMALL, "lineitem")
    whole = quantile_sample(li, "l_extendedprice", _QSK_KEY_SPARK)
    parts = [
        quantile_sample(
            li.filter(f"l_orderkey % 3 = {w}"),
            "l_extendedprice", _QSK_KEY_SPARK,
        )
        for w in range(3)
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    merged = u.orderBy("h", "v").limit(QSK_K)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_quantile_sketch_verify_flag_and_plan_shape(spark):
    """verify=False drops exact_price and its global sort: the production
    plan has ONE TakeOrderedAndProject (the bounded bottom-k) and ONE
    window (over the <=K-row sample), while verify=True adds the
    full-data row_number window (the sort being replaced)."""
    sk = op_quantile_sketch(spark, SF_SMALL, verify=False)
    assert sk.columns == ["q_pct", "n", "sample_n", "est_price"]
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window") == 1
    full_plan = (
        op_quantile_sketch(spark, SF_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert full_plan.count("Window") == 2
    full = {r.q_pct: r for r in op_quantile_sketch(spark, SF_SMALL).collect()}
    for r in sk.collect():
        assert full[r.q_pct].est_price == r.est_price


def test_quantile_grouped_ranks_and_bounded_plan(spark):
    """The grouped sketch's estimates sit near their per-group target
    ranks (K=256/group: stderr <= 3.2 points at the median; 10-point
    bound ~ 3 sigma), and the production plan's per-group bottom-k goes
    through WindowGroupLimit — every input partition forwards at most
    K x |groups| rows before the group exchange, the property
    op_percentiles' exact path cannot have."""
    from pyspark.sql import functions as FF

    from incresql_spark.operators.relational import (
        QSK_GROUP_QS,
        op_quantile_grouped,
    )

    rows = op_quantile_grouped(spark, SF_SMALL).collect()
    o = load_table(spark, SF_SMALL, "orders")
    groups = {r.g for r in rows}
    assert len(rows) == len(groups) * len(QSK_GROUP_QS)
    for r in rows:
        below = o.filter(
            (FF.col("o_orderpriority") == r.g)
            & (FF.col("o_totalprice") <= r.est_price)
        ).count()
        frac = 100.0 * below / r.n
        assert abs(frac - r.q_pct) <= 10.0, (r.g, r.q_pct, frac)
    sk = op_quantile_grouped(spark, SF_SMALL, verify=False)
    assert sk.columns == ["g", "q_pct", "n", "sample_n", "est_price"]
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_kmv_set_ops_branches_and_accuracy(spark):
    """KMV invariants the value hash can't articulate: sets below k take
    the exact branch (est == exact, h_k ignored); sets on the estimator
    branch stay within 4/sqrt(k) relative error (~35% at k=128 — the
    sf0.001 partkey domain is only ~1.6x k, the estimator's worst
    regime); the intersection estimate is bounded by the smaller set; and
    both branches are actually exercised by the chosen column pair."""
    from incresql_spark.operators.relational import KMV_K, op_kmv_set_ops

    (r,) = op_kmv_set_ops(spark, SF_SMALL).collect()
    assert r.k == KMV_K
    tol = 4.0 / (KMV_K ** 0.5)
    branches = set()
    for est, exact in ((r.a_est, r.a_exact), (r.b_est, r.b_exact),
                       (r.union_est, r.union_exact)):
        if exact < KMV_K:
            assert est == float(exact), (est, exact)
            branches.add("exact")
        else:
            assert abs(est - exact) / exact <= tol, (est, exact)
            branches.add("estimator")
    assert branches == {"exact", "estimator"}
    assert 0.0 <= r.inter_est <= max(r.a_est, r.b_est) * (1 + tol)
    assert r.inter_exact <= min(r.a_exact, r.b_exact)
    # suppkeys are a subset of the partkey integer range in this corpus
    assert r.inter_exact == r.b_exact
    plan = (
        op_kmv_set_ops(spark, SF_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the bottom-k samples are checkpointed once (their own plans are
    # TakeOrderedAndProject over a map-side-partial distinct); the final
    # plan must therefore scan lineitem exactly twice — the verification
    # full-outer join's two distinct-value passes — instead of re-deriving
    # each sample per use (10 clones in the first plan audit)
    assert plan.count("FileScan parquet") == 2, plan.count("FileScan")
    from incresql_spark.operators.relational import hash60_spark_sql
    from pyspark.sql import functions as FF

    li = load_table(spark, SF_SMALL, "lineitem")
    sample_plan = (
        li.select(FF.expr(
            hash60_spark_sql("CAST(l_partkey AS STRING)")).alias("h"))
        .distinct().orderBy("h").limit(KMV_K)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in sample_plan
    assert sample_plan.count("HashAggregate") == 2  # partial + final dedup


def test_cms_incremental_equals_batch_and_state_stays_bounded(
    spark, tmp_path
):
    """Three waves through IncrementalCms == the batch sketch over the
    union (counters sum-merge exactly), so the maintained heavy-hitter
    report is row-identical to text_cms_heavyhitters; the state never
    exceeds d x w counter rows and the per-row counter mass always sums
    to the full token count (mass conservation under merging)."""
    from incresql_spark.operators.text import (
        CMS_D,
        CMS_W,
        cms_heavyhitter_report,
        cms_tokens,
        text_cms_heavyhitters,
    )
    from incresql_spark.streaming.cms_incremental import IncrementalCms

    d = load_table(spark, SF_SMALL, "documents")
    cms = IncrementalCms(spark, str(tmp_path / "state"),
                         width=CMS_W, depth=CMS_D)
    for w in range(3):
        cms.add_batch(cms_tokens(d.filter(f"doc_id % 3 = {w}")))
    got = cms_heavyhitter_report(
        cms.sketch(), cms_tokens(d), CMS_W, CMS_D
    ).collect()
    want = text_cms_heavyhitters(spark, SF_SMALL).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    sk = cms.sketch()
    assert sk.count() <= CMS_D * CMS_W
    total = cms_tokens(d).count()
    per_row = {r.i: r.s for r in
               sk.groupBy("i").agg(F.sum("c").alias("s")).collect()}
    assert set(per_row) == set(range(CMS_D))
    assert all(s == total for s in per_row.values()), (per_row, total)


def test_hll_geometry_is_a_parameter(spark, duck):
    """Round-14: HLL precision p is a call parameter (the CMS width/depth
    precedent).  At p=8 (m=256) the sketch must STILL be cross-engine
    bit-exact — the DuckDB oracle rebuilt at the same p matches the Spark
    output value-for-value — and estimates stay inside 4 sigma of exact
    (sigma = 1.04/sqrt(m) ~ 6.5% at m=256)."""
    from incresql_spark.operators.relational import (
        _hll_oracle_sql,
        op_hll_distinct,
    )

    got = sorted(map(tuple, op_hll_distinct(spark, SF_SMALL, p=8).collect()))
    for t in ("lineitem",):
        duck.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    want = sorted(map(tuple, duck.sql(_hll_oracle_sql(8)).fetchall()))
    assert got == want
    for r in op_hll_distinct(spark, SF_SMALL, p=8).collect():
        assert r.m == 256
        err = abs(r.estimate - r.exact_count) / max(1, r.exact_count)
        assert err <= 4 * 1.04 / (256 ** 0.5), (r.name, err)


def test_bm25_table_driven_matches_literal_operator(spark):
    """bm25_search_table fed the SAME workload as a DataFrame must
    reproduce text_bm25_search's rankings exactly, with integer-ppb
    scores within 2e-9 of the literal operator's double scores (the
    floor() in the ppb accumulation can shave < |terms| * 1e-9).  Also
    pins the scale shape: the corpus token stream reaches the first
    aggregate through a broadcast join (never a shuffle on raw tokens)
    and the top-k window is group-limited."""
    from incresql_spark.operators.text import (
        BM25_QUERIES,
        bm25_search_table,
        text_bm25_search,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    queries = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES for t in ts],
        ["query_id", "term"],
    )
    got = bm25_search_table(docs, queries).collect()
    want = text_bm25_search(spark, SF_SMALL).collect()
    assert [(r.query_id, r.rank, r.doc_id, r.n_terms) for r in got] == [
        (r.query_id, r.rank, r.doc_id, r.n_terms) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g.score_ppb / 1e9 - w.score) <= 2e-9 * max(1.0, w.score)
    plan = (
        bm25_search_table(docs, queries)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    # the corpus-heavy explode subtree must exist ONCE — deriving df via
    # groupBy-then-join-back made Catalyst clone the whole
    # scan/explode/shuffle pipeline (caught by this test's first run)
    assert plan.count("Generate explode") == 1, plan
    # two corpus scans total: the token pipeline and the narrow N/T stats
    assert plan.count("FileScan parquet") == 2, plan


def test_quantile_incremental_equals_batch_and_replay_is_noop(
    spark, tmp_path
):
    """Three waves through IncrementalQuantile == the batch sketch over
    the union (min-k merge is exact); the state never exceeds k rows; and
    REPLAYING a wave changes nothing (min-k merge is idempotent — the
    property HLL shares and CMS does not)."""
    from incresql_spark.operators.relational import quantile_base
    from incresql_spark.streaming.quantile_incremental import (
        IncrementalQuantile,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    q = IncrementalQuantile(spark, str(tmp_path / "state"))
    for w in range(3):
        q.add_batch(quantile_base(li.filter(f"l_orderkey % 3 = {w}")))
    got = q.estimate(quantile_base(li)).collect()
    want = op_quantile_sketch(spark, SF_SMALL).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert q.sample().count() <= QSK_K
    before = sorted(map(tuple, q.sample().collect()))
    q.add_batch(quantile_base(li.filter("l_orderkey % 3 = 1")))  # replay
    assert sorted(map(tuple, q.sample().collect())) == before


def test_quantile_sample_hash_matches_key_definition(spark):
    """The sample's h column really is hash60 of the documented unique row
    key — the contract the DuckDB oracle recomputes."""
    li = load_table(spark, SF_SMALL, "lineitem").limit(50)
    got = li.select(
        F.expr(hash60_spark_sql(_QSK_KEY_SPARK)).alias("h"),
        F.expr(_QSK_KEY_SPARK).alias("k"),
    ).collect()
    for r in got:
        assert r.h == py_hash60(r.k)
