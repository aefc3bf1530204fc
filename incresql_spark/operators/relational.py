"""Relational operator inventory — one driver-checkable query per operator of
the reference engine (SURVEY.md §2.2), plus the "free in Spark" upgrades the
reference lacks (window functions, HAVING, semi/anti joins, set ops, rollup —
SURVEY §2.2 "Missing vs. classical engines").

Every query is expressed with the DataFrame API so Catalyst owns the physical
strategy; the paired ORACLE SQL computes the same values in DuckDB.  Numeric
outputs follow the exact-decimal rule (see tpch.py docstring): DECIMAL-cast
before SUM, cast to DOUBLE at the end; divisions happen on DOUBLE in both
engines (single deterministic IEEE-754 op).

Cross-engine formatting rules baked into these queries:
- double→bigint: Spark truncates, DuckDB rounds → always FLOOR() first.
- ORDER BY: NULLS FIRST/LAST always explicit (engine defaults differ).
- timestamps are emitted at ms precision or cast to DATE (events.ts is ns in
  parquet; DuckDB keeps ns, Spark truncates to µs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.hashing import hash60_spark_sql, hash60_sql


# --- Single / Values / constant folding ------------------------------------
# Reference: single.rs:4-45, values.rs:4-35, fold_constants.rs:6-70.
def op_values_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT over no table: literal arithmetic, decimal folding, casts.

    Parity: tests/optimize/constant_folding.rs:4-43 (`1+2*3-4 → 3`,
    `1.0+2.0*3.0-4.0 → 3.00`), casts fixture F4 (`cast('2010-10-23' as
    date)`).  Catalyst folds all of this to a single Project over a
    one-row relation — same as the reference's Single operator.
    """
    return spark.range(1).select(
        (F.lit(1) + F.lit(2) * F.lit(3) - F.lit(4)).alias("folded_int"),
        (F.lit(1.0) + F.lit(2.0) * F.lit(3.0) - F.lit(4.0)).cast("double").alias("folded_dec"),
        F.lit("2010-10-23").cast("date").alias("lit_date"),
        F.lit("2010-10-23 12:30:00").cast("timestamp").alias("lit_ts"),
        F.concat(F.lit("in"), F.lit("cresql")).alias("lit_text"),
        F.lit(None).cast("int").alias("lit_null"),
        (F.lit(True) & ~F.lit(False)).alias("lit_bool"),
    )


OP_VALUES_LITERALS_SQL = """
SELECT 1 + 2 * 3 - 4                                  AS folded_int,
       CAST(1.0 + 2.0 * 3.0 - 4.0 AS DOUBLE)          AS folded_dec,
       CAST('2010-10-23' AS DATE)                     AS lit_date,
       CAST('2010-10-23 12:30:00' AS TIMESTAMP)       AS lit_ts,
       'in' || 'cresql'                               AS lit_text,
       CAST(NULL AS INTEGER)                          AS lit_null,
       TRUE AND NOT FALSE                             AS lit_bool
"""


# --- Project ---------------------------------------------------------------
# Reference: project.rs, scalar_expression.rs:5-76; divide.rs:64-85 (int/int
# division yields DECIMAL, never integer division).
def op_project_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_orderkey") + F.col("l_linenumber")).alias("add_bi"),
            (F.col("l_orderkey") * F.lit(2)).alias("mul_bi"),
            (F.col("l_orderkey") - F.col("l_linenumber")).alias("sub_bi"),
            # reference `/` semantics: never integer division (divide.rs:64-85)
            (F.col("l_quantity").cast("double") / F.col("l_linenumber").cast("double")).alias(
                "div_dec"
            ),
            (F.col("l_extendedprice") * F.col("l_discount")).alias("mul_double"),
            (-F.col("l_quantity")).alias("neg_qty"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


OP_PROJECT_ARITHMETIC_SQL = """
SELECT l_orderkey,
       l_linenumber,
       l_orderkey + l_linenumber                                   AS add_bi,
       l_orderkey * 2                                              AS mul_bi,
       l_orderkey - l_linenumber                                   AS sub_bi,
       CAST(l_quantity AS DOUBLE) / CAST(l_linenumber AS DOUBLE)   AS div_dec,
       l_extendedprice * l_discount                                AS mul_double,
       -l_quantity                                                 AS neg_qty
FROM lineitem
WHERE l_orderkey <= 1000
ORDER BY l_orderkey, l_linenumber
"""


# --- Filter ----------------------------------------------------------------
# Reference: filter.rs:8-42 (predicate must eval to exactly TRUE; NULL drops),
# bool/{and,or,not,eq..lte}.rs, is_true.rs.
def op_filter_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (
                (F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 200000.0)
            )
            & ~(F.col("o_orderpriority") == "1-URGENT")
            & F.col("o_custkey").isNotNull()
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


OP_FILTER_BOOL_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE (o_orderstatus = 'F' OR o_totalprice > 200000.0)
  AND NOT (o_orderpriority = '1-URGENT')
  AND o_custkey IS NOT NULL
ORDER BY o_orderkey
"""


# --- BETWEEN ---------------------------------------------------------------
# Reference: bool/between.rs:8-38 (NULL if any arg NULL; works on text too).
def op_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(
            F.col("c_acctbal").between(1000.0, 5000.0)
            & F.col("c_mktsegment").between("AUTOMOBILE", "FURNITURE")
        )
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    )


OP_BETWEEN_SQL = """
SELECT c_custkey, c_acctbal, c_mktsegment
FROM customer
WHERE c_acctbal BETWEEN 1000.0 AND 5000.0
  AND c_mktsegment BETWEEN 'AUTOMOBILE' AND 'FURNITURE'
ORDER BY c_custkey
"""


# --- Sort + Limit + Offset -------------------------------------------------
# Reference: sort.rs:12-207 (ASC/DESC per key, NULLS FIRST), limit.rs:6-65
# (offset+limit).  Spark fuses orderBy().limit() into TakeOrderedAndProject —
# the TopK the reference never implemented (SURVEY §2.2).
def op_sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc_nulls_first(),
        )
        .offset(10)
        .limit(25)
    )


OP_SORT_LIMIT_OFFSET_SQL = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST
LIMIT 25 OFFSET 10
"""


# --- Inner join with non-equi residual -------------------------------------
# Reference: hash_join.rs:17-393 — equi keys split out, residual condition
# evaluated inside the join (:36-38,:84,:139); NULL keys never match (:98-102).
def op_inner_join_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_totalprice") > F.col("c_acctbal")),
        )
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy("c_custkey", "o_orderkey")
    )


OP_INNER_JOIN_RESIDUAL_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer
JOIN orders ON c_custkey = o_custkey AND o_totalprice > c_acctbal
ORDER BY c_custkey, o_orderkey
"""


# --- Left outer join -------------------------------------------------------
# Reference: hash_join.rs:147-160 (NULL padding on no-match); join condition
# stays in the join, not a post-filter (LEFT OUTER correctness).
def op_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(
            s,
            (F.col("s_nationkey") == F.col("n_nationkey")) & (F.col("s_acctbal") > 5000.0),
            "left",
        )
        .select("n_nationkey", "n_name", "s_suppkey", "s_name", "s_acctbal")
        .orderBy(
            F.col("n_nationkey").asc(),
            F.col("s_suppkey").asc_nulls_first(),
        )
    )


OP_LEFT_JOIN_SQL = """
SELECT n_nationkey, n_name, s_suppkey, s_name, s_acctbal
FROM nation
LEFT JOIN supplier ON s_nationkey = n_nationkey AND s_acctbal > 5000.0
ORDER BY n_nationkey ASC, s_suppkey ASC NULLS FIRST
"""


# --- Cross join (comma-FROM) ----------------------------------------------
# Reference: select.rs:126-139 — comma-join = Inner with ON TRUE.
def op_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("r_regionkey", "n_nationkey")
    )


OP_CROSS_JOIN_SQL = """
SELECT r_regionkey, r_name, n_nationkey, n_name
FROM region, nation
ORDER BY r_regionkey, n_nationkey
"""


# --- UNION ALL -------------------------------------------------------------
# Reference: union_all.rs:6-50 (positional concat, duplicates preserved).
def op_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") > 9000.0).select(
        "c_custkey", F.lit("high").alias("bucket")
    )
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", F.lit("auto").alias("bucket")
    )
    return hi.union(auto).orderBy("c_custkey", "bucket")


OP_UNION_ALL_SQL = """
SELECT c_custkey, 'high' AS bucket FROM customer WHERE c_acctbal > 9000.0
UNION ALL
SELECT c_custkey, 'auto' AS bucket FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
ORDER BY c_custkey, bucket
"""


# --- Hash aggregation with NULL semantics ----------------------------------
# Reference: hash_group.rs:15-107; count.rs:6-55 (count(*) vs count(x)),
# sum.rs, avg.rs (empty group → NULL).
def op_group_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    withnulls = e.withColumn(
        "v", F.when(F.col("value") > 100.0, F.lit(None).cast("double")).otherwise(F.col("value"))
    )
    return (
        withnulls.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt_all"),
            F.count("v").alias("cnt_v"),
            F.sum(F.expr("CAST(v AS DECIMAL(18,4))")).cast("double").alias("sum_v"),
            (
                F.sum(F.expr("CAST(v AS DECIMAL(18,4))")).cast("double")
                / F.count("v").cast("double")
            ).alias("avg_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("event_type")
    )


OP_GROUP_NULLS_SQL = """
SELECT event_type,
       COUNT(*)                                                        AS cnt_all,
       COUNT(v)                                                        AS cnt_v,
       CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE)                   AS sum_v,
       CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(v) AS DOUBLE) AS avg_v,
       MIN(v)                                                          AS min_v,
       MAX(v)                                                          AS max_v
FROM (
  SELECT event_type, CASE WHEN value > 100.0 THEN NULL ELSE value END AS v
  FROM events
) t
GROUP BY event_type
ORDER BY event_type
"""


# --- Global aggregate over zero rows ---------------------------------------
# Reference: sorted_group.rs:69-84 — key_len=0 emits exactly one row on empty
# input (count=0, sum=NULL); golden test tests/group/mod.rs:19-25.
def op_global_agg_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(F.lit(False)).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_quantity").alias("avg_qty"),
    )


OP_GLOBAL_AGG_EMPTY_SQL = """
SELECT COUNT(*) AS cnt, SUM(l_quantity) AS sum_qty, AVG(l_quantity) AS avg_qty
FROM lineitem
WHERE FALSE
"""


# --- DISTINCT (freq-collapse) ----------------------------------------------
# Reference models dedup as groupBy-all-columns with freq merge
# (SURVEY §1.1 "all columns are the pk"); SQL DISTINCT itself was dead code
# (p4_pit_planning/mod.rs:38) — implemented here the Spark way.
def op_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select("c_nationkey", "c_mktsegment").distinct().orderBy("c_nationkey", "c_mktsegment")
    )


OP_DISTINCT_SQL = """
SELECT DISTINCT c_nationkey, c_mktsegment
FROM customer
ORDER BY c_nationkey, c_mktsegment
"""


# --- JSON extraction -------------------------------------------------------
# Reference: json_extract.rs:11-47 (`->`), json_extract_unquote.rs:10-23
# (`->>` = json_unquote(json_extract(..)) — the TPC-H CSV-load workhorse,
# incresql_runner.rs:189-199).
def op_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
        )
        .filter(F.col("k_val").isNotNull() & (F.col("k_val") % 7 == 0))
        .orderBy("event_id")
    )


OP_JSON_EXTRACT_SQL = """
SELECT event_id,
       CAST(props->>'$.k' AS BIGINT) AS k_val
FROM events
WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
  AND CAST(props->>'$.k' AS BIGINT) % 7 = 0
ORDER BY event_id
"""


# --- Casts (to_int / to_bigint / to_text / to_date / if / coalesce) --------
# Reference: casts/* (SURVEY §2.3), misc/if_fn.rs:30-68, misc/coalesce.rs.
# double→bigint: Spark truncates, DuckDB rounds → FLOOR first on both sides.
def op_casts_conditionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.floor("o_totalprice").cast("bigint").alias("price_bi"),
            F.col("o_orderkey").cast("string").alias("key_txt"),
            F.col("o_orderdate").cast("date").alias("odate"),
            F.when(F.col("o_totalprice") > 150000.0, F.lit("big"))
            .otherwise(F.lit("small"))
            .alias("size_if"),
            F.coalesce(F.col("o_orderpriority"), F.lit("none")).alias("prio"),
            F.date_sub(F.col("o_orderdate").cast("date"), 30).alias("date_minus_30"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


OP_CASTS_CONDITIONALS_SQL = """
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice) AS BIGINT)                       AS price_bi,
       CAST(o_orderkey AS VARCHAR)                               AS key_txt,
       CAST(o_orderdate AS DATE)                                 AS odate,
       CASE WHEN o_totalprice > 150000.0 THEN 'big' ELSE 'small' END AS size_if,
       COALESCE(o_orderpriority, 'none')                         AS prio,
       CAST(o_orderdate AS DATE) - 30                            AS date_minus_30
FROM orders
ORDER BY o_orderkey
LIMIT 500
"""


# === Beyond-reference upgrades (free in Spark SQL, SURVEY §2.2 note) =======


def op_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / lag / running sum per user over the events stream.

    The reference has no window functions; Spark's WindowExec provides them.
    Partition by user_id (parallel across users at scale), order by the
    unique event_id (deterministic; ts is ns-precision and engine-variant).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.row_number().over(w).alias("rn"),
            F.lag("value", 1).over(w).alias("prev_value"),
            F.sum(F.expr("CAST(value AS DECIMAL(18,4))"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
            .alias("running_value"),
        )
        .filter(F.col("user_id") <= 20)
        .orderBy("user_id", "event_id")
    )


OP_WINDOW_FUNCTIONS_SQL = """
SELECT user_id,
       event_id,
       ROW_NUMBER() OVER w AS rn,
       LAG(value, 1) OVER w AS prev_value,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
WHERE user_id <= 20
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
ORDER BY user_id, event_id
"""


def op_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (reference parser has no HAVING, select.rs:39-94)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .filter(F.col("n_customers") > 5)
        .orderBy("c_nationkey")
    )


OP_HAVING_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
GROUP BY c_nationkey
HAVING COUNT(*) > 5
ORDER BY c_nationkey
"""


def op_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS via left_semi + left_anti (no shuffle of payload
    columns; the anti side is how `documents without embeddings`-style
    pipeline filters run at scale)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", F.lit("has_orders").alias("status"))
    )
    without = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", F.lit("no_orders").alias("status"))
    )
    return with_orders.union(without).orderBy("c_custkey")


OP_SEMI_ANTI_JOIN_SQL = """
SELECT c_custkey, 'has_orders' AS status FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, 'no_orders' AS status FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


def op_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (absent from the reference — SURVEY §2.2)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    both = (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(s.select(F.col("s_nationkey").alias("nationkey")))
        .withColumn("side", F.lit("both"))
    )
    cust_only = (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .exceptAll(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
        .withColumn("side", F.lit("customer_only"))
    )
    return both.union(cust_only).orderBy("nationkey", "side")


OP_INTERSECT_EXCEPT_SQL = """
SELECT nationkey, 'both' AS side FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'customer_only' AS side FROM (
  SELECT DISTINCT nationkey FROM (
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
  )
)
ORDER BY nationkey, side
"""


def op_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent from the reference)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double").alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


OP_ROLLUP_SQL = """
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def op_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — arbitrary subtotal combinations in one pass
    (CUBE/ROLLUP are special cases).  Spark expands the sets with one Expand
    node feeding a single hash aggregation: rows x |sets| at the map side,
    partials collapse before the shuffle, so the plan shape is scale-stable.
    Sets here: (returnflag, linestatus), (returnflag), (linestatus)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


OP_GROUPING_SETS_SQL = """
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def op_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one row per order priority, one column per order status —
    long-to-wide reshaping with an explicit value list.  With pivot values
    declared up front this stays a single groupBy aggregation (no extra
    pass to discover the columns) whose output width is fixed — the only
    PIVOT shape that works on unbounded input.  Missing cells surface as
    NULL counts, normalized to 0 to match the conditional-aggregation SQL
    every engine can run."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    ).orderBy("o_orderpriority")


OP_PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


FULL_OUTER_CUST_MAX_NATION = 15  # customers counted for nations < 15
FULL_OUTER_SUPP_MIN_NATION = 10  # suppliers counted for nations >= 10


def op_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with NULL padding on BOTH sides (the reference stops
    at LEFT OUTER, hash_join.rs:147-160).  The two inputs are pre-aggregated
    per nation over disjoint-but-overlapping nation ranges, so the output
    exercises all three row classes: left-only, matched, right-only.
    Aggregating BEFORE the join keeps the outer join to 25-ish rows a side
    at any scale — the fact tables never meet the outer-join operator."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = (
        c.filter(F.col("c_nationkey") < FULL_OUTER_CUST_MAX_NATION)
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        s.filter(F.col("s_nationkey") >= FULL_OUTER_SUPP_MIN_NATION)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cn.join(sn, cn.ck == sn.sk, "full_outer")
        .select(
            F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
            "n_cust",
            "n_supp",
        )
        .orderBy("nationkey")
    )


OP_FULL_OUTER_JOIN_SQL = f"""
WITH cn AS (
  SELECT c_nationkey AS ck, COUNT(*) AS n_cust
  FROM customer WHERE c_nationkey < {FULL_OUTER_CUST_MAX_NATION}
  GROUP BY c_nationkey
),
sn AS (
  SELECT s_nationkey AS sk, COUNT(*) AS n_supp
  FROM supplier WHERE s_nationkey >= {FULL_OUTER_SUPP_MIN_NATION}
  GROUP BY s_nationkey
)
SELECT COALESCE(ck, sk) AS nationkey, n_cust, n_supp
FROM cn FULL OUTER JOIN sn ON cn.ck = sn.sk
ORDER BY nationkey
"""


def op_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of lineitem quantity vs extended price — the
    two-variable statistics primitive, computed from exact-decimal moment
    sums (n, Σx, Σy, Σxy, Σx², Σy²).

    Distributed safety: each moment is a DECIMAL sum (associative — shuffle
    order can't change it), so unlike a naive double Σxy the result is
    bit-stable across partitionings AND engines; the final r is a fixed
    sequence of double ops over those exact moments.  This is also the
    mergeable-moments shape a streaming/MV variant would keep as state.

    Output is r in integer PARTS-PER-BILLION, not a raw DOUBLE: at sf0.1
    the moments are byte-identical across engines but DuckDB's
    DECIMAL(38,4)→DOUBLE cast mis-rounds the 20-significant-digit Σy² by
    1 ulp (measured: 0x1.f9b1fab04dd2cp+50 vs the correctly-rounded
    ...2dp+50 Spark/Python produce), shifting r by ~5e-19 — hash-red on
    an exact compare.  Rounding r·10⁹ to an integer absorbs any sub-ulp
    cast divergence (it would need to land within ~1e-10 of a half-count
    to flip) and keeps the gate output in the repo's fixed-point BIGINT
    convention."""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS DECIMAL(12,2))").alias("x"),
        F.expr("CAST(l_extendedprice AS DECIMAL(14,2))").alias("y"),
    )
    m = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(30,4))")).alias("sxy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(28,4))")).alias("sxx"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(32,4))")).alias("syy"),
    )
    r = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select(
        "n",
        F.expr(f"CAST(ROUND(({r}) * 1e9) AS BIGINT)").alias("corr_ppb"),
    )


OP_CORR_SQL = """
WITH l AS (
  SELECT CAST(l_quantity AS DECIMAL(12,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(14,2)) AS y
  FROM lineitem
),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * y AS DECIMAL(30,4))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(28,4))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(32,4))) AS syy
  FROM l
)
SELECT n,
       CAST(ROUND((
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       ) * 1e9) AS BIGINT) AS corr_ppb
FROM m
"""


HIST_BUCKETS = 10


def op_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — the data-profiling /
    optimizer-statistics primitive.  Two passes: a scalar MIN/MAX aggregate
    (broadcast back — one row), then a narrow bucket projection + count.
    Bucket arithmetic is the identical IEEE-754 expression in both engines
    (one subtraction, one division, floor), with the top edge clamped into
    the last bucket; the degenerate lo == hi case is filtered identically
    rather than left to engine-specific NaN casts."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    mm = o.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    bucket = F.expr(
        f"least({HIST_BUCKETS - 1}, "
        f"CAST(floor((v - lo) / ((hi - lo) / {HIST_BUCKETS})) AS INT))"
    )
    return (
        o.crossJoin(F.broadcast(mm))
        .filter(F.col("hi") > F.col("lo"))
        .select(
            bucket.alias("bucket"),
            F.expr(f"lo + ((hi - lo) / {HIST_BUCKETS}) * "
                   f"least({HIST_BUCKETS - 1}, "
                   f"CAST(floor((v - lo) / ((hi - lo) / {HIST_BUCKETS})) AS INT))"
                   ).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bucket")
    )


OP_HISTOGRAM_SQL = f"""
WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v)
SELECT least({HIST_BUCKETS - 1},
             CAST(floor((v - lo) / ((hi - lo) / {HIST_BUCKETS})) AS INT))
         AS bucket,
       lo + ((hi - lo) / {HIST_BUCKETS}) *
         least({HIST_BUCKETS - 1},
               CAST(floor((v - lo) / ((hi - lo) / {HIST_BUCKETS})) AS INT))
         AS bucket_lo,
       COUNT(*) AS n_orders
FROM v, mm
WHERE hi > lo
GROUP BY 1, 2
ORDER BY bucket
"""


RETENTION_EPOCH = "2024-01-01"  # Monday-aligned week origin; <= min(events.ts)


def op_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week, counted
    in each subsequent week — the classic product-analytics rollup.

    Weeks are integer arithmetic (days since the epoch DIV 7) so both
    engines agree exactly; the epoch is at or before the data's start so
    the truncation-vs-floor division difference for negatives never
    triggers.  Shape (round 12, 4 exchanges → 2): one explicit user_id
    repartition feeds the (user_id, week) distinct, the per-user
    cohort-MIN window, and the offset projection — hash partitioning on
    user_id satisfies every one of those clusterings, so Spark plans a
    single exchange for the whole per-user phase (no self-join at all);
    the final rollup is the second.  COUNT(*) replaces COUNT(DISTINCT
    user_id) because act is distinct on (user_id, week) and week_offset
    is injective in week for a fixed user — a user contributes at most
    one row per (cohort_week, week_offset), so the distinct-aggregate
    Expand would be pure overhead.
    """
    e = load_table(spark, sf_dir, "events")
    wk = F.expr(
        f"datediff(CAST(ts AS DATE), DATE '{RETENTION_EPOCH}') DIV 7"
    )
    act = (
        e.select("user_id", wk.alias("week"))
        .repartition("user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id")
    return (
        act.withColumn("cohort_week", F.min("week").over(w))
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


OP_RETENTION_COHORTS_SQL = f"""
WITH act AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '{RETENTION_EPOCH}', CAST(ts AS DATE)) // 7
           AS week
  FROM events
),
cohorted AS (
  -- same single-pass shape as the Spark plan: per-user MIN as a window,
  -- no self-join; COUNT(*) is exact because act is DISTINCT on
  -- (user_id, week) and week_offset is injective in week per user
  SELECT user_id, week,
         MIN(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM act
)
SELECT cohort_week,
       week - cohort_week AS week_offset,
       COUNT(*) AS n_users
FROM cohorted
GROUP BY cohort_week, week - cohort_week
ORDER BY cohort_week, week_offset
"""


# --- As-of join (time-series enrichment; beyond the reference) -------------
def op_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's latest view at-or-before its time.

    Spark has no ASOF JOIN; the scalable encoding is union-tag + one ordered
    window scan per user: O(n log n) within each user partition, ONE shuffle
    on user_id, no range-explosion self-join.  (A naive ts-inequality join
    is O(clicks × views) per user and collapses at scale.)  DuckDB's native
    ASOF LEFT JOIN is the oracle.
    """
    e = load_table(spark, sf_dir, "events")
    # No pre-dedup of same-(user, ts) views: the window orders by
    # (ts, src, id) so the running last() already lands on the max event_id
    # of a tie — one shuffle total instead of two.
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(0).alias("src"), F.col("event_id").alias("id")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(1).alias("src"), F.col("event_id").alias("id")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("src").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        views.unionByName(clicks)
        .withColumn(
            "asof_view_id",
            F.last(F.when(F.col("src") == 0, F.col("id")), ignorenulls=True).over(w),
        )
        .filter(F.col("src") == 1)
        .select("user_id", F.col("id").alias("click_id"), "asof_view_id")
        .orderBy("user_id", "click_id")
    )


OP_ASOF_JOIN_SQL = """
WITH views AS (
  SELECT user_id, ts, max(event_id) AS id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.click_id, v.id AS asof_view_id
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
ORDER BY c.user_id, c.click_id
"""


RANGE_WINDOW_S = 300  # 5 minutes


def op_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views within the 5 minutes before each purchase, counted per purchase.

    A naive ts-inequality join is a per-user cross product.  The scalable
    encoding buckets time into window-sized bins and joins on
    (user_id, bucket) with each purchase probing its own and the previous
    bucket — every qualifying pair lands in one of the two, so the
    inequality only filters inside small equi-join groups.  Equi-join keys
    → Catalyst plans a plain shuffled hash/sort-merge join, no BNLJ.
    """
    e = load_table(spark, sf_dir, "events")
    # NTZ-safe bucket: the driver parquet's ts column may read as TIMESTAMP
    # or TIMESTAMP_NTZ; a direct cast-to-double is forbidden for NTZ.  Cast
    # through TIMESTAMP (no-op for TIMESTAMP; session-tz reinterpretation for
    # NTZ — harmless here since both sides of the join use the identical
    # expression, and bucket alignment is offset-invariant) then take epoch
    # micros on the JVM side.
    bucket = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / (RANGE_WINDOW_S * 1_000_000)
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
        bucket.alias("bkt"),
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            bucket.alias("pb"),
        )
        .withColumn("bkt", F.explode(F.array(F.col("pb") - 1, F.col("pb"))))
    )
    in_window = (F.col("v_ts") <= F.col("p_ts")) & (
        F.col("v_ts") > F.col("p_ts") - F.expr(f"INTERVAL {RANGE_WINDOW_S} SECONDS")
    )
    joined = purchases.join(
        views, ["user_id", "bkt"], "left"
    ).withColumn("hit", F.when(in_window, F.col("view_id")))
    return (
        joined.groupBy("user_id", "purchase_id")
        .agg(F.count("hit").alias("n_views_5min"))
        .orderBy("user_id", "purchase_id")
    )


OP_RANGE_JOIN_SQL = f"""
SELECT p.user_id, p.event_id AS purchase_id,
       CAST(count(v.event_id) AS BIGINT) AS n_views_5min
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts > p.ts - INTERVAL {RANGE_WINDOW_S} SECONDS
GROUP BY p.user_id, p.event_id
ORDER BY p.user_id, purchase_id
"""


def op_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how far does each user get through
    signup → view → purchase, requiring stage timestamps in order?

    One conditional-min aggregation per user (map-side partial, single
    shuffle) then a constant-time stage classification — no joins, no
    windows; the shape is O(events) at any scale.
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(f"t_{t}")
            for t in ("signup", "view", "purchase")
        ]
    )
    stage = (
        F.when(F.col("t_signup").isNull(), 0)
        .when(F.col("t_view").isNull() | (F.col("t_view") < F.col("t_signup")), 1)
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") < F.col("t_view")), 2
        )
        .otherwise(3)
    )
    return (
        firsts.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


OP_FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
staged AS (
  SELECT CASE WHEN t_signup IS NULL THEN 0
              WHEN t_view IS NULL OR t_view < t_signup THEN 1
              WHEN t_purchase IS NULL OR t_purchase < t_view THEN 2
              ELSE 3 END AS stage
  FROM firsts
)
SELECT CAST(stage AS INT) AS stage, CAST(count(*) AS BIGINT) AS n_users
FROM staged
GROUP BY stage
ORDER BY stage
"""


def op_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream via ``F.window`` —
    Spark's native TimeWindow operator, the exact shape a Structured
    Streaming job uses (swap ``load_table`` for a stream source and add a
    watermark).

    Scale: window assignment is a narrow projection (epoch arithmetic, no
    explode for tumbling windows); the aggregation is the standard
    two-phase distinct shape (COUNT DISTINCT shuffles once on (window,
    event_type, user_id) for the partial dedup, then once on (window,
    event_type) for the final counts — the canonical exact-distinct plan;
    approx_count_distinct would collapse it to one).  Epoch-aligned
    buckets mean late data lands in the right window deterministically.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
        )
        .orderBy("window_start", "event_type")
    )


# make_timestamp(us) keeps the oracle in plain (naive) TIMESTAMP like Spark's
# window start under the pinned UTC session; // floors identically to
# TimeWindow's epoch-aligned bucketing.
OP_TIME_WINDOW_SQL = """
SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def op_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day rolling order count + revenue per customer — a RANGE frame
    (value-based, unlike op_window_functions' ROWS frames).

    Determinism engineering: the ordering key is an integer day number
    (datediff from a fixed epoch date) so no session-timezone arithmetic
    exists anywhere, and the rolling revenue sums integer cents (exact,
    order-independent) — engines disagree on double summation order inside
    sliding frames (sequential re-eval vs segment trees), integers don't
    care.  Scale: one shuffle on o_custkey; WindowExec streams each
    customer's orders sorted, O(frame) memory.
    """
    o = load_table(spark, sf_dir, "orders")
    day_nr = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_nr")
        .rangeBetween(-29, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            day_nr.alias("day_nr"),
            cents.alias("cents"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            "day_nr",
            F.count(F.lit(1)).over(w).alias("n_orders_30d"),
            (F.sum("cents").over(w) / F.lit(100.0)).alias("revenue_30d"),
        )
        .filter(F.col("o_custkey") <= 100)
        .orderBy("o_custkey", "o_orderkey")
    )


OP_ROLLING_WINDOW_SQL = """
WITH base AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_nr,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey, day_nr,
       count(*) OVER w AS n_orders_30d,
       CAST(sum(cents) OVER w AS DOUBLE) / 100.0 AS revenue_30d
FROM base
WHERE o_custkey <= 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY day_nr
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


def op_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all four grouping combinations in one
    pass — the multi-dimensional companion to op_rollup.  Spark expands
    grouping sets with an Expand node before one hash aggregation (rows ×
    4, then map-side partials collapse), identical shape at any scale.
    Money sums in integer cents (exact) with a final double division."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderpriority",
            "o_orderstatus",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / F.lit(100.0)).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


OP_CUBE_SQL = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def op_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact percentiles (median + nearest-rank p90) without any
    interpolation arithmetic.

    Engines disagree on percentile *interpolation* formulas (``lo + (hi -
    lo) * f`` vs ``lo * (1 - f) + hi * f`` round differently), so this
    operator defines percentiles by pure rank selection: median = mean of
    the values at ranks floor((n+1)/2) and ceil((n+1)/2), p90 = value at
    rank ceil(0.9 * n) computed in integer arithmetic ((9n + 9) DIV 10).
    Selection is engine-independent, so results hash-match exactly.

    Scale: ONE sort-shuffle on the group key total (WindowExec streams
    sorted runs, no per-group materialization) — the per-group count is a
    second window over the SAME partitioning (exactly the oracle's
    ``count(*) OVER (PARTITION BY …)``), so it reuses the row_number
    exchange instead of paying a separate groupBy shuffle + join-back, and
    the final groupBy reuses the same partitioning too.  This is the
    standard distributed exact-percentile shape — contrast with
    percentile_approx, which trades exactness for a mergeable sketch.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v"), "o_orderkey"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("v", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    j = o.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return (
        j.withColumn("med_lo", F.expr("(n + 1) DIV 2"))
        .withColumn("med_hi", F.expr("(n + 2) DIV 2"))
        .withColumn("p90_rank", F.expr("(9 * n + 9) DIV 10"))
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.avg(
                F.when(
                    (F.col("rn") == F.col("med_lo")) | (F.col("rn") == F.col("med_hi")),
                    F.col("v"),
                )
            ).alias("median_price"),
            F.max(F.when(F.col("rn") == F.col("p90_rank"), F.col("v"))).alias(
                "p90_price"
            ),
        )
        .orderBy("o_orderpriority")
    )


OP_PERCENTILES_SQL = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_orders,
       avg(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2 THEN v END)
         AS median_price,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS p90_price
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def op_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted LEFT OUTER join, driver-verified equal to the plain
    join: the big side scatters across ``salts`` buckets, the small side
    replicates into every bucket (``plans.skew.salted_join``) — the
    explicit hot-key mitigation for power-law join keys AQE's skew split
    can't always save (a single key larger than any split).  The oracle
    computes the PLAIN left join, so the hash match proves salting is
    result-invariant — pads included (each big row meets every matching
    small replica exactly once, or none).

    Integer-exact rollup (count + orderkey sum per segment) so no float
    summation order crosses engines; unmatched orders fold into a
    '(none)' segment to keep ordering engine-neutral.
    """
    from ..plans.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter("c_mktsegment IN ('BUILDING', 'MACHINERY')")
        .select("c_custkey", "c_mktsegment")
    )
    j = salted_join(o, c, "c_custkey", salts=8, how="left")
    return (
        j.groupBy(F.coalesce("c_mktsegment", F.lit("(none)")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("long").alias("sum_okey"),
        )
        .orderBy("segment")
    )


OP_SALTED_JOIN_SQL = """
SELECT COALESCE(c_mktsegment, '(none)') AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
FROM orders LEFT JOIN (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
) c ON o_custkey = c_custkey
GROUP BY 1
ORDER BY segment
"""


# --- HyperLogLog distinct counting (Flajolet et al., AofA 2007) -------------
# The 100 TB cardinality primitive: distinct counts in O(m) memory per
# column with ONE bounded shuffle, vs count(DISTINCT)'s full-key exchange.
# Everything is deterministic and cross-engine bit-exact — Spark's own
# approx_count_distinct could never be oracle-matched, so this is a from-
# scratch HLL on the shared md5 hash60: register index = h mod m, rank =
# leading-zero count of the remaining 48 bits (via length(bin(w)), same
# semantics both engines), the harmonic sum is computed in INTEGER space
# (sum of 2^(49-M_j), exact in BIGINT since m * 2^49 < 2^62), and the
# small-range linear-counting branch needs ln(m/V) — libm ln is NOT
# guaranteed bit-identical across engines, so it is evaluated as a pinned
# 20-term atanh series over range-reduced inputs (t <= 1/3: term 20 is
# ~1e-19, fully converged) with every literal and the fold order spelled
# identically in the Spark plan and the DuckDB oracle.
HLL_P = 12
HLL_M = 1 << HLL_P                      # 4096 registers
HLL_COLUMNS = ("l_linenumber", "l_orderkey", "l_partkey")
_HLL_LN2 = "0.6931471805599453"         # pinned literal, never computed
_HLL_EMPTY_TERM = 1 << 49               # register value 0 → 2^(49-0)


def _d(x) -> str:
    """A double literal both engines agree on.  Bare decimal literals are
    DECIMAL-typed in BOTH Spark and DuckDB, and their decimal division /
    scale rules differ (caught live: the all-literal alpha subtree
    diverged by ~1e3 ulps) — an explicit string→DOUBLE cast is correctly
    rounded and identical everywhere."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _hll_ln_series(t: str) -> str:
    """ln(z) = 2*t*sum(t^2k/(2k+1)) as a Horner chain with pinned literal
    coefficients and explicit parenthesization — identical text for both
    engines, so the double arithmetic is bit-identical."""
    expr = _d(1.0 / 39.0)  # k = 19
    for k in range(18, -1, -1):
        expr = f"({expr}) * (({t}) * ({t})) + {_d(1.0 / (2 * k + 1))}"
    return f"{_d(2.0)} * ({t}) * ({expr})"


def _hll_sql(div: str, shift, p: int = HLL_P) -> dict[str, str]:
    """Engine-shared HLL expression fragments for precision ``p``
    (m = 2^p registers; the remaining 60 - p hash bits give rank values
    up to R = 61 - p, and m * 2^R = 2^61 < 2^62 keeps the integer
    harmonic sum exact in BIGINT at ANY p).  ``div`` is the integer
    division keyword; ``shift(e)`` renders 1 << e as BIGINT.  Geometry is
    a parameter since round 14 (the CMS width/depth precedent); the gate
    pins p=12, and the alpha approximation below requires p >= 7."""
    m = 1 << p
    r = 61 - p                      # rank of an all-zero suffix
    empty_term = 1 << r             # register value 0 -> 2^(r-0)
    return {
        "j": f"(h % {m})",
        "w": f"(h {div} {m})",
        "rho": (f"CASE WHEN w = 0 THEN {r} "
                f"ELSE CAST({r} - length(bin(w)) AS INT) END"),
        "term": shift(f"{r} - mj"),
        "raw": (f"({_d(0.7213)} / ({_d(1.0)} + {_d(1.079)} / "
                f"{_d(float(m))})) * {_d(float(m))} * "
                f"{_d(float(m))} * {_d(float(empty_term))} "
                f"/ CAST(s AS DOUBLE)"),
        "kv": "length(bin(v_zero))",
        "z": f"CAST(v_zero AS DOUBLE) / CAST({shift('kv - 1')} AS DOUBLE)",
        "t": f"(z - {_d(1.0)}) / (z + {_d(1.0)})",
        "ln_v": (f"CAST(kv - 1 AS DOUBLE) * {_d(float(_HLL_LN2))} "
                 f"+ {_hll_ln_series('t')}"),
        "lc": (f"{_d(float(m))} * ({_d(float(p))} * "
               f"{_d(float(_HLL_LN2))} - ln_v)"),
        "used_lc": f"(raw_est <= {_d(2.5 * m)} AND v_zero > 0)",
        "m": m,
        "empty_term": empty_term,
    }


def _hll_spark(p: int = HLL_P) -> dict[str, str]:
    """Spark-dialect HLL fragments (the oracle builds its own with the
    DuckDB dialect inside _hll_oracle_sql)."""
    return _hll_sql("DIV", lambda e: f"shiftleft(CAST(1 AS BIGINT), {e})", p)


def op_hll_distinct(
    spark: SparkSession, sf_dir: str, verify: bool = True,
    p: int = HLL_P,
) -> DataFrame:
    """Deterministic HyperLogLog distinct-count over three lineitem
    columns spanning both HLL regimes (l_linenumber ~7 and l_partkey reach
    the linear-counting branch at small SFs; l_orderkey exercises the raw
    harmonic branch from sf0.01 up).

    Plan shape: one narrow pass explodes (column, value) pairs, one hash
    aggregate on (name, register) — at most |columns| x m = 12k groups
    survive the map-side partial max, so the exchange ships KILOBYTES per
    task no matter how many petabytes were scanned — then a 3-row final
    aggregate.  The exact count(DISTINCT) column is verification-only (it
    is the full-key shuffle HLL exists to avoid); ``verify=False`` is the
    production path — sketch only, no exact ride-along (round-13 advice:
    at sf10 the exact column was ~75% of the row's cost, so the bench row
    ``op_hll_sketch_only`` tracks this path)."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = hll_values(li)
    if verify:
        # One corpus pass shared by both outputs (r18): the distinct
        # (name, val) frame is pinned once; the exact count is a plain
        # count over it and the registers come out unchanged (max(rho)
        # is idempotent — duplicates never move a register).  The old
        # shape ran the scan+explode+md5 pipeline twice, once per branch.
        from ..plans.layout import materialize_bounded

        dvals = materialize_bounded(vals.distinct())
        return hll_finalize(
            hll_registers(dvals, p, pre_dedup=False),
            hll_exact(dvals), p,
        )
    return hll_finalize(hll_registers(vals, p), None, p)


def op_hll_sketch_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY: op_hll_distinct's production path (verify=False) —
    no exact count(DISTINCT) ride-along, so the number tracks what a real
    caller pays for the sketch.  Not a gate query: the sketch columns are
    byte-identical to op_hll_distinct's (same plan minus the exact join),
    so a second oracle row would add no evidence."""
    return op_hll_distinct(spark, sf_dir, verify=False)


def hll_values(df: DataFrame) -> DataFrame:
    """(name, val) pairs for the HLL columns — one narrow explode."""
    pairs = ", ".join(
        f"named_struct('name', '{c}', 'val', CAST({c} AS STRING))"
        for c in HLL_COLUMNS
    )
    return (
        df.select(F.expr(f"explode(array({pairs}))").alias("nv"))
        .select("nv.name", "nv.val")
        .filter(F.col("val").isNotNull())
    )


def hll_registers(vals: DataFrame, p: int = HLL_P,
                  keys: tuple[str, ...] = ("name",),
                  pre_dedup: bool = True) -> DataFrame:
    """(*keys, j, mj) register frame — the MERGEABLE sketch state: registers
    of a union of batches are the per-key MAX of the batches' registers
    (max is commutative/associative/idempotent), which is what makes the
    incremental maintainer exact.  Sketches of different precisions never
    merge — the maintainer pins p at construction.  ``keys`` defaults to
    the global per-column sketch; op_hll_grouped passes ("g", "name") so
    every sketch key is (group, column) — the register exchange then
    ships at most |groups| x |columns| x m rows per task.

    ``pre_dedup`` is purely an optimization toggle — registers are
    idempotent under duplicates (max never moves), so either setting is
    exact.  True DISTINCTs the input before hashing, so the md5 pipeline
    runs once per distinct value instead of once per row: right when
    distinct shrinks the frame a lot (the global lineitem sketch,
    measured 2.4s → 1.25s at sf0.1, r18).  False skips that exchange:
    right when the frame is already distinct (the pinned verify path) or
    near-unique anyway (the grouped sketch, where the pre-dedup cost a
    full exchange to save almost no hashing — r18 verdict item 1)."""
    x = _hll_spark(p)
    if pre_dedup:
        vals = vals.distinct()
    return (
        vals.withColumn("h", F.expr(hash60_spark_sql("val")))
        .withColumn("j", F.expr(x["j"]))
        .withColumn("w", F.expr(x["w"]))
        .withColumn("rho", F.expr(x["rho"]))
        .groupBy(*keys, "j")
        .agg(F.max("rho").alias("mj"))
    )


def hll_exact(vals: DataFrame,
              keys: tuple[str, ...] = ("name",)) -> DataFrame:
    """Verification-only exact distinct counts per sketch key."""
    return vals.groupBy(*keys).agg(
        F.countDistinct("val").alias("exact_count")
    )


def hll_finalize(regs: DataFrame, exact: DataFrame | None = None,
                 p: int = HLL_P,
                 keys: tuple[str, ...] = ("name",)) -> DataFrame:
    """Registers → the operator's output row per sketch key (harmonic/LC
    estimate, bit-exact cross-engine arithmetic).  ``exact`` is the
    verification-only per-key exact-count frame; None (the production
    path) omits the join and the exact_count column.  Every row also
    carries ``rse_ppm`` — the estimator's relative standard error
    1.04/sqrt(m) as integer parts-per-million (a geometry constant, so
    it is emitted as the SAME literal in the Spark plan and the oracle:
    downstream consumers can gate on accuracy without knowing HLL)."""
    x = _hll_spark(p)
    per_name = (
        regs.groupBy(*keys)
        .agg(
            F.count("*").cast("int").alias("occupied"),
            F.sum(F.expr(x["term"])).alias("s_occ"),
        )
        .withColumn("v_zero", F.lit(x["m"]) - F.col("occupied"))
        .withColumn(
            "s",
            (F.col("s_occ")
             + F.col("v_zero").cast("bigint") * F.lit(x["empty_term"])
             ).cast("bigint"),
        )
        .withColumn("raw_est", F.expr(x["raw"]))
        .withColumn("kv", F.expr(x["kv"]))
        .withColumn("z", F.expr(x["z"]))
        .withColumn("t", F.expr(x["t"]))
        .withColumn("ln_v", F.expr(x["ln_v"]))
        .withColumn("used_lc", F.expr(x["used_lc"]))
        .withColumn(
            "estimate",
            F.when(F.col("used_lc"), F.expr(x["lc"])).otherwise(
                F.col("raw_est")
            ),
        )
    )
    rse_ppm = round(1.04 / (x["m"] ** 0.5) * 1_000_000)
    sketch_cols = [*keys, F.lit(x["m"]).alias("m"), "occupied", "v_zero",
                   "s", "raw_est", "used_lc", "estimate",
                   F.lit(rse_ppm).cast("bigint").alias("rse_ppm")]
    if exact is None:
        return per_name.select(*sketch_cols).orderBy(*keys)
    return (
        per_name.join(F.broadcast(exact), list(keys))
        .select(*sketch_cols, "exact_count")
        .orderBy(*keys)
    )


def _hll_oracle_sql(p: int = HLL_P) -> str:
    x = _hll_sql("//", lambda e: f"(CAST(1 AS BIGINT) << ({e}))", p)
    m, r, empty_term = x["m"], 61 - p, x["empty_term"]
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS name, CAST({c} AS VARCHAR) AS val FROM lineitem"
        for c in HLL_COLUMNS
    )
    return f"""
WITH vals AS (
  SELECT name, val FROM (
  {unions}
  ) WHERE val IS NOT NULL
),
regs AS (
  SELECT name, j, MAX(rho) AS mj FROM (
    SELECT name,
           (h % {m}) AS j,
           CASE WHEN (h // {m}) = 0 THEN {r}
                ELSE CAST({r} - length(bin(h // {m})) AS INT) END AS rho
    FROM (SELECT name, val, {hash60_sql("val")} AS h FROM vals)
  ) GROUP BY name, j
),
per0 AS (
  SELECT name, CAST(COUNT(*) AS INT) AS occupied,
         SUM({x["term"]}) AS s_occ
  FROM regs GROUP BY name
),
per1 AS (
  SELECT name, occupied, {m} - occupied AS v_zero,
         CAST(s_occ + CAST({m} - occupied AS BIGINT)
              * {empty_term} AS BIGINT) AS s
  FROM per0
),
per2 AS (
  SELECT name, occupied, v_zero, s, {x["raw"]} AS raw_est,
         {x["kv"]} AS kv
  FROM per1
),
per3 AS (SELECT *, {x["z"]} AS z FROM per2),
per4 AS (SELECT *, {x["t"]} AS t FROM per3),
per5 AS (SELECT *, {x["ln_v"]} AS ln_v FROM per4),
per6 AS (
  SELECT *, {x["used_lc"]} AS used_lc FROM per5
),
exact AS (
  SELECT name, CAST(COUNT(DISTINCT val) AS BIGINT) AS exact_count
  FROM vals GROUP BY name
)
SELECT p.name, {m} AS m, p.occupied, p.v_zero, p.s, p.raw_est,
       p.used_lc,
       CASE WHEN p.used_lc THEN {x["lc"]} ELSE p.raw_est END AS estimate,
       CAST({round(1.04 / m ** 0.5 * 1_000_000)} AS BIGINT) AS rse_ppm,
       e.exact_count
FROM per6 p JOIN exact e USING (name)
ORDER BY p.name
"""


OP_HLL_DISTINCT_SQL = _hll_oracle_sql()


# --- Grouped HLL: per-group distinct counts, bounded register exchange ------
# The per-language / per-source cardinality report every 100 TB curation
# job wants ("distinct URLs per language", "distinct authors per source")
# without exact count(DISTINCT)'s per-group full-key exchange.  Follows
# op_quantile_grouped's bounded-per-group pattern: the sketch key becomes
# (group, column), so the only exchange ships at most
# |groups| x |columns| x m register rows per task regardless of input
# size.  Geometry p=8 (m=256) is chosen so BOTH HLL regimes are live per
# group at the gate SF: o_custkey (~1.3k distinct per priority at sf0.01)
# lands in the raw harmonic branch, o_orderstatus (3 distinct) in the
# linear-counting branch — every group emits one row of each.
HLL_GROUP_P = 8
HLL_GROUP_COLUMNS = ("o_custkey", "o_orderstatus")


def op_hll_grouped(
    spark: SparkSession, sf_dir: str, verify: bool = True,
    p: int = HLL_GROUP_P,
) -> DataFrame:
    """Per-o_orderpriority deterministic HLL distinct counts over two
    orders columns spanning both HLL regimes (see the block comment).
    The reference's only grouping machinery is HashGroup
    (executor/src/point_in_time/hash_group.rs:15-107) and its aggregate
    library stops at count/sum/avg (functions/src/aggregate/) — this is
    the cardinality analog of that grouping at 100 TB, a north-star
    addition rather than a parity row.

    Plan shape: one narrow explode to (g, name, val), one hash aggregate
    on (g, name, register) — map-side partial max caps what any task
    forwards at |groups| x |columns| x m rows — then a |groups| x
    |columns|-row final aggregate.  The exact per-group count(DISTINCT)
    column is verification-only (it is the full-key-per-group shuffle
    this operator exists to avoid); the arithmetic is op_hll_distinct's
    own, reused via hll_finalize(keys=("g", "name"))."""
    o = load_table(spark, sf_dir, "orders")
    vals = hll_grouped_values(o)
    keys = ("g", "name")
    if verify:
        # No shared pin here (r19, reverting the r18 treatment for THIS
        # variant): unlike the global sketch — where distinct shrinks
        # 1.8M lineitem values ~20x and one pinned pass feeds both
        # branches — the grouped (g, name, val) frame is dominated by
        # (priority, custkey) pairs that are already near-unique, so the
        # pinned eager distinct added a job plus an Exchange that saved
        # almost no md5 work (driver-measured 0.68x, r18 verdict item 1).
        # Two independent lazy passes are cheaper than sharing one pinned
        # frame (same-session min-of-4 at sf0.1: 0.85s vs 0.97s pinned vs
        # 0.94s with the register pre-dedup also dropped — the register
        # branch's internal distinct DOES still pay for itself here, the
        # md5 pipeline costs more than the ~2x dedup exchange saves).
        return hll_finalize(
            hll_registers(vals, p, keys),
            hll_exact(vals, keys), p, keys,
        )
    return hll_finalize(hll_registers(vals, p, keys), None, p, keys)


def hll_grouped_values(orders: DataFrame) -> DataFrame:
    """(g, name, val) frame for the grouped sketch — one narrow explode;
    shared by the batch operator and the incremental maintainer so the
    maintained registers come from the exact same code path."""
    pairs = ", ".join(
        f"named_struct('name', '{c}', 'val', CAST({c} AS STRING))"
        for c in HLL_GROUP_COLUMNS
    )
    return (
        orders.select(
            F.col("o_orderpriority").alias("g"),
            F.expr(f"explode(array({pairs}))").alias("nv"),
        )
        .select("g", "nv.name", "nv.val")
        .filter(F.col("val").isNotNull())
    )


def _hll_grouped_oracle_sql(p: int = HLL_GROUP_P) -> str:
    x = _hll_sql("//", lambda e: f"(CAST(1 AS BIGINT) << ({e}))", p)
    m, r, empty_term = x["m"], 61 - p, x["empty_term"]
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT o_orderpriority AS g, '{c}' AS name, "
        f"CAST({c} AS VARCHAR) AS val FROM orders"
        for c in HLL_GROUP_COLUMNS
    )
    return f"""
WITH vals AS (
  SELECT g, name, val FROM (
  {unions}
  ) WHERE val IS NOT NULL
),
regs AS (
  SELECT g, name, j, MAX(rho) AS mj FROM (
    SELECT g, name,
           (h % {m}) AS j,
           CASE WHEN (h // {m}) = 0 THEN {r}
                ELSE CAST({r} - length(bin(h // {m})) AS INT) END AS rho
    FROM (SELECT g, name, val, {hash60_sql("val")} AS h FROM vals)
  ) GROUP BY g, name, j
),
per0 AS (
  SELECT g, name, CAST(COUNT(*) AS INT) AS occupied,
         SUM({x["term"]}) AS s_occ
  FROM regs GROUP BY g, name
),
per1 AS (
  SELECT g, name, occupied, {m} - occupied AS v_zero,
         CAST(s_occ + CAST({m} - occupied AS BIGINT)
              * {empty_term} AS BIGINT) AS s
  FROM per0
),
per2 AS (
  SELECT g, name, occupied, v_zero, s, {x["raw"]} AS raw_est,
         {x["kv"]} AS kv
  FROM per1
),
per3 AS (SELECT *, {x["z"]} AS z FROM per2),
per4 AS (SELECT *, {x["t"]} AS t FROM per3),
per5 AS (SELECT *, {x["ln_v"]} AS ln_v FROM per4),
per6 AS (
  SELECT *, {x["used_lc"]} AS used_lc FROM per5
),
exact AS (
  SELECT g, name, CAST(COUNT(DISTINCT val) AS BIGINT) AS exact_count
  FROM vals GROUP BY g, name
)
SELECT p.g, p.name, {m} AS m, p.occupied, p.v_zero, p.s, p.raw_est,
       p.used_lc,
       CASE WHEN p.used_lc THEN {x["lc"]} ELSE p.raw_est END AS estimate,
       CAST({round(1.04 / m ** 0.5 * 1_000_000)} AS BIGINT) AS rse_ppm,
       e.exact_count
FROM per6 p JOIN exact e USING (g, name)
ORDER BY p.g, p.name
"""


OP_HLL_GROUPED_SQL = _hll_grouped_oracle_sql()


# --- Deterministic mergeable quantile sketch (bottom-k hash sample) ---------
# Completes the sketch trio (HLL cardinality / CMS frequency / quantiles):
# the bounded-shuffle sibling of op_percentiles' exact rank selection, which
# is a full sort-shuffle of the value column at 100 TB.  The reference's
# only ordering machinery is the full Sort (sort.rs:12-207) — this is the
# operator that replaces it for quantile queries at scale.
#
# Design: a KLL-style compactor sketch is NOT usable here because compactor
# output depends on arrival order — a distributed run and the single-threaded
# DuckDB oracle would legitimately disagree, and two Spark runs could too.
# The deterministic, order-independent alternative is the bottom-k sketch
# (Cohen & Kaplan, PODC 2007): keep the K rows with the SMALLEST md5-derived
# 60-bit hash of a unique row key.  That set is a uniform K-sample of the
# multiset, fully determined by the DATA (not the schedule), and PERFECTLY
# mergeable — bottom-k of a union is the bottom-k of the parts' bottom-k
# frames (min-k is commutative/associative/idempotent, the same property
# class as HLL's register max).  Quantile q is then estimated by pure rank
# selection inside the sample (value at rank ceil(q * k / 100), the
# op_percentiles nearest-rank convention — no interpolation arithmetic to
# disagree on), with standard error ~ sqrt(q(1-q)/K) on the rank: ~1.6
# percentile points at the median for K=1024.
#
# Plan shape: ONE TakeOrderedAndProject (per-task partial bottom-k, exchange
# bounded at K x tasks rows regardless of input size), a K-row window, and
# two scalar aggregates.  The exact-rank ride-along (verify=True, the gate
# query) is the full single-partition sort the sketch exists to avoid;
# verify=False is the production path (bench row op_quantile_sketch_only).
QSK_K = 1024
QSK_QS = (1, 25, 50, 75, 99)           # target percentiles
_QSK_KEY_SPARK = ("concat(CAST(l_orderkey AS STRING), '|', "
                  "CAST(l_linenumber AS STRING))")
_QSK_KEY_DUCK = ("CAST(l_orderkey AS VARCHAR) || '|' || "
                 "CAST(l_linenumber AS VARCHAR)")


def quantile_base(li: DataFrame) -> DataFrame:
    """The (v, h) frame the sketch and its verification both consume."""
    return li.select(
        F.col("l_extendedprice").alias("v"),
        F.expr(hash60_spark_sql(_QSK_KEY_SPARK)).alias("h"),
    ).filter(F.col("v").isNotNull())


def op_quantile_sketch(
    spark: SparkSession, sf_dir: str, verify: bool = True,
    k: int = QSK_K,
) -> DataFrame:
    """Bottom-k quantile sketch over lineitem.l_extendedprice: percentile
    estimates {1, 25, 50, 75, 99} by nearest-rank selection inside the
    K=1024 smallest-hash sample.  Estimates and exact values are raw data
    values passing through untouched — no float arithmetic exists to
    diverge, so cross-engine equality is structural.  verify=True (the
    gate query) adds the exact full-data nearest-rank value per
    percentile; that global sort is precisely the cost the sketch avoids,
    so verify=False is the production path."""
    # r18 note: pinning ``base`` for the verify path's three consumers was
    # tried and REVERTED — the md5 pipeline the pin saves is ~0.1s at
    # sf0.1 (the count consumer prunes the hash entirely) while the eager
    # materialization adds a whole job; bench showed +0.1s.  The verify
    # global-rank window stays the documented verification-only cost.
    base = quantile_base(load_table(spark, sf_dir, "lineitem"))
    sample = base.orderBy("h", "v").limit(k)
    return quantile_finalize(base, sample, verify)


def quantile_finalize(base: DataFrame, sample: DataFrame,
                      verify: bool = True) -> DataFrame:
    """Sample + base totals → the operator's output rows; shared by the
    batch operator and the incremental maintainer's gate query (the
    maintained bottom-k state IS the batch sample, so finalizing it here
    reproduces the batch output row-for-row)."""
    sr = sample.withColumn(
        "rs", F.row_number().over(Window.orderBy("v", "h"))
    )
    ns = sample.agg(F.count("*").cast("bigint").alias("sample_n"))
    tot = base.agg(F.count("*").cast("bigint").alias("n"))
    qs = ", ".join(str(q) for q in QSK_QS)
    qf = (
        tot.crossJoin(F.broadcast(ns))
        .select("n", "sample_n",
                F.expr(f"explode(array({qs}))").alias("q_pct"))
        .withColumn("r_s", F.expr("(q_pct * sample_n + 99) DIV 100"))
        .withColumn("r_x", F.expr("(q_pct * n + 99) DIV 100"))
    )
    est = (
        qf.join(F.broadcast(sr), F.col("rs") == F.col("r_s"))
        .select("q_pct", "n", "sample_n", F.col("v").alias("est_price"),
                "r_x")
    )
    if not verify:
        return est.drop("r_x").orderBy("q_pct")
    # verification ride-along: exact nearest-rank values via a global
    # row_number — the single-partition sort the sketch replaces (the
    # op_hll_distinct exact-count convention; production callers use
    # verify=False)
    ranked = base.withColumn(
        "rk", F.row_number().over(Window.orderBy("v", "h")).cast("bigint")
    )
    return (
        est.join(ranked.select(F.col("v").alias("exact_price"), "rk"),
                 F.col("rk") == F.col("r_x"))
        .select("q_pct", "n", "sample_n", "est_price", "exact_price")
        .orderBy("q_pct")
    )


# --- KMV set-cardinality algebra (k minimum values; Bar-Yossef 2002, ----
# Beyer et al. SIGMOD 2007) -----------------------------------------------
# The set-EXPRESSION member of the sketch family: HLL answers |S|, but two
# HLLs cannot estimate |A ∩ B| without the inclusion-exclusion error blowup.
# A KMV sample (the k smallest 60-bit hashes of a set's DISTINCT values) is
# mergeable (min-k, idempotent — bottom-k machinery shared with
# op_quantile_sketch) and supports set algebra directly: union sample =
# bottom-k of the parts' samples; |S| ~ (k-1) * 2^60 / h_k (the k-th
# smallest hash); |A ∩ B| ~ (rho / k_u) * |A ∪ B| where rho counts union-
# sample hashes present in BOTH input samples.  Everything is exact-integer
# until a final pinned DOUBLE expression, so the whole operator value-hashes
# cross-engine.  Sets here: the distinct l_partkey values vs the distinct
# l_suppkey values (overlapping integer domains -> a real, SF-dependent
# intersection); at every SF one set rides the exact small-set branch
# (n_s < k) and one the estimator branch, so both regimes stay gate-covered.
KMV_K = 128
_KMV_SPACE = float(1 << 60)


def _kmv_est(ns: str, hk: str) -> str:
    """Pinned estimator text shared by both engines: exact below k,
    (k-1) * 2^60 / h_k above (h_k < 2^60 fits int64 -> the BIGINT->DOUBLE
    cast is a single correctly-rounded hardware conversion in both)."""
    return (f"CASE WHEN {ns} < {KMV_K} THEN CAST({ns} AS DOUBLE) "
            f"ELSE {_d(float(KMV_K - 1))} * {_d(_KMV_SPACE)} "
            f"/ CAST({hk} AS DOUBLE) END")


def _kmv_rse(ns: str) -> str:
    """Relative standard error as integer parts-per-million (round-15
    verdict task 6): ~1/sqrt(k-2) for the KMV estimator (Beyer et al.
    SIGMOD 2007, Thm 2), EXACTLY 0 in the small-set regime (ns < k means
    the sample IS the distinct set).  The nonzero branch is a Python-
    computed integer literal, so the column value-hashes cross-engine."""
    ppm = round(1_000_000 / (KMV_K - 2) ** 0.5)
    return (f"CAST(CASE WHEN {ns} < {KMV_K} THEN 0 "
            f"ELSE {ppm} END AS BIGINT)")


def op_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-cardinality estimates for A = distinct l_partkey
    values, B = distinct l_suppkey values, A ∪ B and A ∩ B, each with its
    exact verification count.  ONE output row.

    Plan shape: per set, a map-side-partial DISTINCT on the 8-byte hash
    (the exchange ships per-partition distinct hashes, never raw rows)
    followed by TakeOrderedAndProject(k); all downstream algebra runs on
    <= k-row frames joined as broadcasts.  At 100 TB the distinct
    exchange is the honest cost of EXACT bottom-k over distinct values —
    a production deployment can additionally pre-truncate each partition
    to its local k smallest distinct hashes (correct: the global k
    smallest distinct hashes are contained in the union of per-partition
    k-smallest sets), which this gate query omits to keep the plan the
    oracle mirrors."""
    li = load_table(spark, sf_dir, "lineitem")

    def sample(col: str) -> DataFrame:
        return (
            li.filter(F.col(col).isNotNull())
            .select(F.expr(
                hash60_spark_sql(f"CAST({col} AS STRING)")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(KMV_K)
        )

    def vals(col: str) -> DataFrame:
        return (li.filter(F.col(col).isNotNull())
                .select(F.expr(f"CAST({col} AS STRING)").alias("val"))
                .distinct())

    # each <= k-row sample is REUSED three times downstream (its own
    # stats, the union sample, the rho semi-joins); without materializing
    # them Catalyst clones the whole distinct-scan subtree per use (10
    # TakeOrderedAndProject in the first plan audit — the corpus would be
    # rescanned ten times).  localCheckpoint pins each tiny frame once.
    a_s = sample("l_partkey").localCheckpoint()
    b_s = sample("l_suppkey").localCheckpoint()
    u_s = (a_s.unionByName(b_s).distinct().orderBy("h").limit(KMV_K)
           .localCheckpoint())
    stats = [
        s.agg(F.count("*").cast("bigint").alias(f"ns_{n}"),
              F.max("h").alias(f"hk_{n}"))
        for n, s in (("a", a_s), ("b", b_s), ("u", u_s))
    ]
    rho = (
        u_s.join(a_s, "h", "semi").join(b_s, "h", "semi")
        .agg(F.count("*").cast("bigint").alias("rho"))
    )
    # verification: ONE full-outer join of the two distinct-value frames
    # yields all four exact counts in a single pass (three separate
    # count/union/intersect subtrees would each rescan the corpus)
    exacts = (
        vals("l_partkey").withColumn("ina", F.lit(1))
        .join(vals("l_suppkey").withColumn("inb", F.lit(1)),
              "val", "full_outer")
        .agg(
            F.sum(F.coalesce(F.col("ina"), F.lit(0)))
            .cast("bigint").alias("a_exact"),
            F.sum(F.coalesce(F.col("inb"), F.lit(0)))
            .cast("bigint").alias("b_exact"),
            F.count("*").cast("bigint").alias("union_exact"),
            F.sum(F.coalesce(F.col("ina"), F.lit(0))
                  * F.coalesce(F.col("inb"), F.lit(0)))
            .cast("bigint").alias("inter_exact"),
        )
    )
    row = stats[0].crossJoin(stats[1]).crossJoin(stats[2]) \
        .crossJoin(rho).crossJoin(exacts)
    return row.select(
        F.lit(KMV_K).alias("k"),
        F.expr(_kmv_est("ns_a", "hk_a")).alias("a_est"),
        F.expr(_kmv_rse("ns_a")).alias("a_rse_ppm"),
        F.col("a_exact"),
        F.expr(_kmv_est("ns_b", "hk_b")).alias("b_est"),
        F.expr(_kmv_rse("ns_b")).alias("b_rse_ppm"),
        F.col("b_exact"),
        F.expr(_kmv_est("ns_u", "hk_u")).alias("union_est"),
        F.expr(_kmv_rse("ns_u")).alias("union_rse_ppm"),
        F.col("union_exact"),
        F.expr(
            f"CAST(rho AS DOUBLE) * ({_kmv_est('ns_u', 'hk_u')}) "
            f"/ CAST(ns_u AS DOUBLE)"
        ).alias("inter_est"),
        F.col("inter_exact"),
    )


def _kmv_oracle_sql() -> str:
    return f"""
WITH a_vals AS (
  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS val
  FROM lineitem WHERE l_partkey IS NOT NULL
),
b_vals AS (
  SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS val
  FROM lineitem WHERE l_suppkey IS NOT NULL
),
a_s AS (
  SELECT DISTINCT {hash60_sql("val")} AS h FROM a_vals
  ORDER BY h LIMIT {KMV_K}
),
b_s AS (
  SELECT DISTINCT {hash60_sql("val")} AS h FROM b_vals
  ORDER BY h LIMIT {KMV_K}
),
u_s AS (
  SELECT h FROM (SELECT h FROM a_s UNION SELECT h FROM b_s)
  ORDER BY h LIMIT {KMV_K}
),
stats AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM a_s) AS ns_a,
    (SELECT MAX(h) FROM a_s) AS hk_a,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM b_s) AS ns_b,
    (SELECT MAX(h) FROM b_s) AS hk_b,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM u_s) AS ns_u,
    (SELECT MAX(h) FROM u_s) AS hk_u,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM u_s
      WHERE h IN (SELECT h FROM a_s) AND h IN (SELECT h FROM b_s)) AS rho,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM a_vals) AS a_exact,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM b_vals) AS b_exact,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM
      (SELECT val FROM a_vals UNION SELECT val FROM b_vals)) AS union_exact,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM a_vals
      WHERE val IN (SELECT val FROM b_vals)) AS inter_exact
)
SELECT {KMV_K} AS k,
       {_kmv_est("ns_a", "hk_a")} AS a_est,
       {_kmv_rse("ns_a")} AS a_rse_ppm, a_exact,
       {_kmv_est("ns_b", "hk_b")} AS b_est,
       {_kmv_rse("ns_b")} AS b_rse_ppm, b_exact,
       {_kmv_est("ns_u", "hk_u")} AS union_est,
       {_kmv_rse("ns_u")} AS union_rse_ppm, union_exact,
       CAST(rho AS DOUBLE) * ({_kmv_est("ns_u", "hk_u")})
         / CAST(ns_u AS DOUBLE) AS inter_est,
       inter_exact
FROM stats
"""


OP_KMV_SET_OPS_SQL = _kmv_oracle_sql()


#: grouped-sketch geometry: per-group sample size and target percentiles
QSK_GROUP_K = 256
QSK_GROUP_QS = (25, 50, 90)


def op_quantile_grouped(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    """GROUPED bottom-k quantile sketch — the true scale sibling of
    op_percentiles (relational.py:1176): per-o_orderpriority percentile
    estimates over orders.o_totalprice by nearest-rank selection inside a
    per-group K={QSK_GROUP_K} smallest-hash sample.

    Plan shape (the part op_percentiles cannot have): the per-group
    bottom-k is a row_number-over-(group; h)-filter, which Spark rewrites
    through WindowGroupLimit — every input partition forwards at most
    K x |groups| rows BEFORE the group exchange, so the window shuffle is
    bounded no matter how many rows a group has.  op_percentiles' exact
    rank selection must instead ship EVERY row of every group through its
    sort-shuffle; with verify=True (the gate query) that exact path rides
    along per group, and the per-row cost gap is the operator's reason to
    exist at 100 TB.  Estimates are raw data values (no arithmetic to
    diverge cross-engine)."""
    o = load_table(spark, sf_dir, "orders")
    base = quantile_grouped_base(o)
    sample = quantile_grouped_sample(base)
    return quantile_grouped_finalize(base, sample, verify)


def quantile_grouped_base(orders: DataFrame) -> DataFrame:
    """The (g, v, h) frame the grouped sketch and its verification both
    consume — shared with the incremental maintainer so maintained
    samples come from the exact same code path."""
    return orders.select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"),
        F.expr(hash60_spark_sql("CAST(o_orderkey AS STRING)")).alias("h"),
    ).filter(F.col("v").isNotNull())


def quantile_grouped_sample(base: DataFrame,
                            k: int = QSK_GROUP_K) -> DataFrame:
    """Per-group bottom-k of the hash — the mergeable sketch state
    (min-k per group is commutative/associative/idempotent).  Spark
    rewrites the row_number-filter through WindowGroupLimit, bounding
    per-partition forwarding at k x |groups| rows."""
    wk = Window.partitionBy("g").orderBy("h", "v")
    return (
        base.withColumn("rh", F.row_number().over(wk))
        .filter(F.col("rh") <= k)
        .drop("rh")
    )


def quantile_grouped_finalize(base: DataFrame, sample: DataFrame,
                              verify: bool = True) -> DataFrame:
    """Sample -> per-group nearest-rank percentile estimates (the batch
    operator's own arithmetic, reused by the incremental maintainer)."""
    sr = sample.withColumn(
        "rs", F.row_number().over(Window.partitionBy("g").orderBy("v", "h"))
    )
    ns = sample.groupBy("g").agg(
        F.count("*").cast("bigint").alias("sample_n")
    )
    tot = base.groupBy("g").agg(F.count("*").cast("bigint").alias("n"))
    qs = ", ".join(str(q) for q in QSK_GROUP_QS)
    qf = (
        tot.join(ns, "g")
        .select("g", "n", "sample_n",
                F.expr(f"explode(array({qs}))").alias("q_pct"))
        .withColumn("r_s", F.expr("(q_pct * sample_n + 99) DIV 100"))
        .withColumn("r_x", F.expr("(q_pct * n + 99) DIV 100"))
    )
    est = (
        qf.join(sr, (qf["g"] == sr["g"]) & (F.col("rs") == F.col("r_s")))
        .select(qf["g"], "q_pct", "n", "sample_n",
                F.col("v").alias("est_price"), "r_x")
    )
    if not verify:
        return est.drop("r_x").orderBy("g", "q_pct")
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("g").orderBy("v", "h")
        ).cast("bigint"),
    ).select(F.col("g").alias("gx"), F.col("v").alias("exact_price"), "rk")
    return (
        est.join(ranked, (est["g"] == ranked["gx"])
                 & (F.col("rk") == F.col("r_x")))
        .select("g", "q_pct", "n", "sample_n", "est_price", "exact_price")
        .orderBy("g", "q_pct")
    )


op_quantile_grouped.__doc__ = op_quantile_grouped.__doc__.replace(
    "{QSK_GROUP_K}", str(QSK_GROUP_K)
)


def _quantile_grouped_oracle_sql() -> str:
    qs = ", ".join(str(q) for q in QSK_GROUP_QS)
    return f"""
WITH base AS (
  SELECT o_orderpriority AS g, o_totalprice AS v,
         {hash60_sql("CAST(o_orderkey AS VARCHAR)")} AS h
  FROM orders WHERE o_totalprice IS NOT NULL
),
samp AS (
  SELECT g, v, h FROM (
    SELECT g, v, h,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY h ASC, v ASC) AS rh
    FROM base
  ) WHERE rh <= {QSK_GROUP_K}
),
sr AS (
  SELECT g, v,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC, h ASC) AS rs
  FROM samp
),
ns AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sample_n FROM samp GROUP BY g),
tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY g),
qf AS (
  SELECT t.g, n, sample_n, q.q_pct,
         (q_pct * sample_n + 99) // 100 AS r_s,
         (q_pct * n + 99) // 100 AS r_x
  FROM tot t JOIN ns USING (g), (SELECT unnest([{qs}]) AS q_pct) q
),
ranked AS (
  SELECT g, v,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC, h ASC)
              AS BIGINT) AS rk
  FROM base
)
SELECT qf.g, qf.q_pct, qf.n, qf.sample_n,
       s.v AS est_price, r.v AS exact_price
FROM qf
JOIN sr s ON s.g = qf.g AND s.rs = qf.r_s
JOIN ranked r ON r.g = qf.g AND r.rk = qf.r_x
ORDER BY qf.g, qf.q_pct
"""


OP_QUANTILE_GROUPED_SQL = _quantile_grouped_oracle_sql()


def op_quantile_sketch_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY: op_quantile_sketch's production path (verify=False) —
    no exact-rank ride-along, so the number tracks the bounded-shuffle
    sketch alone; the gap to the op_quantile_sketch bench row IS the
    measured cost of the full sort the sketch replaces."""
    return op_quantile_sketch(spark, sf_dir, verify=False)


def _quantile_sketch_oracle_sql() -> str:
    qs = ", ".join(str(q) for q in QSK_QS)
    return f"""
WITH base AS (
  SELECT l_extendedprice AS v, {hash60_sql(_QSK_KEY_DUCK)} AS h
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
samp AS (SELECT v, h FROM base ORDER BY h ASC, v ASC LIMIT {QSK_K}),
sr AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v ASC, h ASC) AS rs FROM samp
),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS sample_n FROM samp),
qf AS (
  SELECT q_pct, n, sample_n,
         (q_pct * sample_n + 99) // 100 AS r_s,
         (q_pct * n + 99) // 100 AS r_x
  FROM (SELECT unnest([{qs}]) AS q_pct), tot, ns
),
ranked AS (
  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v ASC, h ASC) AS BIGINT) AS rk
  FROM base
)
SELECT qf.q_pct, qf.n, qf.sample_n, s.v AS est_price, r.v AS exact_price
FROM qf JOIN sr s ON s.rs = qf.r_s JOIN ranked r ON r.rk = qf.r_x
ORDER BY qf.q_pct
"""


OP_QUANTILE_SKETCH_SQL = _quantile_sketch_oracle_sql()


QUERIES = {
    "op_asof_join": op_asof_join,
    "op_percentiles": op_percentiles,
    "op_time_window": op_time_window,
    "op_rolling_window": op_rolling_window,
    "op_salted_join": op_salted_join,
    "op_cube": op_cube,
    "op_range_join": op_range_join,
    "op_funnel": op_funnel,
    "op_values_literals": op_values_literals,
    "op_project_arithmetic": op_project_arithmetic,
    "op_filter_bool": op_filter_bool,
    "op_between": op_between,
    "op_sort_limit_offset": op_sort_limit_offset,
    "op_inner_join_residual": op_inner_join_residual,
    "op_left_join": op_left_join,
    "op_cross_join": op_cross_join,
    "op_union_all": op_union_all,
    "op_group_nulls": op_group_nulls,
    "op_global_agg_empty": op_global_agg_empty,
    "op_distinct": op_distinct,
    "op_json_extract": op_json_extract,
    "op_casts_conditionals": op_casts_conditionals,
    "op_window_functions": op_window_functions,
    "op_having": op_having,
    "op_semi_anti_join": op_semi_anti_join,
    "op_intersect_except": op_intersect_except,
    "op_rollup": op_rollup,
    "op_grouping_sets": op_grouping_sets,
    "op_pivot": op_pivot,
    "op_full_outer_join": op_full_outer_join,
    "op_retention_cohorts": op_retention_cohorts,
    "op_histogram": op_histogram,
    "op_corr": op_corr,
    "op_hll_distinct": op_hll_distinct,
    "op_quantile_sketch": op_quantile_sketch,
    "op_quantile_grouped": op_quantile_grouped,
    "op_kmv_set_ops": op_kmv_set_ops,
    "op_hll_grouped": op_hll_grouped,
}

ORACLE = {
    "op_asof_join": OP_ASOF_JOIN_SQL,
    "op_percentiles": OP_PERCENTILES_SQL,
    "op_time_window": OP_TIME_WINDOW_SQL,
    "op_rolling_window": OP_ROLLING_WINDOW_SQL,
    "op_salted_join": OP_SALTED_JOIN_SQL,
    "op_cube": OP_CUBE_SQL,
    "op_range_join": OP_RANGE_JOIN_SQL,
    "op_funnel": OP_FUNNEL_SQL,
    "op_values_literals": OP_VALUES_LITERALS_SQL,
    "op_project_arithmetic": OP_PROJECT_ARITHMETIC_SQL,
    "op_filter_bool": OP_FILTER_BOOL_SQL,
    "op_between": OP_BETWEEN_SQL,
    "op_sort_limit_offset": OP_SORT_LIMIT_OFFSET_SQL,
    "op_inner_join_residual": OP_INNER_JOIN_RESIDUAL_SQL,
    "op_left_join": OP_LEFT_JOIN_SQL,
    "op_cross_join": OP_CROSS_JOIN_SQL,
    "op_union_all": OP_UNION_ALL_SQL,
    "op_group_nulls": OP_GROUP_NULLS_SQL,
    "op_global_agg_empty": OP_GLOBAL_AGG_EMPTY_SQL,
    "op_distinct": OP_DISTINCT_SQL,
    "op_json_extract": OP_JSON_EXTRACT_SQL,
    "op_casts_conditionals": OP_CASTS_CONDITIONALS_SQL,
    "op_window_functions": OP_WINDOW_FUNCTIONS_SQL,
    "op_having": OP_HAVING_SQL,
    "op_semi_anti_join": OP_SEMI_ANTI_JOIN_SQL,
    "op_intersect_except": OP_INTERSECT_EXCEPT_SQL,
    "op_rollup": OP_ROLLUP_SQL,
    "op_grouping_sets": OP_GROUPING_SETS_SQL,
    "op_pivot": OP_PIVOT_SQL,
    "op_full_outer_join": OP_FULL_OUTER_JOIN_SQL,
    "op_retention_cohorts": OP_RETENTION_COHORTS_SQL,
    "op_histogram": OP_HISTOGRAM_SQL,
    "op_corr": OP_CORR_SQL,
    "op_hll_distinct": OP_HLL_DISTINCT_SQL,
    "op_quantile_sketch": OP_QUANTILE_SKETCH_SQL,
    "op_quantile_grouped": OP_QUANTILE_GROUPED_SQL,
    "op_kmv_set_ops": OP_KMV_SET_OPS_SQL,
    "op_hll_grouped": OP_HLL_GROUPED_SQL,
}

BENCH_QUERIES = {
    "op_asof_join": op_asof_join,
    "op_percentiles": op_percentiles,
    "op_time_window": op_time_window,
    # round 13: the HLL sketch — tracks the bounded-shuffle cardinality
    # path per-round (disclosed in BASELINE.md; like-for-like totals
    # exclude it when comparing to pre-r13 rounds)
    "op_hll_distinct": op_hll_distinct,
    # round 14 (VERDICT r13 task 3): the production path (verify=False, no
    # exact count(DISTINCT) ride-along) — the number a real caller pays
    "op_hll_sketch_only": op_hll_sketch_only,
    # round 14 (VERDICT r13 task 2): the quantile sketch, both the gate
    # shape (exact full-sort ride-along) and the production bounded path;
    # the per-round gap between the two rows measures the sort avoided
    "op_quantile_sketch": op_quantile_sketch,
    "op_quantile_sketch_only": op_quantile_sketch_only,
    # round 15: the grouped HLL — tracks the bounded per-group register
    # exchange per round (disclosed in BASELINE.md; like-for-like totals
    # exclude it when comparing to pre-r15 rounds)
    "op_hll_grouped": op_hll_grouped,
}
