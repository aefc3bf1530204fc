"""End-to-end corpus curation — the composed dataflow a training-data
pipeline actually runs, as ONE Catalyst plan:

    quality filter → exact-dedup keeper selection → decontamination
    (eval-set shingle overlap) → per-language token rollup

Each stage reuses the building blocks the standalone operators are built
from (``text`` token/stopword expressions, ``dedup`` shingles and the
eval-set convention), so this is the integration query over them — the
driver gate checks the whole composition value-exactly.

Scale shape (the reason each stage looks the way it does):
- quality filter: narrow map, no shuffle, evaluated at the scan;
- keeper selection: one shuffle on the 16-byte content hash (only hash +
  doc_id + the rollup columns travel, never the text);
- decontamination: eval-side shingles are tiny → broadcast; the train
  corpus streams past in one pass (no corpus-side shuffle before the
  per-doc aggregate);
- rollup: partial aggregation into a per-language final — output rows =
  |languages|.

Output is all BIGINT counts (hash-stable on any engine build).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .dedup import (
    _DOC_SHINGLES_DUCK,
    _doc_shingles,
    DEDUP_CONTAMINATION_BLOOM_SQL,
    DEDUP_EMBEDDING_SQL,
    DEDUP_MINHASH_LSH_SQL,
    DEDUP_PASSAGES_SQL,
    EVAL_SET_MAX_DOC,
)
from .relational import (
    OP_HLL_DISTINCT_SQL,
    OP_HLL_GROUPED_SQL,
    OP_QUANTILE_GROUPED_SQL,
    OP_QUANTILE_SKETCH_SQL,
)
from .text import (STOPWORDS, TEXT_CMS_GROUPED_SQL,
                   TEXT_CMS_HEAVYHITTERS_SQL, TOKENS_DUCK, _cms_sql,
                   TOKENS_SPARK, _sql_list)

#: quality gate: floor on token count and on the stopword (fluency) ratio
CURATE_MIN_TOKENS = 20
CURATE_MIN_STOPWORD_RATIO = 0.02
#: exclude a train doc when it shares at least this many distinct shingles
#: with any eval-set document
CURATE_CONTAM_SHINGLES = 3


def _curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared curation front half: quality filter → exact-dedup keeper →
    decontamination.  Returns (doc_id, lang, source, n_tokens) of the clean
    training docs."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.withColumn("tokens", F.expr(TOKENS_SPARK)).withColumn(
        "n_tokens", F.size("tokens")
    )
    stop_cnt = F.expr(
        f"size(filter(tokens, t -> t IN ({_sql_list(STOPWORDS)})))"
    )
    quality = toks.filter(
        (F.col("doc_id") >= EVAL_SET_MAX_DOC)
        & (F.col("n_tokens") >= CURATE_MIN_TOKENS)
        # integer-exact form of stop/total >= RATIO (no float division)
        & (
            stop_cnt * int(round(1 / CURATE_MIN_STOPWORD_RATIO))
            >= F.col("n_tokens")
        )
    )
    # keeper = min doc_id within each exact-content group
    w = Window.partitionBy(F.md5("text"))
    keepers = (
        quality.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "source", "n_tokens")
    )
    docsh = _doc_shingles(spark, sf_dir)
    ev = docsh.filter(F.col("doc_id") < EVAL_SET_MAX_DOC).select(
        F.col("doc_id").alias("eval_doc_id"), F.explode("shingles").alias("shingle")
    )
    tr = docsh.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC).select(
        F.col("doc_id").alias("train_doc_id"), F.explode("shingles").alias("shingle")
    )
    contaminated = (
        tr.join(F.broadcast(ev), ["shingle"])
        .groupBy("train_doc_id")
        .agg(F.countDistinct("shingle").alias("n_common"))
        .filter(F.col("n_common") >= CURATE_CONTAM_SHINGLES)
        .select(F.col("train_doc_id").alias("doc_id"))
    )
    return keepers.join(contaminated, ["doc_id"], "left_anti")


def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus rollup: (lang, n_docs, total_tokens) after quality,
    dedup-keeper and decontamination passes."""
    clean = _curated_docs(spark, sf_dir)
    return (
        clean.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


PIPELINE_CURATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, text, {TOKENS_DUCK} AS tokens
  FROM documents
),
quality AS (
  SELECT doc_id, lang, text, len(tokens) AS n_tokens
  FROM toks
  WHERE doc_id >= {EVAL_SET_MAX_DOC}
    AND len(tokens) >= {CURATE_MIN_TOKENS}
    AND len(list_filter(tokens, t -> t IN ({_sql_list(STOPWORDS)})))
        * {int(round(1 / CURATE_MIN_STOPWORD_RATIO))} >= len(tokens)
),
keepers AS (
  SELECT doc_id, lang, n_tokens
  FROM (
    SELECT doc_id, lang, n_tokens,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM quality
  ) k
  WHERE doc_id = keeper
),
docsh AS ({_DOC_SHINGLES_DUCK}),
ev AS (
  SELECT doc_id AS eval_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id < {EVAL_SET_MAX_DOC}
),
tr AS (
  SELECT doc_id AS train_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id >= {EVAL_SET_MAX_DOC}
),
contaminated AS (
  SELECT train_doc_id AS doc_id
  FROM tr t JOIN ev e USING (shingle)
  GROUP BY train_doc_id
  HAVING count(DISTINCT t.shingle) >= {CURATE_CONTAM_SHINGLES}
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM keepers k
WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = k.doc_id)
GROUP BY lang
ORDER BY lang
"""

def pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining data-prep dataflow as ONE Catalyst plan:

        curate (quality → dedup keeper → decontaminate)
        → source mixing (token-budget reweighting, hash-threshold select)
        → sequence packing (two-level distributed prefix sum into
          fixed-capacity bins)
        → per-source rollup (docs, tokens, bin span)

    Every stage is the same building block its standalone operator uses
    (text_mix_sources rates, text_pack_sequences prefix sums), so this is
    the integration query over the whole curation surface; the driver gate
    value-checks the composition end to end.  Shape: three tiny aggregates
    (per-source, global scalar, per-shard offsets) broadcast back against
    narrow passes over the corpus — the fact table shuffles once, for the
    per-shard window sort.
    """
    from .text import MIX_KEEP_DEN, MIX_SEED, PACK_CAP, PACK_SHARD
    from ..functions.hashing import hash60

    clean = _curated_docs(spark, sf_dir)
    per = (
        clean.groupBy("source")
        .agg(F.sum("n_tokens").alias("actual"))
        .withColumn("w", F.expr("coalesce(try_cast(substring(source, 4, 10) AS INT), 0) % 3 + 1"))
    )
    tot = per.agg(F.sum("actual").alias("total"), F.sum("w").alias("sumw"))
    rates = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(
            "CAST(floor(least(1.0, (CAST(total AS DOUBLE) * CAST(w AS DOUBLE)) /"
            f" ({float(MIX_KEEP_DEN)} * CAST(sumw AS DOUBLE) * CAST(actual AS DOUBLE)))"
            " * 10000) AS BIGINT)"
        ).alias("rate_bp"),
    )
    h = hash60(F.col("doc_id").cast("string"), seed=MIX_SEED)
    sel = (
        clean.join(F.broadcast(rates), ["source"])
        .filter((h % 10000) < F.col("rate_bp"))
        .withColumn("shard", F.expr(f"doc_id DIV {PACK_SHARD}"))
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = sel.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        sel.groupBy("shard")
        .agg(F.sum("n_tokens").alias("shard_tokens"))
        .withColumn("off", F.coalesce(F.sum("shard_tokens").over(w_sh), F.lit(0)))
        .select("shard", "off")
    )
    packed = (
        sel.join(F.broadcast(offsets), ["shard"])
        .withColumn("cum_end", F.col("off") + F.col("cum_in"))
        .withColumn("bin_first", F.expr(f"(cum_end - n_tokens) DIV {PACK_CAP}"))
        .withColumn("bin_last", F.expr(f"(cum_end - 1) DIV {PACK_CAP}"))
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("bin_first").alias("first_bin"),
            F.max("bin_last").alias("last_bin"),
        )
        .orderBy("source")
    )


def _pretrain_sql() -> str:
    from .text import MIX_KEEP_DEN, MIX_SEED, PACK_CAP
    from ..functions.hashing import hash60_sql

    h = hash60_sql("CAST(doc_id AS VARCHAR)", seed=MIX_SEED)
    return f"""
WITH toks AS (
  SELECT doc_id, lang, source, text, {TOKENS_DUCK} AS tokens
  FROM documents
),
quality AS (
  SELECT doc_id, lang, source, text, len(tokens) AS n_tokens
  FROM toks
  WHERE doc_id >= {EVAL_SET_MAX_DOC}
    AND len(tokens) >= {CURATE_MIN_TOKENS}
    AND len(list_filter(tokens, t -> t IN ({_sql_list(STOPWORDS)})))
        * {int(round(1 / CURATE_MIN_STOPWORD_RATIO))} >= len(tokens)
),
keepers AS (
  SELECT doc_id, lang, source, n_tokens
  FROM (
    SELECT doc_id, lang, source, n_tokens,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM quality
  ) k
  WHERE doc_id = keeper
),
docsh AS ({_DOC_SHINGLES_DUCK}),
ev AS (
  SELECT doc_id AS eval_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id < {EVAL_SET_MAX_DOC}
),
tr AS (
  SELECT doc_id AS train_doc_id, unnest(shingles) AS shingle
  FROM docsh WHERE doc_id >= {EVAL_SET_MAX_DOC}
),
contaminated AS (
  SELECT train_doc_id AS doc_id
  FROM tr t JOIN ev e USING (shingle)
  GROUP BY train_doc_id
  HAVING count(DISTINCT t.shingle) >= {CURATE_CONTAM_SHINGLES}
),
clean AS (
  SELECT k.* FROM keepers k
  WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = k.doc_id)
),
per AS (
  SELECT source, SUM(n_tokens) AS actual,
         coalesce(TRY_CAST(substr(source, 4, 10) AS INT), 0) % 3 + 1 AS w
  FROM clean GROUP BY source
),
tot AS (SELECT SUM(actual) AS total, SUM(w) AS sumw FROM per),
rates AS (
  SELECT source,
         CAST(floor(least(1.0, (CAST(total AS DOUBLE) * CAST(w AS DOUBLE)) /
           ({float(MIX_KEEP_DEN)} * CAST(sumw AS DOUBLE) * CAST(actual AS DOUBLE)))
           * 10000) AS BIGINT) AS rate_bp
  FROM per, tot
),
sel AS (
  SELECT c.doc_id, c.source, c.n_tokens
  FROM clean c JOIN rates r USING (source)
  WHERE {h} % 10000 < r.rate_bp
),
cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_end
  FROM sel
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN((cum_end - n_tokens) // {PACK_CAP}) AS BIGINT) AS first_bin,
       CAST(MAX((cum_end - 1) // {PACK_CAP}) AS BIGINT) AS last_bin
FROM cum
GROUP BY source
ORDER BY source
"""


PIPELINE_PRETRAIN_SQL = _pretrain_sql()


# --- Incremental aggregate-over-join MV, driven end-to-end ------------------
_MV_DATE = "1995-03-15"


def _q3_tables_and_view(spark: SparkSession, sf_dir: str, root: str,
                        changelog: bool = False):
    """The SHARED Q3 materialization setup (FreqTable bases + the
    customer ⋈ orders ⋈ lineitem aggregate join view) used by every
    mv_q3-family gate query — one definition, so the per-wave, batched,
    and cascaded cycles can never silently diverge from each other or
    their common oracle."""
    from ..frequency import FreqTable
    from ..materialize import AggregateJoinMaterializedView

    tables = {}
    for name in ("customer", "orders", "lineitem"):
        src = load_table(spark, sf_dir, name)
        t = FreqTable(spark, f"{root}/{name}")
        t.create(src.schema)
        tables[name] = (t, src)
    mv = AggregateJoinMaterializedView(
        spark,
        "mv_q3",
        [tables["customer"][0], tables["orders"][0], tables["lineitem"][0]],
        ["c_custkey = o_custkey", "l_orderkey = o_orderkey"],
        "l_orderkey, o_orderdate, o_orderpriority, "
        "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"
        " AS revenue, "
        "count(*) AS n_items",
        None,
        "l_orderkey, o_orderdate, o_orderpriority",
        f"{root}/mv_state",
        table_filters=[
            "c_mktsegment = 'BUILDING'",
            f"o_orderdate < DATE '{_MV_DATE}'",
            f"l_shipdate > DATE '{_MV_DATE}'",
        ],
        changelog=changelog,
    )
    return tables, mv


def _q3_drive_waves(tables, after_wave=lambda: None) -> None:
    """The SHARED three-wave ingest script (even orderkeys, odd
    orderkeys, DELETE of the 'R' return-flag class), calling
    ``after_wave()`` after each wave — a RefreshPipeline's ``submit``, so
    the refresh overlaps the next wave's ingest.  TPC-H
    rows are tuple-distinct (unique primary keys), so every ingest skips
    the in-batch merge shuffle — the same fast path the maintainers use.
    A wave's per-table ingests land on DIFFERENT FreqTables (independent
    directories, independent commits), so they run concurrently — the
    wave completes at the slowest table's wall instead of the serial
    sum."""
    from ..session import overlap

    spark = tables["lineitem"][0].spark

    def ingest(name, where=None):
        t, df = tables[name]
        df = df if where is None else df.filter(where)
        return lambda: t.insert(df, assume_distinct=True)

    # wave 1: dimension + even orderkeys
    overlap(spark, ingest("customer"),
            ingest("orders", "o_orderkey % 2 = 0"),
            ingest("lineitem", "l_orderkey % 2 = 0"))
    after_wave()
    # wave 2: odd orderkeys on BOTH fact-side tables
    overlap(spark, ingest("orders", "o_orderkey % 2 = 1"),
            ingest("lineitem", "l_orderkey % 2 = 1"))
    after_wave()
    # wave 3: retraction — DELETE one return-flag class (the delete
    # derives its negative segment from the table's own live scan, which
    # is independent of MV state)
    tables["lineitem"][0].delete_where("l_returnflag = 'R'")
    after_wave()


def mv_q3_incremental(spark: SparkSession, sf_dir: str,
                      batch_refresh: bool = False) -> DataFrame:
    """TPC-H Q3-shaped materialized view (aggregate over customer ⋈ orders
    ⋈ lineitem) maintained INCREMENTALLY — the reference's unrealized
    differential goal (storage/src/storage.rs:26-65) driven end-to-end as
    a gate query: base tables ingest in two batches, a DELETE retracts one
    return-flag class, and each refresh propagates only signed deltas
    (materialize.AggregateJoinMaterializedView: N-way telescoping join
    delta feeding the retractable aggregate merge).  The returned frame is
    the MAINTAINED state; the oracle recomputes the same aggregate over
    the final live rows — equality proves three delta refreshes (insert,
    insert, retract) compose to the batch answer.

    Hash-exactness: revenue is summed as DECIMAL(18,4) (cast BEFORE the
    sum, in both engines), so the incremental accumulation order cannot
    produce float drift vs the oracle's single-pass sum — the tpch.py
    exact-decimal strategy.  The GATE OUTPUT carries no DECIMAL at all:
    two driver runs (rounds 6 and 7) proved that ANY decimal output —
    precision 38 or 18 — hash-mismatches on the driver while matching
    locally (trailing-zero scale-4 values like 54808.8630 render
    differently under str(Decimal) vs float-normalizing fetch paths).
    Revenue is therefore emitted as BIGINT 1e-4 fixed-point units
    (`revenue_e4 = revenue * 10000`, exact: scale-4 decimal × 10⁴ is
    integral, max value ≈4.4e9 ≪ 2⁶³) on BOTH sides, matching the
    all-BIGINT/DOUBLE convention every green gate query follows.

    Scale: refresh work is O(delta + touched groups); state lives in
    FreqTable segments (bucketable by join key on a cluster).  The
    temporary state directory is torn down after the result is pinned.

    ``batch_refresh=True`` (round 17, VERDICT r16 task 5) lands ALL
    three ingest waves — both inserts AND the retraction — before ONE
    refresh.  No new machinery: ``FreqTable.delta(since, now)`` already
    reads every pending segment in a single fused scan-and-sum job, and
    the N-way telescoping delta rule differentiates between exact seq
    cursors, so batching is correct BY CONSTRUCTION (insert-then-delete
    of the same rows nets to zero inside the window before it ever
    reaches the join).  The result is byte-identical to the per-wave
    cycle; the saving is the per-wave job constants the round-16 floor
    measurement identified (SCALING.md) — one delta join + one state
    merge instead of three of each.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811 — local for clarity

    from ..materialize import RefreshPipeline

    root = tempfile.mkdtemp(prefix="incr_mv_q3_")
    try:
        tables, mv = _q3_tables_and_view(spark, sf_dir, root)
        if batch_refresh:
            # all three delta windows fuse into one delta job + one merge
            _q3_drive_waves(tables)
            mv.refresh()
        else:
            with RefreshPipeline([mv]) as pipe:
                _q3_drive_waves(tables, pipe.submit)
        out = (
            mv.read()
            # The maintained sum is exact decimal internally; the GATE
            # schema must be decimal-free (driver rounds 6+7: DECIMAL(38,4)
            # and DECIMAL(18,4) both hash-red while locally identical).
            # Scale-4 decimal × 10000 is integral and ≪ 2⁶³ → exact BIGINT.
            .withColumn(
                "revenue_e4",
                F.expr("CAST(revenue * 10000 AS BIGINT)"),
            )
            .drop("revenue")
            .select(
                "l_orderkey", "o_orderdate", "o_orderpriority",
                "revenue_e4", "n_items",
            )
            .orderBy("l_orderkey", "o_orderdate", "o_orderpriority")
        )
        # pin before tearing down the state directory the plan reads
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


MV_Q3_INCREMENTAL_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            * 10000 AS BIGINT) AS revenue_e4,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '{_MV_DATE}'
  AND l_shipdate > DATE '{_MV_DATE}'
  AND l_returnflag <> 'R'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY l_orderkey, o_orderdate, o_orderpriority
"""


def mv_q3_incremental_batched(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The mv_q3 maintainer cycle with ALL THREE delta waves consumed by
    ONE refresh (round 17, VERDICT r16 task 5 — 'batch multiple base
    deltas per refresh').  Registered as a gate query with the SAME
    oracle as mv_q3_incremental: hash equality proves the batched
    window composes to the per-wave answer (the telescoping delta rule
    differentiates between exact seq cursors, so wave count is
    invisible to correctness); the bench row measures the per-wave job
    constants saved (SCALING.md round-17)."""
    return mv_q3_incremental(spark, sf_dir, batch_refresh=True)


def mv_cascade_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASCADED materialized views — an aggregate MV maintained over
    another aggregate MV's changelog, one level beyond the reference's
    never-written differential planner (storage/src/storage.rs:26-65
    sketches the changelog; `p4_pit_planning` never grew the
    differential sibling that would consume it — SURVEY §2.5).

    Level 1 aggregates lineitem per (l_suppkey, l_returnflag)
    (count + sum of quantity); with ``changelog=True`` every refresh
    appends the signed OUTPUT-level delta — finalized new rows +1, prior
    rows −1, unchanged rows cancelled — to a FreqTable
    (materialize.MaterializedView._emit_changelog).  Level 2 is a plain
    MaterializedView whose BASE is that changelog: per l_returnflag it
    counts live level-1 groups (``nsupp`` — count(*) over the changelog
    is the number of distinct supplier/flag groups alive, something no
    single flattened MV over lineitem can express) and re-sums their
    counters.  Three ingest waves (even orderkeys, odd orderkeys, then a
    DELETE of l_linenumber >= 5) refresh BOTH levels each; the oracle
    recomputes the two-level aggregate from scratch on the net corpus,
    so hash equality proves delta propagation composes THROUGH a
    materialization boundary (level-2 deltas are O(level-1 touched
    groups), not O(base delta)).

    Scale: level-1 refresh is O(delta + touched buckets); the changelog
    appended per wave is O(touched groups); level-2 refresh is O(that).
    At 100 TB the cascade is the rollup-pyramid pattern (hourly → daily
    → monthly) with each level's maintenance cost bounded by the level
    below's CHANGE volume, never its size.  All counters are BIGINT end
    to end (quantity is integral — CAST before the weighted sum on both
    engines), so the gate output is decimal-free per the standing
    convention."""
    import shutil
    import tempfile

    from ..frequency import FreqTable
    from ..materialize import MaterializedView, RefreshPipeline

    root = tempfile.mkdtemp(prefix="incr_mv_cascade_")
    try:
        src = load_table(spark, sf_dir, "lineitem")
        base = FreqTable(spark, f"{root}/lineitem")
        base.create(src.schema)
        mv1 = MaterializedView(
            spark, "mv_cascade_l1", base,
            "l_suppkey, l_returnflag, count(*) AS nitems, "
            "sum(CAST(l_quantity AS BIGINT)) AS sum_qty",
            None, "l_suppkey, l_returnflag",
            f"{root}/mv1_state", changelog=True,
        )
        mv2 = MaterializedView(
            spark, "mv_cascade_l2", mv1.changelog,
            "l_returnflag, count(*) AS nsupp, sum(nitems) AS total_items, "
            "sum(sum_qty) AS total_qty",
            None, "l_returnflag",
            f"{root}/mv2_state",
        )
        with RefreshPipeline([mv1, mv2]) as pipe:
            # wave 1: even orderkeys
            base.insert(src.filter("l_orderkey % 2 = 0"),
                        assume_distinct=True)
            pipe.submit()
            # wave 2: odd orderkeys (new groups at level 1 → nsupp moves)
            base.insert(src.filter("l_orderkey % 2 = 1"),
                        assume_distinct=True)
            pipe.submit()
            # wave 3: retraction — shrinks most groups, may empty some
            base.delete_where("l_linenumber >= 5")
            pipe.submit()
        out = (
            mv2.read()
            .select("l_returnflag", "nsupp", "total_items", "total_qty")
            .orderBy("l_returnflag")
        )
        # pin before tearing down the state directory the plan reads
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


MV_CASCADE_INCREMENTAL_SQL = """
WITH mv1 AS (
  SELECT l_suppkey, l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS nitems,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem
  WHERE l_linenumber <= 4
  GROUP BY l_suppkey, l_returnflag
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS nsupp,
       CAST(SUM(nitems) AS BIGINT) AS total_items,
       CAST(SUM(sum_qty) AS BIGINT) AS total_qty
FROM mv1
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def mv_cascade_q3_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade over the flagship JOIN materialization: the TPC-H
    Q3-shaped AggregateJoinMaterializedView (customer ⋈ orders ⋈
    lineitem, the reference's differential goal) runs with
    ``changelog=True``, and a SECOND aggregate MV is maintained over its
    changelog — per o_orderpriority it counts LIVE Q3 groups
    (inexpressible as any single flattened MV over the base tables) and
    re-sums their revenue/items.  Same three waves as mv_q3_incremental
    (even orderkeys, odd orderkeys, DELETE of the 'R' return-flag
    class), refreshing BOTH levels each wave; the oracle recomputes the
    two-level aggregate from scratch on the final live rows.

    This exercises the vector-cursor changelog path: a join view's
    refresh cursor is a per-table seq VECTOR, carried as ``mv_cursor``
    on each changelog segment and compared element-wise by the torn-
    transition guard (materialize._cursor_ge).  Revenue stays exact
    decimal inside level-1 state; level 2 consumes it as BIGINT 1e-4
    fixed-point units (scale-4 decimal × 10⁴ is integral — the standing
    decimal-free gate convention), so the whole cascade is drift-free.

    Scale: level-1 refresh is O(delta joins + touched groups); the
    changelog per wave is O(touched Q3 groups); level-2 refresh is
    O(that) — at 100 TB this is the orders-rollup pyramid where each
    level's maintenance tracks the level below's churn."""
    import shutil
    import tempfile

    from ..materialize import MaterializedView, RefreshPipeline

    root = tempfile.mkdtemp(prefix="incr_mv_casq3_")
    try:
        tables, mv1 = _q3_tables_and_view(spark, sf_dir, root,
                                          changelog=True)
        mv2 = MaterializedView(
            spark, "mv_casq3_l2", mv1.changelog,
            "o_orderpriority, count(*) AS n_groups, "
            "sum(CAST(revenue * 10000 AS BIGINT)) AS revenue_e4_total, "
            "sum(n_items) AS items_total",
            None, "o_orderpriority",
            f"{root}/mv2_state",
        )
        with RefreshPipeline([mv1, mv2]) as pipe:
            _q3_drive_waves(tables, pipe.submit)
        out = (
            mv2.read()
            .select("o_orderpriority", "n_groups", "revenue_e4_total",
                    "items_total")
            .orderBy("o_orderpriority")
        )
        # pin before tearing down the state directory the plan reads
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


MV_CASCADE_Q3_INCREMENTAL_SQL = f"""
WITH mv1 AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS revenue,
         COUNT(*) AS n_items
  FROM customer, orders, lineitem
  WHERE c_mktsegment = 'BUILDING'
    AND c_custkey = o_custkey
    AND l_orderkey = o_orderkey
    AND o_orderdate < DATE '{_MV_DATE}'
    AND l_shipdate > DATE '{_MV_DATE}'
    AND l_returnflag <> 'R'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CAST(revenue * 10000 AS BIGINT)) AS BIGINT)
         AS revenue_e4_total,
       CAST(SUM(n_items) AS BIGINT) AS items_total
FROM mv1
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def mv_q13_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped LEFT OUTER materialized view (customer ⟕ orders
    per-customer order counts) maintained INCREMENTALLY — the reference's
    LeftOuter join (ast/src/rel/logical.rs:55-59; NULL-pad executor
    hash_join.rs:147-160) under its differential goal
    (storage/src/storage.rs:26-65), driven end-to-end as a gate query:
    orders ingest in two batches, then a DELETE strips every order of one
    customer class — flipping those customers' rows back to NULL-pads
    (c_count 0) — and each refresh propagates only signed deltas plus the
    pad anti-join flips (materialize.AggregateJoinMaterializedView,
    hows=["left_outer"]).  The returned frame is Q13's outer distribution
    (orders-per-customer histogram) computed over the MAINTAINED state;
    the oracle recomputes it from the final live rows, so equality proves
    three refreshes (insert, insert, retract-with-pad-flips) compose to
    the batch LEFT JOIN answer.

    The ON-clause extra condition (``o_orderpriority <> …``; the
    synthetic orders table carries no o_comment, Q13's column) is the
    table_filters pushdown: pads appear for customers with no FILTERED
    match — exactly SQL's ``LEFT JOIN … ON k AND f`` semantics, which the
    oracle mirrors by putting both conditions in its ON clause.

    Scale: refresh is O(delta + touched groups); matchedness flips are
    anti-joins with delta-sized build sides (no per-key count table to
    shuffle).  All-BIGINT gate output (the round-6/7 decimal lesson).
    """
    import shutil
    import tempfile

    from ..frequency import FreqTable
    from ..materialize import AggregateJoinMaterializedView, RefreshPipeline
    from ..session import overlap

    root = tempfile.mkdtemp(prefix="incr_mv_q13_")
    try:
        cust_src = load_table(spark, sf_dir, "customer").select("c_custkey")
        ord_src = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        )
        cust = FreqTable(spark, f"{root}/customer")
        cust.create(cust_src.schema)
        ords = FreqTable(spark, f"{root}/orders")
        ords.create(ord_src.schema)
        mv = AggregateJoinMaterializedView(
            spark,
            "mv_q13",
            [cust, ords],
            ["c_custkey = o_custkey"],
            "c_custkey, count(o_orderkey) AS c_count",
            None,
            "c_custkey",
            f"{root}/mv_state",
            table_filters=[None, "o_orderpriority <> '1-URGENT'"],
            hows=["left_outer"],
        )
        # TPC-H rows are tuple-distinct — skip the in-batch merge shuffle;
        # the two tables are independent, so their ingests overlap
        # (guide §2.6, the _q3_drive_waves treatment)
        overlap(spark,
                lambda: cust.insert(cust_src, assume_distinct=True),
                lambda: ords.insert(ord_src.filter("o_orderkey % 2 = 0"),
                                    assume_distinct=True))

        with RefreshPipeline([mv]) as pipe:
            # refresh 1: many customers still NULL-padded
            pipe.submit()
            ords.insert(ord_src.filter("o_orderkey % 2 = 1"),
                        assume_distinct=True)
            # refresh 2: most pads retract as matches arrive; then the
            # retraction wave: one customer class loses ALL its orders —
            # their rows must flip BACK to pads (c_count 0), not vanish
            pipe.submit()
            ords.delete_where("o_custkey % 10 = 3")
            pipe.submit()  # refresh 3
        out = (
            mv.read()
            .groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .select(
                F.col("c_count").cast("bigint").alias("c_count"),
                F.col("custdist").cast("bigint").alias("custdist"),
            )
            .orderBy(F.desc("custdist"), F.desc("c_count"))
        )
        # pin before tearing down the state directory the plan reads
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


MV_Q13_INCREMENTAL_SQL = """
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey
     AND o_orderpriority <> '1-URGENT'
     AND o_custkey % 10 <> 3
    GROUP BY c_custkey
) cc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming near-dup maintainer driven end-to-end as a gate query
    — the reference's changelog-consuming operator goal
    (storage/src/storage.rs:26-65) applied to the flagship dedup pipeline:
    the corpus arrives in THREE waves through ``IncrementalMinHashDedup``
    (streaming/minhash_incremental.py), whose materialized band + shingle
    state makes each wave O(|delta|) signature work plus key-equi probes
    of the band history; the union of the per-wave outputs must equal the
    batch ``dedup_minhash_lsh`` over the full corpus (every near-dup pair
    is emitted exactly once, by the wave its LATER document arrives in).
    The oracle recomputes the batch answer from scratch in DuckDB, so a
    hash match proves three delta ingests compose to the batch result —
    the same independent evidence class mv_q13_incremental gives the MV
    family.

    Scale: history is never rewritten (append-only segments); the
    delta-vs-history candidate join shuffles only 16-byte band keys; the
    exact-Jaccard verify fetches only candidate docs' shingle arrays."""
    import shutil
    import tempfile

    from ..streaming.minhash_incremental import IncrementalMinHashDedup

    root = tempfile.mkdtemp(prefix="incr_minhash_")
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        dd = IncrementalMinHashDedup(spark, f"{root}/state")
        # r19 drive shape (guide §2.6 applied twice over):
        # 1. Wave i+1's signature computation (prepare_batch — shingles +
        #    minhash bands, state-independent by construction) overlaps
        #    wave i's state appends on a worker thread, the lever that won
        #    1.8x on the cascade in r18.
        # 2. Each wave's candidate-join/verify job runs ASYNCHRONOUSLY:
        #    add_batch(defer=True) commits the wave's state appends and
        #    returns the pair plan unevaluated — the plan pinned its own
        #    wave's PRE-batch segment list at construction and segments
        #    are immutable, so evaluating it while later waves ingest
        #    reads exactly the same history.  The three verify jobs then
        #    back-fill each other's straggler tails and the next waves'
        #    prep/ingest instead of running as three serial fences.
        # Per-wave outputs, and hence the union, stay byte-identical to
        # the serial drive; only job scheduling changes.
        from ..plans import layout
        from ..plans.layout import materialize
        from ..session import worker_pool

        futs = []
        try:
            with worker_pool(spark, 3) as pool:
                prep = dd.prepare_batch(docs.filter("doc_id % 3 = 0"))
                for w in range(3):
                    nxt = (
                        pool.submit(dd.prepare_batch,
                                    docs.filter(f"doc_id % 3 = {w + 1}"))
                        if w < 2 else None
                    )
                    lazy = dd.add_batch(None, prepared=prep, defer=True)
                    futs.append(pool.submit(materialize, lazy))
                    if nxt is not None:
                        prep = nxt.result()
            waves = [f.result() for f in futs]
            out = waves[0]
            for w in waves[1:]:
                out = out.unionByName(w)
            return out.orderBy("doc_a", "doc_b").localCheckpoint()
        finally:
            # every deferred plan is materialized (or failed) by now; the
            # per-wave pins are folded into the final pin — reclaim them,
            # on the error path too (a gate run executes 50 queries in one
            # Spark session)
            dd.release_deferred()
            for f in futs:
                if f.exception() is None:
                    layout.release(f.result())
    finally:
        shutil.rmtree(root, ignore_errors=True)


def dedup_passages_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The passage-dedup maintainer driven end-to-end: documents ingest in
    three waves through ``IncrementalPassagesDedup`` (materialized chunk +
    result state; unlike minhash its output is NOT append-only — a later
    wave can push a chunk over the shared threshold and retroactively flip
    an OLD doc's keep flag, which the maintainer emits as −1/+1 freq
    retractions).  ``current()`` over the maintained state must equal the
    batch ``dedup_passages`` over the full corpus, which is exactly what
    the oracle recomputes."""
    import shutil
    import tempfile

    from ..streaming.passages_incremental import IncrementalPassagesDedup

    root = tempfile.mkdtemp(prefix="incr_passages_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        dd = IncrementalPassagesDedup(spark, f"{root}/state")
        for w in range(3):
            dd.add_batch(docs.filter(f"doc_id % 3 = {w}"))
        return dd.current().localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hyperplane-LSH embedding maintainer driven end-to-end: vectors
    ingest in three waves through ``IncrementalEmbeddingDedup`` at the
    band width the batch operator derives for the FULL corpus (width is
    frozen state geometry — streaming/_geometry.py), and the union of the
    per-wave near-dup pairs must equal batch ``dedup_embedding``, whose
    width-dynamic SQL the oracle reuses."""
    import shutil
    import tempfile

    from ..plans import layout
    from ..streaming.embedding_incremental import IncrementalEmbeddingDedup
    from .dedup import _embed_band_bits

    root = tempfile.mkdtemp(prefix="incr_embed_")
    try:
        vecs = load_table(spark, sf_dir, "embeddings")
        dd = IncrementalEmbeddingDedup(
            spark, f"{root}/state", _embed_band_bits(vecs.count())
        )
        waves = [
            dd.add_batch(vecs.filter(f"vec_id % 3 = {w}")) for w in range(3)
        ]
        out = waves[0]
        for w in waves[1:]:
            out = out.unionByName(w)
        out = out.orderBy("vec_a", "vec_b").localCheckpoint()
        for w in waves:
            layout.release(w)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def dedup_canonical(
    spark: SparkSession,
    sf_dir: str,
    clusters: DataFrame | None = None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """Canonical-document selection per near-dup cluster — the step that
    closes the dedup pipeline: pairwise evidence → clusters
    (``dedup_clusters`` min-label propagation) → ONE survivor per cluster,
    chosen by QUALITY (highest ``text_lm_score`` integer-ppm plausibility,
    ties broken by lowest doc_id) instead of arbitrary first-seen order —
    keep the best copy, not a random one.

    Output: every clustered doc with its cluster, score, and an
    ``is_canonical`` flag (exactly one true per cluster); unclustered docs
    are implicitly kept and not listed.

    Scale: the cluster + LM pipelines' own shuffles, one broadcast-ish
    hash join between them (clustered docs ≪ corpus), and one window
    sort-shuffle on cluster_id.  Rank selection keeps the choice
    deterministic on any engine — no float comparison crosses machines.

    A real curation pipeline has usually already materialized both inputs
    (``dedup_clusters`` and ``text_lm_score`` are standalone registered
    queries); pass them as ``clusters`` / ``scores`` and this operator
    costs ONE hash join + ONE window over existing artifacts instead of
    recomputing the ngram-Jaccard candidate stage from scratch (round-10
    advice; the sf1 warm numbers are in SCALING.md).  The defaults keep
    the standalone (spark, sf_dir) gate contract self-contained.
    """
    from .dedup import dedup_clusters
    from .text import text_lm_score

    cl = clusters if clusters is not None else dedup_clusters(spark, sf_dir)
    lm = (scores if scores is not None
          else text_lm_score(spark, sf_dir)).select("doc_id", "lm_avg_df_ppm")
    j = cl.join(lm, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("lm_avg_df_ppm"), F.asc("doc_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .select(
            "cluster_id",
            "doc_id",
            "lm_avg_df_ppm",
            (F.col("rn") == 1).alias("is_canonical"),
        )
        .orderBy("cluster_id", "doc_id")
    )


def _dedup_canonical_sql() -> str:
    from .dedup import DEDUP_CLUSTERS_SQL
    from .text import TEXT_LM_SCORE_SQL

    return f"""
WITH clusters AS ({DEDUP_CLUSTERS_SQL}),
lm AS ({TEXT_LM_SCORE_SQL}),
ranked AS (
  SELECT c.cluster_id, c.doc_id, l.lm_avg_df_ppm,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY l.lm_avg_df_ppm DESC, c.doc_id) AS rn
  FROM clusters c JOIN lm l USING (doc_id)
)
SELECT cluster_id, doc_id, lm_avg_df_ppm, rn = 1 AS is_canonical
FROM ranked
ORDER BY cluster_id, doc_id
"""


DEDUP_CANONICAL_SQL = _dedup_canonical_sql()


def op_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL maintainer driven end-to-end as a gate query: lineitem
    arrives in THREE waves (split on l_orderkey % 3) through
    ``IncrementalHll`` (streaming/hll_incremental.py), whose materialized
    (name, register) AggState makes each wave O(|delta| + m) — no rescans
    of prior waves, state exchange bounded at columns x m rows.  Because
    HLL registers max-merge exactly, the maintained estimate after the
    waves EQUALS the batch ``op_hll_distinct`` over the full table, which
    is exactly what the oracle recomputes from scratch in DuckDB — the
    same independent-evidence class as mv_q3_incremental /
    dedup_minhash_incremental.  The exact count(DISTINCT) column is
    computed once over the full table for verification, as in the batch
    operator."""
    import shutil
    import tempfile

    from .relational import hll_exact, hll_values
    from ..streaming.hll_incremental import IncrementalHll

    root = tempfile.mkdtemp(prefix="incr_hll_")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        hll = IncrementalHll(spark, f"{root}/state")
        for w in range(3):
            hll.add_batch(li.filter(f"l_orderkey % 3 = {w}"))
        out = hll.estimate(hll_exact(hll_values(li)))
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def text_cms_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS maintainer driven end-to-end as a gate query: documents
    arrive in THREE waves (split on doc_id % 3) through ``IncrementalCms``
    (streaming/cms_incremental.py), whose materialized (i, b, c) AggState
    makes each wave O(|delta| + d*w) — no rescans of prior waves, state
    exchange bounded at d x w counter rows.  Because CMS counters
    sum-merge exactly over disjoint deltas, the maintained sketch after
    the waves EQUALS the batch sketch over the full corpus, so the
    verification report (top/bottom candidates with exact counts) is
    byte-identical to ``text_cms_heavyhitters`` — whose DuckDB oracle
    recomputes everything from scratch.  Gate geometry (w=16 collision
    stress) to match that oracle; production callers construct
    IncrementalCms at a real width."""
    import shutil
    import tempfile

    from .text import CMS_D, CMS_W, cms_heavyhitter_report, cms_tokens
    from ..streaming.cms_incremental import IncrementalCms

    root = tempfile.mkdtemp(prefix="incr_cms_")
    try:
        d = load_table(spark, sf_dir, "documents")
        cms = IncrementalCms(spark, f"{root}/state", width=CMS_W,
                             depth=CMS_D)
        for w in range(3):
            cms.add_batch(cms_tokens(d.filter(f"doc_id % 3 = {w}")))
        out = cms_heavyhitter_report(cms.sketch(), cms_tokens(d),
                                     CMS_W, CMS_D)
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def op_quantile_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom-k quantile maintainer driven end-to-end as a gate query:
    lineitem arrives in THREE waves (split on l_orderkey % 3) through
    ``IncrementalQuantile`` (streaming/quantile_incremental.py), whose
    materialized (v, h) AggState makes each wave O(|delta| + k) — no
    rescans of prior waves, state bounded at k rows forever.  Because
    min-k-merge is exact (and idempotent), the maintained sample after
    the waves EQUALS the batch bottom-k over the full table, so
    finalizing it reproduces ``op_quantile_sketch`` row-for-row — whose
    DuckDB oracle recomputes everything from scratch (the
    op_hll_incremental / text_cms_incremental evidence pattern).  The
    full-table base frame supplies the row count and the verification
    exact-rank ride-along, as in the batch operator."""
    import shutil
    import tempfile

    from .relational import quantile_base
    from ..streaming.quantile_incremental import IncrementalQuantile

    root = tempfile.mkdtemp(prefix="incr_qsk_")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        q = IncrementalQuantile(spark, f"{root}/state")
        for w in range(3):
            q.add_batch(quantile_base(li.filter(f"l_orderkey % 3 = {w}")))
        out = q.estimate(quantile_base(li))
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def op_quantile_grouped_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GROUPED quantile maintainer driven end-to-end as a gate query
    (round 15): orders arrives in THREE waves (split on o_orderkey % 3)
    through ``IncrementalQuantileGrouped``, whose materialized (g, v, h)
    AggState makes each wave O(|delta| + k x |groups|) — state bounded at
    k rows PER GROUP forever.  Because per-group min-k-merge is exact
    (and idempotent), the maintained sample after the waves EQUALS the
    batch per-group bottom-k over the full table, so finalizing it
    reproduces ``op_quantile_grouped`` row-for-row — whose DuckDB oracle
    recomputes everything from scratch."""
    import shutil
    import tempfile

    from .relational import quantile_grouped_base
    from ..streaming.quantile_incremental import IncrementalQuantileGrouped

    root = tempfile.mkdtemp(prefix="incr_qskg_")
    try:
        o = load_table(spark, sf_dir, "orders")
        q = IncrementalQuantileGrouped(spark, f"{root}/state")
        for w in range(3):
            q.add_batch(
                quantile_grouped_base(o.filter(f"o_orderkey % 3 = {w}"))
            )
        out = q.estimate(quantile_grouped_base(o))
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def op_hll_grouped_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED HLL maintainer driven end-to-end as a gate query
    (round 15): orders arrives in THREE waves (split on o_orderkey % 3)
    through ``IncrementalHll`` with keys=("g", "name") at the grouped
    geometry — the same register max-merge as op_hll_incremental, state
    bounded at |groups| x |columns| x m rows, each wave O(|delta| + m).
    Because the merge is exact, the maintained per-group estimates after
    the waves EQUAL the batch ``op_hll_grouped`` over the full table,
    which is what the DuckDB oracle recomputes from scratch."""
    import shutil
    import tempfile

    from .relational import HLL_GROUP_P, hll_exact, hll_grouped_values
    from ..streaming.hll_incremental import IncrementalHll

    root = tempfile.mkdtemp(prefix="incr_hllg_")
    try:
        o = load_table(spark, sf_dir, "orders")
        hll = IncrementalHll(spark, f"{root}/state",
                             keys=("g", "name"), p=HLL_GROUP_P)
        for w in range(3):
            hll.add_batch_values(
                hll_grouped_values(o.filter(f"o_orderkey % 3 = {w}"))
            )
        out = hll.estimate(hll_exact(hll_grouped_values(o), ("g", "name")))
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def text_cms_grouped_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GROUPED CMS maintainer driven end-to-end as a gate query
    (round 16, filling the grouped-incremental matrix's last open cell):
    documents arrive in THREE waves (split on doc_id % 3) through
    ``IncrementalCms`` with keys=("g",) — per wave the delta's (g, i, b)
    counters (computed by the batch operator's own cms_grouped_sketch)
    sum-merge into the AggState, state bounded at |groups| x d x
    min(w, |vocab|) counter rows, each wave O(|delta| + state).  Because
    counters sum-merge exactly over disjoint deltas, the maintained
    sketch after the waves EQUALS the batch sketch over the full corpus,
    so the verification report is byte-identical to ``text_cms_grouped``
    — whose DuckDB oracle recomputes everything from scratch.  Gate
    geometry (w=16 collision stress) to match that oracle; sum-merge is
    NOT idempotent, so the maintainer relies on AggState's exactly-once
    manifest (the flat text_cms_incremental's documented contract)."""
    import shutil
    import tempfile

    from .text import (
        CMS_D,
        CMS_W,
        cms_grouped_report,
        cms_grouped_sketch,
        cms_grouped_tokens,
    )
    from ..streaming.cms_incremental import IncrementalCms

    root = tempfile.mkdtemp(prefix="incr_cmsg_")
    try:
        d = load_table(spark, sf_dir, "documents")
        cms = IncrementalCms(spark, f"{root}/state", width=CMS_W,
                             depth=CMS_D, keys=("g",))
        for w in range(3):
            cms.add_batch_counters(cms_grouped_sketch(
                cms_grouped_tokens(d.filter(f"doc_id % 3 = {w}")),
                CMS_W, CMS_D,
            ))
        out = cms_grouped_report(cms.sketch(), cms_grouped_tokens(d),
                                 CMS_W, CMS_D)
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def text_cms_retract_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RETRACTION through the CMS maintainer driven end-to-end as a gate
    query (round 17 — the reference's retractable-aggregate contract,
    functions/src/lib.rs:112-163, carried from the MV family to the one
    sketch whose merge is a group; the retractability matrix lives in
    streaming/cms_incremental.py).  All THREE waves (doc_id % 3) are
    ingested, then wave 2 is RETRACTED — a sum-merge of its negated
    counters, computed by the batch operator's own cms_sketch — and
    zero counters are purged.  Because counter addition has exact
    inverses, the maintained sketch now EQUALS the batch sketch over
    the NET corpus (doc_id % 3 != 2), so the verification report is
    byte-identical to ``text_cms_heavyhitters`` restricted to that
    corpus — which is what the DuckDB oracle recomputes from scratch.
    Each wave stays O(|delta| + d*w); the retraction is priced exactly
    like an ingest."""
    import shutil
    import tempfile

    from .text import CMS_D, CMS_W, cms_heavyhitter_report, cms_tokens
    from ..streaming.cms_incremental import IncrementalCms

    root = tempfile.mkdtemp(prefix="incr_cmsr_")
    try:
        d = load_table(spark, sf_dir, "documents")
        cms = IncrementalCms(spark, f"{root}/state", width=CMS_W,
                             depth=CMS_D)
        for w in range(3):
            cms.add_batch(cms_tokens(d.filter(f"doc_id % 3 = {w}")))
        cms.retract_batch(cms_tokens(d.filter("doc_id % 3 = 2")))
        net = d.filter("doc_id % 3 != 2")
        out = cms_heavyhitter_report(cms.sketch(), cms_tokens(net),
                                     CMS_W, CMS_D)
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def dedup_contamination_bloom_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Bloom contamination-screen maintainer driven end-to-end as a
    gate query (round 16, completing the maintainer matrix): the EVAL
    corpus arrives in THREE waves (split on doc_id % 3) through
    ``IncrementalBloom`` — per wave the delta's bits OR-merge into the
    m-bit AggState (union + distinct on <= m idx rows; bits only ever
    get ADDED, so no-false-negatives holds wave by wave).  Because the
    merge is exact, the maintained bit set after the waves EQUALS the
    batch ``bloom_bits`` over the full eval set, so screening the
    training corpus with it reproduces ``dedup_contamination_bloom``
    (the gate shape, exact ride-along included) row for row — which is
    what the DuckDB oracle recomputes from scratch."""
    import shutil
    import tempfile

    from .dedup import (
        EVAL_SET_MAX_DOC,
        _doc_shingles,
        dedup_contamination_bloom,
    )
    from ..streaming.bloom_incremental import IncrementalBloom

    root = tempfile.mkdtemp(prefix="incr_bloom_")
    try:
        ev_docs = _doc_shingles(spark, sf_dir).filter(
            F.col("doc_id") < EVAL_SET_MAX_DOC
        )
        bloom = IncrementalBloom(spark, f"{root}/state")
        for w in range(3):
            bloom.add_eval_batch(
                ev_docs.filter(f"doc_id % 3 = {w}")
                .select(F.explode("shingles").alias("shingle"))
            )
        out = dedup_contamination_bloom(spark, sf_dir, verify=True,
                                        bits=bloom.bits())
        # materialize before the state dir is deleted (the plan reads the
        # AggState parquet lazily)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES = {
    "pipeline_curate": pipeline_curate,
    "pipeline_pretrain": pipeline_pretrain,
    "mv_q3_incremental": mv_q3_incremental,
    "mv_q13_incremental": mv_q13_incremental,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    "dedup_passages_incremental": dedup_passages_incremental,
    "dedup_embedding_incremental": dedup_embedding_incremental,
    "dedup_canonical": dedup_canonical,
    "op_hll_incremental": op_hll_incremental,
    "text_cms_incremental": text_cms_incremental,
    "op_quantile_incremental": op_quantile_incremental,
    "op_hll_grouped_incremental": op_hll_grouped_incremental,
    "op_quantile_grouped_incremental": op_quantile_grouped_incremental,
    "dedup_contamination_bloom_incremental":
        dedup_contamination_bloom_incremental,
    "text_cms_grouped_incremental": text_cms_grouped_incremental,
    "text_cms_retract_incremental": text_cms_retract_incremental,
    "mv_q3_incremental_batched": mv_q3_incremental_batched,
    "mv_cascade_incremental": mv_cascade_incremental,
    "mv_cascade_q3_incremental": mv_cascade_q3_incremental,
}
ORACLE = {
    "pipeline_curate": PIPELINE_CURATE_SQL,
    "pipeline_pretrain": PIPELINE_PRETRAIN_SQL,
    "mv_q3_incremental": MV_Q3_INCREMENTAL_SQL,
    "mv_q13_incremental": MV_Q13_INCREMENTAL_SQL,
    # the maintained state must equal the batch operator over the full
    # corpus, so the batch oracles ARE the incremental oracles
    "dedup_minhash_incremental": DEDUP_MINHASH_LSH_SQL,
    "dedup_passages_incremental": DEDUP_PASSAGES_SQL,
    "dedup_embedding_incremental": DEDUP_EMBEDDING_SQL,
    "dedup_canonical": DEDUP_CANONICAL_SQL,
    # registers max-merge exactly, so the maintained state after the
    # waves equals the batch sketch over the full table — the batch
    # oracle IS the incremental oracle (the dedup_*_incremental pattern)
    "op_hll_incremental": OP_HLL_DISTINCT_SQL,
    # counters sum-merge exactly, so the maintained sketch after the
    # waves equals the batch sketch over the full corpus — the batch
    # oracle IS the incremental oracle (the op_hll_incremental pattern)
    "text_cms_incremental": TEXT_CMS_HEAVYHITTERS_SQL,
    "op_quantile_incremental": OP_QUANTILE_SKETCH_SQL,
    # register max-merge is exact per (group, column) key, so the
    # maintained grouped sketch equals the batch op_hll_grouped — the
    # batch oracle IS the incremental oracle (the family pattern)
    "op_hll_grouped_incremental": OP_HLL_GROUPED_SQL,
    # per-group min-k-merge is exact, so the maintained grouped sample
    # equals the batch op_quantile_grouped — batch oracle = incremental
    "op_quantile_grouped_incremental": OP_QUANTILE_GROUPED_SQL,
    # bit sets OR-merge exactly (union + distinct on idx), so the
    # maintained screen after the eval waves equals the batch Bloom
    # screen over the full eval set — batch oracle = incremental
    "dedup_contamination_bloom_incremental": DEDUP_CONTAMINATION_BLOOM_SQL,
    # per-(g, i, b) counters sum-merge exactly over disjoint deltas, so
    # the maintained grouped sketch equals the batch text_cms_grouped —
    # batch oracle = incremental (the family pattern)
    "text_cms_grouped_incremental": TEXT_CMS_GROUPED_SQL,
    # counter addition has exact inverses (a group), so after retracting
    # wave 2 the maintained sketch equals the batch sketch over the NET
    # corpus — the oracle is the batch recompute restricted to it
    "text_cms_retract_incremental": _cms_sql("WHERE (doc_id % 3) != 2"),
    # one batched refresh over three delta windows composes to the same
    # state as three per-wave refreshes — the per-wave oracle IS the
    # batched oracle
    "mv_q3_incremental_batched": MV_Q3_INCREMENTAL_SQL,
    # two-level maintained cascade == from-scratch two-level recompute on
    # the net corpus (delta propagation composes through the
    # materialization boundary)
    "mv_cascade_incremental": MV_CASCADE_INCREMENTAL_SQL,
    # cascade over the JOIN MV (vector cursors): two-level maintained ==
    # two-level from-scratch recompute on the final live rows
    "mv_cascade_q3_incremental": MV_CASCADE_Q3_INCREMENTAL_SQL,
}

# Round 11 (VERDICT r10 task 7): the incremental-maintainer hot path gets
# round-over-round regression tracking in BENCH_r* — previously its cost
# was visible only in the one-off BENCH_MV_MERGE runs.  Each entry is the
# self-contained gate shape (multi-wave ingest + refresh + teardown), so
# the number tracks the WHOLE maintainer cycle, not just one refresh.
def mv_q3_incremental_cas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY: the full mv_q3_incremental maintainer cycle on the CAS
    manifest-pointer commit backend (``incresql.commit.backend = cas``) —
    round-over-round regression tracking for the adapter-parity claim
    (round-11 measured a single point: 11.1s rename vs 10.3s cas at
    sf0.01; this makes the comparison a standing bench row).  Not a gate
    query: the RESULT is byte-identical to mv_q3_incremental by
    construction (same plan, different commit protocol), so a second
    oracle row would add no evidence."""
    from .. import commit

    prev = spark.conf.get(commit.BACKEND_CONF, "rename")
    spark.conf.set(commit.BACKEND_CONF, "cas")
    try:
        return mv_q3_incremental(spark, sf_dir)
    finally:
        spark.conf.set(commit.BACKEND_CONF, prev)


BENCH_QUERIES = {
    "mv_q3_incremental": mv_q3_incremental,
    "mv_q13_incremental": mv_q13_incremental,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    # CAS-backend adapter parity (round-11 verdict task 7) — disclosed in
    # BASELINE.md; compare against mv_q3_incremental's row.
    "mv_q3_incremental_cas": mv_q3_incremental_cas,
    # Round-17 (VERDICT r16 task 4): the two round-16 maintainer cycles
    # get per-round regression tracking like the MV cycles got in round
    # 11.  Each row times the WHOLE gate shape (multi-wave ingest +
    # merge + report + teardown), so it is a cycle-vs-recompute number —
    # disclosed in BASELINE.md, excluded from like-for-like totals.
    "dedup_contamination_bloom_incremental":
        dedup_contamination_bloom_incremental,
    "text_cms_grouped_incremental": text_cms_grouped_incremental,
    # Round-17 (VERDICT r16 task 5): the batched-refresh cycle beside
    # the per-wave one — same result by construction, the delta is the
    # per-wave job constants (compare against mv_q3_incremental's row).
    "mv_q3_incremental_batched": mv_q3_incremental_batched,
    # Round-17 stretch (task 8): the two-level cascade cycle — DuckDB
    # ratio is cycle-vs-recompute like every maintainer row.
    "mv_cascade_incremental": mv_cascade_incremental,
}
