"""Dump the Spark ``.explain("formatted")`` plan of bench rows to text files.

Usage:
    python tools/dump_plans.py --out DIR [--suffix S] [query ...]

Writes ``DIR/<query>.txt`` (``<query>_<S>.txt`` with ``--suffix``) for
each named query, or for every known query when none is named.  For a
plan diff, run it once from a checkout of each revision with
``--suffix before`` / ``--suffix after``.

Plain rows dump the plan of the DataFrame the bench query returns.  The
incremental-maintenance rows return a pinned scan, which shows nothing,
so for them the tool dumps the internal per-wave plan instead:

- ``mv_q3_incremental``: the wave-2 refresh delta plan (join delta job);
- ``mv_q13_incremental``: the wave-3, post-delete refresh delta plan
  (left-outer pad rows);
- ``dedup_minhash_incremental``: the wave-2 candidate + verify pair plan.

``tpch_q20_sf1_aqe`` and ``tpch_q21_sf1_aqe`` run the query at the tiled
sf1 first and then explain it, so the file shows AQE's final plan with
its runtime join strategies.

Data: the directories ``bench.py`` reads, ``SPARK_GRAFT_SF_DIR`` and, for
the sf1 rows, ``SPARK_GRAFT_SF1_DIR`` (built by tools/scale_testdata.py).
"""
from __future__ import annotations

import argparse
import contextlib
import io
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF1_DIR, SF_DIR  # noqa: E402 — the bench's data dirs

PLAIN = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q9",
    "tpch_q16", "tpch_q18", "tpch_q20", "tpch_q21",
    "op_hll_distinct", "op_hll_grouped", "op_quantile_sketch",
    "op_hll_sketch_only", "op_quantile_sketch_only",
    "text_cms_heavyhitters", "text_cms_grouped", "text_cms_sketch_only",
    "text_dsir_select", "text_bm25_table",
    "dedup_contamination_bloom_only", "dedup_contamination_bloom",
    "dedup_minhash_lsh", "pipeline_curate",
]
SF1_FINAL = ["tpch_q20", "tpch_q21"]


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _registry():
    import __spark_entry__ as entry
    from incresql_spark.operators import bench_queries

    reg = dict(entry.queries())
    for k, v in bench_queries().items():
        reg.setdefault(k, v)
    return reg


def plain(spark, name: str) -> str:
    return _explain_str(_registry()[name](spark, SF_DIR))


def sf1_final(spark, name: str) -> str:
    if not os.path.isdir(SF1_DIR):
        raise FileNotFoundError(f"no sf1 data at {SF1_DIR}")
    df = _registry()[name](spark, SF1_DIR)
    df.collect()  # AQE finalizes the plan during execution
    return ("AQE-final plan at sf1 (explain AFTER execution)\n"
            + _explain_str(df))


def _refresh_delta_plan(mv) -> str:
    """The next refresh's delta_state plan of a join view, unexecuted."""
    from incresql_spark.frequency import FREQ

    olds = mv._load_meta().get("seqs", [-1] * len(mv.tables))
    m = mv.state._load_manifest()
    if (m or {}).get("cursor"):
        olds = [max(o, s) for o, s in zip(olds, m["cursor"])]
    news = [t.last_seq() for t in mv.tables]
    delta, pinned = mv._delta_plan(olds, news)
    try:
        return _explain_str(mv._delta_agg(
            delta.withColumnRenamed("__f", FREQ), with_rows=True))
    finally:
        for p in pinned:
            p.unpersist()


def mv_q3_refresh(spark, root: str) -> str:
    from incresql_spark.operators.pipeline import _q3_tables_and_view

    tables, mv = _q3_tables_and_view(spark, SF_DIR, root)
    tables["customer"][0].insert(tables["customer"][1], assume_distinct=True)
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tables[t][0].insert(tables[t][1].filter(f"{key} % 2 = 0"),
                            assume_distinct=True)
    mv.refresh()
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tables[t][0].insert(tables[t][1].filter(f"{key} % 2 = 1"),
                            assume_distinct=True)
    return ("wave-2 refresh delta_state plan (the per-refresh join-delta "
            "job)\n" + _refresh_delta_plan(mv))


def mv_q13_refresh(spark, root: str) -> str:
    from incresql_spark.catalog import load_table
    from incresql_spark.frequency import FreqTable
    from incresql_spark.materialize import AggregateJoinMaterializedView

    cust_src = load_table(spark, SF_DIR, "customer").select("c_custkey")
    ord_src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    cust = FreqTable(spark, f"{root}/customer")
    cust.create(cust_src.schema)
    ords = FreqTable(spark, f"{root}/orders")
    ords.create(ord_src.schema)
    mv = AggregateJoinMaterializedView(
        spark, "mv_q13", [cust, ords], ["c_custkey = o_custkey"],
        "c_custkey, count(o_orderkey) AS c_count", None, "c_custkey",
        f"{root}/mv_state",
        table_filters=[None, "o_orderpriority <> '1-URGENT'"],
        hows=["left_outer"],
    )
    cust.insert(cust_src, assume_distinct=True)
    ords.insert(ord_src.filter("o_orderkey % 2 = 0"), assume_distinct=True)
    mv.refresh()
    ords.insert(ord_src.filter("o_orderkey % 2 = 1"), assume_distinct=True)
    mv.refresh()
    ords.delete_where("o_custkey % 10 = 3")
    return ("wave-3 (post-delete) refresh delta_state plan (left-outer pad "
            "machinery)\n" + _refresh_delta_plan(mv))


def minhash_wave(spark, root: str) -> str:
    from pyspark.sql import functions as F

    from incresql_spark.catalog import load_table
    from incresql_spark.frequency import FREQ
    from incresql_spark.operators.dedup import (
        doc_shingles_df, minhash_bands_long, verify_jaccard_pairs,
    )
    from incresql_spark.streaming.minhash_incremental import (
        IncrementalMinHashDedup,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dd = IncrementalMinHashDedup(spark, f"{root}/state")
    dd.add_batch(docs.filter("doc_id % 3 = 0"))
    # wave-2 internals, lazily (plan only — no action)
    delta_sh = doc_shingles_df(docs.filter("doc_id % 3 = 1"))
    delta_bands = minhash_bands_long(delta_sh)
    hist = dd.bands.scan(expand=False, merged=False)
    da = delta_bands.select(F.col("doc_id").alias("d_id"), "band_id", "bk")
    db = delta_bands.select(F.col("doc_id").alias("doc_b"), "band_id", "bk")
    cand_dd = (
        da.withColumnRenamed("d_id", "doc_a")
        .join(db, ["band_id", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    hb = hist.select(F.col("doc_id").alias("h_id"), "band_id", "bk")
    cand_dh = (
        da.join(hb, ["band_id", "bk"])
        .filter(F.col("d_id") != F.col("h_id"))
        .select(F.least("d_id", "h_id").alias("doc_a"),
                F.greatest("d_id", "h_id").alias("doc_b"))
    )
    candidates = cand_dd.unionByName(cand_dh).distinct()
    all_sh = delta_sh.unionByName(
        dd.shingles.scan(expand=False, merged=False).drop(FREQ)
    )
    pairs = verify_jaccard_pairs(candidates, all_sh, all_sh)
    return ("wave-2 pair plan (candidates + exact-Jaccard verify against "
            "one-wave state)\n" + _explain_str(pairs))


#: internal-plan rows: name -> dumper(spark, scratch dir)
INTERNAL = {
    "mv_q3_incremental": mv_q3_refresh,
    "mv_q13_incremental": mv_q13_refresh,
    "dedup_minhash_incremental": minhash_wave,
}


def dumpers() -> dict:
    """Every known query name -> dumper(spark) returning the plan text."""
    out = {n: (lambda spark, n=n: plain(spark, n)) for n in PLAIN}
    for n, fn in INTERNAL.items():
        def run(spark, fn=fn, n=n):
            root = tempfile.mkdtemp(prefix=f"plans_{n}_")
            try:
                return fn(spark, root)
            finally:
                shutil.rmtree(root, ignore_errors=True)
        out[n] = run
    for n in SF1_FINAL:
        out[f"{n}_sf1_aqe"] = lambda spark, n=n: sf1_final(spark, n)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="directory for the dumps")
    ap.add_argument("--suffix", default="",
                    help="file name suffix, e.g. before / after")
    ap.add_argument("queries", nargs="*", help="default: every known query")
    args = ap.parse_args(argv)
    known = dumpers()
    unknown = [q for q in args.queries if q not in known]
    if unknown:
        ap.error(f"unknown queries {unknown}; known: {sorted(known)}")
    os.makedirs(args.out, exist_ok=True)
    from incresql_spark.session import get_spark

    spark = get_spark("dump_plans")
    failed = 0
    for name in args.queries or list(known):
        fname = f"{name}_{args.suffix}" if args.suffix else name
        try:
            text = known[name](spark)
        except Exception as exc:  # noqa: BLE001 — report and continue
            failed += 1
            print(f"FAILED {name}: {exc}")
            continue
        with open(os.path.join(args.out, f"{fname}.txt"), "w") as fh:
            fh.write(text)
        print(f"dumped {fname}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
