"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash.  Usage::

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

#: the checkout this file sits in: its engine is the one checked
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Oracle output-type allowlist.  The driver's value normalizer and this
# replica's str(int) agree on these; anything outside — HUGEINT above all
# (DuckDB's window SUM / int aggregates widen to int128) — has hashed
# differently on the driver while hashing identically here, producing three
# rounds of false local greens (VERDICT r4 §What's wrong).  DuckDB relation
# .types is lazy, so linting never executes the query.
#
# DECIMAL — at ANY precision — is banned outright: two driver runs proved
# the class (round 6: DECIMAL(38,4) red; round 7: DECIMAL(18,4) red, both
# while hashing green here).  Trailing-zero fixed-scale values such as
# Decimal('54808.8630') render '54808.8630' under str(Decimal) but
# '54808.863' under any float-normalizing fetch path, so decimal output is
# never driver-safe.  Emit BIGINT fixed-point units or ROUND(·,k)→DOUBLE
# instead (the convention every green gate query follows).
ALLOWED_ORACLE_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN", "BLOB", "DATE", "TIMESTAMP",
}


def _base_type(t: str) -> str:
    t = t.strip()
    while t.endswith("[]"):  # unwrap list types to their element type
        t = t[:-2]
    return t.split("(")[0]


def _type_allowed(t: str) -> bool:
    return _base_type(t) in ALLOWED_ORACLE_TYPES


def lint_oracle_types(con, sql: str) -> list[tuple[str, str]]:
    """Return (column, type) pairs whose DuckDB output type is off-allowlist."""
    rel = con.sql(sql)
    return [
        (col, str(typ))
        for col, typ in zip(rel.columns, rel.types)
        if not _type_allowed(str(typ))
    ]


def _norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr roundtrips float64 exactly; equal doubles → equal strings
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def lint_main(sf_dir: str) -> int:
    """Lint every oracle's output types without starting Spark (fast)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for name, sql in entry_mod.oracle_sql().items():
        bad = lint_oracle_types(con, sql)
        if bad:
            failures.append(name)
            print(f"  {name:28s} TYPE-LINT FAIL: {bad}")
    print("LINT FAILURES:", failures if failures else "none")
    return 1 if failures else 0


#: collect-free comparison for results too large to pull into the driver
#: (gate-shaped cycles at sf10 produce multi-million-row outputs; the
#: collect path OOM'd at 90 GB).  Both engines reduce the result to
#: (row_count, bit_xor of a 60-bit integer derived from md5 of the
#: canonical row string, modular SUM of the same hashes) —
#: order-insensitive, computed distributively on the Spark side and
#: streamed on the DuckDB side.  The xor alone cancels pairwise: a
#: divergence where each engine emits a different row at an even
#: multiplicity (Spark A,A vs oracle B,B) has equal counts and equal
#: xor; the additive channel (sum of h mod 1e9+7, accumulated as BIGINT
#: — overflow-free below ~8.6e9 rows since each term < 2^30) breaks
#: that cancellation (round-12 advice).  FLOAT/DOUBLE columns are
#: QUANTIZED to round(x*1e9) BIGINT on both sides before hashing
#: (their text renderings differ across engines; gate-convention doubles
#: are bounded ratios, so e9 fixed-point can only mask a sub-ppb float
#: divergence — exact float equality stays pinned by the full-hash
#: compare this mode complements at sf0.01).
_FP_NULL = "<NULL>"
_FP_SUM_MOD = 1_000_000_007


def _fp_cast(c: str, is_float: bool, str_type: str) -> str:
    if is_float:
        return f"CAST(CAST(ROUND({c} * 1e9) AS BIGINT) AS {str_type})"
    return f"CAST({c} AS {str_type})"


def _fingerprint_spark(sdf):
    from pyspark.sql import functions as F

    floats = {f.name for f in sdf.schema.fields
              if f.dataType.typeName() in ("double", "float")}
    cols = sorted(sdf.columns)
    sig = F.concat_ws(
        "|",
        *[F.coalesce(F.expr(_fp_cast(c, c in floats, "STRING")),
                     F.lit(_FP_NULL)) for c in cols],
    )
    h = F.expr(
        "CAST(conv(substring(md5(sig), 17, 15), 16, 10) AS BIGINT)"
    )
    row = (
        sdf.select(sig.alias("sig"))
        .select(F.col("sig"), h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(h)").alias("x"),
            F.expr(f"sum(h % {_FP_SUM_MOD})").alias("s"),
        )
        .collect()[0]
    )
    return (cols, int(row["n"]), int(row["x"] or 0),
            int(row["s"] or 0) % _FP_SUM_MOD)


def _fingerprint_duck(con, sql: str):
    rel = con.sql(sql)
    floats = {c for c, t in zip(rel.columns, rel.types)
              if _base_type(str(t)) in ("DOUBLE", "FLOAT")}
    cols = sorted(rel.columns)
    sig = ", ".join(
        f"coalesce({_fp_cast(c, c in floats, 'VARCHAR')}, '{_FP_NULL}')"
        for c in cols
    )
    q = (
        f"SELECT count(*) AS n, bit_xor(h) AS x, "
        f"CAST(sum(h % {_FP_SUM_MOD}) AS HUGEINT) AS s "
        f"FROM (SELECT CAST(concat('0x', substring(md5(sig), 17, 15)) "
        f"AS BIGINT) AS h "
        f"FROM (SELECT concat_ws('|', {sig}) AS sig "
        f"FROM ({sql}) fp_inner) fp_sig) fp_h"
    )
    n, x, s = con.sql(q).fetchone()
    return cols, int(n), int(x or 0), int(s or 0) % _FP_SUM_MOD


def main() -> int:
    argv = [a for a in sys.argv[1:] if a not in ("--lint", "--fingerprint")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if "--lint" in sys.argv:
        return lint_main(sf_dir)
    fingerprint = "--fingerprint" in sys.argv

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod
    from incresql_spark.session import get_spark

    spark = get_spark("check_oracle", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    if fingerprint:
        for name, fn in qs.items():
            if only and name not in only:
                continue
            t0 = time.time()
            sdf = fn(spark, sf_dir)
            scols, sn, sx, ss = _fingerprint_spark(sdf)
            spark_s = time.time() - t0
            t0 = time.time()
            ocols, on, ox, os_ = _fingerprint_duck(con, oracles[name])
            duck_s = time.time() - t0
            ok = scols == ocols and sn == on and sx == ox and ss == os_
            status = "OK " if ok else "FAIL"
            print(
                f"  {name:28s} {status} rows={sn}/{on} "
                f"xor={sx:x}/{ox:x} sum={ss}/{os_} "
                f"spark={spark_s:.1f}s duck={duck_s:.2f}s",
                flush=True,
            )
            if not ok:
                failures.append(name)
                if scols != ocols:
                    print(f"    cols spark={scols} duck={ocols}")
        print("FAILURES:", failures if failures else "none")
        return 1 if failures else 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"  {name:28s} rows={len(srows):6d} (no oracle — rows-only) {spark_s:5.1f}s")
            continue
        t0 = time.time()
        # lint BEFORE executing: a type failure shouldn't pay the oracle run
        bad_types = lint_oracle_types(con, oracles[name])
        if bad_types:
            print(f"  {name:28s} TYPE-LINT FAIL: {bad_types}")
            failures.append(name)
            continue
        rel = con.sql(oracles[name])
        orows = [tuple(r) for r in rel.fetchall()]
        ocols = list(rel.columns)
        duck_s = time.time() - t0
        ok_cols = sorted(scols) == sorted(ocols)
        ok_rows = len(srows) == len(orows)
        sh = value_hash(scols, srows)
        oh = value_hash(ocols, orows) if ok_cols else "-"
        ok = ok_cols and ok_rows and sh == oh
        status = "OK " if ok else "FAIL"
        print(
            f"  {name:28s} {status} rows={len(srows)}/{len(orows)} "
            f"hash={sh}/{oh} spark={spark_s:.1f}s duck={duck_s:.2f}s"
        )
        if not ok:
            failures.append(name)
            if not ok_cols:
                print(f"    cols spark={scols} duck={ocols}")
            else:
                # show first differing normalized row
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                a = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in srows)
                b = sorted("|".join(_norm_cell(r[i]) for i in order_o) for r in orows)
                for x, y in zip(a, b):
                    if x != y:
                        print(f"    spark: {x}\n    duck : {y}")
                        break
                if len(a) != len(b):
                    print(f"    row-count mismatch {len(a)} vs {len(b)}")
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
