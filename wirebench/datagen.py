"""TPC-H input tables for the wire benchmark.

DuckDB's bundled ``dbgen`` generates the tables in-process, so the
benchmark needs no data outside its checkout.  Columns are projected and
cast to the repository's TESTDATA layout (the narrow column set, dates as
TIMESTAMP, money as DOUBLE), which is what ``incresql_spark.tpch.ORACLE``
is written against.  ``dbgen`` is deterministic for a scale factor: every
seed sees the same rows and only the split and the statement order vary.
"""

from __future__ import annotations

import os

import duckdb

#: table -> DuckDB projection from dbgen's schema to the TESTDATA schema
COLUMNS = {
    "region": "r_regionkey, r_name",
    "nation": "n_nationkey, n_name, n_regionkey",
    "supplier": (
        "s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal"
    ),
    "customer": (
        "c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal,"
        " c_mktsegment"
    ),
    "part": (
        "p_partkey, p_name, p_brand, p_type, p_size,"
        " CAST(p_retailprice AS DOUBLE) AS p_retailprice"
    ),
    "orders": (
        "o_orderkey, o_custkey, o_orderstatus,"
        " CAST(o_totalprice AS DOUBLE) AS o_totalprice,"
        " CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority"
    ),
    "lineitem": (
        "l_orderkey, l_partkey, l_suppkey,"
        " CAST(l_linenumber AS INTEGER) AS l_linenumber,"
        " CAST(l_quantity AS DOUBLE) AS l_quantity,"
        " CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,"
        " CAST(l_discount AS DOUBLE) AS l_discount,"
        " CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus,"
        " CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
    ),
}


def generate(out_dir: str, sf: float) -> None:
    """Write ``<table>.parquet`` for every table in :data:`COLUMNS`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        for table, cols in COLUMNS.items():
            path = os.path.join(out_dir, f"{table}.parquet")
            con.execute(
                f"COPY (SELECT {cols} FROM {table}) TO '{path}' (FORMAT parquet)"
            )
    finally:
        con.close()


def connect(data_dir: str,
            tables: dict[str, tuple[str, str | None]] | None = None):
    """An in-memory DuckDB holding the tables as base tables, so the
    benchmark can replay DML on them.  ``tables`` maps a table name to
    ``(source table, WHERE clause or None)``; default: every table whole."""
    con = duckdb.connect()
    plan = tables or {t: (t, None) for t in COLUMNS}
    for name, (source, where) in plan.items():
        path = os.path.join(data_dir, f"{source}.parquet")
        cond = f" WHERE {where}" if where else ""
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM '{path}'{cond}")
    return con
