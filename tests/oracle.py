"""Shared pytest helpers: compare a Spark query against DuckDB oracle SQL the
same way the driver's correctness gate does (row count + column names +
order-insensitive value hash), and the ground-truth twins the tests measure
the package's operators against."""

from __future__ import annotations

import datetime
import hashlib
import math

from pyspark.sql import functions as F

from incresql_spark.catalog import load_table
from incresql_spark.functions.hashing import hash60_spark_sql
from incresql_spark.operators.dedup import _DOT_SPARK, _NORM_SPARK, COSINE_THRESHOLD
from incresql_spark.operators.relational import QSK_K

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_registered: set[tuple[int, str]] = set()


def register_views(duck, sf_dir: str) -> None:
    key = (id(duck), sf_dir)
    if key in _registered:
        return
    for t in TABLES:
        duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    _registered.add(key)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def assert_matches_oracle(spark, duck, query_fn, sql: str, sf_dir: str) -> None:
    register_views(duck, sf_dir)
    sdf = query_fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    orows = [tuple(r) for r in rel.fetchall()]
    assert sorted(sdf.columns) == sorted(rel.columns), (sdf.columns, rel.columns)
    a, b = normalize(sdf.columns, srows), normalize(rel.columns, orows)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        assert x == y, f"row {i}:\n  spark: {x}\n  duck : {y}"


def py_hash60(s: str, seed: int | None = None) -> int:
    """Python twin of ``functions.hashing.hash60_spark_sql``."""
    if seed is not None:
        s = f"{seed}|{s}"
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def quantile_sample(df, value: str, key_expr: str, k: int = QSK_K):
    """The bottom-k sketch state of ``op_quantile_sketch``, built directly:
    the k rows of ``df`` with the smallest 60-bit hash of ``key_expr``
    (columns (v, h)).  States merge by taking the k smallest of a union."""
    return (
        df.select(
            F.col(value).alias("v"),
            F.expr(hash60_spark_sql(key_expr)).alias("h"),
        )
        .filter(F.col("v").isNotNull())
        .orderBy("h", "v")
        .limit(k)
    )


def dedup_embedding_bruteforce(spark, sf_dir: str):
    """All-pairs exact cosine — the O(n²) ground truth the banded
    ``dedup_embedding`` operator's recall is measured against."""
    e = load_table(spark, sf_dir, "embeddings")
    withnorm = e.select("vec_id", "embedding", F.expr(_NORM_SPARK).alias("norm"))
    a = withnorm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("norm_a"),
    )
    b = withnorm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("norm_b"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.expr(_DOT_SPARK) / (F.col("norm_a") * F.col("norm_b")))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )
