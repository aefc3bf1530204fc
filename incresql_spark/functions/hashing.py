"""Deterministic cross-engine hashing primitives.

Every probabilistic pipeline operator (MinHash, SimHash, LSH) needs a hash
function that produces the SAME value in Spark and in the DuckDB oracle so
the driver's value-hash gate can verify them exactly.  Neither engine's
native ``hash()`` matches the other, but both expose md5 over strings, and
both can parse a hex prefix into a BIGINT:

- Spark:  ``CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)``
- DuckDB: ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)``

15 hex digits = 60 bits → always positive in an i64, identical in both
engines (verified in tests/test_pipeline.py).  Seeded variants prepend
"{seed}|" to the input, giving an arbitrary family of independent hash
functions for MinHash signatures and LSH hyperplanes.

Scale note: md5-per-row is a JVM-intrinsic expression in Spark (no Python),
runs inside whole-stage codegen, and is embarrassingly parallel — it costs a
few ns/row more than xxhash but keeps the oracle property.  For a production
run where oracle parity is not needed, swap HASH60_SPARK for ``xxhash64``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

BITS = 60
MASK = (1 << BITS) - 1


def hash60(col: Column | str, seed: int | None = None) -> Column:
    """Spark Column: 60-bit deterministic hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB SQL fragment computing the identical 60-bit hash."""
    inner = f"'{seed}|' || ({expr})" if seed is not None else f"({expr})"
    return f"CAST(('0x' || substr(md5({inner}), 1, 15)) AS BIGINT)"


def hash60_spark_sql(expr: str, seed: int | None = None) -> str:
    """Spark SQL fragment (for spark.sql-built plans) of the same hash."""
    inner = f"concat('{seed}|', {expr})" if seed is not None else f"({expr})"
    return f"CAST(conv(substr(md5({inner}), 1, 15), 16, 10) AS BIGINT)"


# --- Kirsch-Mitzenmacher double-hash family --------------------------------
# One md5 yields two independent 48-bit values h1, h2; the family
# h_i = h1 + i*h2 (i < 16 → values < 2^53, no overflow) behaves like
# independent hashes for MinHash purposes at a single md5's cost.
H1_SPARK = "CAST(conv(substr(md5({e}), 1, 12), 16, 10) AS BIGINT)"
H1_DUCK = "CAST(('0x' || substr(md5({e}), 1, 12)) AS BIGINT)"
H2_SPARK = "CAST(conv(substr(md5({e}), 13, 12), 16, 10) AS BIGINT)"
H2_DUCK = "CAST(('0x' || substr(md5({e}), 13, 12)) AS BIGINT)"


def double_hash_spark(expr: str) -> tuple[str, str]:
    """Spark SQL fragments (h1, h2) for the double-hash family base."""
    return H1_SPARK.format(e=expr), H2_SPARK.format(e=expr)


def double_hash_duck(expr: str) -> tuple[str, str]:
    """DuckDB SQL fragments (h1, h2) — identical values to the Spark pair."""
    return H1_DUCK.format(e=expr), H2_DUCK.format(e=expr)


def unit_interval(s: str) -> float:
    """Deterministic pseudo-random in [0, 1) from a string key — used to
    generate LSH hyperplane components that are embedded as literals in both
    the Spark plan and the oracle SQL."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / float(1 << 32)
