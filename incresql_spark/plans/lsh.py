"""Corpus-size-driven LSH sizing and deterministic hyperplane generation.

Shared by ``operators.similarity`` (ANN bucket search) and
``operators.dedup`` (embedding near-dup banding).  The bit count is a
function of corpus size, not a constant: at 100 TB a fixed 8-bit bucket
space (256 buckets) concentrates ~400 GB per bucket, so ``bits_for_corpus``
grows the bucket space to keep the expected rows/bucket near a target.

Hyperplane components are deterministic md5-derived uniforms
(functions.hashing.unit_interval) embedded as DOUBLE literals in BOTH the
Spark plan and the DuckDB oracle SQL, so every LSH operator stays
value-hash checkable.
"""

from __future__ import annotations

import math
from functools import lru_cache

from ..functions.hashing import unit_interval

DIM = 64  # TESTDATA embeddings are 64-dim float arrays


def bits_for_corpus(
    n_rows: int,
    target_rows_per_bucket: int = 64,
    lo: int = 4,
    hi: int = 24,
) -> int:
    """Hyperplane bits so that 2^bits ≈ n_rows / target_rows_per_bucket.

    Clamped to [lo, hi]: at least 16 buckets even for tiny corpora, at most
    2^24 ≈ 16.7M buckets (enough for ~10^9 rows at the default target).
    """
    if n_rows <= 0:
        return lo
    raw = math.ceil(math.log2(max(1.0, n_rows / target_rows_per_bucket)))
    return max(lo, min(hi, raw))


@lru_cache(maxsize=None)
def hyperplane(j: int, salt: str = "plane", dim: int = DIM) -> tuple[float, ...]:
    """Deterministic hyperplane ``j``: md5-uniform components in [-1, 1)."""
    return tuple(unit_interval(f"{salt}{j}:dim{d}") * 2.0 - 1.0 for d in range(dim))


def dot_literal_spark(vec_col: str, plane: tuple[float, ...]) -> str:
    """Spark SQL strict-left-fold dot product against a literal plane."""
    arr = ", ".join(f"{x!r}D" for x in plane)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, x) -> acc + x)"
    )


def dot_literal_duck(vec_col: str, plane: tuple[float, ...]) -> str:
    """DuckDB strict-left-fold dot product against a literal plane."""
    arr = ", ".join(repr(x) for x in plane)
    return (
        f"list_reduce(list_transform(list_zip({vec_col}, [{arr}]), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, x) -> acc + x)"
    )


def bucket_expr_spark(n_planes: int, vec_col: str = "embedding", salt: str = "plane") -> str:
    """Signed-projection bucket id (Spark): bit j set iff dot(plane_j, v) > 0."""
    bits = [
        f"(CASE WHEN {dot_literal_spark(vec_col, hyperplane(j, salt))} > 0D "
        f"THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(n_planes)
    ]
    return " + ".join(bits)


def nbits_sql(
    table: str,
    target_rows_per_bucket: int = 64,
    lo: int = 4,
    hi: int = 24,
) -> str:
    """One-row SELECT computing the corpus's LSH bit width IN SQL — the
    same GREATEST/LEAST clamp of CEIL(LOG2(n / target)) as
    ``bits_for_corpus``.  Used as a CTE so a single static oracle string
    stays hash-correct at EVERY scale factor (the Spark side derives the
    width from a live count; a width frozen at authoring time forced the
    oracle to guard-fail anywhere but the gate SF)."""
    return (
        f"SELECT GREATEST({lo}, LEAST({hi}, CAST(CEIL(LOG2(GREATEST(1.0, "
        f"count(*) / {target_rows_per_bucket}.0))) AS INT))) AS nbits "
        f"FROM {table}"
    )


def bucket_expr_duck_dynamic(
    vec_col: str = "embedding",
    salt: str = "plane",
    nbits_col: str = "nbits",
    hi: int = 24,
) -> str:
    """Signed-projection bucket id whose WIDTH is a runtime column: bit j
    contributes only when ``j < nbits`` (from the ``nbits_sql`` CTE), so
    one oracle string matches the Spark side's corpus-derived width at any
    SF.  All ``hi`` candidate projections are evaluated and masked — fine
    for an oracle (DuckDB folds 64-dim dots fast); the Spark side still
    generates exactly-nbits projections."""
    bits = [
        f"(CASE WHEN {j} < {nbits_col} "
        f"AND {dot_literal_duck(vec_col, hyperplane(j, salt))} > 0 "
        f"THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(hi)
    ]
    return " + ".join(bits)
