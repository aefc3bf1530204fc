"""Skew mitigation: salted joins.

AQE's skew-join splitting (enabled in session.py) handles most skew by
splitting oversized shuffle partitions.  When one join key holds an extreme
share of rows (power-law user_ids, null-like sentinel keys), explicit
salting still wins: replicate the small side R times and scatter the big
side's hot keys across R salt buckets so no single task owns a hot key.

``salted_join(big, small, key, salts)``:
  big:   adds  salt = pmod(hash(unique-ish cols), R)       (scatter)
  small: explodes each row R times with salt = 0..R-1      (replicate)
  join on (key, salt) — each hot key now spreads over R tasks.

Correct for inner and left-outer equi-joins (each big-side row meets
exactly one replica of every matching small-side row).  Cost: R× the small
side's shuffle volume — use only when small really is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    keys = [on] if isinstance(on, str) else list(on)
    # Deterministic salt over the row's FULL column content (not
    # monotonically_increasing_id, whose value depends on partition layout:
    # a task retry / speculative attempt would re-scatter rows across
    # DIFFERENT salt buckets mid-stage).  Hashing every column keeps the
    # scatter stable under retries while still spreading duplicate-free hot
    # keys; rows that are full duplicates land in one bucket — acceptable,
    # since exact duplicates carry no distinguishing column to split on.
    salted_big = big.withColumn(
        "__salt", F.pmod(F.hash(*big.columns), F.lit(salts)).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.expr(f"sequence(0, {salts - 1})"))
    )
    out = salted_big.join(salted_small, keys + ["__salt"], how)
    return out.drop("__salt")
