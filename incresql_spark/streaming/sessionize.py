"""Gap-based sessionization over the events stream — a training-data /
clickstream operator the reference lacks entirely.

``sessionize`` is pure window functions: a session starts when the gap to
the previous event of the same user exceeds the threshold; the session id
is a running count of session starts.  One shuffle (partition by user),
fully Catalyst-planned, oracle-checkable in DuckDB with identical SQL
semantics.

Scale: shards by user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

GAP_MINUTES = 30


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup: (user_id, session_id) → bounds + counts + value.

    Driver-checkable: deterministic, and expressible in ANSI SQL.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    # Interval comparison is exact on both engines and works for TIMESTAMP
    # and TIMESTAMP_NTZ alike (unix_millis rejects NTZ; epoch truncation
    # would disagree with DuckDB's fractional epoch()).
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts")
                    > F.col("prev_ts") + F.expr(f"INTERVAL {GAP_MINUTES} MINUTES")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
            # Integer ten-thousandths: FLOOR(value*10000+0.5) is pure IEEE-754
            # double arithmetic, bit-identical on every engine — no
            # double->DECIMAL rounding mode anywhere in the contract (that
            # cast rounds through different paths on Spark vs some DuckDB
            # builds and kept flipping the driver's value hash).
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)))
            .cast("long")
            .alias("sum_value_e4"),
        )
        .orderBy("user_id", "session_id")
    )


SESSIONIZE_SQL = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL '{GAP_MINUTES} minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
sessions AS (
  SELECT user_id, event_id, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


QUERIES = {"events_sessionize": sessionize}
ORACLE = {"events_sessionize": SESSIONIZE_SQL}
