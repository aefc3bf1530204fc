"""Table loading over the driver-provided parquet test data.

The reference bootstraps a catalog of system tables and resolves user tables
through it (catalog/src/lib.rs:48-50, bootstrap.rs:22-66).  On Spark the
metastore plays that role; this module is the thin shim that loads a
TESTDATA parquet table under its canonical name.

Scale note: loading is metadata-only — ``spark.read.parquet`` builds a
lazy scan; filters/projections push into the parquet reader (verified in
tests with .explain → PushedFilters/ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import disable_generate_filter_inference


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one of the TESTDATA tables.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark's vectorized
    reader rejects; read it as a long (legacy conf, runtime-settable) and
    rebuild a µs-precision timestamp with integer division (a double division
    would lose precision: epoch-nanos ≈ 1.7e18 > 2^53).
    """
    # Engine-wide optimizer policy; applied here because this is the one
    # choke point every operator passes through with the live (possibly
    # driver-provided) session.  Idempotent, see the helper's docstring.
    disable_generate_filter_inference(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
