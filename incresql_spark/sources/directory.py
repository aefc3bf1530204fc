"""``FROM DIRECTORY "path" WITH(DELIMITER="|")`` — the reference's file
source (ast/rel/logical.rs:124-139, executor file_scan.rs:8-114): recursive
directory walk, CSV parse with a configurable delimiter and double-quote
quoting, no header; every line becomes ONE row with a single TEXT column
``data`` holding a JSON array of the line's fields.

Spark mapping: ``spark.read.csv`` with ``recursiveFileLookup`` (distributed,
splittable, pushdown-capable scan) + ``to_json(array(...))`` to rebuild the
single-column shape.  The TPC-H load path then peels fields back out with
``->>`` + CAST (incresql_runner.rs:188-205).

Scale: a directory of CSVs is read as ordinary partitioned file splits —
1000 executors each take byte ranges; nothing here is single-node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_directory(
    spark: SparkSession, path: str, delimiter: str = ","
) -> DataFrame:
    """Reference-shaped scan: one ``data`` column of JSON-array TEXT."""
    raw = (
        spark.read.option("delimiter", delimiter)
        .option("quote", '"')
        .option("escape", '"')
        .option("recursiveFileLookup", "true")
        .option("inferSchema", "false")
        .csv(path)
    )
    # Missing trailing fields parse as NULL; the reference emits only the
    # fields present on the line, so drop trailing NULLs (array_compact is
    # safe: CSV string reads yield '' not NULL for empty present fields).
    return raw.select(
        F.to_json(F.array_compact(F.array(*[F.col(c) for c in raw.columns]))).alias("data")
    )
