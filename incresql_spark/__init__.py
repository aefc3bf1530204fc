"""incresql_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of tim-patterson/incresql.

The reference (/root/reference) is a single-node Rust SQL engine built around a
multiset dataflow where every tuple carries a signed i64 frequency
(data/src/tuple_iter.rs:5-21).  This package re-expresses that surface
Spark-first:

- ``session``    — tuned SparkSession bootstrap (AQE, Arrow, shuffle sizing)
- ``catalog``    — parquet table loading (TESTDATA names)
- ``tpch``       — the reference's benchmark queries (Q1/Q3/Q5/Q6/Q10)
- ``frequency``  — the ``__freq`` multiset layer (insert/delete/merge)
- ``engine``     — SQL statement router with the reference's dialect
- ``dialect``    — MySQL-flavoured SQL → Spark SQL rewriter (``->``, ``->>`` …)
- ``operators``  — relational + training-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing)
- ``sources``    — ``FROM DIRECTORY`` CSV ingestion (file_scan.rs parity)
- ``materialize`` — incremental materialized views (delta propagation)
- ``streaming``  — incremental sketch / near-dup index maintainers over
  appended batches, and sessionization

Everything is expressed through the DataFrame API / Spark SQL so Catalyst and
Tungsten choose the physical strategy; Python UDFs appear only where built-in
functions genuinely cannot express the semantics (and then as Arrow-batched
pandas UDFs).
"""

__version__ = "0.1.0"
