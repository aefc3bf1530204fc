"""Engine function library.

``hashing`` — deterministic cross-engine hash primitives (the foundation of
the oracle-matched dedup/similarity operators).
``json`` — MySQL-flavoured JSON semantics: the ``->`` / ``->>`` SQL
fragments the dialect rewriter emits (reference parity, SURVEY §2.3).
``registry`` — the reference's scalar functions as Spark SQL functions.
"""
