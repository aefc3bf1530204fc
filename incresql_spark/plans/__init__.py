"""Physical-plan engineering utilities for 100 TB scale.

The reference hand-builds one physical strategy (single-threaded hash join /
hash agg, SURVEY §4); on Spark the planner chooses, and this package carries
the knobs a cluster deployment needs when the defaults lose:

- ``skew.salted_join``            — explicit key-salting for pathological skew
  beyond what AQE's skew-join splitting handles
- ``layout.materialize``          — pin a reused intermediate once (local or
  reliable checkpoint), with ``materialize_bounded`` / ``release`` owning
  the pin's lifetime
- ``lsh``                         — corpus-size-driven LSH sizing and
  deterministic hyperplanes
"""
