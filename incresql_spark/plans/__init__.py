"""Physical-plan engineering utilities for 100 TB scale.

The reference hand-builds one physical strategy (single-threaded hash join /
hash agg, SURVEY §4); on Spark the planner chooses, and this module carries
the knobs a cluster deployment needs when the defaults lose:

- ``skew.salted_join``            — explicit key-salting for pathological skew
  beyond what AQE's skew-join splitting handles
- ``skew.top_key_share``         — sampled hottest-key share, the signal
  for choosing ``salted_join``
- ``layout.write_bucketed``       — write bucketed tables for
  shuffle-free co-located joins on stable keys
- ``layout.partitions_for_bytes`` — choose partition counts from data volume
"""
