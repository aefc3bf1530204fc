"""Property-based check of the signed-frequency multiset core against a
Python Counter model — random insert / delete-with-limit / compact sequences
must preserve exact multiset semantics (the reference's storage contract:
freq merge on write, zero-freq elision, DELETE LIMIT splitting a freq>1
tuple — table.rs:320-346, tests/delete/mod.rs:35-43).

The reference has no property tests (SURVEY §5); this goes beyond it.
"""

from __future__ import annotations

import tempfile
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from incresql_spark.frequency import FreqTable

_ROW = st.tuples(st.integers(0, 3), st.sampled_from(["x", "y"]))

_OP = st.one_of(
    st.tuples(st.just("insert"), st.lists(_ROW, min_size=1, max_size=4)),
    st.tuples(
        st.just("delete"),
        st.one_of(st.none(), st.integers(0, 3)),
        st.one_of(st.none(), st.integers(1, 4)),
    ),
    st.tuples(st.just("compact")),
)

_SCHEMA = T.StructType(
    [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
)


def _model_delete(model: Counter, cond_a, limit) -> None:
    matching = sorted(
        t for t in model.elements() if cond_a is None or t[0] == cond_a
    )
    if limit is not None:
        matching = matching[:limit]
    for t in matching:
        model[t] -= 1
    for t in [t for t, n in model.items() if n <= 0]:
        del model[t]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_OP, min_size=1, max_size=5))
def test_freq_table_matches_multiset_model(spark, ops):
    tbl = FreqTable(spark, tempfile.mkdtemp(prefix="freqprop-"))
    tbl.create(_SCHEMA)
    model: Counter = Counter()
    ts = 1_000_000  # strictly increasing segment timestamps

    for op in ops:
        ts += 1000
        if op[0] == "insert":
            rows = list(op[1])
            tbl.insert(spark.createDataFrame(rows, _SCHEMA), ts_ms=ts)
            model.update(rows)
        elif op[0] == "delete":
            _, cond_a, limit = op
            cond = None if cond_a is None else f"a = {cond_a}"
            tbl.delete_where(cond, limit, ts_ms=ts)
            _model_delete(model, cond_a, limit)
        else:
            tbl.compact()

    got = sorted(tuple(r) for r in tbl.scan().collect())
    assert got == sorted(model.elements())


def test_scan_as_of_seq_raises_inside_compaction_span(spark, tmp_path):
    """Point-in-time scan at a seq a compaction merged away must fail
    LOUDLY, mirroring delta()'s lower-cursor check: silently excluding the
    compacted segment (which spans min_seq..seq) would lose every row it
    absorbed — the AggregateJoinMaterializedView old-snapshot corruption
    (ADVICE r6 medium)."""
    import pytest

    from incresql_spark.frequency import FreqTable

    t = FreqTable(spark, str(tmp_path / "t"))
    seed = spark.createDataFrame([(1,)], "x INT")
    t.create(seed.schema)
    t.insert(seed)                                   # seq 0
    t.insert(spark.createDataFrame([(2,)], "x INT"))  # seq 1
    t.compact()  # one segment spanning 0..1: snapshot seq 0 is merged away
    with pytest.raises(ValueError, match="compacted segment range"):
        t.scan(as_of_seq=0).collect()
    # the post-compaction head is still servable and complete
    assert sorted(r.x for r in t.scan(as_of_seq=t.last_seq()).collect()) == [1, 2]


def test_scan_as_of_ms_raises_inside_compaction_span(spark, tmp_path):
    """The same guard for the user-facing MVCC ms cursor (ADVICE r8 low):
    a compacted segment spans [min_ts, ts_ms]; an as_of_ms snapshot inside
    the span would silently drop every row the compaction absorbed from
    segments written at ≤ the cursor."""
    import pytest

    from incresql_spark.frequency import FreqTable

    t = FreqTable(spark, str(tmp_path / "t_ms"))
    seed = spark.createDataFrame([(1,)], "x INT")
    t.create(seed.schema)
    t.insert(seed, ts_ms=1000)
    t.insert(spark.createDataFrame([(2,)], "x INT"), ts_ms=2000)
    # pre-compaction: ts snapshots are exact
    assert sorted(r.x for r in t.scan(as_of_ms=1000).collect()) == [1]
    t.compact()  # one segment spanning ts 1000..2000
    with pytest.raises(ValueError, match="compacted segment span"):
        t.scan(as_of_ms=1500).collect()
    # cursors fully before / at-or-after the span still work
    assert t.scan(as_of_ms=999).collect() == []
    assert sorted(r.x for r in t.scan(as_of_ms=2000).collect()) == [1, 2]


def test_legacy_compacted_segment_without_min_ts_is_conservative(spark, tmp_path):
    """A segment compacted by a pre-min_ts build (min_seq < seq but no
    min_ts in _segmeta.json) has an UNKNOWN time span; defaulting min_ts
    to ts_ms would silently skip it for older as_of_ms cursors —
    reintroducing the row loss the span guard prevents (ADVICE r9 low).
    The span must be treated as unbounded-below: any as_of_ms older than
    the segment's ts_ms is refused."""
    import json
    import os

    import pytest

    from incresql_spark.frequency import FreqTable

    t = FreqTable(spark, str(tmp_path / "t_legacy"))
    seed = spark.createDataFrame([(1,)], "x INT")
    t.create(seed.schema)
    t.insert(seed, ts_ms=1000)
    t.insert(spark.createDataFrame([(2,)], "x INT"), ts_ms=2000)
    t.compact()
    # simulate the legacy on-disk state: strip min_ts from the compacted
    # segment's metadata (segments are immutable; only the meta is edited)
    [seg] = t._segments()
    meta_path = os.path.join(seg["dir"], "_segmeta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    assert meta["min_seq"] < meta["seq"], "compaction should widen the span"
    meta.pop("min_ts")
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    # ANY cursor before the segment head is refused — even one that a
    # known span would have allowed to skip cleanly
    for cur in (999, 1500):
        with pytest.raises(ValueError, match="compacted segment span"):
            t.scan(as_of_ms=cur).collect()
    # the head itself is still servable and complete
    assert sorted(r.x for r in t.scan(as_of_ms=2000).collect()) == [1, 2]
    # a re-compaction that absorbs the legacy segment must persist the
    # unbounded-below sentinel as strict JSON (null), NOT the non-standard
    # -Infinity token a float('-inf') sentinel would emit (ADVICE r10 low)
    t.insert(spark.createDataFrame([(3,)], "x INT"), ts_ms=3000)
    t.compact()
    [seg2] = t._segments()
    with open(os.path.join(seg2["dir"], "_segmeta.json")) as fh:
        raw = fh.read()

    def _reject_const(name):
        raise AssertionError(f"non-strict JSON constant persisted: {name}")

    meta2 = json.loads(raw, parse_constant=_reject_const)
    assert meta2["min_ts"] is None
    # the widened span still refuses everything below its head
    with pytest.raises(ValueError, match="compacted segment span"):
        t.scan(as_of_ms=2500).collect()
    assert sorted(r.x for r in t.scan(as_of_ms=3000).collect()) == [1, 2, 3]


def test_empty_delete_publishes_no_segment_and_aborted_stage_is_reclaimed(
    spark,
):
    """r18 DELETE fusion: the deleted-instance count rides the segment
    write as an Observation metric, and a ZERO count must abort the
    commit — no sequence slot allocated, no segment visible — leaving
    only an unmarked stage dir that the next write's stale sweep
    reclaims.  Non-empty deletes still return the exact instance count."""
    import os

    with tempfile.TemporaryDirectory() as root:
        t = FreqTable(spark, f"{root}/t")
        t.create(_SCHEMA)
        t.insert(spark.createDataFrame([(1, "x"), (2, "y")], _SCHEMA))
        seq_before = t.last_seq()

        # matches nothing -> 0, and NO new segment (seq unchanged)
        assert t.delete_where("a = 99") == 0
        assert t.last_seq() == seq_before
        assert sorted((r.a, r.b) for r in t.scan().collect()) == [
            (1, "x"), (2, "y"),
        ]

        # the aborted write leaves at most an unmarked stage; the next
        # successful write sweeps it and readers never see it
        assert t.delete_where("a = 1") == 1
        assert t.last_seq() == seq_before + 1
        assert sorted((r.a, r.b) for r in t.scan().collect()) == [(2, "y")]
        stale = [
            d for d in os.listdir(f"{root}/t")
            if d.startswith(".") and "seg-" in d
        ]
        # whatever staging layout the backend uses, a second write cycle
        # must not accumulate unmarked dirs beyond the one in flight
        assert len(stale) <= 1

        # empty LIMIT path: condition matches nothing -> 0, no segment
        assert t.delete_where("a = 99", limit=5) == 0
        assert t.last_seq() == seq_before + 1


def test_signed_scan_additive_consumers_match_merged_scan(spark):
    """r18 signed_scan contract, pinned directly: the unmerged signed
    union of segments feeds ADDITIVE consumers — freq-weighted
    aggregation and equi-joins that multiply frequencies — with results
    identical to the merged ``scan``, INCLUDING across net-0 tuples
    (insert-then-delete pairs whose ±rows must cancel downstream) and
    partially-deleted freq>1 tuples.  This is the invariant every r18
    call site (MV delta-plan prefixes, inner probe snapshots, JoinMV
    bilinear terms) relies on; the MV gate rows pin it end-to-end, this
    pins it at the frequency layer where the contract lives."""
    from pyspark.sql import functions as F

    from incresql_spark.frequency import FREQ

    with tempfile.TemporaryDirectory() as root:
        t = FreqTable(spark, f"{root}/t")
        t.create(_SCHEMA)
        # segment 0: (1,x)×2, (2,y)×1, (3,y)×1
        t.insert(spark.createDataFrame(
            [(1, "x"), (1, "x"), (2, "y"), (3, "y")], _SCHEMA))
        # segment 1 (retraction): (3,y) fully deleted -> net-0 tuple
        assert t.delete_where("a = 3") == 1
        # segment 2 (retraction, LIMIT): (1,x) 2 -> 1
        assert t.delete_where("a = 1", limit=1) == 1

        signed = t.signed_scan()
        merged = t.scan(expand=False)

        # really unmerged: ±rows present, more raw rows than merged tuples
        assert signed.count() > merged.count()
        assert signed.filter(F.col(FREQ) < 0).count() > 0

        # (a) per-tuple re-merge of the signed union == merged scan
        remerged = sorted(
            tuple(r) for r in signed.groupBy("a", "b")
            .agg(F.sum(FREQ).alias(FREQ))
            .filter(F.col(FREQ) > 0).collect()
        )
        assert remerged == sorted(tuple(r) for r in merged.collect())
        assert remerged == [(1, "x", 1), (2, "y", 1)]

        # (b) freq-weighted aggregate: sum(a·freq) over signed rows ==
        # plain sum over the expanded merged scan (net-0 tuple invisible)
        w_signed = signed.agg(
            F.sum(F.col("a") * F.col(FREQ)).alias("s")).collect()[0]["s"]
        w_merged = t.scan().agg(F.sum("a").alias("s")).collect()[0]["s"]
        assert w_signed == w_merged == 3  # 1·1 + 2·1

        # (c) equi-join with freq multiplication (the _join/_delta_plan
        # consumer shape): join a signed dim table against signed facts,
        # multiply freqs, aggregate — equals the fully merged equivalent,
        # and the net-0 key contributes nothing even though its key
        # appears in the dim table
        dim = FreqTable(spark, f"{root}/dim")
        dim.create(T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("w", T.IntegerType()),
        ]))
        dim.insert(spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                                         "a INT, w INT"))
        fa = signed.withColumnRenamed(FREQ, "__fa")
        fb = dim.signed_scan().withColumnRenamed(FREQ, "__fb")
        j_signed = (
            fa.join(fb, "a")
            .agg(F.sum(F.col("w") * F.col("__fa") * F.col("__fb"))
                 .alias("s")).collect()[0]["s"]
        )
        j_merged = (
            t.scan().join(dim.scan(), "a")
            .agg(F.sum("w").alias("s")).collect()[0]["s"]
        )
        assert j_signed == j_merged == 30  # (1,x)·10 + (2,y)·20


# --- _observed_metric hardening (r19 verdict item 5) -------------------------
# The zero-task detection must not hinge on the exception MESSAGE text (a
# Spark upgrade rewording it would turn every empty refresh into a crash):
# the structural probe asks the JVM observation for its row and treats an
# empty/absent metrics row as "zero rows flowed".  These fakes pin both
# the tolerated and the re-raised path under arbitrary message shapes.

class _FakeOpt:
    def __init__(self, empty, size=0):
        self._empty, self._size = empty, size

    def isEmpty(self):
        return self._empty

    def get(self):
        opt = self

        class _Row:
            def size(self):
                return opt._size

        return _Row()


class _FakeJo:
    def __init__(self, opt):
        self._opt = opt

    def getRowOrEmpty(self):
        return self._opt


class _FakeObs:
    def __init__(self, exc, jo):
        self._exc, self._jo = exc, jo

    @property
    def get(self):
        raise self._exc


def test_observed_metric_tolerates_empty_row_under_any_message():
    from incresql_spark.frequency import _observed_metric

    # future Spark rewords the row-conversion failure entirely: the
    # structural probe (empty metrics row) still classifies it as the
    # zero-task case
    obs = _FakeObs(RuntimeError("SOME_NEW_ERROR_CLASS: cannot convert"),
                   _FakeJo(_FakeOpt(empty=False, size=0)))
    assert _observed_metric(obs, "n", default=0) == 0
    # absent row (option empty) is equally the never-fired signature
    obs = _FakeObs(RuntimeError("whatever"), _FakeJo(_FakeOpt(empty=True)))
    assert _observed_metric(obs, "n", default=7) == 7


def test_observed_metric_reraises_when_metrics_row_exists():
    from incresql_spark.frequency import _observed_metric

    # the metrics row EXISTS (size 1) — the read failure is real and must
    # propagate even though the message contains the legacy signature
    exc = RuntimeError("toPyRow ... assertion failed")
    obs = _FakeObs(exc, _FakeJo(_FakeOpt(empty=False, size=1)))
    try:
        _observed_metric(obs, "n", default=0)
    except RuntimeError as got:
        assert got is exc
    else:
        raise AssertionError("expected re-raise")


def test_observed_metric_message_fallback_when_probe_unavailable():
    from incresql_spark.frequency import _observed_metric

    class _NoJo:
        @property
        def get(self):
            raise RuntimeError("calling toPyRow: assertion failed deep in JVM")

    # probe unavailable (no _jo at all): the legacy message match still
    # tolerates the known signature...
    assert _observed_metric(_NoJo(), "n", default=3) == 3

    class _NoJoOther:
        @property
        def get(self):
            raise RuntimeError("connection reset")

    # ...and any other message re-raises
    try:
        _observed_metric(_NoJoOther(), "n", default=3)
    except RuntimeError as got:
        assert "connection reset" in str(got)
    else:
        raise AssertionError("expected re-raise")


def test_observed_metric_reraises_dropped_py4j_connection():
    from py4j.protocol import Py4JNetworkError

    from incresql_spark.frequency import _observed_metric

    # a dropped driver↔JVM connection while the metrics row is absent
    # must never pass as "zero rows flowed" — even though the structural
    # probe would classify the row as empty
    exc = Py4JNetworkError("Answer from Java side is empty")
    obs = _FakeObs(exc, _FakeJo(_FakeOpt(empty=True)))
    try:
        _observed_metric(obs, "n", default=0)
    except Py4JNetworkError as got:
        assert got is exc
    else:
        raise AssertionError("expected re-raise")


def test_type_from_str_is_memoized_and_unshared(spark):
    """schema() parses every column type on every call: after the first
    parse of a type string no py4j call is made, and each call still
    returns its own DataType object."""
    from incresql_spark import frequency

    for s in ("decimal(12,2)", "array<string>", "struct<a:int,b:string>"):
        first = frequency._type_from_str(s)
        hits = frequency._ddl_json.cache_info().hits
        again = frequency._type_from_str(s)
        assert frequency._ddl_json.cache_info().hits == hits + 1
        assert again == first and again is not first
