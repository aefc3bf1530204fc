"""The traced statement records: Spark counters keyed by the
connection's job group, and the spans of an MV refresh's phases."""

from __future__ import annotations

import os

import pytest

from client import Connection


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from incresql_spark.engine import Engine
    from incresql_spark.server.mysql import MySqlServer
    from incresql_spark.session import get_spark
    from tracing import Tracer

    spark = get_spark("wirebench_tests", cpus=2)
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    engine = Engine(spark, warehouse)
    for sql in (
        "CREATE TABLE t (k BIGINT, g TEXT, v BIGINT)",
        "INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 5)",
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT g, count(*) AS n, sum(v) AS s FROM t GROUP BY g",
    ):
        engine.execute_statement(sql)
    tracer = Tracer(spark, warehouse)
    tracer.install()
    server = MySqlServer(engine, port=0)
    conn = Connection(server.serve_background())
    try:
        yield tracer, conn
    finally:
        conn.close()
        server.shutdown()
        tracer.uninstall()


def traced(tracer, conn, sql):
    """Run one traced statement; its record and its spans."""
    tracer.enabled = True
    before = len(tracer.records)
    reply = conn.query(sql)
    assert tracer.idle.wait(60)
    tracer.enabled = False
    assert len(tracer.records) == before + 1
    return reply, tracer.records[-1], [
        s for s in tracer.spans if s[4] == tracer.stmt]


def test_select_records_jobs_and_tasks(served):
    tracer, conn = served
    reply, rec, spans = traced(
        tracer, conn, "SELECT g, sum(v) AS s FROM t GROUP BY g ORDER BY g")
    assert reply.rows == [("a", "15"), ("b", "20")]
    assert rec["spark.jobs"] > 0
    assert rec["spark.tasks"] > 0
    assert rec["server.packets"] >= 4  # header, 1 column, 2 rows, end
    assert 0 < rec["engine.self_ms"] <= rec["engine.stmt_ms"]
    assert rec["spark.driver_ms"] == pytest.approx(
        rec["wall_ms"] - rec["spark.job_busy_ms"])
    assert {s[0] for s in spans} >= {"server.query", "engine.stmt", "py4j"}


def test_refresh_records_its_phases(served):
    tracer, conn = served
    conn.query("INSERT INTO t VALUES (4, 'b', 1)")
    _, rec, spans = traced(tracer, conn, "REFRESH MATERIALIZED VIEW mv")
    assert rec["materialize.refresh_calls"] == 1
    assert rec["materialize.delta_rows"] > 0
    assert rec["spark.jobs"] > 0
    assert rec["storage.bytes_written"] > 0
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    refresh = next(index[id(s)] for s in spans
                   if s[0] == "materialize.refresh")

    def under_refresh(span) -> bool:
        parent = span[3]
        while parent is not None:
            if parent == refresh:
                return True
            parent = tracer.spans[parent][3]
        return False

    phases = {s[0] for s in spans if under_refresh(s)}
    assert phases >= {"frequency.delta", "materialize.read_buckets",
                      "materialize.write_buckets", "commit.manifest"}
    assert conn.query("SELECT * FROM mv ORDER BY g").rows == [
        ("a", "2", "15"), ("b", "2", "21")]


def test_untraced_statements_leave_no_record(served):
    tracer, conn = served
    before = (len(tracer.records), len(tracer.spans))
    conn.query("SELECT count(*) FROM t")
    assert tracer.idle.wait(60)
    assert (len(tracer.records), len(tracer.spans)) == before
