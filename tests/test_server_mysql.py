"""MySQL wire-protocol front-end integration test (reference
server/src/mysql/mod.rs:38-130; README.md:47-56 "connect with mysql").

No MySQL client library exists in this container, so the client half is
implemented here from the same public packet layouts the server uses —
which doubles as a protocol-level assertion (framing, handshake, lenenc,
OK/ERR/EOF discrimination all have to be right on both sides to pass).
"""

from __future__ import annotations

import socket
import struct

import pytest

from incresql_spark.engine import Engine
from incresql_spark.server.mysql import (
    CLIENT_DEPRECATE_EOF,
    CLIENT_PROTOCOL_41,
    MySqlServer,
    read_packet,
    write_packet,
)


class MiniClient:
    """Just enough client protocol: handshake, COM_QUERY, text resultset."""

    def __init__(self, port: int, capabilities: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.caps = capabilities
        seq, greeting = read_packet(self.sock)
        assert greeting[0] == 0x0A  # protocol version 10
        nul = greeting.index(b"\x00", 1)
        self.server_version = greeting[1:nul].decode()
        self.thread_id = struct.unpack_from("<I", greeting, nul + 1)[0]
        # handshake response 41: caps, max packet, charset, 23 zeros,
        # user\0, empty auth response
        payload = (
            struct.pack("<I", self.caps)
            + struct.pack("<I", 2**24 - 1)
            + bytes([33])
            + b"\x00" * 23
            + b"test\x00"
            + b"\x00"
        )
        write_packet(self.sock, seq + 1, payload)
        _, ok = read_packet(self.sock)
        assert ok[0] == 0x00, ok

    def _lenenc(self, buf: bytes, pos: int) -> tuple[int, int]:
        b0 = buf[pos]
        if b0 < 0xFB:
            return b0, pos + 1
        if b0 == 0xFC:
            return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
        if b0 == 0xFD:
            return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9

    def query(self, sql: str):
        """Returns (columns, rows) for resultsets, int(affected) for OK,
        raises on ERR."""
        write_packet(self.sock, 0, b"\x03" + sql.encode())
        _, first = read_packet(self.sock)
        if first[0] == 0xFF:
            raise RuntimeError(first[9:].decode("utf-8", "replace"))
        if first[0] == 0x00:
            affected, _ = self._lenenc(first, 1)
            return affected
        ncols, _ = self._lenenc(first, 0)
        cols = []
        for _ in range(ncols):
            _, colpkt = read_packet(self.sock)
            pos = 0
            parts = []
            for _ in range(6):  # catalog..org_name lenenc strings
                ln, pos = self._lenenc(colpkt, pos)
                parts.append(colpkt[pos : pos + ln])
                pos += ln
            cols.append(parts[4].decode())
        if not (self.caps & CLIENT_DEPRECATE_EOF):
            _, eof = read_packet(self.sock)
            assert eof[0] == 0xFE
        rows = []
        while True:
            _, pkt = read_packet(self.sock)
            if pkt[0] == 0xFE and len(pkt) < 9:
                break  # EOF or OK-with-EOF-header terminator
            if pkt[0] == 0xFF:
                # in-resultset ERR: an execution error surfaced after the
                # server started streaming rows (0xFF is not a valid
                # lenenc prefix, so this can never be a data row)
                raise RuntimeError(pkt[9:].decode("utf-8", "replace"))
            pos, row = 0, []
            while pos < len(pkt):
                if pkt[pos] == 0xFB:
                    row.append(None)
                    pos += 1
                else:
                    ln, pos = self._lenenc(pkt, pos)
                    row.append(pkt[pos : pos + ln].decode())
                    pos += ln
            rows.append(tuple(row))
        return cols, rows

    def close(self) -> None:
        write_packet(self.sock, 0, b"\x01")  # COM_QUIT
        self.sock.close()


@pytest.fixture()
def server(spark, tmp_path):
    engine = Engine(spark, str(tmp_path / "warehouse"))
    srv = MySqlServer(engine, port=0)
    srv.serve_background()
    yield srv
    srv.shutdown()


@pytest.mark.parametrize("caps", [
    CLIENT_PROTOCOL_41,
    CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF,
])
def test_query_roundtrip(server, caps):
    c = MiniClient(server.port, caps)
    assert "incresql" in c.server_version
    assert c.query("CREATE TABLE wt (a INT, b TEXT)") == 0
    assert c.query('INSERT INTO wt VALUES (1, "x"), (2, NULL)') == 0
    cols, rows = c.query("SELECT a, b FROM wt ORDER BY a")
    assert cols == ["a", "b"]
    assert rows == [("1", "x"), ("2", None)]
    c.close()


def test_error_packet(server):
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    with pytest.raises(RuntimeError):
        c.query("SELECT * FROM no_such_table_anywhere")
    # connection survives the error — the reference keeps serving after ERR
    cols, rows = c.query("SELECT 1 + 1")
    assert rows == [("2",)]
    c.close()


def test_use_and_show(server):
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    c.query("CREATE DATABASE wiredb")
    c.query("USE wiredb")
    c.query("CREATE TABLE t2 (x INT)")
    cols, rows = c.query("SHOW TABLES")
    assert ("t2", "table") in [tuple(r[:2]) for r in rows] or any(
        "t2" in r for r in rows
    )
    c.close()


def test_packet_framing_roundtrip_16mb_boundary():
    """Logical packets >= 16MB-1 split into 0xFFFFFF frames with an empty
    terminator on exact multiples; read_packet must reassemble all cases.
    (Reader runs in a thread — a socketpair buffer can't hold 16MB.)"""
    import threading

    from incresql_spark.server.mysql import _MAX_CHUNK

    for size in (0, 5, _MAX_CHUNK - 1, _MAX_CHUNK, _MAX_CHUNK + 7):
        a, b = socket.socketpair()
        try:
            payload = (b"ab" * ((size // 2) + 1))[:size]
            result = {}

            def reader():
                result["seq"], result["got"] = read_packet(b)

            t = threading.Thread(target=reader)
            t.start()
            next_seq = write_packet(a, 3, payload)
            t.join(timeout=30)
            assert not t.is_alive(), f"reader hung at size {size}"
            assert result["got"] == payload, size
            n_frames = size // _MAX_CHUNK + 1  # incl. empty terminator frame
            assert next_seq == 3 + n_frames, (size, next_seq)
            assert result["seq"] == 3 + n_frames - 1
        finally:
            a.close()
            b.close()


def test_kill_query_from_another_connection(server):
    """Reference kill parity (runtime/src/lib.rs:90-131, test at :125): a
    long-running query on connection A, killed from connection B via
    ``KILL <A's connection id>``, must return an error to A — and A's
    session must stay usable afterwards."""
    import threading
    import time

    a = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    b = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    assert a.thread_id != b.thread_id

    # compute-bound enough that it cannot finish before the kill lands
    slow_sql = (
        "SELECT count(*) FROM range(20000000000) "
        "WHERE sha2(cast(id AS string), 256) = 'never'"
    )
    outcome: dict = {}

    def run_slow():
        try:
            outcome["result"] = a.query(slow_sql)
        except RuntimeError as exc:
            outcome["error"] = str(exc)

    t = threading.Thread(target=run_slow)
    t.start()
    # kill until the victim's statement terminates (covers the startup race
    # where the job group has no active job yet)
    deadline = time.time() + 120
    while t.is_alive() and time.time() < deadline:
        assert b.query(f"KILL {a.thread_id}") == 0
        t.join(timeout=0.5)
    assert not t.is_alive(), "victim query never terminated"
    assert "error" in outcome, f"query survived the kill: {outcome}"

    # the killed session keeps serving (reference: connection stays open)
    cols, rows = a.query("SELECT 1 + 1")
    assert rows == [("2",)]
    a.close()
    b.close()


def test_kill_after_statement_completion_is_noop(server):
    """A KILL that lands AFTER the victim's statement finished must be the
    reference's harmless unchecked flag (session.rs:10) — NOT a cancellation
    of the session's next statement.  The engine clears the thread-local job
    group in a finally per statement (VERDICT r8 task 4), so the stale group
    no longer exists when the late KILL's cancelJobGroup fires."""
    a = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    b = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)

    cols, rows = a.query("SELECT count(*) FROM range(1000)")  # completes
    assert rows == [("1000",)]
    assert b.query(f"KILL {a.thread_id}") == 0  # late kill: no running query
    # next statement on the killed session runs to completion, unaffected
    cols, rows = a.query("SELECT sum(id) AS s FROM range(100000)")
    assert rows == [("4999950000",)]
    a.close()
    b.close()


def test_select_streams_rows_with_bounded_driver_memory(server):
    """A multi-hundred-MB SELECT through the wire server must stream —
    driver (this process) memory stays O(partition), never O(result).
    Before round 13 the engine collect()ed the full result (90 GB RSS at
    sf10, SCALING.md); the reference streams row-at-a-time
    (server/src/mysql/mod.rs:103-111).  The client reads and DISCARDS
    rows; ru_maxrss is a high-water mark, so its delta bounds every
    buffer the server or engine held."""
    import resource

    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    # ~420 MB logical: 2M rows x ~210 B. range() is generated in 32
    # partitions, so a streaming server holds ~13 MB at a time.
    sql = (
        "SELECT id, repeat('x', 200) AS payload FROM range(2000000)"
    )
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB
    write_packet(c.sock, 0, b"\x03" + sql.encode())
    _, first = read_packet(c.sock)
    assert first[0] not in (0x00, 0xFF), first
    ncols, _ = c._lenenc(first, 0)
    for _ in range(ncols):
        read_packet(c.sock)
    n, total_bytes = 0, 0
    while True:
        _, pkt = read_packet(c.sock)
        if pkt[0] == 0xFE and len(pkt) < 9:
            break
        assert pkt[0] != 0xFF, pkt[9:120]
        n += 1
        total_bytes += len(pkt)
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert n == 2_000_000
    assert total_bytes > 380 * 1024 * 1024  # the result really was big
    delta_mb = (after - before) / 1024
    # collected, the result would add >400 MB of python tuples; streamed,
    # the high-water delta stays under a couple of partitions + slack
    assert delta_mb < 200, f"driver RSS grew {delta_mb:.0f} MB — not streaming"
    # the connection stays usable after the big resultset
    _, rows = c.query("SELECT 41 + 1")
    assert rows == [("42",)]
    c.close()


def test_kill_reaches_streamed_select_between_jobs(server):
    """KILL must abort a streamed SELECT even when no Spark job is in
    flight (round-13 review): the stream spends most of its time blocked
    on the client socket, where cancelJobGroup has nothing to cancel, so
    the engine's per-statement kill flag is what lands the kill — the
    victim's resultset must terminate with an in-resultset ERR packet,
    not run to completion."""
    a = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    b = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    # big enough that TCP backpressure parks the server mid-stream
    sql = "SELECT id, repeat('x', 200) AS payload FROM range(2000000)"
    write_packet(a.sock, 0, b"\x03" + sql.encode())
    _, first = read_packet(a.sock)
    assert first[0] not in (0x00, 0xFF), first
    ncols, _ = a._lenenc(first, 0)
    for _ in range(ncols):
        read_packet(a.sock)
    for _ in range(1000):  # rows are flowing
        _, pkt = read_packet(a.sock)
        assert pkt[0] not in (0xFE, 0xFF), pkt[:40]

    assert b.query(f"KILL {a.thread_id}") == 0

    saw_err, n_after = False, 0
    while True:
        _, pkt = read_packet(a.sock)
        if pkt[0] == 0xFF:
            saw_err = True
            # either kill path is correct: the per-row flag (QueryKilled,
            # "killed ... streaming") or cancelJobGroup aborting an
            # in-flight partition job (Spark's "cancelled" message)
            assert (b"killed" in pkt or b"cancel" in pkt), pkt[:160]
            break
        if pkt[0] == 0xFE and len(pkt) < 9:
            break  # natural end — the kill was lost
        n_after += 1
        assert n_after < 1_990_000, "stream ran to completion despite KILL"
    assert saw_err, "no ERR packet — KILL never reached the stream"
    # the killed session stays usable (one-shot cancellation)
    _, rows = a.query("SELECT 41 + 1")
    assert rows == [("42",)]
    a.close()
    b.close()


def _statement_jobs(server, client, sql: str):
    """(rows, Spark job ids) of one statement over the wire; the jobs are
    those that ran in the connection's job group."""
    sc = server.engine.spark.sparkContext
    group = server.engine._group(client.thread_id)
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    _, rows = client.query(sql)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, set(sc.statusTracker().getJobIdsForGroup(group)) - before


def test_sorted_view_read_runs_one_spark_job(server):
    """A view read with ORDER BY and no LIMIT is served by one fenced
    collect, under which the sort plans as TakeOrderedAndProject: one
    Spark job, where a global sort streamed through toLocalIterator runs
    three (the range sample, the sort exchange and the result)."""
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    c.query("CREATE TABLE jt (k INT, v INT)")
    for s in range(3):
        c.query("INSERT INTO jt VALUES "
                + ",".join(f"({k}, {s})" for k in range(20)))
    c.query("CREATE MATERIALIZED VIEW jmv AS "
            "SELECT k, count(*) AS n, sum(v) AS s FROM jt GROUP BY k")
    sql = "SELECT * FROM jmv ORDER BY k"
    c.query(sql)  # re-registers the catalog the DDL left dirty
    rows, jobs = _statement_jobs(server, c, sql)
    assert rows == [(str(k), "3", "3") for k in range(20)]
    assert len(jobs) == 1, sorted(jobs)
    c.close()


def test_unsorted_select_runs_fewer_jobs_than_partitions(server):
    """An unsorted SELECT is one fenced collect, not one
    toLocalIterator job per partition.  Over a generated range the fence
    is dropped (the range has fewer rows than the cap) and the collect is
    one job for all 32 partitions.  Over a table scanned in several
    partitions Spark's take reads one partition, then up to four times
    as many per job: at most 3 jobs for up to 25 partitions."""
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    rows, jobs = _statement_jobs(
        server, c, "SELECT id FROM range(0, 1000, 1, 32)")
    assert [int(r[0]) for r in rows] == list(range(1000))
    assert len(jobs) == 1, sorted(jobs)

    c.query("CREATE TABLE pt (k BIGINT, v BIGINT)")
    # one INSERT: one segment, so the scan needs no merge exchange
    c.query("INSERT INTO pt SELECT id, id % 7 FROM range(0, 8000, 1, 8)")
    sql = "SELECT k, v FROM pt"
    c.query(sql)  # re-registers the catalog the DDL left dirty
    parts = server.engine._run_select(sql).rdd.getNumPartitions()
    assert 4 <= parts <= 25, parts
    rows, jobs = _statement_jobs(server, c, sql)
    assert sorted(int(r[0]) for r in rows) == list(range(8000))
    assert len(jobs) <= 3, (parts, sorted(jobs))
    c.close()


def _spy_streams(server, monkeypatch, hold=None):
    """Count the DataFrame streams (toLocalIterator calls) the server
    starts; ``hold(i)`` runs before each streamed row i is handed on."""
    df_class = type(server.engine.spark.range(1))
    orig = df_class.toLocalIterator
    streams = []

    def spy(self, *args, **kwargs):
        streams.append(self)
        for i, row in enumerate(orig(self, *args, **kwargs)):
            if hold is not None:
                hold(i)
            yield row

    monkeypatch.setattr(df_class, "toLocalIterator", spy)
    return streams


def test_select_past_the_wire_cap_streams_all_rows_in_order(
        server, monkeypatch):
    """A result over the fence is not cut: the collect is dropped and the
    rows stream, all of them, in the query's order."""
    from incresql_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "WIRE_COLLECT_ROWS", 5)
    streams = _spy_streams(server, monkeypatch)
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    c.query("CREATE TABLE ot (a INT)")
    c.query("INSERT INTO ot VALUES "
            + ",".join(f"({i})" for i in (4, 9, 0, 7, 2, 5, 8, 1, 6, 3)))
    _, rows = c.query("SELECT a FROM ot ORDER BY a DESC")
    assert rows == [(str(i),) for i in range(9, -1, -1)]
    assert len(streams) == 1
    # at the cap the collect serves the rows: nothing streams
    _, rows = c.query("SELECT a FROM ot ORDER BY a LIMIT 5")
    assert rows == [(str(i),) for i in range(5)]
    assert len(streams) == 1
    c.close()


def test_kill_reaches_select_streamed_past_the_wire_cap(server, monkeypatch):
    """KILL lands on a result streamed past the fence: the stream is held
    mid-resultset with no Spark job in flight, and the victim's
    resultset still ends in an ERR packet."""
    import threading

    from incresql_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "WIRE_COLLECT_ROWS", 5)
    reached, resume = threading.Event(), threading.Event()

    def hold(i):
        if i == 2:
            reached.set()
            resume.wait(60)

    streams = _spy_streams(server, monkeypatch, hold)
    a = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    b = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    a.query("CREATE TABLE kt (a INT)")
    a.query("INSERT INTO kt VALUES " + ",".join(f"({i})" for i in range(10)))
    try:
        write_packet(a.sock, 0, b"\x03SELECT a FROM kt ORDER BY a")
        _, first = read_packet(a.sock)
        assert first[0] not in (0x00, 0xFF), first
        assert reached.wait(60), "the stream never reached its third row"
        assert b.query(f"KILL {a.thread_id}") == 0
    finally:
        resume.set()
    assert len(streams) == 1
    ncols, _ = a._lenenc(first, 0)
    for _ in range(ncols):
        read_packet(a.sock)
    saw_err, n_rows = False, 0
    while True:
        _, pkt = read_packet(a.sock)
        if pkt[0] == 0xFF:
            saw_err = True
            assert b"killed" in pkt or b"cancel" in pkt, pkt[:160]
            break
        if pkt[0] == 0xFE and len(pkt) < 9:
            break  # natural end — the kill was lost
        n_rows += 1
    assert saw_err, f"no ERR packet after {n_rows} rows"
    assert n_rows < 10
    _, rows = a.query("SELECT 41 + 1")
    assert rows == [("42",)]
    a.close()
    b.close()


def _driver_result_bytes(sc, job_id: int) -> int:
    """Bytes of task results the driver JVM received for one Spark job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    total = 0
    for stage in sc.statusTracker().getJobInfo(job_id).stageIds:
        tasks = store.taskList(stage, 0, 1_000_000)
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                total += metrics.get().resultSize()
    return total


def test_sorted_select_past_the_wire_cap_sends_the_driver_one_fence(
        server, monkeypatch):
    """A global sort past the fence: its fenced collect sends the driver
    JVM at most the fence's rows in all, not the fence's rows from every
    input partition (a top-K collected as planned), and the rows then
    stream, all of them, in order."""
    from incresql_spark import engine as engine_mod

    cap = 1000
    monkeypatch.setattr(engine_mod, "WIRE_COLLECT_ROWS", cap)
    sc = server.engine.spark.sparkContext
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    # 8 partitions of 5000 rows; a row serializes to ~160 B
    sql = ("SELECT id, sha2(CAST(id AS STRING), 512) AS h "
           "FROM range(0, 40000, 1, 8) ORDER BY id DESC")
    rows, jobs = _statement_jobs(server, c, sql)
    assert [int(r[0]) for r in rows] == list(range(39999, -1, -1))
    fence_job = min(jobs)
    # per partition, 8 x 1001 rows would be ~1.3 MB
    assert _driver_result_bytes(sc, fence_job) < 2 * (cap + 1) * 160
    c.close()


def test_wide_rows_past_the_wire_cap_keep_driver_memory_bounded(server):
    """Wide rows under the real fence: 100k rows of ~2 KB each (~200 MB)
    stream with a driver RSS delta under the same 200 MB bound as the
    narrow-row test — the fence holds WIRE_COLLECT_ROWS such rows, not
    the result."""
    import resource

    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    sql = "SELECT id, repeat('x', 2000) AS payload FROM range(100000)"
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB
    write_packet(c.sock, 0, b"\x03" + sql.encode())
    _, first = read_packet(c.sock)
    assert first[0] not in (0x00, 0xFF), first
    ncols, _ = c._lenenc(first, 0)
    for _ in range(ncols):
        read_packet(c.sock)
    n = 0
    while True:
        _, pkt = read_packet(c.sock)
        if pkt[0] == 0xFE and len(pkt) < 9:
            break
        assert pkt[0] != 0xFF, pkt[9:120]
        n += 1
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    assert n == 100_000
    delta_mb = (after - before) / 1024
    assert delta_mb < 200, f"driver RSS grew {delta_mb:.0f} MB"
    c.close()


def test_sketch_table_function_over_the_wire(server):
    """Round-15 wire surface: the sketch family is SQL-callable, so the
    MySQL front-end can serve estimates end-to-end — hll_distinct and
    quantile_sketch run here over a table created and loaded through the
    same connection (sketch_sql.py expands the calls before the engine
    qualifies table names)."""
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    assert c.query("CREATE TABLE sk (a INT, v INT)") == 0
    vals = ", ".join(f"({i % 7}, {i})" for i in range(40))
    c.query(f"INSERT INTO sk VALUES {vals}")
    cols, rows = c.query(
        "SELECT name, estimate, rse_ppm FROM hll_distinct('sk', 'a', 'v') "
        "ORDER BY name"
    )
    assert cols == ["name", "estimate", "rse_ppm"]
    assert [r[0] for r in rows] == ["a", "v"]
    # 7 and 40 true distincts — linear counting is near-exact this far
    # below m=4096, and rse_ppm is the 1.04/sqrt(4096) literal
    assert abs(float(rows[0][1]) - 7) < 1.0
    assert abs(float(rows[1][1]) - 40) < 3.0
    assert rows[0][2] == "16250"
    cols2, rows2 = c.query(
        "SELECT q_pct, sample_n, est_value "
        "FROM quantile_sketch('sk', 'v', 'a') ORDER BY q_pct"
    )
    assert cols2 == ["q_pct", "sample_n", "est_value"]
    # 40 rows < k: the sample is the data, so estimates are the exact
    # nearest-rank values of 0..39
    by_q = {r[0]: r for r in rows2}
    assert by_q["50"][1] == "40" and by_q["50"][2] == "19"
    assert by_q["99"][2] == "39"
    # round-16 grouped surface: per-group quantile sketch over the wire
    cols3, rows3 = c.query(
        "SELECT g, q_pct, n, est_value "
        "FROM quantile_grouped('sk', 'a', 'v', 'v') ORDER BY g, q_pct"
    )
    assert cols3 == ["g", "q_pct", "n", "est_value"]
    # 7 groups x 3 percentiles; every group's sample is its exact data
    # (6 rows/group < k=256), so the p50 estimate is the group's
    # nearest-rank value — group 0 holds {0,7,14,21,28,35}, p50 -> 14
    assert len(rows3) == 21
    by_gq = {(r[0], r[1]): r for r in rows3}
    assert by_gq[("0", "50")][3] == "14"
    # round-16 text-side surface: grouped CMS and the Bloom screen run
    # over the wire against a table created through the same connection
    assert c.query("CREATE TABLE dox (doc_id INT, lang TEXT, "
                   "text TEXT)") == 0
    vals = ", ".join(
        f"({i}, '{'en' if i % 2 else 'de'}', "
        f"'alpha beta gamma delta epsilon tok{i % 5} tok{i % 5}')"
        for i in range(12)
    )
    c.query(f"INSERT INTO dox VALUES {vals}")
    cols4, rows4 = c.query(
        "SELECT g, tok, exact_cnt, cms_est "
        "FROM cms_grouped('dox', 'lang', 'text') ORDER BY g, tok"
    )
    assert cols4 == ["g", "tok", "exact_cnt", "cms_est"]
    assert {r[0] for r in rows4} == {"en", "de"}
    # CMS never underestimates — over the wire too
    assert all(int(r[3]) >= int(r[2]) for r in rows4)
    cols5, rows5 = c.query(
        "SELECT train_doc_id, n_bloom_hits "
        "FROM bloom_screen('dox', 'doc_id', 'text', 6) "
        "ORDER BY train_doc_id"
    )
    assert cols5 == ["train_doc_id", "n_bloom_hits"]
    # every doc >= 6 shares the 'alpha beta gamma...' shingles with the
    # eval half, so the screen must flag all six training docs
    assert [r[0] for r in rows5] == ["6", "7", "8", "9", "10", "11"]
    assert all(int(r[1]) > 0 for r in rows5)
    # round-17 completion: KMV set algebra over the wire.  sk has 7
    # distinct a-values and 40 distinct v-values sharing {0..6}; both
    # sets are below k=128, so every estimate is EXACT
    cols6, rows6 = c.query(
        "SELECT k, a_est, b_est, union_est, inter_est "
        "FROM kmv_set_ops('sk', 'a', 'v')"
    )
    assert cols6 == ["k", "a_est", "b_est", "union_est", "inter_est"]
    assert len(rows6) == 1
    k, a, b, u, i = rows6[0]
    assert k == "128"
    assert float(a) == 7.0 and float(b) == 40.0
    assert float(u) == 40.0 and float(i) == 7.0
    # round-17 completion: table-driven BM25 over the wire — the query
    # workload itself arrives as a TABLE through the same connection
    assert c.query("CREATE TABLE ws (query_id INT, term TEXT)") == 0
    c.query("INSERT INTO ws VALUES (1, 'alpha'), (1, 'tok0'), "
            "(2, 'zeta')")
    cols7, rows7 = c.query(
        "SELECT query_id, rank, doc_id, n_terms "
        "FROM bm25_search('dox', 'doc_id', 'text', 'ws', 3) "
        "ORDER BY query_id, rank"
    )
    assert cols7 == ["query_id", "rank", "doc_id", "n_terms"]
    q1 = [r for r in rows7 if r[0] == "1"]
    # every doc contains 'alpha'; docs 0/5/10 also hold 'tok0' twice and
    # outrank the rest; top_k=3 caps the fan-out
    assert len(q1) == 3 and [r[1] for r in q1] == ["1", "2", "3"]
    assert {r[2] for r in q1} <= {"0", "5", "10"}
    assert all(r[3] == "2" for r in q1)
    # no doc matches query 2 ('zeta' is not in the corpus)
    assert [r for r in rows7 if r[0] == "2"] == []
    # EXPLAIN composes over the new expansions too (the r16 golden
    # pattern): the engine explains the EXPANDED plan, no error
    ecols, erows = c.query(
        "EXPLAIN SELECT * FROM kmv_set_ops('sk', 'a', 'v')"
    )
    assert ecols == ["tree", "col_idx", "datatype", "expression"]
    etxt = "\n".join(" ".join(x or "" for x in r) for r in erows)
    assert "a_est" in etxt and "inter_est" in etxt
    c.close()


def test_cascaded_mv_over_the_wire(server):
    """Round-17 cascade DDL end-to-end over the MySQL wire: a level-2
    materialized view created FROM a level-1 aggregate view, refreshed
    through the chain with one statement, read back, and the dependency
    guard surfacing as a wire error packet."""
    c = MiniClient(server.port, CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF)
    assert c.query("CREATE TABLE wsales (region TEXT, amount INT)") == 0
    c.query("INSERT INTO wsales VALUES ('n', 10), ('n', 20), ('s', 5)")
    c.query(
        "CREATE MATERIALIZED VIEW wl1 AS "
        "SELECT region, count(*) AS cnt, sum(amount) AS total "
        "FROM wsales GROUP BY region"
    )
    c.query(
        "CREATE MATERIALIZED VIEW wl2 AS "
        "SELECT count(*) AS n_regions, sum(total) AS grand FROM wl1"
    )
    cols, rows = c.query("SELECT * FROM wl2")
    assert cols == ["n_regions", "grand"] and rows == [("2", "35")]
    c.query("INSERT INTO wsales VALUES ('e', 1)")
    c.query("REFRESH MATERIALIZED VIEW wl2")  # cascades root-first
    _, rows = c.query("SELECT * FROM wl2")
    assert rows == [("3", "36")]
    with pytest.raises(RuntimeError, match="dependent cascaded"):
        c.query("DROP MATERIALIZED VIEW wl1")
