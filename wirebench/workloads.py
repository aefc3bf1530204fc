"""Seeded statement scripts for the three wire workloads.

A script is everything the system under test will be asked to do: which
rows go into the base tables at set-up, which views set-up creates, and
the statements of the timed loop, grouped into cycles.  ``build`` is a
pure function of (workload, seed, order keys), so the same seed always
gives the same script; the system under test only ever sees the SQL.

Rows are split into base and pending by blocks of the order-key range:
``BLOCKS`` equal blocks, of which the seed holds ``PENDING_BLOCKS`` back
from the base tables.  Each held-back block is one ~1% slice that a cycle
inserts with ``INSERT … SELECT`` from the ``pending_*`` tables, in the
seeded slice order.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from incresql_spark.tpch import ORACLE

#: TPC-H scale factor of the generated tables
SF = 0.01
#: dbgen draws o_orderkey from 1..6e6*SF (sparse: 8 of every 32 keys)
ORDERKEY_MAX = int(6_000_000 * SF)
BLOCKS = 100
BLOCK = ORDERKEY_MAX // BLOCKS
PENDING_BLOCKS = 20
#: htap_mixed compacts both base tables after every this many cycles
COMPACT_EVERY = 2
LOOKUPS_PER_CYCLE = 3
#: tpch_read rounds run untimed before the window
WARMUP_ROUNDS = 2
#: cycles generated per script; the timed loop runs a prefix of them
MAX_CYCLES = 60
WORKLOADS = ("tpch_read", "mv_refresh", "htap_mixed")


@dataclass(frozen=True)
class Stmt:
    """One statement of a script.

    ``key`` names what the statement does independently of its slice or
    lookup key (``tpch_q3``, ``refresh mv_q3``), for per-statement-type
    statistics.  ``kind`` is one of query, wide, mvread, lookup, dml,
    refresh, compact.  DML statements also carry ``table`` and
    ``source`` (the SELECT an INSERT copies, or the WHERE of a DELETE) so
    the benchmark can replay them on its DuckDB mirror."""

    key: str
    kind: str
    sql: str
    table: str | None = None
    source: str | None = None


@dataclass
class Script:
    workload: str
    seed: int
    #: warehouse table -> (generated table it is loaded from, row filter)
    tables: dict[str, tuple[str, str | None]]
    #: DDL run at set-up, after the tables are loaded
    views: list[str] = field(default_factory=list)
    #: untimed statements run before the window (lazy set-up, caches)
    warmup: list[Stmt] = field(default_factory=list)
    cycles: list[list[Stmt]] = field(default_factory=list)
    #: mv_refresh: (view read, the same SELECT recomputed over the bases)
    checks: list[tuple[str, str]] = field(default_factory=list)

    def statements(self) -> list[Stmt]:
        return [s for c in self.cycles for s in c]


def _block_range(b: int) -> tuple[int, int]:
    return b * BLOCK + 1, (b + 1) * BLOCK


def _split(pending: list[int]) -> dict[str, tuple[str, str | None]]:
    """Base tables hold every block but the pending ones; the pending_*
    tables hold exactly those."""
    blocks = ", ".join(str(b) for b in sorted(pending))
    o_in = f"floor((o_orderkey - 1) / {BLOCK}) IN ({blocks})"
    l_in = f"floor((l_orderkey - 1) / {BLOCK}) IN ({blocks})"
    return {
        "orders": ("orders", f"NOT ({o_in})"),
        "lineitem": ("lineitem", f"NOT ({l_in})"),
        "pending_orders": ("orders", o_in),
        "pending_lineitem": ("lineitem", l_in),
    }


def _insert_slice(table: str, key: str, b: int) -> Stmt:
    lo, hi = _block_range(b)
    src = f"SELECT * FROM pending_{table} WHERE {key} BETWEEN {lo} AND {hi}"
    return Stmt(f"insert {table}", "dml", f"INSERT INTO {table} {src}",
                table, src)


def _delete(table: str, where: str) -> Stmt:
    return Stmt(f"delete {table}", "dml", f"DELETE FROM {table} WHERE {where}",
                table, where)


def _oracle(name: str) -> Stmt:
    return Stmt(name, "query", " ".join(ORACLE[name].split()))


def _lookup(k: int) -> Stmt:
    return Stmt("lookup orders", "lookup",
                f"SELECT * FROM orders WHERE o_orderkey = {k}")


#: the reference's own TPC-H runner set (Q1, Q3, Q5, Q6, Q10)
TPCH_QUERIES = ("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10")


def _tpch_round(rng: random.Random) -> list[Stmt]:
    """The TPC-H set plus one wide projection (~1/5 of lineitem), in
    seeded order."""
    lo = rng.randrange(1, ORDERKEY_MAX * 4 // 5)
    wide = Stmt(
        "wide lineitem", "wide",
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,"
        " l_quantity, l_extendedprice, l_discount, l_shipdate"
        f" FROM lineitem WHERE l_orderkey BETWEEN {lo}"
        f" AND {lo + ORDERKEY_MAX // 5}")
    stmts = [_oracle(n) for n in TPCH_QUERIES] + [wide]
    rng.shuffle(stmts)
    return stmts


def _tpch_read(rng: random.Random, script: Script) -> None:
    script.tables = {t: (t, None) for t in (
        "region", "nation", "supplier", "customer", "orders", "lineitem")}
    # untimed rounds compile every query's plan and let the JIT settle:
    # latencies still fall by a quarter from the first round to the fourth
    script.warmup = [s for _ in range(WARMUP_ROUNDS) for s in _tpch_round(rng)]
    script.cycles = [_tpch_round(rng) for _ in range(MAX_CYCLES)]


#: Q3-shaped three-way join aggregate; revenue in exact integer units.
#: Q3's ``l_shipdate`` bound is left out: with it a ~1% slice fed the view
#: 0-8 rows, so whether a cycle's refresh had any delta at all (1.2 s
#: against 2.3 s) was up to the seed.  Without it every slice and delete
#: of seeds 1-120 feeds it 15 rows or more.
MV_Q3 = (
    "SELECT l_orderkey, o_orderdate, count(*) AS n,"
    " sum(CAST(floor(l_extendedprice * (100 - l_discount * 100) + 0.5)"
    " AS BIGINT)) AS rev"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE c_mktsegment = 'BUILDING'"
    " AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'"
    " GROUP BY l_orderkey, o_orderdate"
)
MV_SUPP = (
    "SELECT l_suppkey, l_returnflag, count(*) AS n,"
    " sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS qty"
    " FROM lineitem GROUP BY l_suppkey, l_returnflag"
)
#: cascaded over mv_supp
MV_FLAG_OVER = (
    "SELECT l_returnflag, count(*) AS ngroups, sum(qty) AS qty"
    " FROM {src} GROUP BY l_returnflag"
)
MV_READS = (
    Stmt("read mv_q3", "mvread",
         "SELECT * FROM mv_q3 ORDER BY rev DESC, l_orderkey LIMIT 10"),
    Stmt("read mv_supp", "mvread",
         "SELECT * FROM mv_supp ORDER BY qty DESC, l_suppkey, l_returnflag"
         " LIMIT 10"),
    Stmt("read mv_flag", "mvread",
         "SELECT * FROM mv_flag ORDER BY l_returnflag"),
)


def _mv_refresh(rng: random.Random, script: Script) -> None:
    pending = rng.sample(range(BLOCKS), PENDING_BLOCKS)
    base = [b for b in range(BLOCKS) if b not in pending]
    script.tables = {"customer": ("customer", None), **_split(pending)}
    script.views = [
        f"CREATE MATERIALIZED VIEW mv_q3 AS {MV_Q3}",
        f"CREATE MATERIALIZED VIEW mv_supp AS {MV_SUPP}",
        "CREATE MATERIALIZED VIEW mv_flag AS "
        + MV_FLAG_OVER.format(src="mv_supp"),
    ]
    for i in range(MAX_CYCLES):
        b = pending[i % len(pending)]
        # the DELETE retracts returned items of a slice inserted two
        # cycles earlier (a seeded base block before that)
        old = pending[(i - 2) % len(pending)] if i >= 2 else rng.choice(base)
        lo, hi = _block_range(old)
        script.cycles.append([
            _insert_slice("orders", "o_orderkey", b),
            _insert_slice("lineitem", "l_orderkey", b),
            _delete("lineitem",
                    f"l_returnflag = 'R' AND l_orderkey BETWEEN {lo} AND {hi}"),
            *(Stmt(f"refresh {v}", "refresh",
                   f"REFRESH MATERIALIZED VIEW {v}")
              for v in ("mv_q3", "mv_supp", "mv_flag")),
            # two polls of the views: the first pays the catalog
            # re-registration the refreshes left behind, the second not
            *MV_READS,
            *MV_READS,
        ])
    script.warmup = list(MV_READS)
    script.checks = [
        ("SELECT * FROM mv_q3", MV_Q3),
        ("SELECT * FROM mv_supp", MV_SUPP),
        ("SELECT * FROM mv_flag",
         MV_FLAG_OVER.format(src=f"({MV_SUPP}) AS s")),
    ]


def _htap_mixed(rng: random.Random, script: Script,
                orderkeys: list[int]) -> None:
    pending = rng.sample(range(BLOCKS), PENDING_BLOCKS)
    script.tables = _split(pending)
    pend = set(pending)
    live = [k for k in orderkeys if (k - 1) // BLOCK not in pend]
    script.warmup = [_oracle("tpch_q6"), _lookup(rng.choice(live))]
    deletable = list(live)
    rng.shuffle(deletable)
    for i in range(MAX_CYCLES):
        b = pending[i % len(pending)]
        lo, hi = _block_range(b)
        if i < len(pending):
            live.extend(k for k in orderkeys if lo <= k <= hi)
        cycle = [
            _insert_slice("orders", "o_orderkey", b),
            _insert_slice("lineitem", "l_orderkey", b),
            _delete("lineitem", f"l_orderkey = {deletable[i]}"),
            _oracle("tpch_q1"),
            _oracle("tpch_q6"),
            *(_lookup(rng.choice(live)) for _ in range(LOOKUPS_PER_CYCLE)),
        ]
        if (i + 1) % COMPACT_EVERY == 0:
            cycle += [Stmt(f"compact {t}", "compact", f"COMPACT TABLE {t}")
                      for t in ("lineitem", "orders")]
        script.cycles.append(cycle)


def build(workload: str, seed: int, orderkeys: list[int]) -> Script:
    """The full script of ``workload`` for ``seed``.  ``orderkeys`` is the
    sorted o_orderkey column of the generated data (lookups draw from the
    keys that are live when they run)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    rng = random.Random(f"{workload}:{seed}")
    script = Script(workload, seed, {})
    if workload == "tpch_read":
        _tpch_read(rng, script)
    elif workload == "mv_refresh":
        _mv_refresh(rng, script)
    else:
        _htap_mixed(rng, script, orderkeys)
    return script
