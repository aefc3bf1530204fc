"""The generator turns a seed into the whole statement script."""

from __future__ import annotations

import pytest

import datagen
import workloads


@pytest.fixture(scope="module")
def orderkeys(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("data"))
    datagen.generate(data, workloads.SF)
    con = datagen.connect(data, {"orders": ("orders", None)})
    keys = [r[0] for r in con.execute(
        "SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
    con.close()
    return keys


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_script(workload, orderkeys):
    assert (workloads.build(workload, 7, orderkeys)
            == workloads.build(workload, 7, orderkeys))


def _sql(script, kind):
    return [s.sql for s in script.statements() if s.kind == kind]


@pytest.mark.parametrize("workload", ["mv_refresh", "htap_mixed"])
def test_other_seed_moves_split_and_slices(workload, orderkeys):
    a = workloads.build(workload, 1, orderkeys)
    b = workloads.build(workload, 2, orderkeys)
    assert a.tables != b.tables  # base/pending split
    assert _sql(a, "dml") != _sql(b, "dml")  # slice order, delete keys
    assert sorted(a.tables) == sorted(b.tables)


def test_other_seed_moves_lookup_keys(orderkeys):
    a = workloads.build("htap_mixed", 1, orderkeys)
    b = workloads.build("htap_mixed", 2, orderkeys)
    assert set(_sql(a, "lookup")) != set(_sql(b, "lookup"))


def test_other_seed_moves_query_order(orderkeys):
    a = workloads.build("tpch_read", 1, orderkeys)
    b = workloads.build("tpch_read", 2, orderkeys)
    assert [s.key for s in a.statements()] != [s.key for s in b.statements()]
    assert _sql(a, "wide") != _sql(b, "wide")


def test_slices_are_the_held_back_blocks(orderkeys):
    s = workloads.build("mv_refresh", 3, orderkeys)
    inserted = [st.sql for st in s.cycles[0] if st.kind == "dml"
                and st.sql.startswith("INSERT")]
    assert len(inserted) == 2
    where = s.tables["pending_orders"][1]
    b = int(inserted[0].split("BETWEEN ")[1].split()[0]) // workloads.BLOCK
    assert f" {b}," in where or f"({b}," in where or f" {b})" in where


def test_unknown_workload_is_refused(orderkeys):
    with pytest.raises(ValueError, match="unknown workload"):
        workloads.build("nope", 1, orderkeys)
