"""The generator is a pure function of the seed."""

from __future__ import annotations

from dataclasses import asdict

import pytest

import datagen


def _ops(workload: str, seed: int) -> list:
    return [[asdict(op) for op in rnd]
            for rnd in datagen.op_list(workload, seed, 20)]


@pytest.mark.parametrize("workload", ["ngql_point", "dml_mixed"])
def test_same_seed_same_ops_other_seed_other_ops(workload):
    assert _ops(workload, 7) == _ops(workload, 7)
    assert _ops(workload, 7) != _ops(workload, 8)


def test_rounds_hold_every_template_once():
    for rnd in datagen.op_list("ngql_point", 3, 5):
        assert sorted(op.template for op in rnd) == sorted(
            ["go_pipe", "match_2hop", "lookup", "fetch_prop",
             "short_profile", "shortest_path", "var_assign"])
    for rnd in datagen.op_list("dml_mixed", 3, 5):
        kinds = [op.kind for op in rnd]
        assert kinds.count("write") == 4 and kinds.count("read") == 3


def test_dml_cycles_insert_fresh_keys_and_delete_them():
    rounds = datagen.op_list("dml_mixed", 5, 30)
    seen = set()
    for rnd in rounds:
        ins = next(op for op in rnd if op.template == "insert_vertex")
        dele = next(op for op in rnd if op.template == "delete_vertex")
        assert ins.args["vids"] == dele.args["vids"]
        assert not seen & set(ins.args["vids"])
        seen |= set(ins.args["vids"])


def test_graph_inputs_follow_the_seed(base, tmp_path):
    a = datagen.graph_inputs(base, 1, tmp_path / "a")
    b = datagen.graph_inputs(base, 1, tmp_path / "b")
    c = datagen.graph_inputs(base, 2, tmp_path / "c")
    for k in ("chain", "partsupp", "heads"):
        assert a[k] == b[k]
        assert a[k] != c[k]
    assert len(a["heads"]) == datagen.BFS_HEADS
    assert (tmp_path / "a" / "chain.parquet").read_bytes() == \
        (tmp_path / "b" / "chain.parquet").read_bytes()


def test_base_tables_have_tpch_sf01_sizes(base):
    con = datagen.duck(base)
    try:
        n = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
             for t in ("customer", "orders", "part", "supplier")}
    finally:
        con.close()
    assert n == {"customer": 15000, "orders": 150000, "part": 20000,
                 "supplier": 1000}
