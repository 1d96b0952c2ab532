"""A wrong result, or an op that raised, is counted as a failed op."""

from __future__ import annotations

import duckdb

import datagen
import refs
from workloads import DmlMixed, GraphIterative, NgqlPoint


def _corrupt(rows: list[tuple]) -> list[tuple]:
    first = list(rows[0])
    first[-1] = first[-1] + 1 if not isinstance(first[-1], str) else "x"
    return [tuple(first)] + rows[1:]


def test_ngql_check_fails_a_corrupted_result(base, tmp_path):
    wl = NgqlPoint(base, 1, tmp_path, 2)
    con = datagen.duck(base)
    good = [(op, refs.ngql_twin(con, op)) for op in wl.rounds[0]]
    con.close()
    executed = good + [(op, _corrupt(res)) for op, res in good] \
        + [(good[0][0], None)]
    verdicts = wl.check(executed)
    n = len(good)
    assert verdicts[:n] == [True] * n
    assert verdicts[n:] == [False] * (n + 1)


def test_graph_check_fails_a_corrupted_result(base, tmp_path):
    wl = GraphIterative(base, 1, tmp_path, 2)
    wl.prepare()
    g = wl.graph
    good = {
        "pagerank": list(refs.pagerank_ref(g["partsupp"],
                                           datagen.PAGERANK_ITERS).items()),
        "bfs": sorted(refs.bfs_ref(g["chain"], g["heads"], datagen.BFS_HOPS)),
        "cc": list(refs.components_ref(g["partsupp"]).items()),
    }
    bad_rank = dict(good, pagerank=[(v, r + 1e-3)
                                    for v, r in good["pagerank"]])
    bad_bfs = dict(good, bfs=good["bfs"][1:])
    bad_cc = dict(good, cc=[(v, 0) for v, _ in good["cc"]])
    op = wl.rounds[0][0]
    assert wl.check([(op, good), (op, bad_rank), (op, bad_bfs),
                     (op, bad_cc), (op, None)]) == \
        [True, False, False, False, False]


def test_dml_check_fails_a_corrupted_read(base, tmp_path):
    wl = DmlMixed(base, 1, tmp_path, 2)
    wl.prepare()
    truth = refs.DmlMirror(duckdb.connect(), wl.paths["customer"],
                           wl.paths["placed"])
    reads = [op for op in wl.rounds[0] if op.kind == "read"]
    executed = [(op, truth.apply(op)) for op in reads]
    executed[0] = (reads[0], _corrupt(executed[0][1]))
    assert wl.check(executed) == [False, True, True]


def test_dml_check_fails_writes_the_tables_do_not_show(base, tmp_path):
    # the engine never ran, so the committed tables miss every write
    wl = DmlMixed(base, 1, tmp_path, 2)
    wl.prepare()
    rnd = wl.rounds[0]
    truth = refs.DmlMirror(duckdb.connect(), wl.paths["customer"],
                           wl.paths["placed"])
    executed = [(op, [] if op.kind == "write" else truth.apply(op))
                for op in rnd]
    for op in rnd:
        if op.kind == "write":
            truth.apply(op)
    verdicts = wl.check(executed)
    assert [v for v, op in zip(verdicts, rnd) if op.kind == "write"] == \
        [False] * 4
