"""The three workloads. Each binds its inputs to a Spark session, runs one
op through the engine's public layer functions, and checks the ops it ran.

``Tracer.span`` marks each call into a layer. With tracing off the spans
are no-ops and the extra traced-only calls (the separate ``parse`` and the
forced physical plan) are skipped, so the untraced run does exactly the
work a user of the engine would.
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb

import datagen
import refs
from datagen import Op
from tracer import Tracer


def materialize(df, tr: Tracer) -> list[tuple]:
    """Plan (traced runs only) and collect a DataFrame."""
    if tr.enabled:
        with tr.span("spark.catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("spark.exec.action"):
        return [tuple(r) for r in df.collect()]


def run_statement(space, op: Op, tr: Tracer) -> list[tuple]:
    """One nGQL/MATCH statement through ``plans.execute``. The traced form
    also times a separate ``plans.parse`` of the same text, which
    ``execute`` repeats internally; build time is the difference."""
    from nebula_spark.plans import execute, parse
    with tr.span(f"call.{op.template}"):
        if tr.enabled:
            with tr.span("plans.ngql.parse"):
                parse(op.text, op.params)
        with tr.span("plans.executor.build"):
            df = execute(space, op.text, op.params)
        return materialize(df, tr)


class Workload:
    name = ""
    warmup_rounds = 1

    def __init__(self, base: Path, seed: int, run_dir: Path, rounds: int):
        self.base, self.seed, self.run_dir = base, seed, run_dir
        self.rounds = datagen.op_list(self.name, seed, rounds)

    def prepare(self) -> None:
        """Generate seeded inputs (the benchmark's own work, not set-up)."""

    def bind(self, spark) -> None:
        raise NotImplementedError

    def run_op(self, op: Op, tr: Tracer):
        raise NotImplementedError

    def check(self, executed: list[tuple[Op, object]]) -> list[bool]:
        """One verdict per executed (op, result); a result of None means
        the op raised."""
        raise NotImplementedError

    @staticmethod
    def rows_returned(result) -> int:
        return len(result)


class NgqlPoint(Workload):
    """Seven nGQL/MATCH templates against the TPC-H graph space."""
    name = "ngql_point"

    def bind(self, spark) -> None:
        from nebula_spark.catalog import tpch_space
        self.space = tpch_space(spark, str(self.base))

    def run_op(self, op: Op, tr: Tracer):
        return run_statement(self.space, op, tr)

    def check(self, executed):
        con = datagen.duck(self.base)
        try:
            return [res is not None
                    and refs.canon(res) == refs.canon(refs.ngql_twin(con, op))
                    for op, res in executed]
        finally:
            con.close()


class GraphIterative(Workload):
    """PageRank (part→supplier graph) and BFS (order chains) called
    directly on the operators, then connected components of the
    part→supplier graph from the pipeline package."""
    name = "graph_iterative"
    # its op keeps speeding up over its first runs (on 4 cores ~16 s, then
    # 8, 7, 6.5 s), and more so when CPU steal slows the JIT compiler: one
    # warm-up op leaves the timed median on the steep part of that curve
    warmup_rounds = 2

    def prepare(self) -> None:
        self.graph = datagen.graph_inputs(self.base, self.seed,
                                          self.run_dir / "graph")

    def bind(self, spark) -> None:
        paths = self.graph["paths"]
        self.chain = spark.read.parquet(paths["chain"])
        self.partsupp = spark.read.parquet(paths["partsupp"])
        self.heads = spark.createDataFrame(
            [(h,) for h in self.graph["heads"]], "_vid long")

    def run_op(self, op: Op, tr: Tracer):
        from nebula_spark.operators.algo import pagerank
        from nebula_spark.operators.paths import bfs_shortest_paths
        from nebula_spark.pipeline import connected_components
        out = {}
        with tr.span("call.pagerank"):
            with tr.span("operators.build.pagerank"):
                df = pagerank(self.partsupp, iterations=datagen.PAGERANK_ITERS)
            out["pagerank"] = materialize(df, tr)
        with tr.span("call.bfs"):
            with tr.span("operators.build.bfs"):
                df = bfs_shortest_paths(self.chain, self.heads,
                                        max_hops=datagen.BFS_HOPS)
            out["bfs"] = materialize(df, tr)
        with tr.span("call.connected_components"):
            with tr.span("pipeline.build"):
                df = connected_components(self.partsupp, "_src", "_dst")
            out["cc"] = materialize(df, tr)
        return out

    def check(self, executed):
        return [res is not None
                and refs.graph_round_ok(res, self.graph,
                                        datagen.PAGERANK_ITERS,
                                        datagen.BFS_HOPS)
                for _, res in executed]

    @staticmethod
    def rows_returned(result) -> int:
        return sum(len(v) for v in result.values())


def dir_bytes(path: str) -> dict[str, int]:
    return {f.name: f.stat().st_size for f in os.scandir(path) if f.is_file()}


class DmlMixed(Workload):
    """Writes and reads through the front end on a space whose tables are
    parquet directories, so every mutation commits through
    ``operators.mutate.commit_table``."""
    name = "dml_mixed"
    TABLES = ("customer", "placed")

    def prepare(self) -> None:
        d = self.run_dir / "dml"
        self.paths = {t: str(d / t) for t in self.TABLES}
        con = datagen.duck(self.base)
        try:
            for t, sql in (
                    ("customer", "SELECT c_custkey AS _vid, c_custkey AS vid, "
                     "c_name, c_nationkey, c_acctbal, c_mktsegment "
                     "FROM customer"),
                    ("placed", "SELECT o_custkey AS _src, o_orderkey AS _dst, "
                     "CAST(0 AS BIGINT) AS _rank, o_totalprice FROM orders")):
                os.makedirs(self.paths[t])
                con.execute(f"COPY ({sql}) TO "
                            f"'{self.paths[t]}/part-0.parquet' (FORMAT PARQUET)")
        finally:
            con.close()
        self.mirror = refs.DmlMirror(duckdb.connect(), self.paths["customer"],
                                     self.paths["placed"])
        # per write op (in traced runs): table → (new bytes, table bytes)
        self.writes: dict[int, dict[str, tuple[int, int]]] = {}

    def bind(self, spark) -> None:
        from nebula_spark.catalog import GraphSpace
        sp = GraphSpace(spark, "dml")
        sp.options = {"vid_type": "int64"}
        sp.create_tag("customer", path=self.paths["customer"])
        sp.create_edge("placed", path=self.paths["placed"])
        self.space = sp

    def run_op(self, op: Op, tr: Tracer):
        if not (tr.enabled and op.kind == "write"):
            return run_statement(self.space, op, tr)
        before = {t: dir_bytes(p) for t, p in self.paths.items()}
        rows = run_statement(self.space, op, tr)
        written = {}
        for t, p in self.paths.items():
            after = dir_bytes(p)
            written[t] = (sum(n for f, n in after.items()
                              if before[t].get(f) != n),
                          sum(after.values()))
        self.writes[tr.op] = written
        return rows

    def check(self, executed):
        """Reads are compared with the mirror at their place in the
        sequence; writes must return no rows and leave the committed tables
        equal to the mirror's at the end."""
        verdicts, self.changed = [], []
        for op, res in executed:
            expect = self.mirror.apply(op)
            if op.kind == "write":
                # table → (rows changed, table rows after the statement)
                self.changed.append({t: (n, self.mirror.rows(t))
                                     for t, n in expect.items()})
                verdicts.append(res == [])
            else:
                self.changed.append(None)
                verdicts.append(res is not None
                                and refs.canon(res) == refs.canon(expect))
        con = duckdb.connect()
        try:
            same = all(refs.canon(refs.committed_table(con, t, p))
                       == refs.canon(self.mirror.table(t))
                       for t, p in self.paths.items())
        finally:
            con.close()
        if not same:
            verdicts = [v and op.kind != "write"
                        for v, (op, _) in zip(verdicts, executed)]
        return verdicts


WORKLOADS = {w.name: w for w in (NgqlPoint, GraphIterative, DmlMixed)}
