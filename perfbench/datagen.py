"""Benchmark inputs.

The base tables are TPC-H at scale factor 0.1 from DuckDB's built-in
``dbgen``, projected onto the column set and types the engine's
``catalog.tpch_space`` reads. They do not depend on the seed and are cached
under ``perfbench/.work/``; every seeded choice (statement parameters, the
sampled subgraphs, chain heads, DML keys) is made here from ``--seed`` with
``random.Random``, so the same seed always gives the same op list.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

WORK = Path(__file__).resolve().parent / ".work"
BASE_SF = 0.1
BASE_DIR = WORK / f"tpch-sf{BASE_SF}"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

# dbgen → engine schema (the types the repo's sf0.1 fixtures carry)
_PROJECTIONS = {
    "region": "r_regionkey, r_name",
    "nation": "n_nationkey, n_name, n_regionkey",
    "customer": ("c_custkey, c_name, c_nationkey, "
                 "CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment"),
    "supplier": ("s_suppkey, s_name, s_nationkey, "
                 "CAST(s_acctbal AS DOUBLE) AS s_acctbal"),
    "part": ("p_partkey, p_name, p_brand, p_type, p_size, "
             "CAST(p_retailprice AS DOUBLE) AS p_retailprice"),
    "orders": ("o_orderkey, o_custkey, o_orderstatus, "
               "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
               "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, "
               "o_orderpriority"),
    "lineitem": ("l_orderkey, l_partkey, l_suppkey, "
                 "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
                 "CAST(l_quantity AS DOUBLE) AS l_quantity, "
                 "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
                 "CAST(l_discount AS DOUBLE) AS l_discount, "
                 "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, "
                 "l_linestatus, CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"),
}


def base_tables() -> Path:
    """Generate (once per checkout) and return the base table directory."""
    if (BASE_DIR / "_DONE").exists():
        return BASE_DIR
    tmp = WORK / f".tmp-base-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={BASE_SF})")
        for t in TABLES:
            con.execute(f"COPY (SELECT {_PROJECTIONS[t]} FROM {t} "
                        f"ORDER BY 1) TO '{tmp / (t + '.parquet')}' "
                        "(FORMAT PARQUET)")
    finally:
        con.close()
    (tmp / "_DONE").touch()
    try:
        tmp.rename(BASE_DIR)
    except OSError:             # a concurrent run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return BASE_DIR


def duck(base: Path) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per base table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{base / (t + '.parquet')}'")
    return con


@dataclass
class Op:
    """One closed-loop operation: its template, kind and parameters."""
    template: str
    kind: str                   # "read" or "write"
    text: str = ""
    params: dict | None = None
    args: dict = field(default_factory=dict)


# -- ngql_point ---------------------------------------------------------------

def ngql_round(rng: random.Random) -> list[Op]:
    """The seven front-end templates, each once, with fresh parameters."""
    cust = rng.sample(range(1, 15001), 3)
    nat = rng.randint(0, 24)
    ops = [
        Op("go_pipe", "read",
           "LOOKUP ON customer WHERE customer.vid % $mod == 0 "
           "YIELD customer.vid AS vid "
           "| GO FROM $-.vid OVER placed WHERE placed.o_totalprice > $minp "
           "YIELD src(edge) AS c_key, dst(edge) AS o_key, "
           "placed.o_totalprice AS o_totalprice",
           {"mod": rng.randint(40, 80), "minp": rng.randint(150, 250) * 1000}),
        Op("match_2hop", "read",
           "MATCH (c:customer)-[:placed]->(o:order)-[:contains]->(p:part) "
           f"WHERE c.customer.c_nationkey == {nat} "
           f"AND p.part.p_size > {rng.randint(35, 45)} "
           "RETURN p.part.p_brand AS brand, count(*) AS n ORDER BY brand"),
        Op("lookup", "read",
           f"LOOKUP ON part WHERE part.p_size == {rng.randint(1, 50)} "
           "YIELD id(vertex) AS k, part.p_type AS t"),
        Op("fetch_prop", "read",
           f"FETCH PROP ON customer {cust[0]}, {cust[1]}, {cust[2]} "
           "YIELD customer.vid AS k, customer.c_name AS name, "
           "customer.c_acctbal AS bal",
           args={"vids": cust}),
        Op("short_profile", "read",
           "MATCH (c:customer)-[:located_in]->(n:nation)"
           "-[:member_of]->(r:region) "
           f"WHERE c.customer.c_acctbal > {rng.randint(9800, 9900)}.0 "
           "RETURN c.customer.vid AS key, c.customer.c_name AS name, "
           "n.nation.n_name AS nation, r.region.r_name AS region "
           "ORDER BY key"),
        Op("shortest_path", "read",
           "MATCH p = shortestPath("
           "(s:supplier)-[:located_in|member_of*1..2]->(x)) "
           f"WHERE s.supplier.s_nationkey == {nat} "
           "RETURN s.supplier.vid AS s_key, id(x) AS end_vid, "
           "length(p) AS hops ORDER BY s_key, end_vid"),
        Op("var_assign", "read",
           f"$t = GO FROM {cust[0]}, {cust[1]}, {cust[2]} OVER located_in "
           "YIELD dst(edge) AS n; "
           "GO FROM $t.n OVER member_of YIELD DISTINCT dst(edge) AS r "
           "| ORDER BY $-.r",
           args={"vids": cust}),
    ]
    return ops


# -- graph_iterative ----------------------------------------------------------

GRAPH_SAMPLE = 16           # 1 in 16 customers / parts feeds the subgraphs
PAGERANK_ITERS = 5
BFS_HOPS = 3
BFS_HEADS = 50
SUPP_OFFSET = 10_000_000    # keeps supplier vids apart from part vids


def graph_inputs(base: Path, seed: int, out: Path) -> dict:
    """Write the seeded order-chain and part→supplier edge sets as parquet.

    Order chain: each sampled customer's orders linked by (date, key).
    Part→supplier: distinct (part, supplier) pairs of sampled parts' lines.
    """
    rng = random.Random(seed)
    con = duck(base)
    try:
        custs = [r[0] for r in con.execute(
            "SELECT DISTINCT o_custkey FROM orders ORDER BY 1").fetchall()]
        parts = [r[0] for r in con.execute(
            "SELECT p_partkey FROM part ORDER BY 1").fetchall()]
        con.execute("CREATE TABLE sc AS SELECT UNNEST(?) AS k",
                    [sorted(rng.sample(custs, len(custs) // GRAPH_SAMPLE))])
        con.execute("CREATE TABLE sp AS SELECT UNNEST(?) AS k",
                    [sorted(rng.sample(parts, len(parts) // GRAPH_SAMPLE))])
        con.execute("""
            CREATE TABLE chain AS SELECT _src, _dst, CAST(0 AS BIGINT) AS _rank
            FROM (SELECT o_orderkey AS _src, LEAD(o_orderkey) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                  AS _dst FROM orders JOIN sc ON o_custkey = sc.k)
            WHERE _dst IS NOT NULL ORDER BY _src""")
        con.execute(f"""
            CREATE TABLE partsupp AS
            SELECT DISTINCT l_partkey AS _src,
                   l_suppkey + {SUPP_OFFSET} AS _dst,
                   CAST(0 AS BIGINT) AS _rank
            FROM lineitem JOIN sp ON l_partkey = sp.k ORDER BY 1, 2""")
        heads = [r[0] for r in con.execute(
            "SELECT _src FROM chain WHERE _src NOT IN "
            "(SELECT _dst FROM chain) ORDER BY 1").fetchall()]
        heads = sorted(rng.sample(heads, min(BFS_HEADS, len(heads))))
        out.mkdir(parents=True, exist_ok=True)
        paths = {}
        for t in ("chain", "partsupp"):
            paths[t] = str(out / f"{t}.parquet")
            con.execute(f"COPY {t} TO '{paths[t]}' (FORMAT PARQUET)")
        chain = con.execute("SELECT _src, _dst FROM chain").fetchall()
        partsupp = con.execute("SELECT _src, _dst FROM partsupp").fetchall()
    finally:
        con.close()
    return {"paths": paths, "heads": heads, "chain": chain,
            "partsupp": partsupp}


# -- dml_mixed ----------------------------------------------------------------

DML_VID_BASE = 50_000_000   # inserted vids sit above every generated key


def dml_round(rng: random.Random, cycle: int) -> list[Op]:
    """One cycle: inserts, a piped update, reads that see them, a delete of
    everything the cycle inserted. Table sizes stay level across cycles."""
    new = [DML_VID_BASE + cycle * 10 + i for i in range(2)]
    old = rng.sample(range(1, 15001), 2)
    nat = [rng.randint(0, 24) for _ in range(2)]
    bal = [round(rng.uniform(-500, 9000), 2) for _ in range(2)]
    price = [round(rng.uniform(1000, 400000), 2) for _ in range(2)]
    okey = [DML_VID_BASE + cycle * 10 + 5 + i for i in range(2)]
    thr = rng.randint(9950, 9985)
    return [
        Op("insert_vertex", "write",
           "INSERT VERTEX customer(vid, c_name, c_nationkey, c_acctbal, "
           "c_mktsegment) VALUES "
           + ", ".join(f'{v}:({v}, "Customer#{v}", {n}, {b}, "BUILDING")'
                       for v, n, b in zip(new, nat, bal)),
           args={"vids": new, "nations": nat, "bals": bal}),
        Op("insert_edge", "write",
           "INSERT EDGE placed(o_totalprice) VALUES "
           + ", ".join(f"{v}->{o}:({p})" for v, o, p in zip(new, okey, price)),
           args={"edges": list(zip(new, okey, price))}),
        Op("go", "read",
           f"GO FROM {new[0]}, {old[0]}, {old[1]} OVER placed "
           "YIELD src(edge) AS c, dst(edge) AS o, "
           "placed.o_totalprice AS price",
           args={"vids": [new[0], *old]}),
        Op("lookup_update", "write",
           f"LOOKUP ON customer WHERE customer.c_acctbal > {thr}.0 "
           "YIELD id(vertex) AS k "
           "| UPDATE VERTEX ON customer $-.k SET c_acctbal = c_acctbal + 1.0",
           args={"threshold": float(thr)}),
        Op("lookup", "read",
           f"LOOKUP ON customer WHERE customer.c_nationkey == {nat[0]} "
           f"AND customer.c_acctbal > {thr - 400}.0 "
           "YIELD id(vertex) AS k, customer.c_acctbal AS bal",
           args={"nation": nat[0], "threshold": float(thr - 400)}),
        Op("match", "read",
           "MATCH (c:customer)-[e:placed]->() "
           f"WHERE id(c) IN [{new[1]}, {old[0]}] "
           "RETURN id(c) AS k, count(e) AS n, sum(e.o_totalprice) AS total",
           args={"vids": [new[1], old[0]]}),
        Op("delete_vertex", "write",
           f"DELETE VERTEX {new[0]}, {new[1]} WITH EDGE",
           args={"vids": new}),
    ]


def op_list(workload: str, seed: int, rounds: int) -> list[list[Op]]:
    """``rounds`` rounds of ops for a workload; round 0 is the warm-up."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "ngql_point":
        return [ngql_round(rng) for _ in range(rounds)]
    if workload == "dml_mixed":
        return [dml_round(rng, c) for c in range(rounds)]
    if workload == "graph_iterative":
        return [[Op("graph_round", "read")] for _ in range(rounds)]
    raise ValueError(f"unknown workload {workload!r}")
