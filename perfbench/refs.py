"""Reference answers the benchmark checks each op against, outside the timed
loop: DuckDB twins of the nGQL templates, a DuckDB mirror that replays every
DML statement, and plain-Python PageRank, BFS and union-find."""

from __future__ import annotations

from collections import defaultdict

from datagen import Op


def canon(rows, digits: int = 2) -> list[tuple]:
    """Order-free, float-rounded form of a result for equality checks."""
    def cell(v):
        return round(v, digits) if isinstance(v, float) else v
    return sorted((tuple(cell(v) for v in r) for r in rows),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


# -- ngql_point twins ---------------------------------------------------------

def _ids(vals) -> str:
    return ", ".join(str(int(v)) for v in vals)


def _shortest_path_sql(text: str) -> str:
    nat = int(text.split("s_nationkey == ")[1].split()[0])
    return f"""
        WITH starts(v) AS (SELECT s_suppkey FROM supplier
                           WHERE s_nationkey = {nat}),
        out1 AS (
          SELECT v, c_nationkey AS w FROM starts JOIN customer ON c_custkey = v
          UNION SELECT v, n_regionkey FROM starts JOIN nation ON n_nationkey = v),
        out2 AS (
          SELECT o.v, c_nationkey AS w FROM out1 o
            JOIN customer ON c_custkey = o.w
          UNION SELECT o.v, n_regionkey FROM out1 o
            JOIN nation ON n_nationkey = o.w),
        paths AS (SELECT v, w, 1 AS hops FROM out1
                  UNION ALL SELECT v, w, 2 FROM out2)
        SELECT v, w, MIN(hops) FROM paths GROUP BY v, w"""


def ngql_twin(con, op: Op) -> list[tuple]:
    """The DuckDB answer to one ngql_point statement."""
    t, p, a = op.template, op.params, op.args
    num = lambda key: op.text.split(key)[1].split()[0]  # noqa: E731
    if t == "go_pipe":
        sql = (f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
               f"WHERE o_custkey % {p['mod']} = 0 "
               f"AND o_totalprice > {p['minp']}")
    elif t == "match_2hop":
        sql = (f"SELECT p_brand, COUNT(*) FROM customer "
               "JOIN orders ON o_custkey = c_custkey "
               "JOIN lineitem ON l_orderkey = o_orderkey "
               "JOIN part ON p_partkey = l_partkey "
               f"WHERE c_nationkey = {num('c_nationkey == ')} "
               f"AND p_size > {num('p_size > ')} GROUP BY p_brand")
    elif t == "lookup":
        sql = (f"SELECT p_partkey, p_type FROM part "
               f"WHERE p_size = {num('p_size == ')}")
    elif t == "fetch_prop":
        sql = (f"SELECT c_custkey, c_name, c_acctbal FROM customer "
               f"WHERE c_custkey IN ({_ids(a['vids'])})")
    elif t == "short_profile":
        sql = (f"SELECT c_custkey, c_name, n_name, r_name FROM customer "
               "JOIN nation ON n_nationkey = c_nationkey "
               "JOIN region ON r_regionkey = n_regionkey "
               f"WHERE c_acctbal > {num('c_acctbal > ')}")
    elif t == "shortest_path":
        sql = _shortest_path_sql(op.text)
    elif t == "var_assign":
        sql = (f"SELECT DISTINCT n_regionkey FROM customer "
               "JOIN nation ON n_nationkey = c_nationkey "
               f"WHERE c_custkey IN ({_ids(a['vids'])})")
    else:
        raise ValueError(f"no twin for template {t!r}")
    return con.execute(sql).fetchall()


# -- dml_mixed mirror ---------------------------------------------------------

class DmlMirror:
    """Replays each dml_mixed statement on DuckDB copies of the space's
    tables; ``apply`` returns the expected read result, or for a write the
    number of rows it changed per table."""

    def __init__(self, con, customer_path: str, placed_path: str):
        self.con = con
        con.execute("CREATE TABLE customer AS SELECT * FROM "
                    f"read_parquet('{customer_path}/*.parquet')")
        con.execute("CREATE TABLE placed AS SELECT * FROM "
                    f"read_parquet('{placed_path}/*.parquet')")

    def _n(self, sql: str) -> int:
        return self.con.execute(sql).fetchone()[0]

    def apply(self, op: Op):
        c, a, t = self.con, op.args, op.template
        if t == "insert_vertex":
            for v, n, b in zip(a["vids"], a["nations"], a["bals"]):
                c.execute("INSERT INTO customer BY NAME SELECT "
                          "? AS _vid, ? AS vid, ? AS c_name, "
                          "? AS c_nationkey, ? AS c_acctbal, "
                          "'BUILDING' AS c_mktsegment",
                          [v, v, f"Customer#{v}", n, b])
            return {"customer": len(a["vids"])}
        if t == "insert_edge":
            for s, d, pr in a["edges"]:
                c.execute("INSERT INTO placed BY NAME SELECT ? AS _src, "
                          "? AS _dst, 0 AS _rank, ? AS o_totalprice",
                          [s, d, pr])
            return {"placed": len(a["edges"])}
        if t == "lookup_update":
            thr = a["threshold"]
            n = self._n(f"SELECT COUNT(*) FROM customer WHERE c_acctbal > {thr}")
            c.execute("UPDATE customer SET c_acctbal = c_acctbal + 1.0 "
                      f"WHERE c_acctbal > {thr}")
            return {"customer": n}
        if t == "delete_vertex":
            ids = _ids(a["vids"])
            nv = self._n(f"SELECT COUNT(*) FROM customer WHERE _vid IN ({ids})")
            ne = self._n(f"SELECT COUNT(*) FROM placed WHERE _src IN ({ids}) "
                         f"OR _dst IN ({ids})")
            c.execute(f"DELETE FROM customer WHERE _vid IN ({ids})")
            c.execute(f"DELETE FROM placed WHERE _src IN ({ids}) "
                      f"OR _dst IN ({ids})")
            return {"customer": nv, "placed": ne}
        if t == "go":
            return c.execute("SELECT _src, _dst, o_totalprice FROM placed "
                             f"WHERE _src IN ({_ids(a['vids'])})").fetchall()
        if t == "lookup":
            return c.execute("SELECT _vid, c_acctbal FROM customer "
                             f"WHERE c_nationkey = {a['nation']} "
                             f"AND c_acctbal > {a['threshold']}").fetchall()
        if t == "match":
            return c.execute("SELECT _src, COUNT(*), SUM(o_totalprice) "
                             f"FROM placed WHERE _src IN ({_ids(a['vids'])}) "
                             "AND _src IN (SELECT _vid FROM customer) "
                             "GROUP BY _src").fetchall()
        raise ValueError(f"no mirror for template {t!r}")

    def rows(self, table: str) -> int:
        return self._n(f"SELECT COUNT(*) FROM {table}")

    def table(self, table: str) -> list[tuple]:
        return self.con.execute(
            f"SELECT {_DML_COLS[table]} FROM {table}").fetchall()


_DML_COLS = {"customer": "_vid, c_name, c_nationkey, c_acctbal",
             "placed": "_src, _dst, _rank, o_totalprice"}


def committed_table(con, table: str, path: str) -> list[tuple]:
    """What the engine committed to disk for a dml_mixed table."""
    return con.execute(f"SELECT {_DML_COLS[table]} FROM "
                       f"read_parquet('{path}/*.parquet')").fetchall()


# -- graph_iterative references -----------------------------------------------

def pagerank_ref(edges, iterations: int, d: float = 0.85) -> dict:
    """rank' = (1-d) + d * Σ_in rank/outdeg over distinct edges; every
    vertex starts at 1.0 and dangling vertices keep only the base term."""
    e = sorted(set(edges))
    out = defaultdict(int)
    nodes = set()
    for s, t in e:
        out[s] += 1
        nodes.update((s, t))
    rank = dict.fromkeys(nodes, 1.0)
    for _ in range(iterations):
        acc = defaultdict(float)
        for s, t in e:
            acc[t] += rank[s] / out[s]
        rank = {v: (1.0 - d) + d * acc.get(v, 0.0) for v in nodes}
    return rank


def bfs_ref(edges, heads, max_hops: int) -> set[tuple]:
    """(root, vertex, hops) for every vertex first reached within
    ``max_hops`` directed hops of a root; roots themselves are excluded."""
    adj = defaultdict(set)
    for s, t in edges:
        adj[s].add(t)
    out = set()
    for root in heads:
        seen, frontier = {root}, {root}
        for level in range(1, max_hops + 1):
            frontier = {t for v in frontier for t in adj[v]} - seen
            if not frontier:
                break
            seen |= frontier
            out.update((root, v, level) for v in frontier)
    return out


def components_ref(edges) -> dict:
    """Union-find over undirected edges: vertex → smallest vertex of its
    component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def graph_round_ok(result: dict, graph: dict, iterations: int,
                   max_hops: int) -> bool:
    """Check one graph_iterative op's three results against the references."""
    pr = pagerank_ref(graph["partsupp"], iterations)
    got = dict(result["pagerank"])
    if got.keys() != pr.keys() or any(
            abs(got[v] - pr[v]) > 1e-9 * max(1.0, abs(pr[v])) for v in pr):
        return False
    if set(result["bfs"]) != bfs_ref(graph["chain"], graph["heads"], max_hops):
        return False
    return dict(result["cc"]) == components_ref(graph["partsupp"])
