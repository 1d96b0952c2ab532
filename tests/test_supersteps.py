"""Job shape and session hygiene of the superstep operators that run inside
``operators.traverse.superstep_scope``: pagerank, bounded BFS
(``max_hops <= 3``) and connected components.

Job counts do not depend on host load, so they pin the shape the
operators' docstrings claim.
"""

import importlib
import itertools
from collections import defaultdict
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

_CC_ROWS = [(0, 5), (5, 9), (9, 2), (20, 21), (22, 21), (7, 7), (40, 41)] \
    + [(i, i + 1) for i in range(100, 140)]
_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1), (2, 3), (6, 7),
          (7, 8), (8, 9)]
_SEEDS = [1, 6, 42]

_CONF_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage",
              "spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.shuffle.partitions")

_group_ids = itertools.count()


@pytest.fixture(scope="module")
def graph(spark):
    edges = spark.createDataFrame([(s, d, 0) for s, d in _EDGES],
                                  "_src long, _dst long, _rank long")
    seeds = spark.createDataFrame([(v,) for v in _SEEDS], "_vid long")
    pairs = spark.createDataFrame(_CC_ROWS, "id_a long, id_b long")
    return edges, seeds, pairs


def _calls(graph):
    from nebula_spark.operators.algo import pagerank
    from nebula_spark.operators.paths import bfs_shortest_paths
    from nebula_spark.pipeline import connected_components
    edges, seeds, pairs = graph
    return {
        "pagerank": lambda: pagerank(edges, iterations=5),
        "bfs": lambda: bfs_shortest_paths(edges, seeds, max_hops=3),
        "cc": lambda: connected_components(pairs),
    }


def _jobs(spark, call) -> int:
    """Spark jobs one call fires, building and collecting its result."""
    sc = spark.sparkContext
    group = f"test_supersteps-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        call().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _cc_rounds(rows) -> int:
    """Label frames connected_components checkpoints on *rows*: the
    closed-neighborhood seed, then one per min-label + pointer-jump round
    up to the first round that changes no label."""
    nbrs = defaultdict(set)
    for a, b in rows:
        nbrs[a].add(b)
        nbrs[b].add(a)
    labels = {v: min(ns | {v}) for v, ns in nbrs.items()}
    rounds = 1
    while True:
        rounds += 1
        m = {v: min([labels[v]] + [labels[u] for u in nbrs[v]])
             for v in labels}
        jumped = {v: m[m[v]] for v in m}
        if jumped == labels:
            return rounds
        labels = jumped


def test_superstep_job_budget(spark, graph):
    # pagerank and BFS: the edge dedup's checkpoint_count (two jobs under
    # AQE), one eager checkpoint of every superstep inside the scope, and
    # the caller's collect. CC: the same dedup, one job per label frame,
    # and the collect.
    calls = _calls(graph)
    budget = {"pagerank": 4, "bfs": 4, "cc": _cc_rounds(_CC_ROWS) + 3}
    got = {name: _jobs(spark, call) for name, call in calls.items()}
    assert all(got[n] <= budget[n] for n in budget), (got, budget)


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_superstep_scope_restores_session_confs(spark, graph, aqe):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        before = {k: spark.conf.get(k, None) for k in _CONF_KEYS}
        for name, call in _calls(graph).items():
            call().collect()
            after = {k: spark.conf.get(k, None) for k in _CONF_KEYS}
            assert after == before, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_superstep_scope_width(spark, monkeypatch):
    # the module, not the package's re-exported traverse() function
    traverse = importlib.import_module("nebula_spark.operators.traverse")
    monkeypatch.setattr(traverse, "SUPERSTEP_ROWS_PER_TASK", 10)
    sess_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    with traverse.superstep_scope(spark, 10 * sess_p + 1) as p:
        # capped at the session width; AQE untouched above one partition
        assert p == sess_p
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    with traverse.superstep_scope(spark, 0) as p:
        assert p == 1
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold") == "-1"


def test_bfs_reads_seeds_once(spark, graph):
    # every level's visited anti-join reads the seeds; a Python-side seed
    # frame must still be evaluated once per row, not once per level
    from nebula_spark.operators.paths import bfs_shortest_paths
    edges = graph[0]
    acc = spark.sparkContext.accumulator(0)

    def seen(v):
        acc.add(1)
        return v

    seeds = (spark.createDataFrame([(v,) for v in _SEEDS], "v long")
             .select(F.udf(seen, "long")("v").alias("_vid")))
    got = {tuple(r) for r in
           bfs_shortest_paths(edges, seeds, max_hops=3).collect()}
    assert got == {(1, 2, 1), (1, 3, 2), (1, 4, 3), (6, 7, 1), (6, 8, 2),
                   (6, 9, 3)}
    assert acc.value == len(_SEEDS)


def test_bfs_scope_widens_with_seeds(spark, graph, monkeypatch):
    # a level holds (root, vid) pairs, so many seeds must widen the scope
    # even on a graph with few edges
    paths = importlib.import_module("nebula_spark.operators.paths")
    traverse = importlib.import_module("nebula_spark.operators.traverse")
    monkeypatch.setattr(traverse, "SUPERSTEP_ROWS_PER_TASK", 1000)
    scope, widths = paths.superstep_scope, []

    @contextmanager
    def spy(spark, n_rows):
        with scope(spark, n_rows) as p:
            widths.append(p)
            yield p

    monkeypatch.setattr(paths, "superstep_scope", spy)
    edges, seeds, _ = graph
    many = spark.range(1, 1001).select(F.col("id").alias("_vid"))
    for s in (seeds, many):
        paths.bfs_shortest_paths(edges, s, max_hops=3).collect()
    assert widths[0] == 1 and widths[1] > 1, widths
