"""Literal rows as Arrow-backed LocalRelations (``session.local_frame``).

INSERT rows, UPDATE/DELETE keys, FETCH edge keys, the literal start vids of
GO/FETCH/FIND PATH/GET SUBGRAPH and the admin result frames are built by
``local_frame`` instead of ``createDataFrame(list, …)``. These tests pin
that the two agree on schema and values for every prop type INSERT can
store, and pin the plan and job shapes that follow on a parquet-backed
space: no ``LogicalRDD`` in the plan, a broadcast key side for writes, and
job budgets. Job counts do not depend on host load.
"""

from __future__ import annotations

import datetime
import itertools

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType, TimestampNTZType)

from nebula_spark.catalog import VID, GraphSpace
from nebula_spark.plans import execute
from nebula_spark.session import local_frame

_group_ids = itertools.count()

_DT = datetime.datetime(2021, 3, 4, 5, 6, 7, 891011)

# (case, rows, schema) in the shapes the executor hands over: INSERT's
# value tuples with inferred types (``_cast_like`` then casts them to the
# table's), key tuples, admin rows with a DDL string, and typed empties
_CASES = [
    ("bool", [(True,), (False,), (None,)], ["b"]),
    ("int8", [(127,), (-128,), (None,)], ["i"]),
    ("int16", [(32767,), (-32768,)], ["i"]),
    ("int32", [(2**31 - 1,), (-2**31,)], ["i"]),
    ("int32_typed", [(2**31 - 1,), (None,)],
     StructType([StructField("i", IntegerType())])),
    ("int64", [(2**63 - 1,), (-2**63,), (0,)], ["i"]),
    ("double", [(1.5,), (-0.0,), (float("inf"),), (None,)], ["d"]),
    ("string", [("a",), ("ünïcode 😀",), ("",), (None,)], ["s"]),
    ("fixed_string", [("abcde",), ("😀",)], ["s"]),
    ("date", [(datetime.date(2020, 2, 29),), (datetime.date(1, 1, 1),)],
     ["d"]),
    ("time", [("12:34:56.000000",), ("00:00:00.000001",)], ["t"]),
    ("datetime", [(_DT,), (datetime.datetime(1970, 1, 1),), (None,)],
     ["dt"]),
    ("datetime_ntz", [(_DT,), (None,)],
     StructType([StructField("dt", TimestampNTZType())])),
    ("timestamp", [(1_600_000_000,), (0,), (2**62,), (-1,)], ["ts"]),
    ("duration", [("P1MT2S",), ("P0MT-5S",)], ["du"]),
    ("geography", [("POINT(1 2)",), ("LINESTRING(0 0, 1 1)",)], ["g"]),
    ("all_null", [(None, None, None), (None, None, None)],
     "a string, b bigint, c date"),
    ("insert_row",
     [(7, "Tim", 42, 1.75, True, datetime.date(1976, 4, 25), _DT),
      (8, "Tony", None, 1.88, False, None, None)],
     ["_vid", "name", "age", "h", "ok", "born", "at"]),
    ("int64_vids", [(1,), (2**63 - 1,), (-7,)], [VID]),
    ("fixed_string_vids", [("p1",), ("é",)], [VID]),
    ("edge_keys", [("a", "b", 0), ("a", "b", 3)], ["_src", "_dst", "_rank"]),
    ("admin_ddl", [("idx", ["c1", "c2"]), ("idx2", [])],
     "`Index Name` string, Columns array<string>"),
    ("empty_struct", [],
     StructType([StructField(VID, LongType(), False),
                 StructField("name", StringType())])),
    ("empty_ddl", [], "Name string"),
]


@pytest.mark.parametrize("rows,schema", [c[1:] for c in _CASES],
                         ids=[c[0] for c in _CASES])
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    new = local_frame(spark, rows, schema)
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_local_frame_round_trips_collected_rows(spark):
    # _stats_reset rebuilds a collected frame: Row-valued rows with struct,
    # array, map, timestamp and date columns and non-nullable fields
    df = spark.range(3).select(
        F.col("id").alias(VID),
        F.struct(F.col("id").alias("x"),
                 F.concat(F.lit("s"), F.col("id").cast("string"))
                 .alias("y")).alias("st"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.timestamp_seconds(F.col("id") * 86_400).alias("ts"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"))
    rows = df.collect()
    new = local_frame(spark, rows, df.schema)
    old = spark.createDataFrame(rows, df.schema)
    assert new.schema == old.schema == df.schema
    assert new.collect() == old.collect() == rows


@pytest.fixture
def space(spark, tmp_path):
    """A parquet-backed space with int64 vids, like a committed store."""
    paths = {t: str(tmp_path / t) for t in ("customer", "placed")}
    spark.range(1, 301).select(
        F.col("id").alias("_vid"), F.col("id").alias("vid"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("c_name"),
        (F.col("id") % 25).alias("c_nationkey"),
        F.col("id").cast("double").alias("c_acctbal"),
    ).write.parquet(paths["customer"])
    spark.range(1, 3001).select(
        (F.col("id") % 300 + 1).alias("_src"), F.col("id").alias("_dst"),
        F.lit(0).cast("long").alias("_rank"),
        F.col("id").cast("double").alias("o_totalprice"),
    ).write.parquet(paths["placed"])
    sp = GraphSpace(spark, "literal_frames")
    sp.options = {"vid_type": "int64"}
    sp.create_tag("customer", path=paths["customer"])
    sp.create_edge("placed", path=paths["placed"])
    return sp


_INSERT_V = ('INSERT VERTEX customer(vid, c_name, c_nationkey, c_acctbal) '
             'VALUES 9001:(9001, "x", 1, 2.5), 9002:(9002, "y", 2, 3.5)')
_INSERT_E = ("INSERT EDGE placed(o_totalprice) "
             "VALUES 9001->90001:(1.5), 9002->90002:(2.5)")
_GO = ("GO FROM 9001, 5, 6 OVER placed "
       "YIELD src(edge) AS c, dst(edge) AS o, placed.o_totalprice AS price")
_DELETE = "DELETE VERTEX 9001, 9002 WITH EDGE"


def _jobs(spark, call) -> tuple[int, int]:
    """Spark jobs fired while *call* builds its frame, then by collecting
    it."""
    sc = spark.sparkContext
    group = f"test_literal_frames-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        df = call()
        built = len(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return built, len(sc.statusTracker().getJobIdsForGroup(group)) - built


def _scan_ancestors(df) -> list[list[str]]:
    """For each parquet scan in *df*'s physical plan (AQE's initial plan),
    the class names of the nodes above it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()

    def walk(node, above):
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            yield above
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i), above + [name])
    return list(walk(plan, []))


@pytest.fixture
def commits(monkeypatch):
    """Frames handed to ``commit_table``, still committed."""
    from nebula_spark.operators import mutate
    seen, commit = [], mutate.commit_table

    def spy(df, path):
        seen.append(df)
        commit(df, path)

    monkeypatch.setattr(mutate, "commit_table", spy)
    return seen


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_write_literals_are_local_relations(spark, space, commits):
    for stmt in (_INSERT_V, _INSERT_E, _DELETE):
        execute(space, stmt)
    # INSERT VERTEX, INSERT EDGE, then the tag and the edge table
    assert len(commits) == 4
    for df in commits:
        plan = _optimized(df)
        assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan


def test_insert_edge_anti_join_is_broadcast(spark, space, commits):
    execute(space, _INSERT_E)
    (new,) = commits
    paths = _scan_ancestors(new)
    assert len(paths) == 1, paths
    # the 2-row key side is broadcast; the 3000-row table is not shuffled
    assert "BroadcastHashJoinExec" in paths[0], paths
    assert "ShuffleExchangeExec" not in paths[0], paths


def test_go_literal_start_is_local_relation(spark, space):
    from nebula_spark.plans.executor import _vid_frame
    start = _vid_frame(space, [9001, 5, 6], None, None)
    size = start._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size < int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert "LogicalRDD" not in _optimized(execute(space, _GO))


def test_literal_statement_job_budget(spark, space):
    # measured on this space with 4 shuffle partitions under AQE. Writes
    # commit at build: one job broadcasts the statement's keys and one
    # writes each rewritten table. GO builds its frame without a job.
    built = {}
    for name, stmt in (("insert_vertex", _INSERT_V),
                       ("insert_edge", _INSERT_E), ("go", _GO),
                       ("delete_vertex", _DELETE)):
        built[name], action = _jobs(spark, lambda: execute(space, stmt))
        if name == "go":
            assert action <= 3, action
    budget = {"insert_vertex": 2, "insert_edge": 2, "go": 0,
              "delete_vertex": 4}
    assert all(built[n] <= budget[n] for n in budget), (built, budget)
