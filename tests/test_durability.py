"""Write-through DML durability for path-backed spaces (r9 verdict #2).

The reference persists EVERY mutation (AddVerticesProcessor.cpp — a
RocksDB write per statement); here a TagDef/EdgeDef with a parquet
``path`` commits each front-end mutation through ``commit_table``
(atomic tmp+swap) and re-reads the path, so a fresh catalog sees it.
df-backed spaces (tests/bench) keep the in-memory rebind.
"""

from __future__ import annotations

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans import execute


def _mk_tag(spark, path):
    spark.createDataFrame(
        [("p1", "Tim", 42), ("p2", "Tony", 36)],
        "_vid string, name string, age long"
    ).write.mode("overwrite").parquet(path)


def _mk_edge(spark, path):
    spark.createDataFrame(
        [("p1", "p2", 0, 95)],
        "_src string, _dst string, _rank long, likeness long"
    ).write.mode("overwrite").parquet(path)


def test_insert_is_durable_across_catalog_reopen(spark, tmp_path):
    tp = str(tmp_path / "player")
    _mk_tag(spark, tp)
    sp = GraphSpace(spark, "dur1")
    sp.create_tag("player", path=tp)
    execute(sp, 'INSERT VERTEX player(name, age) VALUES "p3":("Manu", 41)')
    # a FRESH space over the same path must see the mutation
    sp2 = GraphSpace(spark, "dur1_reopen")
    sp2.create_tag("player", path=tp)
    rows = {(r.n, r.a) for r in execute(
        sp2, "LOOKUP ON player WHERE player.age > 0 "
             "YIELD player.name AS n, player.age AS a").collect()}
    assert ("Manu", 41) in rows and len(rows) == 3


def test_update_delete_durable_and_edge_write_through(spark, tmp_path):
    tp, ep = str(tmp_path / "player"), str(tmp_path / "like")
    _mk_tag(spark, tp)
    _mk_edge(spark, ep)
    sp = GraphSpace(spark, "dur2")
    sp.create_tag("player", path=tp)
    sp.create_edge("like", path=ep)
    execute(sp, 'UPDATE VERTEX ON player "p1" SET age = 43')
    execute(sp, 'INSERT EDGE like(likeness) VALUES "p2"->"p1":(88)')
    execute(sp, 'DELETE VERTEX "p2"')        # vertex only, edges stay
    sp2 = GraphSpace(spark, "dur2_reopen")
    sp2.create_tag("player", path=tp)
    sp2.create_edge("like", path=ep)
    vids = {r.v for r in execute(
        sp2, "LOOKUP ON player WHERE player.age > 0 "
             "YIELD id(vertex) AS v").collect()}
    assert vids == {"p1"}
    ages = [r.a for r in execute(
        sp2, 'FETCH PROP ON player "p1" YIELD player.age AS a').collect()]
    assert ages == [43]
    likes = {(r.s, r.d) for r in execute(
        sp2, 'GO FROM "p1", "p2" OVER like '
             'YIELD src(edge) AS s, dst(edge) AS d').collect()}
    assert likes == {("p1", "p2"), ("p2", "p1")}


def test_df_backed_space_stays_in_memory(spark, tmp_path):
    """No parquet writes for df-backed tables — bench spaces unaffected."""
    sp = GraphSpace(spark, "dur3")
    sp.create_tag("player", df=spark.createDataFrame(
        [("p1", "Tim", 42)], "_vid string, name string, age long"))
    execute(sp, 'INSERT VERTEX player(name, age) VALUES "p9":("Z", 1)')
    assert sp.tags["player"].path is None
    assert sp.tag("player").count() == 2


def _jobs(spark, call) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("test_durability_schema", "read schema reuse")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup("test_durability_schema"))


def test_path_backed_reads_reuse_the_schema(spark, tmp_path):
    """The schema is inferred once, when the table is registered; building
    a read of an unchanged path starts no schema-inference job."""
    tp = str(tmp_path / "player")
    _mk_tag(spark, tp)
    sp = GraphSpace(spark, "dur4")
    sp.create_tag("player", path=tp)
    assert sp.tags["player"].schema == spark.read.parquet(tp).schema
    assert _jobs(spark, lambda: (sp.tag("player"), sp.tag("player"))) == 0


def test_committed_schema_is_the_parquet_read_schema(spark, tmp_path):
    """After a commit the def carries the committed frame's schema made
    nullable, which is what a fresh parquet read reports, nested types
    included."""
    from pyspark.sql import functions as F

    from nebula_spark.catalog import as_nullable
    from nebula_spark.operators.mutate import commit_table
    p = str(tmp_path / "nested")
    df = spark.range(2).select(
        F.col("id").alias("_vid"), F.array(F.lit("a")).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("x")).alias("st"))
    commit_table(df, p)
    assert not df.schema["_vid"].nullable
    assert as_nullable(df.schema) == spark.read.parquet(p).schema

    tp, ep = str(tmp_path / "player"), str(tmp_path / "like")
    _mk_tag(spark, tp)
    _mk_edge(spark, ep)
    sp = GraphSpace(spark, "dur5")
    sp.create_tag("player", path=tp)
    sp.create_edge("like", path=ep)
    execute(sp, 'INSERT VERTEX player(name, age) VALUES "p3":("Manu", 41)')
    execute(sp, 'INSERT EDGE like(likeness) VALUES "p2"->"p3":(70)')
    execute(sp, 'DELETE VERTEX "p1" WITH EDGE')
    assert sp.tags["player"].schema == spark.read.parquet(tp).schema
    assert sp.edges["like"].schema == spark.read.parquet(ep).schema
    assert {r._vid for r in sp.tag("player").collect()} == {"p2", "p3"}


def test_added_column_is_seen_after_the_schema_is_kept(spark, tmp_path):
    tp = str(tmp_path / "player")
    _mk_tag(spark, tp)
    sp = GraphSpace(spark, "dur6")
    sp.create_tag("player", path=tp)
    sp.tag("player")
    execute(sp, "ALTER TAG player ADD (height double)")
    execute(sp, 'INSERT VERTEX player(name, age, height) '
                'VALUES "p3":("Manu", 41, 1.98)')
    rows = {(r.n, r.h) for r in execute(
        sp, "LOOKUP ON player WHERE player.age > 0 "
            "YIELD player.name AS n, player.height AS h").collect()}
    assert rows == {("Tim", None), ("Tony", None), ("Manu", 1.98)}
