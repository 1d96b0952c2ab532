"""Spark jobs and stage metrics are charged to the span that caused them."""

from __future__ import annotations

from tracer import Tracer


def _by_layer(tr: Tracer) -> dict:
    tr.collect()
    return {s.layer: s for s in tr.op_spans(tr.op)}


def test_an_action_is_one_job_on_its_span(spark):
    tr = Tracer(spark, True)
    tr.start_op()
    with tr.span("spark.exec.action"):
        spark.range(10).collect()
    s = _by_layer(tr)["spark.exec.action"]
    assert (s.jobs, s.stages) == (1, 1)
    assert s.tasks >= 1


def test_a_count_while_building_is_charged_to_build(spark):
    tr = Tracer(spark, True)
    tr.start_op()
    with tr.span("call"):
        with tr.span("operators.build"):
            df = spark.range(1000).repartition(3)
            df.count()                      # an eager job during build
            df = df.filter("id % 2 = 0")
        with tr.span("spark.exec.action"):
            rows = df.collect()
    spans = _by_layer(tr)
    build, action = spans["operators.build"], spans["spark.exec.action"]
    assert len(rows) == 500
    assert build.jobs >= 1 and action.jobs >= 1
    assert spans["call"].jobs == 0
    assert build.parent == action.parent == spans["call"].group


def test_stage_metrics_land_on_the_span_that_caused_them(spark):
    tr = Tracer(spark, True)
    tr.start_op()
    with tr.span("spark.exec.action"):
        spark.range(20000).selectExpr("id % 7 AS k").groupBy("k") \
            .count().collect()
    with tr.span("plans.ngql.parse"):
        pass                                # no Spark work at all
    spans = _by_layer(tr)
    act, idle = spans["spark.exec.action"], spans["plans.ngql.parse"]
    assert act.stats["shuffle_write_bytes"] > 0
    assert act.stats["shuffle_read_bytes"] > 0
    assert act.stats["rows_read"] == 0 or act.stats["rows_read"] >= 20000
    assert (idle.jobs, idle.stages, idle.tasks) == (0, 0, 0)
    assert idle.stats["shuffle_write_bytes"] == 0


def test_untraced_spans_record_nothing(spark):
    tr = Tracer(spark, False)
    tr.start_op()
    with tr.span("spark.exec.action"):
        spark.range(10).collect()
    tr.collect()
    assert tr.spans == []
