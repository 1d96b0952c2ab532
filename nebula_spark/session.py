"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes parallelism per operator
(``src/graph/service/GraphFlags.cpp:27-28`` — worker threads, operator
threads). Under Spark that knob surface collapses into a handful of session
configs; everything else (partial aggregation, pipelining, spill) is
automatic. Defaults below are chosen for the local[32]/128GiB test harness
but every one of them scales to a real cluster: AQE re-plans shuffles at
runtime, coalesces small partitions, and rewrites skewed joins — exactly the
machinery you want at 100 TB where static planning is always wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Arrow makes pandas_udf / mapInPandas / toPandas batch-transfer instead of
# pickling row-at-a-time; non-negotiable for the pipeline operators.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    # reference null-normalization semantics (SURVEY §1.1): engine errors
    # (div-by-zero, bad casts, overflow) fold to NULL like the reference's
    # typed-null Values, instead of raising as Spark 4's ANSI default does.
    # The strict_nulls() context flips this back on per-block.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # at sf0.1 (~600k lineitem) 32 shuffle partitions keeps each post-shuffle
    # partition comfortably in memory; on a real cluster AQE coalesces from
    # a deliberately-high initial number instead.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # the events table is written with TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read as long and convert (catalog.load_tables)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r11: PySpark's call-site origin capture for error enrichment wraps
    # EVERY DataFrame API call with ~4 extra py4j roundtrips plus a Python
    # stack walk (pyspark/errors/utils.py _with_origin). The nGQL front
    # end issues thousands of Column/DataFrame calls per statement, all
    # driver-side — disabling the debug origin measured 0.96 s → 0.35 s
    # on the MATCH-2hop build phase (2.8×) and is machine-size
    # independent (pure driver overhead). Cost: JVM errors lose the
    # "== DataFrame ==" Python call-site section; engine refusals carry
    # their own reference-style messages, so nothing user-facing changes.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # r12 (ADVICE r11, guide §3.1): SMJ→SHJ rewrites are left to AQE
    # ONLY. The r11 static preference flip
    # (preferSortMergeJoin=false) let the STATIC planner pick
    # shuffled-hash from size ESTIMATES — a misestimated or skewed
    # build side that doesn't fit executor memory is an OOM at scale,
    # and the flip's local win did not survive a quiet-box interleaved
    # A/B this round (static-SMJ 8.30 s vs static-SHJ 8.77 s over the 6
    # join-bearing lanes; per-lane mins within noise). The AQE rewrite
    # below uses REAL post-shuffle partition sizes with the same 64 MB
    # bound as the broadcast threshold, so every SHJ it plans is
    # runtime-size-verified — the sort-skipping win where it is safe,
    # sort-merge's graceful spill everywhere else.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024),
}


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Temporarily set runtime SQL confs around a block of *actions*.

    Spark reads SQL confs when a query compiles to a physical plan (action
    time), so this only affects jobs actually executed inside the block —
    lazily-returned frames materialized by the caller see the restored
    values. Used to disable whole-stage codegen around md5-heavy iterative
    operators: their per-superstep plans recompile generated code every
    iteration, where compile latency (~hundreds of ms per 64-expression
    hash tree) dwarfs the fusion win.
    """
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Python rows as a DataFrame over an Arrow-backed ``LocalRelation``.

    ``schema`` is a ``StructType``, a DDL string, or a list of column names
    whose types are inferred from the rows the way ``createDataFrame``
    infers them. ``createDataFrame(list, …)`` builds a ``LogicalRDD``: it
    starts a Python-worker job each time it runs, and Catalyst sizes it at
    ``Long.MaxValue`` bytes, so a join against it shuffles the other side.
    This frame is converted in-process by PySpark's own local-data
    converter (the one Spark Connect uses: Row/struct, array, map and
    timestamp values) and carries real size statistics, so a key set
    joined with a table is broadcast. Building it starts no job, and
    reading it starts no Python worker.
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    table = LocalDataToArrowConversion.convert(rows, schema, False) if rows \
        else to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


@contextmanager
def strict_nulls(spark: SparkSession):
    """Opt-in strict mode for the reference's typed-null error kinds
    (``src/common/datatypes/Value.h:37-46``).

    The reference distinguishes 8 null kinds; Spark has one ``null``. Our
    default mode normalizes every error kind to plain NULL (documented
    deviation, SURVEY §1.1). Under ``strict_nulls`` the error kinds that
    the reference *raises or surfaces* become Spark ANSI runtime errors —
    materialize results inside the context for it to apply:

    ========================  =====================================
    reference null kind       strict mode (Spark ANSI) behavior
    ========================  =====================================
    DIV_BY_ZERO (1/0, 2%0)    raises DIVIDE_BY_ZERO / REMAINDER…
    ERR_OVERFLOW (MAX*-2)     raises ARITHMETIC_OVERFLOW
    BAD_DATA ((INT)"abc")     raises CAST_INVALID_INPUT
    BAD_TYPE                  raises NUMERIC_VALUE_OUT_OF_RANGE /
                              cast errors where Spark types catch it
    OUT_OF_RANGE              raises (ANSI array index / sequence)
    __NULL__, UNKNOWN_PROP    stay NULL in both modes (reference
                              also folds these to printable NULL)
    NaN                       stays NaN (IEEE, both engines)
    ========================  =====================================

    The reference raises its errors at validation/plan time for constant
    expressions (``yield.feature:505`` "Divide by 0"); Spark folds
    constants in the optimizer, so the same queries raise at first action
    instead — same observable outcome for a caller that materializes.
    """
    with scoped_conf(spark, **{"spark.sql.ansi.enabled": "true"}):
        yield


def get_spark(app_name: str = "nebula_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session.

    Master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same code path serves tests, bench, and a real cluster (where
    ``spark.master`` is injected by the cluster manager and the local default
    is ignored because a session already exists).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
