"""SparkSession factory tuned for this engine.

Defaults follow the scale guidance: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow transfer for any Python exchange,
UTC session time so timestamp semantics are deterministic across engines.
On a real cluster only ``master`` / memory knobs change; everything else is
scale-neutral.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "hudi-rs-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Python DataSource connector (sources/pyds.py): let pushFilters
        # receive filters for partition/stats pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame of driver-built ``rows`` (tuples, possibly none) under
    ``schema`` (DDL or ``StructType``): the package's one way to turn
    driver values into a frame. The rows reach the JVM as Arrow, so no
    Python worker runs to un-pickle them, and the relation is re-wrapped
    as a ``LogicalRDD`` so it keeps Spark's unknown RDD size (a bare
    ``LocalRelation`` reports its few bytes, so a frame derived from it,
    such as a ``HudiTable.read``, would look small enough to broadcast).
    Partitions: ``min(len(rows), defaultParallelism)``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    target, rows = to_arrow_schema(schema), list(rows)
    cols = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(target)]
    local = spark.createDataFrame(pa.Table.from_arrays(cols, schema=target), schema)
    jdf = spark._jsparkSession.createDataFrame(local._jdf.rdd(), local._jdf.schema())
    return DataFrame(jdf, spark)


def _set_if_default(spark: SparkSession, key: str, default: str, value: str) -> None:
    """Set ``key`` to ``value`` only while it still holds Spark's
    built-in ``default`` — a deliberate user setting (e.g. threshold -1
    to avoid broadcast OOM) is never clobbered."""
    try:
        current = spark.conf.get(key, default)
    except Exception:
        current = default
    if str(current) == default:
        spark.conf.set(key, value)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver hands us its own SparkSession; static confs (memory, master)
    cannot change, but SQL confs can, and deterministic timestamps matter
    for oracle comparison.

    Overriding policy: correctness confs (UTC timestamps, AQE, Arrow
    transfer, connector filter pushdown) are set unconditionally — the
    oracle contract needs them. The two PERFORMANCE confs
    (``spark.sql.shuffle.partitions``,
    ``spark.sql.autoBroadcastJoinThreshold``) are set ONLY when still at
    Spark's built-in defaults (200 / 10 MB): a session whose owner
    deliberately tuned them keeps its settings.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # shuffle parallelism derived from the session's core count (NOT a
    # constant): an externally created session otherwise runs Spark's
    # default 200 reduce partitions regardless of cores — at bench scale
    # that is ~6x task overhead per exchange, on a cluster it underuses
    # it. AQE coalescing still right-sizes per stage; this sets the
    # pre-AQE ceiling proportional to the machine. Matches get_spark.
    _set_if_default(
        spark, "spark.sql.shuffle.partitions", "200",
        str(max(8, spark.sparkContext.defaultParallelism)),
    )
    # same broadcast ceiling as get_spark: without it an external
    # session plans the SAME query differently (10 MB default demotes
    # mid-size dimension broadcasts to shuffle joins) — the explicit
    # F.broadcast hints on known-small dims are unaffected either way.
    # Memory bound: a broadcast relation is held once per executor (and
    # built on the driver), so 64 MB requires ~hundreds of MB of heap
    # headroom — measured safe in a 2 GiB driver (tests/test_session.py
    # broadcast probe); deployments tighter than that should set the
    # threshold themselves (it is then respected, see above).
    _set_if_default(
        spark, "spark.sql.autoBroadcastJoinThreshold", "10485760b",
        str(64 * 1024 * 1024),
    )
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static in some deployments; connector degrades to no pushdown
    return spark
