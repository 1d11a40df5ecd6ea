"""SparkSession factory tuned for this engine.

Local defaults mirror the test/bench environment (local[32], 128 GiB);
the same settings scale to a real cluster: AQE handles skew/coalesce at
runtime, Arrow speeds pandas interchange, UTC session timezone keeps
timestamp semantics aligned with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "eland_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    At 100 TB the same flags matter: AQE re-plans shuffles at runtime
    (partition coalescing + skew-join splitting), broadcast threshold
    governs dim-table joins, and Arrow keeps any unavoidable Python
    boundary vectorized.

    PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is off by default
    here. With it on, every ``functions.*``, ``Column`` and
    ``DataFrame`` method pays about ten extra py4j commands to record
    its Python call site (``F.col`` 13 commands instead of 3), and for
    calls made through the engine the recorded frame is an
    ``eland_spark`` line, not the user's. Error classes are unchanged;
    errors only lose the "== DataFrame ==" call-site context. Re-enable
    it with
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    "true"}``; PySpark reads the setting once per process (on the first
    wrapped call with an active session) and caches it, so it must be
    set on the first session the process builds.

    Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``)
    holds 4096 classes here, not Spark's 100. One pass over every
    ``queries()`` entry generates about 3,100 distinct classes, and one
    curation round (spearman, train_classifier, dsir_select,
    label_propagation) about 190, so at 100 entries each round evicted
    every class before its next use and recompiled it with Janino (about
    14 ms a class on 4 cores). At 4096 a repeated query compiles
    nothing; the cost is metaspace, about 60 MB more with the whole
    engine's classes resident. ``plans.inspect.codegen_stats`` reads the
    JVM's compile counter. It is a static conf: Spark reads it once per
    JVM, when the code generator first starts, so a different bound
    (through ``extra_conf``) must also be set on the first session the
    process builds.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
