"""SparkSession factory with scale-oriented defaults.

The reference engine's whole runtime (manager/worker scheduling, heartbeats,
fault tolerance — reference mapreduce/manager/__main__.py, worker/__main__.py)
collapses into ``SparkSession.builder.getOrCreate()`` here: Spark's
DAGScheduler, shuffle service, and task retry subsume it (SURVEY.md §2d).

Defaults are chosen for the 100 TB design point but harmless locally:
  - AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
  - Arrow on (vectorized pandas-UDF transfer for the Python-side operators)
  - shuffle partitions sized for the local harness; on a real cluster this is
    overridden by AQE's coalescing + `spark.sql.adaptive.advisoryPartitionSizeInBytes`
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "mapreduce-simulation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so the same entry point works in tests and in the driver harness. On a
    real cluster, leave ``master`` unset and submit via spark-submit.
    """
    # Optional-runtime fallbacks must land BEFORE the JVM starts: the
    # mini-protobuf shim (transformWithState state protocol) propagates to
    # Python workers via the JVM's inherited PYTHONPATH. No-op whenever
    # the real protobuf wheel is installed.
    from .vendor import ensure_protobuf

    ensure_protobuf()

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join handling, join re-plan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: vectorized transfer for pandas UDFs / applyInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast small dims (nation/region/supplier) automatically.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ANSI arithmetic: a long overflow raises ARITHMETIC_OVERFLOW instead
        # of wrapping — exact_money_sums' per-split long partials are exact
        # only under it (plans/relational.py). Spark 4's default, pinned so
        # a cluster default cannot turn it off.
        .config("spark.sql.ansi.enabled", "true")
        # Timestamps: keep parquet INT96/µs semantics stable across engines.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
