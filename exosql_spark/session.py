"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are what we would set cluster-side for the 100 TB target:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — replaces hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a knob.
- Arrow enabled so any pandas_udf / toPandas path is vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- The package's parent directory leads ``spark.executorEnv.PYTHONPATH``,
  so Python workers (data-source planners, read tasks, UDFs) can import
  ``exosql_spark`` whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Parquet TIMESTAMP(NANOS) (the driver's events table) is unreadable by
# Spark's parquet reader unless nanos are surfaced as long — we convert to
# micros in io.load_table. Session-scoped, safe to set at runtime.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "exosql_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    extra_conf = dict(extra_conf or {})
    caller_path = extra_conf.pop(EXECUTOR_PYTHONPATH, "")
    worker_path = os.pathsep.join(p for p in (_PACKAGE_PARENT, caller_path) if p)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config(NANOS_AS_LONG, "true")
        .config(EXECUTOR_PYTHONPATH, worker_path)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime-settable confs we rely on, on a session we didn't build
    (the driver hands ``entry``/``queries()`` its own session)."""
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
    except Exception:
        pass
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
