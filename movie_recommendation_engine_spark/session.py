"""SparkSession factory with scale-first defaults.

The reference relies on whatever the NYU Peel cluster's spark-submit
provided (reference shell_setup.sh:1-7).  Here every knob that matters at
100 TB is set explicitly and is overridable via env or kwargs:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast) — SURVEY §4.2.
- shuffle partitions sized from the env (local test: #cores; cluster:
  2-3x total executor cores).
- Arrow enabled so any unavoidable pandas UDF is batch-transferred.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus_from_env() -> int:
    """``SPARK_GRAFT_CPUS`` as a positive core count (default 32).  A
    malformed value fails naming the variable, at import, instead of
    as a bare ``int()`` error."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be an integer core count (e.g. 8), got {raw!r}"
        ) from None
    if cpus <= 0:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be > 0, got {raw!r} — unset it to use "
            "the default of 32"
        )
    return cpus


DEFAULT_SHUFFLE_PARTITIONS = _cpus_from_env()


def get_spark(
    app_name: str = "movie-recommendation-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode: driver JVM hosts the executors; the 1g default OOMs
        # on sf0.1 joins (only effective when this call creates the JVM)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
