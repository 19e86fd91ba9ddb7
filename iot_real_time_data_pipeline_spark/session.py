"""SparkSession builders tuned for this engine.

Local testing runs on ``local[N]`` (single JVM), but every config choice
below is made for the 1000-executor / 100 TB target:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned shuffle counts.
- Arrow on: the few Pandas-UDF operators (multimodal decode) move data
  in columnar batches, not pickled rows.
- ``spark.sql.shuffle.partitions`` defaults to a small value locally but
  AQE coalescing makes the initial number mostly irrelevant; at cluster
  scale you'd set it ~2-3x total cores and let AQE coalesce down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_session(
    app_name: str = "iot-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures a Python stack trace per DataFrame/Column
        # API call for error context (~1 ms each); at this engine's
        # expression density that is ~1 s per pipeline construction.
        # Purely diagnostic — off for performance (read_table also sets
        # it for driver-owned sessions).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # 10 MB default is conservative; dims here are tiny and the
        # documents/embeddings side tables comfortably broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Filters over the layered validation projections trigger
        # exponential InferFiltersFromConstraints planning cost; the
        # rule buys nothing for this engine's plans (see PERF.md).
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_or_create(app_name: str = "iot-pipeline-spark") -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session(app_name)
