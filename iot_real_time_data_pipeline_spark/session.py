"""The engine's one session builder and its one conf table.

Local testing runs on ``local[N]`` (single JVM), but every config choice
below is made for the 1000-executor / 100 TB target:

- ``ENGINE_CONF`` holds the runtime SQL confs that shape this engine's
  plans, each with its reason. ``build_session`` applies all of them;
  a session the caller built itself (the driver's) gets the four that
  reading and planning need through :func:`apply_read_confs`, which
  ``entrypoints.read_table`` calls.
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned shuffle counts.
  Cached (persisted) frames are coalesced too, so the streaming
  loader's lake, alerts and star sinks write one file per directory
  per small micro-batch.
- ``spark.sql.shuffle.partitions`` defaults to a small value locally but
  AQE coalescing makes the initial number mostly irrelevant; at cluster
  scale you'd set it ~2-3x total cores and let AQE coalesce down.
- ``spark.python.sql.dataFrameDebugging.enabled`` is a static conf: it
  can only be set here, before the session starts. Setting it at
  runtime raises ``CANNOT_MODIFY_STATIC_CONFIG``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Datetime-part extraction (dim_time) must agree with the DuckDB
    # oracle, which sees naive (UTC-equivalent) timestamps — pin the
    # session zone rather than trusting the host's default.
    "spark.sql.session.timeZone": "UTC",
    # 10 MB default is conservative; dims here are tiny and the
    # documents/embeddings side tables comfortably broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # The layered validation plan (~100 aliased boolean columns across
    # stacked projections) makes InferFiltersFromConstraints explode
    # combinatorially when a Filter sits above it — minutes of driver
    # CPU at plan time. Constraint propagation buys nothing for this
    # query surface (no inferred-IsNotNull join pruning opportunities),
    # so turn it off for the session (see PERF.md).
    "spark.sql.constraintPropagation.enabled": "false",
    # The driver's ``events.parquet`` stores ``ts`` as parquet
    # TIMESTAMP(NANOS), which Spark 4 rejects by default
    # (``PARQUET_TYPE_ILLEGAL``). Columns read as long-nanos are
    # converted back by the caller (see ``entrypoints.iot_raw_events``).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate turns every explode(f(x)) into a
    # size(f(x)) > 0 pre-filter; filter pushdown then re-INLINES the
    # full generator expression below the repartition — for the k-gram
    # pipelines that means the whole token-hash transform re-evaluated
    # once per chained element_at (8x for 8-grams) on the unsplit scan
    # task. Measured on docs_repeated_spans at sf0.1: 93 s with the
    # rule, 1.3-2.6 s without (and the same ratio would hold per-byte
    # on a cluster — the recomputation is in the row path, not a local
    # artifact). The inferred filter only skips empty arrays, which a
    # non-outer Generate drops anyway; excluding the rule is
    # semantics-free. Pinned by test_generate_infers_no_expensive_scan_filter.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # A cached frame gets the same AQE coalescing as an uncached one, so
    # a sink's file count no longer depends on whether its frame was
    # persisted: the streaming loader's persisted frames otherwise keep
    # every shuffle partition, and each task writes its own file into
    # every lake directory it touches. This is an internal Spark conf;
    # Spark warns that "queries may need an extra shuffle to read the
    # cached data". PLAN_AUDIT.md shows no registered query gains one.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}

# What a scan of the driver's tables and the plans over it need, on any
# session. Only these keys: a caller's own override of any other key
# (a test's broadcast threshold of -1) must survive a read.
_READ_CONF_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.optimizer.excludedRules",
)


def apply_read_confs(spark: SparkSession) -> None:
    """Set the read/plan subset of ``ENGINE_CONF`` on ``spark``.

    The driver owns its SparkSession, so ``build_session`` confs may not
    be present; these are runtime SQL confs, so set them on every read.
    """
    for key in _READ_CONF_KEYS:
        spark.conf.set(key, ENGINE_CONF[key])


def build_session(
    app_name: str = "iot-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Start (or return) the session with ``ENGINE_CONF`` and the static
    confs; ``extra_conf`` (JVM sizing, directories) is applied last."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32

    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # PySpark 4 captures a Python stack trace per DataFrame/Column
        # API call for error context (~1 ms each); at this engine's
        # expression density that is ~1 s per pipeline construction.
        # Purely diagnostic — off for performance.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
