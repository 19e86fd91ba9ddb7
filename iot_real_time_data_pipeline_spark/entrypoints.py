"""Driver-facing query surface: derive an IoT event stream from the
driver's ``events`` table, run the REAL pipeline operators over it, and
expose the star schema + dashboard queries.

The driver's testdata has no IoT-domain tables, so we map
``events(event_id, ts, user_id, event_type, value, props)`` onto the
reference's raw-event shape with a *deterministic, SQL-expressible*
derivation (``oracle_iot.py`` emits the same derivation as DuckDB SQL,
giving an independent second implementation for the correctness gate):

- ``loc_id``: ``user_id % 3`` -> loc_1/2/3, with unknown / missing
  loc_id injected on ``event_id % 19 / % 23`` rows (exercises V1);
- 7 sensor channels: arithmetic spreads of ``value`` tuned so each
  channel crosses its valid range, the ±10% warning buffer, and the
  sentinel set (V4-V7); nitrogen goes NULL on ``% 41`` rows,
  humidity gets the 9999 sentinel on ``% 37`` rows;
- ``sensor_data`` empty on ``% 29`` rows (V3), ``weather_data``
  absent on ``% 31`` rows (V2);
- weather temperature drifts up to ±22 from the sensor reading so the
  cross-check warning (V8) fires on a stable subset.

No rounding anywhere: both engines do the same IEEE-double arithmetic,
so values are bit-identical and the unusual double-equality dim joins
(J2/J3) behave exactly as in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# PySpark 4 captures a Python stack trace on EVERY DataFrame/Column API
# call for error-message context (~1 ms each; errors/utils._with_origin).
# At this engine's expression density that is ~1 s of driver time per
# pipeline construction (r12 cProfile: 937 captures = 0.92 s in one
# iot_staging build). The gate (`spark.python.sql.dataFrameDebugging
# .enabled`) is a STATIC conf resolved once per process and cached in
# pyspark.errors.utils._enable_debugging_cache, so a driver-owned plain
# session cannot turn it off after the fact — pre-seed the cache at
# engine import. Purely diagnostic (error call-site decoration only);
# sessions built by session.build_session also set the conf properly.
# Guard (ADVICE r12): only poke when the attribute exists AND is still
# unresolved (None) — a PySpark that renamed or already resolved it is
# left alone.
try:  # tolerate future PySpark versions removing the cache attribute
    from pyspark.errors import utils as _pyspark_err_utils

    if getattr(_pyspark_err_utils, "_enable_debugging_cache", "absent") is None:
        _pyspark_err_utils._enable_debugging_cache = False
except Exception:  # pragma: no cover
    pass

from .operators.pipeline import assemble_events, process_events, to_staging
from .operators.star_schema import build_star
from .schemas import RAW_JSON_COL, SENSOR_NAMES, WEATHER_FIELDS
from .session import apply_read_confs

# (sensor -> (scale, offset, span)): val = offset + (value * scale) % span
SENSOR_DERIVATION = {
    "temperature": (1.13, 8.0, 50.0),
    "humidity": (1.41, 20.0, 75.0),
    "water_level": (0.017, 0.1, 3.2),
    "nitrogen": (1.7, 55.0, 105.0),
    "phosphorus": (2.3, 22.0, 65.0),
    "potassium": (2.9, 22.0, 65.0),
    "ph": (0.71, 5.4, 3.4),
}

MOD_UNKNOWN_LOC = 19
MOD_MISSING_LOC = 23
MOD_EMPTY_SENSORS = 29
MOD_MISSING_WEATHER = 31
MOD_HUMIDITY_SENTINEL = 37
MOD_NITROGEN_NULL = 41


# Plan memo for read_table: (sf_dir, name) -> (session, DataFrame).
#
# Every registered query calls read_table at construction, and each call
# costs ~160-190 ms of driver time (r12 measurement, warm session):
# ~94 ms for spark.read.parquet (file listing + footer schema read),
# ~7 ms for the partition-count probe, plus py4j/wrapper overhead.
# Across a full bench pass (~220 line items x 3 repeats, most touching
# 1-3 tables) that is minutes of pure plan-construction time. The memo
# returns the SAME immutable logical plan object for repeat calls in
# the same session — no data is cached (every action still scans the
# parquet), and Spark's CacheManager already treats equal plans as one,
# so downstream persist/cache behavior is unchanged. Invalidation: the
# entry is dropped whenever a different SparkSession arrives (compared
# by identity), so tests that cycle sessions rebuild cleanly.
#
# Static-input assumption (ADVICE r12): the memo freezes the parquet
# file listing at first call per (sf_dir, name, session). That is
# correct here because sf_dir tables are immutable inputs (maintenance
# ops write to their own lake dirs, never into sf_dir); a deployment
# with mutable table dirs must drop the memo or key it by snapshot.
# Dead-session hygiene: entries whose session has been stopped are
# swept on every miss, so cycling sessions does not retain py4j refs
# to dead DataFrames (bounded anyway — one entry per table name).
_READ_TABLE_MEMO: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def _sweep_dead_sessions() -> None:
    dead = []
    for key, (sess, _) in _READ_TABLE_MEMO.items():
        try:
            stopped = sess._sc._jsc is None
        except Exception:  # pragma: no cover - defensive
            stopped = True
        if stopped:
            dead.append(key)
    for key in dead:
        del _READ_TABLE_MEMO[key]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver table, memoized per session.

    The driver owns the SparkSession, so ``session.build_session`` confs
    may not be present: ``apply_read_confs`` sets the runtime confs the
    scan and the plans over it need (nanos timestamps read as long,
    UTC, no constraint propagation, no InferFiltersFromGenerate) and
    no other. Columns read as long-nanos are converted back by the
    caller (see ``iot_raw_events``).
    """
    memo = _READ_TABLE_MEMO.get((sf_dir, name))
    if memo is not None and memo[0] is spark:
        return memo[1]
    _sweep_dead_sessions()
    apply_read_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Parquet splits at row-group granularity; the driver's test files
    # are single-row-group, so without this the scan yields ONE
    # partition and every narrow stage above it (validation, minhash,
    # cosine math) runs single-threaded. Repartition up to the cluster
    # width — a few-MB shuffle locally. At production scale the scan
    # already yields >= parallelism splits and this is a no-op (never a
    # coalesce: guarded, so a 100 TB scan keeps its thousands of splits).
    # The no-op branch matters beyond partitioning: an injected
    # repartition above the scan BLOCKS Spark's runtime row-level bloom
    # filter (InjectRuntimeFilter matches filters directly over the
    # scan subtree — measured: might_contain() appears on a bare scan,
    # disappears behind this repartition). At production split counts
    # the branch doesn't fire and shuffle joins keep their runtime
    # filters; pinned by test_runtime_bloom_filter_injects_on_bare_scans.
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    _READ_TABLE_MEMO[(sf_dir, name)] = (spark, df)
    return df


def _nanos_to_ts(df: DataFrame, col: str) -> DataFrame:
    """long nanos -> timestamp (lossless: integer ``div``, no doubles).

    DuckDB truncates TIMESTAMP(NANOS) to microseconds the same way, so
    the two engines see bit-identical timestamps.
    """
    if isinstance(df.schema[col].dataType, T.LongType):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def _sensor_value(sensor: str) -> F.Column:
    scale, offset, span = SENSOR_DERIVATION[sensor]
    return F.lit(offset) + (F.col("value") * F.lit(scale)) % F.lit(span)


def iot_raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table -> parsed-raw-event shape (sources.events contract)."""
    ev = _nanos_to_ts(read_table(spark, sf_dir, "events"), "ts")
    mod = lambda m: (F.col("event_id") % m) == 0  # noqa: E731

    loc_id = (
        F.when(mod(MOD_MISSING_LOC), F.lit(None).cast("string"))
        .when(mod(MOD_UNKNOWN_LOC), F.lit("loc_9"))
        .otherwise(F.concat(F.lit("loc_"), ((F.col("user_id") % 3) + 1).cast("string")))
    )
    sensor_entries = []
    for s in SENSOR_NAMES:
        val = _sensor_value(s)
        if s == "humidity":
            str_val = F.when(mod(MOD_HUMIDITY_SENTINEL), F.lit("9999")).otherwise(
                val.cast("string")
            )
        elif s == "nitrogen":
            str_val = F.when(mod(MOD_NITROGEN_NULL), F.lit(None).cast("string")).otherwise(
                val.cast("string")
            )
        else:
            str_val = val.cast("string")
        sensor_entries.extend([F.lit(s), str_val])

    sensor_map = F.when(mod(MOD_EMPTY_SENSORS), F.create_map().cast("map<string,string>")).otherwise(
        F.create_map(*sensor_entries)
    )

    temperature = _sensor_value("temperature")
    weather_vals = {
        "temperature_2m": temperature + (F.col("value") * 3.7) % 44.0 - 22.0,
        "relative_humidity_2m": (F.col("value") * 1.9) % 100.0,
        "is_day": (F.col("user_id") % 2).cast("double"),
        "wind_speed_10m": (F.col("value") * 0.9) % 60.0,
        "wind_direction_10m": (F.col("value") * 7.3) % 360.0,
        "wind_gusts_10m": ((F.col("value") * 0.9) % 60.0) * 1.5,
        "rain": (F.col("value") * 0.13) % 8.0,
        "precipitation": (F.col("value") * 0.13) % 8.0,
        "surface_pressure": F.lit(990.0) + (F.col("value") * 0.41) % 40.0,
        "apparent_temperature": temperature + (F.col("value") * 0.11) % 6.0 - 3.0,
    }
    weather_struct = F.struct(*[weather_vals[f].alias(f) for f in WEATHER_FIELDS])

    base = (F.col("user_id") % 3).cast("double")
    latitude = F.lit(22.0) + base * 4.0
    longitude = F.lit(28.0) + base * 1.25

    raw = ev.select(
        F.lit(None).cast("string").alias(RAW_JSON_COL),
        F.concat(F.lit("evt_"), F.col("event_id").cast("string")).alias("event_id"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("timestamp"),
        loc_id.alias("loc_id"),
        F.struct(latitude.alias("latitude"), longitude.alias("longitude")).alias("location"),
        sensor_map.alias("sensor_data"),
        F.when(mod(MOD_MISSING_WEATHER), F.lit(None)).otherwise(weather_struct).alias("weather_data"),
        F.lit(False).alias("json_decode_error"),
    )
    # Persist: downstream validation probes sensor_data/weather_data tens
    # of times; leaving this as a live projection lets Catalyst substitute
    # the whole map/struct construction into every probe (measured 10x
    # slow-down at sf0.1). Caching materializes the synthesized event once
    # — which is also the honest model of production, where events arrive
    # *stored* (parquet/Kafka), not as in-plan expressions. Spark's cache
    # manager dedupes by plan, so the driver's many queries share one copy.
    return raw.persist()


def iot_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persist the FLAG-level frame (all-boolean rule outcomes, no string
    # arrays / alert structs): every driver query re-derives this plan,
    # and Spark's cache manager matches the identical analyzed plan
    # across calls, so the validation pass runs once per session. The
    # arrays/alerts are assembled lazily ABOVE the cache — status-only
    # consumers (staging, dashboards) prune them entirely, sink-shaped
    # consumers rebuild them from cached booleans, and the cache
    # boundary keeps each codegen region under janino's 64 KB limit.
    flagged = process_events(iot_raw_events(spark, sf_dir)).persist()
    return assemble_events(flagged)


def iot_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_staging(iot_processed(spark, sf_dir))


def iot_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return build_star(iot_staging(spark, sf_dir), dense_keys=True)
