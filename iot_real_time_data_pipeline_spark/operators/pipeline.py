"""The end-to-end event pipeline: decode -> validate -> alert -> route.

Spark-first re-expression of ``Lambda/lamda.py:395-549`` (SURVEY §3.2):
the Lambda's per-record control flow becomes one declarative plan —
a single narrow map stage (parse + validation + alert expressions)
followed by partition-valued routing. The three S3 prefixes
(``valid/``, ``valid/warnings/``, ``invalid/`` — lamda.py:474-479) and
the dead-letter prefixes (lamda.py:488-530) become *partition values*,
so at 100 TB the "routing" is free: it's just which partition a row
lands in, and downstream readers get static partition pruning.

This module is the only one that knows how a parsed payload becomes
the processed frame, in two steps with a cache boundary between them:
``process_events`` builds the boolean flag frame every caller
persists, and ``assemble_events`` derives the alerts and the
error/warning arrays above it (see ``validation.validate_flags`` for
why the split pays). ``LAKE_PARTITION_BY`` / ``lake_partitions`` fix
the one partition layout of every lake writer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.alerts import with_alerts
from ..functions.validation import _was_quoted, attach_validation_arrays, validate_flags
from ..schemas import RAW_JSON_COL, SENSOR_NAMES, STAGING_COLUMNS

TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
PROCESSOR_VERSION = "1.0"

# Lake layout (S5): the routing status, then location and event date —
# SURVEY §4's fix for the reference's unprunable S3 layout
# (lamda.py:365-367 comments the date path out), so every
# location- or time-bounded read prunes statically.
LAKE_PARTITION_BY = ["validation_status", "loc_id_part", "date"]


def event_time(col: Column) -> Column:
    """ISO-8601 + 'Z' string -> timestamp (producer.py:357 format)."""
    return F.coalesce(
        F.try_to_timestamp(col, F.lit(TS_FORMAT)),
        F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
        F.try_to_timestamp(col),
    )


def process_events(parsed: DataFrame) -> DataFrame:
    """Validate a parsed raw-event DataFrame into the flag frame (one
    map stage): boolean rule flags, ``validation_status``,
    ``dead_letter``, the validated ``sensor_<name>`` doubles,
    ``validation_timestamp`` (the reference's ``datetime.utcnow()``,
    lamda.py:441) and the parsed ``event_ts``.

    Callers ``persist()`` this frame and finish with
    ``assemble_events`` above the cache.
    """
    flagged = validate_flags(parsed)
    flagged = flagged.withColumn("validation_timestamp", F.current_timestamp())
    return flagged.withColumn("event_ts", event_time(F.col("timestamp")))


def assemble_events(flagged: DataFrame) -> DataFrame:
    """Flag frame -> processed frame: the ``alerts`` array, then the
    ``validation_errors`` / ``validation_warnings`` arrays. Alerts go
    first because they consume the ``_errcls_*`` flags, and the array
    step drops every remaining ``_*`` flag."""
    return attach_validation_arrays(with_alerts(flagged))


def lake_partitions() -> dict[str, Column]:
    """The lake partition columns below ``validation_status``, by name
    (``LAKE_PARTITION_BY``), from a processed frame: a null location
    lands under ``unknown`` and an unparseable timestamp under
    1970-01-01, so every row has a partition."""
    return {
        "loc_id_part": F.coalesce(F.col("loc_id"), F.lit("unknown")),
        "date": F.coalesce(F.to_date(F.col("event_ts")), F.lit("1970-01-01").cast("date")),
    }


def route(processed: DataFrame) -> dict[str, DataFrame]:
    """Split the processed stream into its sinks (lamda.py:474-530).

    - ``lake``: VALID/WARNING/INVALID rows, with the routing prefix as a
      derived column (S5) — write with
      ``partitionBy("validation_status", "loc_id")``;
    - ``dead_letter``: undecodable payloads + rows the reference's
      cross-check would crash on (S6), with error_type/raw preserved.
    """
    ok = processed.filter(~F.col("json_decode_error") & ~F.col("dead_letter"))
    lake = ok.withColumn(
        "route_prefix",
        F.when(F.col("validation_status") == "VALID", F.lit("valid/"))
        .when(F.col("validation_status") == "WARNING", F.lit("valid/warnings/"))
        .otherwise(F.lit("invalid/")),
    )
    # Error-message fidelity (lamda.py:488-530 stores str(e) with every
    # dead letter): the reference's three failure classes each raise a
    # distinct exception, reconstructed here deterministically from the
    # row — JSONDecodeError for undecodable payloads; the weather
    # cross-check TypeError text Python would produce, which depends on
    # whether sensor temperature was None or an unconvertible string
    # ('NoneType'/'str' operand); and the explicit-null weather_data
    # membership TypeError.
    t_raw = F.col("sensor_data").getItem("temperature")
    crosscheck_operand = F.when(t_raw.isNull(), F.lit("NoneType")).otherwise(F.lit("str"))
    error_message = (
        F.when(
            F.col("json_decode_error"),
            F.lit("json.decoder.JSONDecodeError: payload is not valid JSON"),
        )
        .when(
            F.col("weather_data").isNull(),
            F.lit("TypeError: argument of type 'NoneType' is not iterable"),
        )
        .otherwise(
            F.concat(
                F.lit("TypeError: unsupported operand type(s) for -: '"),
                crosscheck_operand,
                F.lit("' and 'float'"),
            )
        )
    )
    # Source-sequence fidelity (lamda.py:509): present when the source
    # provides it (sources.events.parse_raw_payloads); driver-side
    # synthesized events have no wire position, so null.
    seq = (
        F.col("source_seq")
        if "source_seq" in processed.columns
        else F.lit(None).cast("string")
    )
    dead = processed.filter(F.col("json_decode_error") | F.col("dead_letter")).select(
        F.when(F.col("json_decode_error"), F.lit("json_decode_error"))
        .otherwise(F.lit("processing_error"))
        .alias("error_type"),
        error_message.alias("error_message"),
        seq.alias("source_seq"),
        F.col(RAW_JSON_COL).alias("raw_payload"),
        F.col("event_id"),
        F.col("loc_id"),
    )
    return {"lake": lake, "dead_letter": dead}


def staging_projection() -> list[Column]:
    """The ``valid_readings`` staging column list (shared by
    ``to_staging`` and the partitioned-lake writer, so the lake's typed
    rows and the staging contract can never drift apart)."""
    sel = [
        F.col("event_id"),
        F.col("event_ts").alias("timestamp"),
        F.col("loc_id"),
        F.col("location.latitude").alias("latitude"),
        F.col("location.longitude").alias("longitude"),
    ]
    sel += [F.col(f"sensor_{s}").alias(s) for s in ["temperature", "humidity", "water_level", "ph"]]
    sel += [F.col(f"sensor_{s}").alias(s) for s in ["nitrogen", "phosphorus", "potassium"]]
    sel += [
        F.col("weather_data.temperature_2m").alias("weather_temperature_2m"),
        F.col("weather_data.relative_humidity_2m").alias("weather_relative_humidity_2m"),
        F.col("weather_data.wind_speed_10m").alias("weather_wind_speed_10m"),
        F.col("weather_data.wind_direction_10m").alias("weather_wind_direction_10m"),
        F.col("weather_data.rain").alias("weather_rain"),
        F.col("weather_data.surface_pressure").alias("weather_surface_pressure"),
        F.col("validation_status"),
    ]
    return sel


def to_staging(processed: DataFrame) -> DataFrame:
    """Processed events -> the ``valid_readings`` staging contract.

    Column names follow the SQL contract exactly (``DWH - Redshift/
    Transforming Tables.sql:59-102``): sensor columns lose their
    ``sensor_data_`` prefix, weather columns keep a ``weather_`` prefix.
    INVALID rows never reach staging; VALID and WARNING both do
    (lamda.py:474-479 routing + Dashboard donut, SURVEY §7.3).
    """
    ok = processed.filter(
        ~F.col("json_decode_error")
        & ~F.col("dead_letter")
        & F.col("validation_status").isin("VALID", "WARNING")
    )
    staged = ok.select(*staging_projection())
    assert [f[0] for f in STAGING_COLUMNS] == staged.columns
    return staged


def flat_lake_row(processed: DataFrame) -> DataFrame:
    """Flattened lake projection (lamda.py:333-348 + :361-362 metadata),
    followed by the ``lake_partitions`` columns.

    Arrays (validation_errors/warnings, alerts) are JSON-stringified
    exactly as ``flatten_record`` does for lists. Sensor values are the
    post-conversion ones: the reference's validator converts quoted
    numerics *in place* (lamda.py:112-113), so the lake row shows the
    float (55.3), not the ingest string ("55.30") — values the validator
    never converted keep their raw lexical form.
    """
    base = processed
    sel = [
        F.col("event_id"),
        F.col("timestamp"),
        F.col("loc_id"),
        F.col("location.latitude").alias("location_latitude"),
        F.col("location.longitude").alias("location_longitude"),
    ]
    sel += [
        F.when(
            _was_quoted(s) & F.col(f"sensor_{s}").isNotNull(),
            F.col(f"sensor_{s}").cast("string"),
        )
        .otherwise(F.col("sensor_data").getItem(s))
        .alias(f"sensor_data_{s}")
        for s in SENSOR_NAMES
    ]
    sel += [
        F.col(f"weather_data.{f}").alias(f"weather_data_{f}")
        for f in processed.schema["weather_data"].dataType.fieldNames()
    ]
    # alerts_sent write-back (lamda.py:465-471): the reference appends
    # [{type, priority, sent_timestamp}] for the alerts that actually
    # cleared the throttle; callers attach an ``alerts_sent`` array
    # (see streaming.pipeline's throttle join) — absent column or empty
    # array -> null, matching the reference's absent key.
    alerts_sent = (
        F.to_json(F.col("alerts_sent"))
        if "alerts_sent" in processed.columns
        else F.lit(None).cast("string")
    )
    sel += [
        F.col("validation_status"),
        F.to_json(F.col("validation_errors")).alias("validation_errors"),
        F.to_json(F.col("validation_warnings")).alias("validation_warnings"),
        F.col("validation_timestamp"),
        F.to_json(F.col("alerts")).alias("alerts"),
        alerts_sent.alias("alerts_sent"),
        F.current_timestamp().alias("processing_timestamp"),
        F.lit(PROCESSOR_VERSION).alias("processor_version"),
    ]
    sel += [c.alias(name) for name, c in lake_partitions().items()]
    return base.select(*sel)


def exploded_alerts(processed: DataFrame) -> DataFrame:
    """One row per fired alert — the SNS-sink feed (S7).

    No ``size(alerts) > 0`` pre-filter: ``explode`` (non-outer) already
    drops empty-array rows, and a Filter over the layered validation
    projections triggers Catalyst's exponential constraint-propagation
    blowup (see ``entrypoints.read_table``).
    """
    return (
        processed
        .select(
            "event_id",
            "loc_id",
            F.col("event_ts").alias("timestamp"),
            F.explode("alerts").alias("alert"),
        )
        .select(
            "event_id",
            "loc_id",
            "timestamp",
            F.col("alert.type").alias("alert_type"),
            F.col("alert.priority").alias("priority"),
            F.col("alert.description").alias("description"),
        )
    )
