"""The alert rule engine (R1-R6) as native Column expressions.

Reproduces ``handle_alerts`` (``Lambda/lamda.py:152-244``) and the SNS
message formatting (lamda.py:285-330):

- R1 (lamda.py:163-182): INVALID records with ``sensor_data*`` errors
  produce one CRITICAL "Sensor Failure" alert per distinct error class
  (extreme_value -> sensor_failure, missing -> sensor_disconnected,
  out_of_range -> sensor_malfunction). The reference iterates a Python
  ``set`` (nondeterministic order); we emit a fixed, documented order
  (failure, disconnected, malfunction) so results are reproducible.
  ``_invalid_type`` errors map to no class, exactly as in the reference.
- R2-R5 (lamda.py:186-241): operational alerts for VALID/WARNING rows,
  evaluated on the post-conversion numeric sensor values.
- R6 (lamda.py:289-330): subject/message formatting + the recommended-
  action lookup, as ``format_string`` + a ``when`` chain.

Everything is a per-row map — no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import EXPECTED_RANGES_PER_LOCATION

ALERT_STRUCT_DDL = "struct<type:string,priority:string,description:string>"

# lamda.py:316-330 — alert type -> recommended action (7 entries + default).
RECOMMENDED_ACTIONS = {
    "High Temperature": "Increase irrigation frequency and check cooling systems",
    "Low Temperature": "Check heating systems and frost protection",
    "Low Water Level": "Inspect irrigation system and water supply",
    "High Water Level": "Check drainage systems and reduce irrigation",
    "Soil pH Warning": "Test soil samples and adjust pH levels as needed",
    "Low Nutrient": "Schedule fertilizer application and soil testing",
    "Sensor Failure": "Immediate sensor inspection and replacement required",
}
DEFAULT_ACTION = "Investigate the issue and contact technical support"


def _alert(cond: Column, type_: str, priority: Column | str, description: Column) -> tuple[Column, Column]:
    prio = F.lit(priority) if isinstance(priority, str) else priority
    return (
        cond,
        F.struct(
            F.lit(type_).alias("type"),
            prio.alias("priority"),
            description.alias("description"),
        ),
    )


def _nutrient_min(loc: Column, nutrient: str) -> Column:
    # Foldable literal-map lookup — see validation._per_location.
    entries = []
    for loc_id, ranges in EXPECTED_RANGES_PER_LOCATION.items():
        entries += [F.lit(loc_id), F.lit(float(ranges[nutrient][0]))]
    return F.element_at(F.create_map(*entries), loc)


def alerts_column(
    status: Column,
    loc: Column,
    temperature: Column,
    water_level: Column,
    ph: Column,
    nitrogen: Column,
    phosphorus: Column,
    potassium: Column,
) -> Column:
    """``array<struct<type,priority,description>>`` of fired alerts.

    Numeric inputs must be the validated-cast doubles
    (``validation.validate_flags``'s ``sensor_<name>`` outputs) so
    the "is numeric" guards of the reference hold (null => rule skipped).

    R1 reads the ``_errcls_*`` booleans ``validate_flags`` computes per
    error class, rather than scanning the error array with ``exists()``
    — a lambda HOF that evaluates interpreted per row *and* forces the
    array to materialize, defeating column pruning for consumers that
    never project it.
    """
    invalid = status == "INVALID"
    operational = status.isin("VALID", "WARNING")

    # R1 — one CRITICAL alert per error class present (lamda.py:163-182).
    critical = [
        _alert(
            invalid & F.col(flag),
            "Sensor Failure",
            "CRITICAL",
            F.concat(F.lit("Critical sensor issue detected at "), loc, F.lit(f": {cls}")),
        )
        for flag, cls in [
            ("_errcls_extreme", "sensor_failure"),
            ("_errcls_missing", "sensor_disconnected"),
            ("_errcls_oor", "sensor_malfunction"),
        ]
    ]

    # R2 — temperature (lamda.py:186-200).
    high_temp = _alert(
        operational & (temperature > 35),
        "High Temperature",
        "HIGH",
        F.format_string("High temperature warning: %.1f°C at %s", temperature, loc),
    )
    low_temp = _alert(
        operational & (temperature < 5),
        "Low Temperature",
        "HIGH",
        F.format_string("Low temperature warning: %.1f°C at %s", temperature, loc),
    )

    # R3 — water level (lamda.py:203-216).
    low_water = _alert(
        operational & (water_level < 1.0),
        "Low Water Level",
        "HIGH",
        F.format_string("Low water level alert: %.2fm at %s", water_level, loc),
    )
    high_water = _alert(
        operational & (water_level >= 1.0) & (water_level > 2.5),
        "High Water Level",
        "MEDIUM",
        F.format_string("High water level: %.2fm at %s", water_level, loc),
    )

    # R4 — soil pH (lamda.py:219-227).
    ph_alert = _alert(
        operational & ((ph < 6.0) | (ph > 7.5)),
        "Soil pH Warning",
        F.when((ph < 5.5) | (ph > 8.0), F.lit("HIGH")).otherwise(F.lit("MEDIUM")),
        F.format_string("Soil pH out of optimal range: %.1f at %s", ph, loc),
    )

    # R5 — nutrients, 20% below per-location minimum (lamda.py:230-241).
    nutrient_alerts = [
        _alert(
            operational & (value < _nutrient_min(loc, name) * 0.8),
            "Low Nutrient",
            "MEDIUM",
            F.format_string(f"Low {name} level: %.1f at %s", value, loc),
        )
        for name, value in [
            ("nitrogen", nitrogen),
            ("phosphorus", phosphorus),
            ("potassium", potassium),
        ]
    ]

    all_alerts = critical + [high_temp, low_temp, low_water, high_water, ph_alert] + nutrient_alerts
    # concat of conditional singletons, not array_compact(array(...)):
    # array_compact rewrites to a lambda filter() HOF (interpreted);
    # Concat/CaseWhen/CreateArray stay in whole-stage codegen.
    empty = F.array().cast(f"array<{ALERT_STRUCT_DDL}>")
    return F.concat(*[F.when(c, F.array(v)).otherwise(empty) for c, v in all_alerts])


def with_alerts(df: DataFrame) -> DataFrame:
    """Append the ``alerts`` column to ``validate_flags``'s frame,
    consuming (and dropping) its ``_errcls_*`` flag columns."""
    out = df.withColumn(
        "alerts",
        alerts_column(
            status=F.col("validation_status"),
            loc=F.col("loc_id"),
            temperature=F.col("sensor_temperature"),
            water_level=F.col("sensor_water_level"),
            ph=F.col("sensor_ph"),
            nitrogen=F.col("sensor_nitrogen"),
            phosphorus=F.col("sensor_phosphorus"),
            potassium=F.col("sensor_potassium"),
        ),
    )
    return out.drop("_errcls_extreme", "_errcls_missing", "_errcls_oor")


def recommended_action(alert_type: Column) -> Column:
    """lamda.py:316-330 — dict lookup as a when chain."""
    expr = None
    for t, action in RECOMMENDED_ACTIONS.items():
        branch = F.lit(action)
        expr = F.when(alert_type == t, branch) if expr is None else expr.when(alert_type == t, branch)
    return expr.otherwise(F.lit(DEFAULT_ACTION))


def alert_message(
    alert: Column, loc: Column, event_id: Column, timestamp: Column
) -> tuple[Column, Column]:
    """(subject, body) formatting per lamda.py:289-301."""
    subject = F.format_string(
        "\U0001f6a8 %s Alert: %s @ %s",
        alert.getField("priority"),
        alert.getField("type"),
        loc,
    )
    body = F.format_string(
        "\U0001f6a8 Farm IoT Alert Notification\n\n"
        "\U0001f4cd Location: %s\n"
        "\U0001f552 Timestamp: %s\n"
        "⚠️  Alert Type: %s\n"
        "\U0001f4ca Priority: %s\n"
        "\U0001f4dd Description: %s\n\n"
        "\U0001f527 Recommended Action: %s\n\n"
        "\U0001f194 Event ID: %s\n"
        "\U0001f916 Generated by Farm Monitoring System",
        loc,
        timestamp.cast("string"),
        alert.getField("type"),
        alert.getField("priority"),
        alert.getField("description"),
        recommended_action(alert.getField("type")),
        event_id,
    )
    return subject, body
