"""Schemas and the per-location sensor-range contract.

Derived from the reference's data model (SURVEY.md §1):

- raw event shape:        ``Producer /producer.py:355-362``
- per-location ranges:    ``Producer /producer.py:50-78`` ==
                          ``Lambda/lamda.py:30-58`` (kept identical there;
                          that coupling is the validation contract)
- flattened lake row:     ``Lambda/lamda.py:333-348`` (``_``-separated)
- star schema:            ``DWH - Redshift/Creating Tables.sql:1-51``

Sensor values are ingested as *strings* because the stream is dirty by
design: a sensor field's true domain is ``double | string sentinel |
null | absent`` (producer.py:120-193). The validated cast to double
happens exactly once, in ``functions.validation``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Locations (producer.py:43-47)
# ---------------------------------------------------------------------------

LOCATIONS = [
    {"loc_id": "loc_1", "latitude": 23.4219, "longitude": 30.5978, "name": "Toshka_project"},
    {"loc_id": "loc_2", "latitude": 22.4214, "longitude": 28.5306, "name": "Sharq_El_Owainat_project"},
    {"loc_id": "loc_3", "latitude": 30.6558, "longitude": 30.5401, "name": "Dina_Farms"},
]
KNOWN_LOC_IDS = [loc["loc_id"] for loc in LOCATIONS]

SENSOR_NAMES = [
    "temperature",
    "humidity",
    "water_level",
    "nitrogen",
    "phosphorus",
    "potassium",
    "ph",
]

# (min, max) valid range per (loc_id, sensor) — Lambda/lamda.py:30-58.
EXPECTED_RANGES_PER_LOCATION: dict[str, dict[str, tuple[float, float]]] = {
    "loc_1": {
        "temperature": (10.0, 50.0),
        "humidity": (30.0, 90.0),
        "water_level": (0.5, 3.0),
        "nitrogen": (80.0, 150.0),
        "phosphorus": (40.0, 80.0),
        "potassium": (40.0, 80.0),
        "ph": (6.0, 8.0),
    },
    "loc_2": {
        "temperature": (15.0, 55.0),
        "humidity": (25.0, 80.0),
        "water_level": (0.3, 2.5),
        "nitrogen": (70.0, 140.0),
        "phosphorus": (30.0, 70.0),
        "potassium": (30.0, 70.0),
        "ph": (6.5, 8.5),
    },
    "loc_3": {
        "temperature": (12.0, 52.0),
        "humidity": (28.0, 85.0),
        "water_level": (0.4, 2.8),
        "nitrogen": (75.0, 145.0),
        "phosphorus": (35.0, 75.0),
        "potassium": (35.0, 75.0),
        "ph": (6.2, 8.2),
    },
}

# "optimal" sub-ranges the producer random-walks inside when healthy
# (producer.py:50-78) — used only by the fixture generator.
OPTIMAL_RANGES_PER_LOCATION: dict[str, dict[str, tuple[float, float]]] = {
    "loc_1": {
        "temperature": (18.0, 28.0),
        "humidity": (45.0, 75.0),
        "water_level": (1.2, 2.2),
        "nitrogen": (100.0, 130.0),
        "phosphorus": (50.0, 70.0),
        "potassium": (50.0, 70.0),
        "ph": (6.5, 7.2),
    },
    "loc_2": {
        "temperature": (22.0, 32.0),
        "humidity": (40.0, 65.0),
        "water_level": (1.0, 2.0),
        "nitrogen": (90.0, 120.0),
        "phosphorus": (40.0, 60.0),
        "potassium": (40.0, 60.0),
        "ph": (7.0, 7.8),
    },
    "loc_3": {
        "temperature": (20.0, 30.0),
        "humidity": (42.0, 70.0),
        "water_level": (1.1, 2.3),
        "nitrogen": (95.0, 125.0),
        "phosphorus": (45.0, 65.0),
        "potassium": (45.0, 65.0),
        "ph": (6.8, 7.5),
    },
}

WEATHER_FIELDS = [
    "temperature_2m",
    "relative_humidity_2m",
    "is_day",
    "wind_speed_10m",
    "wind_direction_10m",
    "wind_gusts_10m",
    "rain",
    "precipitation",
    "surface_pressure",
    "apparent_temperature",
]

# Sentinel values that indicate sensor failure (lamda.py:97).
# NOTE the reference quirk: because ``None`` is a member of this list,
# the later per-sensor "missing" check (lamda.py:104-106) is dead code —
# an absent/null sensor classifies as ``_extreme_value``. We reproduce
# that reachable semantics exactly.
EXTREME_STRING_SENTINELS = ["0", "9999", "-9999", "null", "NULL", "NaN"]
EXTREME_NUMERIC_SENTINELS = [0.0, 9999.0, -9999.0]

# ---------------------------------------------------------------------------
# Event schemas
# ---------------------------------------------------------------------------

# The original payload text, kept beside the parsed columns: validation
# reads it for key presence and quoted values, dead letters store it.
RAW_JSON_COL = "raw_json"


def location_struct() -> T.StructType:
    return T.StructType(
        [
            T.StructField("latitude", T.DoubleType()),
            T.StructField("longitude", T.DoubleType()),
        ]
    )


def weather_struct() -> T.StructType:
    return T.StructType([T.StructField(f, T.DoubleType()) for f in WEATHER_FIELDS])


def raw_event_schema() -> T.StructType:
    """Ingest schema for one IoT event (producer.py:355-362).

    ``sensor_data`` is a map<string,string> so sentinel strings, numeric
    text, empty map, and absence all survive ingestion; an absent JSON
    key parses to a null column under an explicit schema (the
    crawler-inference of the reference replaced by PERMISSIVE from_json).
    """
    return T.StructType(
        [
            T.StructField("event_id", T.StringType()),
            T.StructField("timestamp", T.StringType()),
            T.StructField("loc_id", T.StringType()),
            T.StructField("location", location_struct()),
            T.StructField("sensor_data", T.MapType(T.StringType(), T.StringType())),
            T.StructField("weather_data", weather_struct()),
        ]
    )


# ---------------------------------------------------------------------------
# Staging ("valid_readings") schema — the SQL contract
# (Transforming Tables.sql:59-102; FIXTURES.md §2)
# ---------------------------------------------------------------------------

STAGING_COLUMNS = [
    ("event_id", T.StringType()),
    ("timestamp", T.TimestampType()),
    ("loc_id", T.StringType()),
    ("latitude", T.DoubleType()),
    ("longitude", T.DoubleType()),
    ("temperature", T.DoubleType()),
    ("humidity", T.DoubleType()),
    ("water_level", T.DoubleType()),
    ("ph", T.DoubleType()),
    ("nitrogen", T.DoubleType()),
    ("phosphorus", T.DoubleType()),
    ("potassium", T.DoubleType()),
    ("weather_temperature_2m", T.DoubleType()),
    ("weather_relative_humidity_2m", T.DoubleType()),
    ("weather_wind_speed_10m", T.DoubleType()),
    ("weather_wind_direction_10m", T.DoubleType()),
    ("weather_rain", T.DoubleType()),
    ("weather_surface_pressure", T.DoubleType()),
    ("validation_status", T.StringType()),
]


def staging_schema() -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in STAGING_COLUMNS])


# ---------------------------------------------------------------------------
# Star schema (Creating Tables.sql:1-51)
# ---------------------------------------------------------------------------

DIM_SOIL_KEY_COLS = ["ph", "nitrogen", "phosphorus", "potassium"]
DIM_WEATHER_KEY_COLS = [
    "weather_temperature",
    "weather_humidity",
    "wind_speed",
    "wind_direction",
    "rain",
    "surface_pressure",
]
DIM_LOCATION_KEY_COLS = ["loc_id", "latitude", "longitude"]


def dim_soil_schema() -> T.StructType:
    return T.StructType(
        [T.StructField("soil_key", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in DIM_SOIL_KEY_COLS]
    )


def dim_time_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("full_date", T.TimestampType()),
            T.StructField("year", T.IntegerType()),
            T.StructField("month", T.IntegerType()),
            T.StructField("day", T.IntegerType()),
            T.StructField("hour", T.IntegerType()),
            T.StructField("minute", T.IntegerType()),
        ]
    )


def dim_location_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("location_key", T.LongType()),
            T.StructField("loc_id", T.StringType()),
            T.StructField("latitude", T.DoubleType()),
            T.StructField("longitude", T.DoubleType()),
        ]
    )


def dim_weather_schema() -> T.StructType:
    return T.StructType(
        [T.StructField("weather_key", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in DIM_WEATHER_KEY_COLS]
    )


def fact_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("fact_id", T.LongType()),
            T.StructField("evt_id", T.StringType()),
            T.StructField("location_key", T.LongType()),
            T.StructField("weather_key", T.LongType()),
            T.StructField("soil_key", T.LongType()),
            T.StructField("full_date", T.TimestampType()),
            T.StructField("soil_temperature", T.DoubleType()),
            T.StructField("soil_humidity", T.DoubleType()),
            T.StructField("water_level", T.DoubleType()),
            T.StructField("validation_status", T.StringType()),
        ]
    )
