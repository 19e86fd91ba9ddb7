from __future__ import annotations

import json

import pytest

from iot_real_time_data_pipeline_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        "engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        # The suite shares ONE JVM across ~390 tests; at the 1g default
        # the round-10 volume tests (100K-event fuzz, 100-batch soak)
        # OOM'd the heap mid-suite and cascaded ConnectionRefused into
        # every later test. 4g is still a fraction of the host.
        extra_conf={"spark.driver.memory": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def parse_payloads(spark):
    """JSON payload strings -> parsed raw-event DataFrame (the S2 path)."""

    def _parse(payloads: list[str]):
        from iot_real_time_data_pipeline_spark.sources.events import parse_raw_payloads

        df = spark.createDataFrame([(p,) for p in payloads], ["value"])
        return parse_raw_payloads(df, "value")

    return _parse


def event_json(
    event_id: str = "evt_000000000001",
    timestamp: str = "2024-03-01T06:00:00.000000Z",
    loc_id: str | None = "loc_1",
    sensors: dict | None = None,
    weather: dict | None = None,
    drop_keys: tuple[str, ...] = (),
) -> str:
    """One well-formed raw event payload with healthy loc_1 defaults."""
    base_sensors = {
        "temperature": 25.0,
        "humidity": 60.0,
        "water_level": 1.5,
        "nitrogen": 110.0,
        "phosphorus": 60.0,
        "potassium": 60.0,
        "ph": 7.0,
    }
    if sensors is not None:
        base_sensors = sensors if sensors.pop("__replace__", False) else {**base_sensors, **sensors}
    base_weather = {
        "temperature_2m": 24.0,
        "relative_humidity_2m": 50.0,
        "is_day": 1.0,
        "wind_speed_10m": 10.0,
        "wind_direction_10m": 180.0,
        "wind_gusts_10m": 15.0,
        "rain": 0.0,
        "precipitation": 0.0,
        "surface_pressure": 1010.0,
        "apparent_temperature": 24.5,
    }
    if weather is not None:
        base_weather = {**base_weather, **weather}
    rec = {
        "event_id": event_id,
        "timestamp": timestamp,
        "loc_id": loc_id,
        "location": {"latitude": 23.4219, "longitude": 30.5978},
        "sensor_data": base_sensors,
        "weather_data": base_weather,
    }
    if loc_id is None:
        del rec["loc_id"]
    for k in drop_keys:
        rec.pop(k, None)
    return json.dumps(rec)

