"""Deterministic IoT event fixture generator.

Re-expresses the reference producer's behavior (``Producer /
producer.py``) as a *seeded* test-data generator: healthy readings
random-walk inside the per-location optimal ranges (producer.py:271-300),
and a fault/alert injector drawn from the producer's taxonomy
(producer.py:120-269) corrupts a controlled fraction of records. Because
the intended class of every record is known at generation time (the
producer logs it at :372-378), the generator emits an ``expected_class``
label alongside each raw JSON payload — turning the reference's implicit
operational contract into assertable fixtures (SURVEY.md §5).

Expected classes:

- ``VALID`` / ``WARNING`` / ``INVALID`` — the validation_status the
  engine must assign;
- ``DEAD_LETTER_JSON`` — non-JSON garbage (lamda.py:488-503);
- ``DEAD_LETTER_PROCESSING`` — records whose temperature survives to the
  weather cross-check as a string, which raises in the reference
  (lamda.py:129-137 + 506-530).

This is driver-side fixture code by design (small volumes); the engine's
hot path never touches it.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

from .schemas import (
    EXPECTED_RANGES_PER_LOCATION,
    LOCATIONS,
    OPTIMAL_RANGES_PER_LOCATION,
    SENSOR_NAMES,
    WEATHER_FIELDS,
)

VALID = "VALID"
WARNING = "WARNING"
INVALID = "INVALID"
DEAD_LETTER_JSON = "DEAD_LETTER_JSON"
DEAD_LETTER_PROCESSING = "DEAD_LETTER_PROCESSING"


def _healthy_sensors(rng: random.Random, loc_id: str) -> dict[str, float]:
    out = {}
    for s in SENSOR_NAMES:
        lo, hi = OPTIMAL_RANGES_PER_LOCATION[loc_id][s]
        out[s] = round(rng.uniform(lo, hi), 2)
    return out


def _weather_for(rng: random.Random, sensor_temp: float) -> dict[str, float]:
    w = {f: round(rng.uniform(0, 100), 2) for f in WEATHER_FIELDS}
    # Keep the cross-check quiet unless a scenario wants it loud.
    w["temperature_2m"] = round(sensor_temp + rng.uniform(-5, 5), 2)
    w["is_day"] = float(rng.randint(0, 1))
    w["rain"] = round(rng.uniform(0, 5), 2)
    w["surface_pressure"] = round(rng.uniform(990, 1030), 2)
    return w


def _buffer_zone_value(rng: random.Random, loc_id: str, sensor: str) -> float:
    lo, hi = EXPECTED_RANGES_PER_LOCATION[loc_id][sensor]
    buf = (hi - lo) * 0.1
    return round(rng.uniform(hi + buf * 0.05, hi + buf * 0.95), 3)


def generate_events(
    n: int = 3000,
    seed: int = 42,
    start: datetime | None = None,
    cadence_seconds: float = 3.0,
    healthy_share: float = 0.70,
) -> list[dict]:
    """Return ``[{"raw": json_or_garbage_str, "expected_class": str,
    "scenario": str}]`` with deterministic content for a given seed."""
    rng = random.Random(seed)
    start = start or datetime(2024, 3, 1, 6, 0, 0)
    out: list[dict] = []

    scenarios = [
        # (name, expected_class) — mirrors producer.py:120-269 taxonomy.
        ("high_temperature_alert", VALID),
        ("low_water_level_alert", VALID),
        ("high_water_level_alert", VALID),
        ("ph_imbalance_alert", VALID),
        ("sensor_drift", WARNING),
        ("string_typed_value", WARNING),
        ("temperature_mismatch", WARNING),
        ("power_fluctuation", INVALID),
        ("sensor_failure", INVALID),
        ("calibration_error", INVALID),
        ("hardware_degradation", INVALID),
        ("communication_glitch_sensor", INVALID),
        ("communication_glitch_weather", INVALID),
        ("nutrient_depletion", INVALID),
        ("invalid_loc_id", INVALID),
        ("missing_loc_id", INVALID),
        ("garbage_payload", DEAD_LETTER_JSON),
        ("temp_string_crash", DEAD_LETTER_PROCESSING),
        ("weather_null_crash", DEAD_LETTER_PROCESSING),
    ]

    for i in range(n):
        ts = start + timedelta(seconds=cadence_seconds * i)
        loc = LOCATIONS[i % len(LOCATIONS)]
        loc_id = loc["loc_id"]
        event_id = f"evt_{rng.getrandbits(48):012x}"
        sensors: dict[str, object] = _healthy_sensors(rng, loc_id)
        weather = _weather_for(rng, float(sensors["temperature"]))
        record: dict[str, object] = {
            "event_id": event_id,
            "timestamp": ts.isoformat() + "Z",
            "loc_id": loc_id,
            "location": {"latitude": loc["latitude"], "longitude": loc["longitude"]},
            "sensor_data": sensors,
            "weather_data": weather,
        }

        if rng.random() < healthy_share:
            scenario, expected = "healthy", VALID
        else:
            scenario, expected = scenarios[rng.randrange(len(scenarios))]

        if scenario == "high_temperature_alert":
            hi = EXPECTED_RANGES_PER_LOCATION[loc_id]["temperature"][1]
            sensors["temperature"] = round(rng.uniform(35.1, min(hi, 49.0)), 2)
            weather["temperature_2m"] = round(float(sensors["temperature"]) - rng.uniform(0, 5), 2)
        elif scenario == "low_water_level_alert":
            lo = EXPECTED_RANGES_PER_LOCATION[loc_id]["water_level"][0]
            sensors["water_level"] = round(rng.uniform(lo + 0.01, 0.99), 2)
        elif scenario == "high_water_level_alert":
            hi = EXPECTED_RANGES_PER_LOCATION[loc_id]["water_level"][1]
            if hi > 2.5:
                sensors["water_level"] = round(rng.uniform(2.51, hi - 0.01), 2)
            else:  # loc_2's max is 2.5 — fall back to a low-water alert
                sensors["water_level"] = round(rng.uniform(0.31, 0.99), 2)
        elif scenario == "ph_imbalance_alert":
            lo, hi = EXPECTED_RANGES_PER_LOCATION[loc_id]["ph"]
            sensors["ph"] = round(rng.uniform(max(7.51, lo), min(hi, 7.99)), 2)
        elif scenario == "sensor_drift":
            target = rng.choice(["humidity", "nitrogen", "phosphorus"])
            sensors[target] = _buffer_zone_value(rng, loc_id, target)
        elif scenario == "string_typed_value":
            target = rng.choice(["humidity", "nitrogen", "potassium"])
            sensors[target] = str(sensors[target])  # quoted in JSON -> type_converted
        elif scenario == "temperature_mismatch":
            weather["temperature_2m"] = round(float(sensors["temperature"]) + rng.uniform(16.0, 30.0), 2)
        elif scenario == "power_fluctuation":
            # producer.py:162-167 — zeros/NULL/None; avoid temperature for
            # the string/None variants (those crash the reference, see
            # temp_string_crash below).
            for target in rng.sample(["humidity", "water_level", "nitrogen"], k=rng.randint(1, 2)):
                sensors[target] = rng.choice([0, "NULL", None])
        elif scenario == "sensor_failure":
            target = rng.choice(["humidity", "nitrogen", "phosphorus", "potassium"])
            sensors[target] = rng.choice([9999, -9999, "NaN"])
        elif scenario == "calibration_error":
            target = rng.choice(["nitrogen", "phosphorus", "potassium"])
            lo, hi = EXPECTED_RANGES_PER_LOCATION[loc_id][target]
            sensors[target] = round(hi * rng.uniform(1.5, 3.0), 2)
        elif scenario == "hardware_degradation":
            target = rng.choice(["humidity", "water_level", "ph"])
            sensors[target] = "FAIL"
        elif scenario == "communication_glitch_sensor":
            record["sensor_data"] = {}
        elif scenario == "communication_glitch_weather":
            del record["weather_data"]
            record["sensor_data"] = {}
        elif scenario == "nutrient_depletion":
            target = rng.choice(["nitrogen", "phosphorus", "potassium"])
            lo = EXPECTED_RANGES_PER_LOCATION[loc_id][target][0]
            sensors[target] = round(lo * rng.uniform(0.3, 0.7), 2)
        elif scenario == "invalid_loc_id":
            record["loc_id"] = rng.choice(["loc_9", "farm_x", "unknown"])
        elif scenario == "missing_loc_id":
            del record["loc_id"]
        elif scenario == "temp_string_crash":
            sensors["temperature"] = rng.choice(["NULL", "NaN"])
        elif scenario == "weather_null_crash":
            # explicit JSON null: key present -> no missing_top_level_key,
            # but the cross-check does `"temperature_2m" in None` ->
            # TypeError -> dead letter (lamda.py:84, 129-137).
            record["weather_data"] = None

        if scenario == "garbage_payload":
            raw = rng.choice(["<<not json>>", "{truncated", "plain text payload", ""])
        else:
            raw = json.dumps(record)
        out.append({"raw": raw, "expected_class": expected, "scenario": scenario})
    return out
