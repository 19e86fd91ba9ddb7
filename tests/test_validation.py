"""V1-V9 validation rules (Lambda/lamda.py:60-150) — one test per rule,
fed through the real ingest path (JSON payload -> parse -> validate) so
the quoted-vs-numeric lexical distinction is exercised end to end."""

from __future__ import annotations

import pyspark.sql.functions as F

from iot_real_time_data_pipeline_spark.operators.pipeline import assemble_events, process_events

from .conftest import event_json


def run(parse_payloads, payloads):
    df = assemble_events(process_events(parse_payloads(payloads)))
    return df.select(
        "event_id",
        "validation_status",
        "validation_errors",
        "validation_warnings",
        "dead_letter",
        "json_decode_error",
    ).collect()


def one(parse_payloads, payload):
    rows = run(parse_payloads, [payload])
    assert len(rows) == 1
    return rows[0]


def test_v1_missing_loc_id_short_circuits(parse_payloads):
    r = one(parse_payloads, event_json(loc_id=None))
    assert r.validation_status == "INVALID"
    assert r.validation_errors == ["missing_loc_id"]
    assert r.validation_warnings == []


def test_v1_unknown_loc_id(parse_payloads):
    r = one(parse_payloads, event_json(loc_id="loc_9"))
    assert r.validation_status == "INVALID"
    assert r.validation_errors == ["invalid_loc_id:loc_9"]


def test_v2_missing_weather_key(parse_payloads):
    r = one(parse_payloads, event_json(drop_keys=("weather_data",)))
    assert r.validation_status == "INVALID"
    assert "missing_top_level_key:weather_data" in r.validation_errors


def test_v2_key_presence_is_top_level_only(parse_payloads):
    # The dropped key's NAME appearing nested inside a string value must
    # not suppress the missing-key error (reference checks `key not in
    # data` on the top-level dict only, lamda.py:84).
    import json

    rec = json.loads(event_json(drop_keys=("weather_data",)))
    rec["note"] = 'contains "weather_data": not a real key'
    r = one(parse_payloads, json.dumps(rec))
    assert "missing_top_level_key:weather_data" in r.validation_errors


def test_v3_empty_sensor_data(parse_payloads):
    r = one(parse_payloads, event_json(sensors={"__replace__": True}))
    assert r.validation_status == "INVALID"
    assert "missing_sensor_data" in r.validation_errors


def test_v4_numeric_sentinels_are_extreme(parse_payloads):
    # 0 / 9999 / -9999 as *numbers* (lamda.py:97: None too).
    payloads = [
        event_json(event_id="e0", sensors={"humidity": 0}),
        event_json(event_id="e1", sensors={"nitrogen": 9999}),
        event_json(event_id="e2", sensors={"potassium": -9999}),
        event_json(event_id="e3", sensors={"phosphorus": None}),
    ]
    rows = {r.event_id: r for r in run(parse_payloads, payloads)}
    assert rows["e0"].validation_errors == ["sensor_data:humidity_extreme_value"]
    assert rows["e1"].validation_errors == ["sensor_data:nitrogen_extreme_value"]
    assert rows["e2"].validation_errors == ["sensor_data:potassium_extreme_value"]
    assert rows["e3"].validation_errors == ["sensor_data:phosphorus_extreme_value"]
    assert all(r.validation_status == "INVALID" for r in rows.values())


def test_v4_string_sentinels_are_extreme(parse_payloads):
    payloads = [
        event_json(event_id="e0", sensors={"humidity": "NULL"}),
        event_json(event_id="e1", sensors={"water_level": "NaN"}),
        event_json(event_id="e2", sensors={"ph": "9999"}),
    ]
    rows = {r.event_id: r for r in run(parse_payloads, payloads)}
    for sensor, r in zip(["humidity", "water_level", "ph"], rows.values()):
        assert r.validation_status == "INVALID"
        assert r.validation_errors == [f"sensor_data:{sensor}_extreme_value"]


def test_v4_quoted_zero_point_zero_is_not_extreme(parse_payloads):
    # Reference quirk: "0.0" (quoted) is not in the sentinel list — it
    # type-converts with a warning and then fails the range check.
    r = one(parse_payloads, event_json(sensors={"humidity": "0.0"}))
    assert r.validation_status == "INVALID"
    assert "sensor_data:humidity_out_of_range" in r.validation_errors
    assert "sensor_data:humidity_type_converted" in r.validation_warnings


def test_v6_quoted_numeric_converts_with_warning(parse_payloads):
    r = one(parse_payloads, event_json(sensors={"humidity": "55.30"}))
    assert r.validation_status == "WARNING"
    assert r.validation_errors == []
    assert r.validation_warnings == ["sensor_data:humidity_type_converted"]


def test_v6_unparseable_string_is_invalid_type(parse_payloads):
    r = one(parse_payloads, event_json(sensors={"humidity": "FAIL"}))
    assert r.validation_status == "INVALID"
    assert r.validation_errors == ["sensor_data:humidity_invalid_type"]


def test_v7_out_of_range_beyond_buffer(parse_payloads):
    # loc_1 humidity range (30, 90), buffer 6 -> 100 is out.
    r = one(parse_payloads, event_json(sensors={"humidity": 100.0}))
    assert r.validation_status == "INVALID"
    assert r.validation_errors == ["sensor_data:humidity_out_of_range"]


def test_v7_near_threshold_within_buffer(parse_payloads):
    # 93 is inside (90, 96] -> warning only.
    r = one(parse_payloads, event_json(sensors={"humidity": 93.0}))
    assert r.validation_status == "WARNING"
    assert r.validation_warnings == ["sensor_data:humidity_near_threshold"]


def test_v8_temperature_mismatch_warning(parse_payloads):
    r = one(parse_payloads, event_json(weather={"temperature_2m": 45.0}))
    assert r.validation_status == "WARNING"
    assert any(w.startswith("temperature_mismatch:") for w in r.validation_warnings)


def test_v9_all_clean_is_valid(parse_payloads):
    r = one(parse_payloads, event_json())
    assert r.validation_status == "VALID"
    assert r.validation_errors == []
    assert r.validation_warnings == []


def test_explicit_null_weather_dead_letters(parse_payloads):
    # `"weather_data": null` -> key present (no missing_top_level_key),
    # cross-check crashes in the reference -> dead letter, not INVALID.
    payload = event_json().replace(
        '"weather_data": {', '"weather_data": null, "ignored": {'
    )
    r = one(parse_payloads, payload)
    assert r.dead_letter is True
    assert "missing_top_level_key:weather_data" not in r.validation_errors


def test_absent_weather_without_temperature_not_dead_letter(parse_payloads):
    # absent key (not explicit null) -> missing_top_level_key -> INVALID
    r = one(parse_payloads, event_json(drop_keys=("weather_data",)))
    assert r.dead_letter is False
    assert r.validation_status == "INVALID"


def test_dead_letter_string_temp_at_crosscheck(parse_payloads):
    # A sentinel-string temperature reaches the weather cross-check and
    # raises TypeError in the reference (lamda.py:129-137) -> routed to
    # errors/processing, not given a status.
    r = one(parse_payloads, event_json(sensors={"temperature": "NULL"}))
    assert r.dead_letter is True


def test_generator_labels_match_engine(parse_payloads):
    """The seeded fixture generator's expected_class labels (producer
    fault taxonomy) must agree with the engine's classification."""
    from iot_real_time_data_pipeline_spark.generator import generate_events

    events = generate_events(n=400, seed=7)
    rows = run(parse_payloads, [e["raw"] if e["raw"] else "x" for e in events])
    assert len(rows) == len(events)
    mismatches = []
    for e, r in zip(events, rows):
        if e["expected_class"] == "DEAD_LETTER_JSON":
            got = "DEAD_LETTER_JSON" if r.json_decode_error else "?"
        elif e["expected_class"] == "DEAD_LETTER_PROCESSING":
            got = "DEAD_LETTER_PROCESSING" if r.dead_letter else r.validation_status
        else:
            got = r.validation_status
        if got != e["expected_class"]:
            mismatches.append((e["scenario"], e["expected_class"], got))
    assert mismatches == []
