"""R1-R6 alert rules (Lambda/lamda.py:152-330)."""

from __future__ import annotations

from iot_real_time_data_pipeline_spark.operators.pipeline import (
    assemble_events,
    exploded_alerts,
    process_events,
)

from .conftest import event_json


def alerts_for(parse_payloads, payload):
    proc = assemble_events(process_events(parse_payloads([payload])))
    return {
        (r.alert_type, r.priority): r.description
        for r in exploded_alerts(proc).collect()
    }


def test_r1_critical_per_error_class(parse_payloads):
    # One extreme + one out-of-range error -> exactly two CRITICAL
    # 'Sensor Failure' alerts (one per class), not one per error.
    payload = event_json(
        sensors={"humidity": "NULL", "nitrogen": 9999, "phosphorus": 500.0}
    )
    alerts = alerts_for(parse_payloads, payload)
    assert set(alerts) == {("Sensor Failure", "CRITICAL")} or len(alerts) == 2
    proc = assemble_events(process_events(parse_payloads([payload])))
    rows = exploded_alerts(proc).collect()
    assert len(rows) == 2
    descs = sorted(r.description for r in rows)
    assert "sensor_failure" in descs[0]
    assert "sensor_malfunction" in descs[1]


def test_r1_no_alert_for_missing_loc(parse_payloads):
    assert alerts_for(parse_payloads, event_json(loc_id=None)) == {}


def test_r2_high_temperature(parse_payloads):
    alerts = alerts_for(
        parse_payloads,
        event_json(sensors={"temperature": 36.0}, weather={"temperature_2m": 35.0}),
    )
    assert ("High Temperature", "HIGH") in alerts
    assert "36.0°C at loc_1" in alerts[("High Temperature", "HIGH")]


def test_r3_low_water_level(parse_payloads):
    alerts = alerts_for(parse_payloads, event_json(sensors={"water_level": 0.7}))
    assert ("Low Water Level", "HIGH") in alerts
    assert "0.70m" in alerts[("Low Water Level", "HIGH")]


def test_r3_high_water_level(parse_payloads):
    alerts = alerts_for(parse_payloads, event_json(sensors={"water_level": 2.8}))
    assert ("High Water Level", "MEDIUM") in alerts


def test_r4_ph_priority_tiers(parse_payloads):
    medium = alerts_for(parse_payloads, event_json(sensors={"ph": 7.8}))
    assert ("Soil pH Warning", "MEDIUM") in medium
    # 5.2 is out-of-range for loc_1 (6.0-8.0, buffer 0.2) -> INVALID, no
    # operational alert; use the near-threshold zone edge 5.9 for HIGH?
    # 5.9 is within buffer (5.8-6.0) -> WARNING row, pH rule fires MEDIUM
    # (5.9 >= 5.5). HIGH requires < 5.5 which is always out-of-range for
    # loc_1 -> unreachable for VALID/WARNING loc_1 rows, matching the
    # reference's semantics (alerts only for VALID/WARNING).
    warning_row = alerts_for(parse_payloads, event_json(sensors={"ph": 5.9}))
    assert ("Soil pH Warning", "MEDIUM") in warning_row


def test_r5_low_nutrient(parse_payloads):
    # loc_1 nitrogen min 80; 0.8*80 = 64. A 60 reading is out-of-range
    # (beyond buffer 73) -> INVALID. Within-buffer 74 is not < 64 -> no
    # alert. The rule is only reachable for WARNING rows in loc_2
    # (min 70, 0.8*70=56, buffer lo 63) -> still not < 56. Verify the
    # engine treats it as unreachable-for-operational rows too: a 60
    # nitrogen reading must produce Sensor Failure, not Low Nutrient.
    alerts = alerts_for(parse_payloads, event_json(sensors={"nitrogen": 60.0}))
    assert ("Sensor Failure", "CRITICAL") in alerts
    assert ("Low Nutrient", "MEDIUM") not in alerts


def test_r6_message_formatting(spark, parse_payloads):
    import pyspark.sql.functions as F

    from iot_real_time_data_pipeline_spark.functions.alerts import alert_message

    parsed = parse_payloads([event_json(sensors={"water_level": 0.7})])
    proc = assemble_events(process_events(parsed))
    ex = exploded_alerts(proc)
    subject, body = alert_message(
        F.struct(
            F.col("alert_type").alias("type"),
            F.col("priority").alias("priority"),
            F.col("description").alias("description"),
        ),
        F.col("loc_id"),
        F.col("event_id"),
        F.col("timestamp"),
    )
    row = ex.select(subject.alias("s"), body.alias("b")).collect()[0]
    assert "HIGH Alert: Low Water Level @ loc_1" in row.s
    assert "Recommended Action: Inspect irrigation system and water supply" in row.b
    assert "Event ID: evt_000000000001" in row.b
