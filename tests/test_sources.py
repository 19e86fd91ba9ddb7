"""Ingest sources: JSON parse, base64 path, dead-letter routing (S2/S6)."""

from __future__ import annotations

import base64

from iot_real_time_data_pipeline_spark.operators.pipeline import (
    assemble_events,
    process_events,
    route,
)
from iot_real_time_data_pipeline_spark.sources.events import parse_base64_payloads

from .conftest import event_json


def test_corrupt_payloads_flagged(parse_payloads):
    rows = parse_payloads(
        [event_json(), "<<not json>>", "{truncated", "", "plain text"]
    ).collect()
    assert [r.json_decode_error for r in rows] == [False, True, True, True, True]


def test_empty_object_is_valid_json_goes_to_validation(parse_payloads):
    # "{}" decodes fine -> proceeds to validation -> INVALID missing_loc_id
    # (lamda.py behavior: decode succeeds, validation rejects).
    proc = assemble_events(process_events(parse_payloads(["{}"])))
    r = proc.collect()[0]
    assert r.json_decode_error is False
    assert r.validation_status == "INVALID"
    assert "missing_loc_id" in r.validation_errors


def test_base64_kinesis_path(spark):
    payload = event_json()
    encoded = base64.b64encode(payload.encode()).decode()
    df = spark.createDataFrame([(encoded,)], ["data"])
    parsed = parse_base64_payloads(df, "data")
    r = parsed.collect()[0]
    assert r.json_decode_error is False
    assert r.event_id == "evt_000000000001"


def test_kafka_shaped_records_parse_with_offset_seq(spark):
    """S1 production form minus the broker: the Kafka source contract
    frame (value/partition/offset) runs the shared parse path and the
    partition-offset pair lands in source_seq."""
    from iot_real_time_data_pipeline_spark.sources.events import parse_kafka_records

    rows = [
        (None, event_json().encode(), "iot-events", 0, 42),
        (None, b"<<garbage>>", "iot-events", 3, 7),
    ]
    df = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    parsed = {r.source_seq: r for r in parse_kafka_records(df).collect()}
    assert parsed["0-42"].event_id == "evt_000000000001"
    assert parsed["0-42"].json_decode_error is False
    assert parsed["3-7"].json_decode_error is True


def test_route_splits_lake_and_dead_letter(parse_payloads):
    parsed = parse_payloads(
        [
            event_json(event_id="ok"),
            event_json(event_id="warn", sensors={"humidity": 93.0}),
            event_json(event_id="bad", loc_id="loc_9"),
            "<<garbage>>",
            event_json(event_id="crash", sensors={"temperature": "NULL"}),
        ]
    )
    proc = assemble_events(process_events(parsed))
    routed = route(proc)
    lake = {r.event_id: r.route_prefix for r in routed["lake"].collect()}
    assert lake == {"ok": "valid/", "warn": "valid/warnings/", "bad": "invalid/"}
    dead = {(r.error_type) for r in routed["dead_letter"].collect()}
    assert dead == {"json_decode_error", "processing_error"}
    # raw payload preserved for forensics (lamda.py:497, 516)
    raws = [r.raw_payload for r in routed["dead_letter"].collect()]
    assert "<<garbage>>" in raws
    # ... and the per-class error message + batch position (lamda.py:488-530)
    msgs = {r.error_type: r.error_message for r in routed["dead_letter"].collect()}
    assert "JSONDecodeError" in msgs["json_decode_error"]
    # "NULL" temperature is a quoted string reaching the subtraction.
    assert "'str' and 'float'" in msgs["processing_error"]
    assert all(r.source_seq is not None for r in routed["dead_letter"].collect())
