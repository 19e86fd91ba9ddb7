"""Volume fuzz: 100K seeded generator events through the full
validate + alert pipeline, asserting EXACT per-scenario label parity
and per-scenario alert firing (VERDICT r9 item 3).

This is the reference's implicit operational contract at volume: the
producer's fault injector (``Producer /producer.py:120-269``) decides
what class every record is, and the Lambda's validator
(``Lambda/lamda.py:60-244``) must recover that class. The seeded
generator emits both the payload and the intended class, so the sweep
asserts the whole 19-scenario taxonomy (4 alert + 3 warning + 9
invalid + 1 healthy + 2 dead-letter classes) with zero tolerance —
any drift in a validation rule shows up as a named (scenario,
expected, got) triple, not a flaky aggregate.

The comparison is DataFrame-side (label join on the unique raw JSON
payload + one groupBy matrix), so the 100K sweep costs one pipeline
pass, not 100K per-row assertions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_real_time_data_pipeline_spark.generator import generate_events
from iot_real_time_data_pipeline_spark.operators.pipeline import assemble_events, process_events
from iot_real_time_data_pipeline_spark.sources.events import parse_raw_payloads

N_EVENTS = 100_000
SEED = 20260816

# scenario -> alert type(s), at least one of which must fire on every
# row of that scenario (functions/alerts.py R2-R4; the high-water
# generator falls back to a low-water injection at loc_2, whose
# expected range caps below the 2.5 high-water line).
ALERT_EXPECTATIONS = {
    "high_temperature_alert": ("High Temperature",),
    "low_water_level_alert": ("Low Water Level",),
    "high_water_level_alert": ("High Water Level", "Low Water Level"),
    "ph_imbalance_alert": ("Soil pH Warning",),
}


@pytest.mark.slow
@pytest.mark.soak
def test_label_parity_100k_sweep(spark):
    events = generate_events(n=N_EVENTS, seed=SEED)
    labels = spark.createDataFrame(
        [
            (e["raw"] if e["raw"] else "x", e["scenario"], e["expected_class"])
            for e in events
        ],
        "value string, scenario string, expected string",
    )

    out = assemble_events(process_events(parse_raw_payloads(labels.select("value"))))
    got = (
        F.when(F.col("json_decode_error"), F.lit("DEAD_LETTER_JSON"))
        .when(F.col("dead_letter"), F.lit("DEAD_LETTER_PROCESSING"))
        .otherwise(F.col("validation_status"))
    )
    classified = out.select(
        F.col("raw_json").alias("value"),
        got.alias("got"),
        F.transform("alerts", lambda a: a["type"]).alias("alert_types"),
        F.transform("alerts", lambda a: a["priority"]).alias("alert_prios"),
    ).persist()

    # Dead-letter JSON payloads are a handful of repeated garbage
    # strings (join keys would explode) — compare by count instead.
    n_garbage_expected = sum(
        1 for e in events if e["expected_class"] == "DEAD_LETTER_JSON"
    )
    n_garbage_got = classified.filter(F.col("got") == "DEAD_LETTER_JSON").count()
    assert n_garbage_got == n_garbage_expected

    # Every JSON payload is unique (random 48-bit event_id + distinct
    # timestamps), so the label join is 1:1.
    joined = (
        labels.filter(F.col("expected") != "DEAD_LETTER_JSON")
        .join(classified, "value", "left")
        .persist()
    )
    assert joined.filter(F.col("got").isNull()).count() == 0

    # The full matrix: every (scenario, expected, got) combination.
    matrix = (
        joined.groupBy("scenario", "expected", "got")
        .count()
        .orderBy("scenario", "expected", "got")
        .collect()
    )
    mismatches = [
        (r.scenario, r.expected, r.got, r["count"])
        for r in matrix
        if r.expected != r.got
    ]
    assert mismatches == [], f"label drift: {mismatches}"
    # PERF.md evidence line: per-scenario counts, all matched.
    print(
        "label-parity matrix:",
        {f"{r.scenario}": r["count"] for r in matrix},
    )

    # Alert firing: each alert scenario's rows must carry its type.
    for scenario, types in ALERT_EXPECTATIONS.items():
        cond = None
        for t in types:
            c = F.array_contains("alert_types", t)
            cond = c if cond is None else (cond | c)
        n_rows = joined.filter(F.col("scenario") == scenario).count()
        n_fired = joined.filter((F.col("scenario") == scenario) & cond).count()
        assert n_rows > 0, f"{scenario}: generator produced no rows"
        assert n_fired == n_rows, f"{scenario}: {n_fired}/{n_rows} fired"

    # Healthy rows MAY alert — the generator's optimal ranges overlap
    # the R2-R4 alert thresholds (e.g. a loc whose optimal pH band
    # extends below 6.0), exactly as in the reference, where alerts
    # and validity are independent layers. What a SINK-ELIGIBLE row
    # (VALID/WARNING — dead letters never reach route()'s alert sink,
    # and their computed alerts column is routing debris) can never
    # carry is a CRITICAL alert: those fire only on INVALID sensor
    # errors (lamda.py:178-184; functions/alerts.py R1).
    n_ok_critical = joined.filter(
        F.col("got").isin("VALID", "WARNING")
        & F.array_contains("alert_prios", "CRITICAL")
    ).count()
    assert n_ok_critical == 0
    # ...and the positive direction: every sensor_failure row (numeric
    # sentinel / NaN injections -> INVALID) fires a CRITICAL alert.
    sf_rows = joined.filter(F.col("scenario") == "sensor_failure")
    n_sf = sf_rows.count()
    n_sf_critical = sf_rows.filter(
        F.array_contains("alert_prios", "CRITICAL")
    ).count()
    assert n_sf > 0 and n_sf_critical == n_sf
    joined.unpersist()
    classified.unpersist()
