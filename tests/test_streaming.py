"""Streaming: the alert throttle (T2) alone and carried across
micro-batches by the loader, and the end-to-end micro-batch pipeline
with all sinks (T1/T5, S5/S6/S7/S10)."""

from __future__ import annotations

import datetime
import json
import os

import pyspark.sql.functions as F
import pytest

from .conftest import event_json

ALERT_SCHEMA = (
    "event_id string, loc_id string, timestamp timestamp, "
    "alert_type string, priority string, description string"
)


def ts(minute: int, second: int = 0):
    return datetime.datetime(2024, 3, 1, 6, minute, second)


ALERT_ROWS = [
    # key (loc_1, High Temperature): t=0 sent, +60s suppressed, +400s sent
    ("e1", "loc_1", ts(0), "High Temperature", "HIGH", "d1"),
    ("e2", "loc_1", ts(1), "High Temperature", "HIGH", "d2"),
    ("e3", "loc_1", ts(6, 40), "High Temperature", "HIGH", "d3"),
    # CRITICAL bypasses throttling entirely (two in 1 min, both sent)
    ("e4", "loc_1", ts(0), "Sensor Failure", "CRITICAL", "d4"),
    ("e5", "loc_1", ts(1), "Sensor Failure", "CRITICAL", "d5"),
    # different key unaffected
    ("e6", "loc_2", ts(1), "High Temperature", "HIGH", "d6"),
]


def test_throttle_batch_window(spark):
    """One batch through ``throttle_sends``: send rows in the alerts
    sink's column order."""
    from iot_real_time_data_pipeline_spark.streaming.throttle import (
        THROTTLE_OUTPUT_SCHEMA,
        throttle_sends,
    )

    out = throttle_sends(spark.createDataFrame(ALERT_ROWS, ALERT_SCHEMA))
    assert out.columns == THROTTLE_OUTPUT_SCHEMA.fieldNames()
    sent = {r.event_id for r in out.collect()}
    # e1 sent (t0), e2 suppressed (60s < 5min), e3 sent (400s);
    # criticals always pass; e6 own key.
    assert sent == {"e1", "e3", "e4", "e5", "e6"}


def test_throttle_stateful_greedy(spark):
    """Batch by batch, each batch's history being the sends so far: the
    same sends as one fold over all the rows."""
    from iot_real_time_data_pipeline_spark.streaming.throttle import (
        THROTTLE_OUTPUT_SCHEMA,
        throttle_sends,
    )

    sent_rows: list = []
    for rows in [ALERT_ROWS[:2], ALERT_ROWS[2:4], ALERT_ROWS[4:]]:
        history = spark.createDataFrame(sent_rows, THROTTLE_OUTPUT_SCHEMA)
        sent_rows += throttle_sends(
            spark.createDataFrame(rows, ALERT_SCHEMA), history
        ).collect()
    # e3 (batch 2) is 400s past e1's send, carried in from batch 1.
    assert {r.event_id for r in sent_rows} == {"e1", "e3", "e4", "e5", "e6"}

    # Stragglers older than the key's last stored send (06:10): the
    # HIGH one is suppressed, the CRITICAL one still sends.
    history = spark.createDataFrame(
        [("loc_3", "High Temperature", "h1", "HIGH", "d", ts(10))],
        THROTTLE_OUTPUT_SCHEMA,
    )
    late = spark.createDataFrame([
        ("s1", "loc_3", ts(0), "High Temperature", "HIGH", "d"),
        ("s2", "loc_3", ts(1), "High Temperature", "CRITICAL", "d"),
    ], ALERT_SCHEMA)
    assert [r.event_id for r in throttle_sends(late, history).collect()] == ["s2"]


def test_throttle_stateful_replay_matches_greedy(spark):
    """The batch replay's counters: same sends as
    test_throttle_stateful_greedy on the same rows."""
    from iot_real_time_data_pipeline_spark.streaming import (
        throttle_stateful_replay,
    )

    df = spark.createDataFrame(ALERT_ROWS, ALERT_SCHEMA)
    got = {
        (r.loc_id, r.alert_type): (
            r.n_sent, r.n_critical_sent, r.n_suppressed, r.last_sent_at
        )
        for r in throttle_stateful_replay(df).collect()
    }
    assert got == {
        # e1 sent, e2 suppressed (60s), e3 sent (400s >= 300s)
        ("loc_1", "High Temperature"): (2, 0, 1, ts(6, 40)),
        # criticals bypass: both sent
        ("loc_1", "Sensor Failure"): (2, 2, 0, ts(1)),
        ("loc_2", "High Temperature"): (1, 0, 0, ts(1)),
    }


def test_throttle_stateful_replay_boundary_and_critical_refresh(spark):
    """Two edges the counters must pin: (a) a gap of EXACTLY the
    5-minute interval sends (>=, not >) and suppressed alerts do not
    advance last_sent; (b) a CRITICAL bypass REFRESHES last_sent
    (lamda.py:257-261), re-arming the suppression window."""
    from iot_real_time_data_pipeline_spark.streaming import (
        throttle_stateful_replay,
    )

    rows = [
        # key A: t0 send; +299s suppressed; +300s (vs t0 — the
        # suppressed alert left last_sent alone) boundary -> send
        ("a1", "loc_1", ts(0, 0), "High Temperature", "HIGH", "d"),
        ("a2", "loc_1", ts(4, 59), "High Temperature", "HIGH", "d"),
        ("a3", "loc_1", ts(5, 0), "High Temperature", "HIGH", "d"),
        # key B: t0 HIGH send; +100s CRITICAL send refreshes last_sent;
        # +350s HIGH is 250s past the REFRESHED send -> suppressed
        ("b1", "loc_2", ts(0, 0), "Low Water Level", "HIGH", "d"),
        ("b2", "loc_2", ts(1, 40), "Low Water Level", "CRITICAL", "d"),
        ("b3", "loc_2", ts(5, 50), "Low Water Level", "HIGH", "d"),
    ]
    df = spark.createDataFrame(rows, ALERT_SCHEMA)
    got = {
        (r.loc_id, r.alert_type): (r.n_sent, r.n_critical_sent, r.n_suppressed)
        for r in throttle_stateful_replay(df).collect()
    }
    assert got == {
        ("loc_1", "High Temperature"): (2, 0, 1),
        ("loc_2", "Low Water Level"): (2, 1, 1),
    }


def _payload_batch(spark, lines):
    """Raw payload lines parsed as one loader micro-batch."""
    from iot_real_time_data_pipeline_spark.sources.events import parse_raw_payloads

    return parse_raw_payloads(
        spark.createDataFrame([(p,) for p in lines], "value string"), "value"
    )


def _hot_event(event_id, minute, second=0):
    """A VALID loc_1 event raising one HIGH "High Temperature" alert."""
    return event_json(
        event_id=event_id,
        timestamp=f"2024-03-01T06:{minute:02d}:{second:02d}Z",
        sensors={"temperature": 36.0},
        weather={"temperature_2m": 35.0},
    )


def _sent_high_temperature(spark, wh):
    return sorted(
        r.event_id
        for r in spark.read.parquet(f"{wh}/alerts")
        .filter(F.col("alert_type") == "High Temperature")
        .collect()
    )


def test_loader_throttles_across_micro_batches(spark, tmp_path):
    """Two HIGH alerts for one key, 1 minute apart inside one 5-minute
    window, in consecutive micro-batches: the second batch resumes from
    the first one's send in the alerts sink, so only the first sends."""
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    wh = str(tmp_path / "wh")
    load = foreach_batch_loader(wh)
    load(_payload_batch(spark, [_hot_event("evt_a1", 1)]), 0)
    load(_payload_batch(spark, [_hot_event("evt_a2", 2)]), 1)
    assert _sent_high_temperature(spark, wh) == ["evt_a1"]


def test_loader_throttle_is_greedy_not_window_aligned(spark, tmp_path):
    """06:04:59 and 06:05:01 fall in different 5-minute windows but are
    2 s apart: only the first sends."""
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    wh = str(tmp_path / "wh")
    batch = [_hot_event("evt_b1", 4, 59), _hot_event("evt_b2", 5, 1)]
    foreach_batch_loader(wh)(_payload_batch(spark, batch), 0)
    assert _sent_high_temperature(spark, wh) == ["evt_b1"]


def test_loader_alerts_equal_replay_fold(spark, tmp_path):
    """The alerts sink after four time-ordered micro-batches holds, per
    key, the sends of one replay fold over the concatenated input's
    lake rows: streaming changes no throttle decision."""
    from iot_real_time_data_pipeline_spark.generator import generate_events
    from iot_real_time_data_pipeline_spark.operators.pipeline import (
        assemble_events,
        exploded_alerts,
        process_events,
        route,
    )
    from iot_real_time_data_pipeline_spark.streaming import (
        foreach_batch_loader,
        throttle_stateful_replay,
    )

    payloads = [e["raw"] or "not-json" for e in generate_events(n=240, seed=5)]
    wh = str(tmp_path / "wh")
    load = foreach_batch_loader(wh)
    for i in range(4):
        load(_payload_batch(spark, payloads[i * 60 : (i + 1) * 60]), i)

    streamed = {
        (r.loc_id, r.alert_type): (r.n_sent, r.last_sent_at)
        for r in spark.read.parquet(f"{wh}/alerts")
        .groupBy("loc_id", "alert_type")
        .agg(
            F.count("*").alias("n_sent"),
            F.max("sent_timestamp").alias("last_sent_at"),
        )
        .collect()
    }
    flagged = process_events(_payload_batch(spark, payloads))
    lake = route(assemble_events(flagged))["lake"]
    replay = {
        (r.loc_id, r.alert_type): (r.n_sent, r.last_sent_at)
        for r in throttle_stateful_replay(
            exploded_alerts(lake.dropDuplicates(["event_id"]))
        ).collect()
    }
    assert streamed and streamed == replay


def test_loader_lake_alerts_sent_equals_alerts_sink(spark, tmp_path):
    """Each lake row's ``alerts_sent`` lists exactly that event's rows in
    the alerts sink. The second batch sends a HIGH alert nine minutes
    after its key's stored send, beside a CRITICAL one. The alerts
    append re-caches every frame that reads the alerts sink, so a lake
    written after it would re-run the fold over the batch's own sends
    and lose the HIGH send."""
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    wh = str(tmp_path / "wh")
    load = foreach_batch_loader(wh)
    load(_payload_batch(spark, [_hot_event("evt_c1", 1)]), 0)
    failing = event_json(
        event_id="evt_c3",
        timestamp="2024-03-01T06:10:00Z",
        sensors={"__replace__": True, "temperature": 25.0},
    )
    load(_payload_batch(spark, [_hot_event("evt_c2", 10), failing]), 1)
    assert _sent_high_temperature(spark, wh) == ["evt_c1", "evt_c2"]

    sent = F.from_json(
        "alerts_sent",
        "array<struct<type:string,priority:string,sent_timestamp:timestamp>>",
    )
    from_lake = sorted(
        (r.event_id, r.a.type, r.a.priority, r.a.sent_timestamp)
        for r in spark.read.parquet(f"{wh}/lake")
        .select("event_id", F.explode(sent).alias("a"))
        .collect()
    )
    from_sink = sorted(
        (r.event_id, r.alert_type, r.priority, r.sent_timestamp)
        for r in spark.read.parquet(f"{wh}/alerts").collect()
    )
    assert any(p == "CRITICAL" for _, _, p, _ in from_sink)
    assert from_lake == from_sink


def test_jsonl_mirror_holds_flat_lake_rows(spark, tmp_path):
    """S4 — the debug JSONL mirror (producer.py:446-447): with
    ``jsonl_mirror=True`` every flat lake row is also appended as one
    line of line-delimited JSON under lake_jsonl/, field-for-field
    equal to the parquet lake."""
    from iot_real_time_data_pipeline_spark.streaming import run_stream

    src = tmp_path / "events_src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    lines = [
        event_json(event_id="evt_m1", timestamp="2024-03-01T06:01:00Z"),
        event_json(event_id="evt_m2", timestamp="2024-03-01T06:02:00Z"),
    ]
    (src / "f0.jsonl").write_text("\n".join(lines) + "\n")

    q = run_stream(
        spark, str(src), wh, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, jsonl_mirror=True,
    )
    assert q.awaitTermination(480), "stream did not finish (host-load timeout, not a data bug)"

    lake = spark.read.parquet(f"{wh}/lake")
    mirror = spark.read.json(f"{wh}/lake_jsonl")
    assert mirror.count() == lake.count() == 2
    assert {r.event_id for r in mirror.collect()} == {"evt_m1", "evt_m2"}
    # field-for-field: every lake column survives the JSON round-trip
    # (date/timestamp become strings in JSON — compare as strings)
    lk = {r["event_id"]: r.asDict() for r in lake.collect()}
    mr = {r["event_id"]: r.asDict() for r in mirror.collect()}
    # JSON lines omit null fields, so a column absent from the mirror
    # must be all-null in the lake; every present column matches.
    missing = set(lk["evt_m1"]) - set(mr["evt_m1"])
    for col in missing:
        assert all(lk[eid][col] is None for eid in lk), col
    for eid in lk:
        for col, v in lk[eid].items():
            if col in missing:
                continue
            mv = mr[eid].get(col)
            if v is None:
                assert mv is None, (eid, col)
            else:
                assert str(mv)[:10] == str(v)[:10] or mv == v, (eid, col)


@pytest.mark.slow
def test_stream_end_to_end(spark, tmp_path):
    from iot_real_time_data_pipeline_spark.streaming import run_stream

    src = tmp_path / "events_src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    base = datetime.datetime(2024, 3, 1, 6, 0, 0)

    def payload(i, minute, **kw):
        return event_json(
            event_id=f"evt_{i:03d}",
            timestamp=base.replace(minute=minute).isoformat() + "Z",
            **kw,
        )

    # batch 1: 2 valid; batch 2: 1 warning + 1 invalid + garbage;
    # batch 3: replay of evt_001 (must dedup) + 1 new valid
    files = [
        [payload(1, 1), payload(2, 2)],
        [payload(3, 3, sensors={"humidity": 93.0}),
         payload(4, 4, loc_id="loc_9"), "<<garbage>>"],
        [payload(1, 1), payload(5, 5)],
    ]
    for i, lines in enumerate(files):
        (src / f"f{i}.jsonl").write_text("\n".join(lines) + "\n")

    q = run_stream(
        spark, str(src), wh, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert q.awaitTermination(480), "stream did not finish (host-load timeout, not a data bug)"

    fact = spark.read.parquet(f"{wh}/star/fact_sensor_readings")
    facts = {r.evt_id for r in fact.collect()}
    # VALID + WARNING reach the fact table; INVALID & garbage don't;
    # the replayed evt_001 loads exactly once.
    assert facts == {"evt_001", "evt_002", "evt_003", "evt_005"}
    assert fact.count() == 4
    ids = [r.fact_id for r in fact.collect()]
    assert len(ids) == len(set(ids))

    lake = spark.read.parquet(f"{wh}/lake")
    assert set(r.validation_status for r in lake.collect()) == {
        "VALID", "WARNING", "INVALID"
    }

    # S5 layout: the lake partitions by (status, loc, DATE) — SURVEY §4's
    # fix for the reference's unprunable S3 keys (lamda.py:365-367).
    import glob

    assert glob.glob(f"{wh}/lake/validation_status=VALID/loc_id_part=loc_1/date=2024-03-01")
    # ... and a date-bounded read prunes statically (partition filter,
    # not a post-scan filter).
    pruned = lake.filter(F.col("date") == "2024-03-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "date" in plan.split("PartitionFilters")[1][:200]

    # alerts_sent write-back: every lake row of an event whose alert
    # cleared the throttle records [{type, priority, sent_timestamp}];
    # rows with no sent alerts stay null (the reference's absent key).
    alerts = spark.read.parquet(f"{wh}/alerts")
    sent_ids = {r.event_id for r in alerts.collect()}
    by_event = {r.event_id: r.alerts_sent for r in lake.collect()}
    for eid in sent_ids:
        assert by_event[eid] is not None and '"type":' in by_event[eid]
    for eid, sent in by_event.items():
        if eid not in sent_ids:
            assert sent is None

    # S6 dead letters: error-class partition dirs (errors/json_decode/ ↔
    # errors/processing/), plus the error message and source sequence
    # the reference stores with each record (lamda.py:488-530).
    dead = spark.read.parquet(f"{wh}/dead_letter")
    assert dead.count() == 1
    dl = dead.collect()[0]
    assert dl.error_type == "json_decode_error"
    assert "JSONDecodeError" in dl.error_message
    assert dl.source_seq is not None
    assert glob.glob(f"{wh}/dead_letter/error_type=json_decode_error")

    dim_loc = spark.read.parquet(f"{wh}/star/dim_location")
    assert dim_loc.count() == 1  # loc_1 appended once across batches


def test_loader_job_budget_and_fact_keys_on_disk(spark, tmp_path):
    """A steady-state micro-batch (the star already on disk) stays within
    26 Spark jobs: history is read with declared schemas, the throttle
    runs once, the key offsets are carried from the first batch's
    appends (no read), the dims append over the one-partition lake
    without a shuffle, and the fact is built from the dims as written,
    not from an in-plan union that re-runs every new-dim plan. Every
    fact row the batch appends joins all four stored dims on its
    surrogate keys. AQE coalesces the loader's cached frames, so the
    batch adds at most one parquet file to each leaf directory of the
    lake, alerts and star sinks."""
    from iot_real_time_data_pipeline_spark.generator import generate_events
    from iot_real_time_data_pipeline_spark.sources.events import parse_raw_payloads
    from iot_real_time_data_pipeline_spark.streaming.pipeline import (
        foreach_batch_loader,
    )

    payloads = [e["raw"] or "not-json" for e in generate_events(n=80, seed=11)]

    def batch(lines):
        return parse_raw_payloads(
            spark.createDataFrame([(p,) for p in lines], ["value"]), "value"
        )

    wh = str(tmp_path / "wh")
    fact_path = f"{wh}/star/fact_sensor_readings"
    load = foreach_batch_loader(wh)
    load(batch(payloads[:40]), 0)
    before = [r.evt_id for r in spark.read.parquet(fact_path).select("evt_id").collect()]
    second = batch(payloads[40:])

    # dead_letter/ is left out: dead letters are a narrow map of the
    # input, so they keep the input's partitioning.
    def parquet_files_per_dir():
        counts = {}
        for sink in ("lake", "alerts", "star"):
            for d, _, files in os.walk(f"{wh}/{sink}"):
                counts[d] = sum(f.endswith(".parquet") for f in files)
        return counts

    files_before = parquet_files_per_dir()

    sc = spark.sparkContext
    sc.setJobGroup("loader-budget", "second micro-batch")
    try:
        load(second, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("loader-budget")
    assert 0 < len(jobs) <= 26, f"{len(jobs)} jobs in one micro-batch"
    added_files = {
        os.path.relpath(d, wh): n - files_before.get(d, 0)
        for d, n in parquet_files_per_dir().items()
    }
    assert any(added_files.values())
    assert max(added_files.values()) <= 1, {d: n for d, n in added_files.items() if n > 1}

    added = spark.read.parquet(fact_path).filter(~F.col("evt_id").isin(before))
    n_added = added.count()
    assert n_added > 0
    joined = added
    for dim, key in [
        ("dim_location", "location_key"),
        ("dim_weather", "weather_key"),
        ("dim_soil", "soil_key"),
        ("dim_time", "full_date"),
    ]:
        joined = joined.join(spark.read.parquet(f"{wh}/star/{dim}").select(key), key)
    # one match per dim: no orphan keys and no duplicated stored keys
    assert joined.count() == n_added


def _generated_batches(spark, n_batches, size, seed):
    """``n_batches`` loader micro-batches of ``size`` generated events."""
    from iot_real_time_data_pipeline_spark.generator import generate_events

    payloads = [e["raw"] or "not-json" for e in generate_events(n=n_batches * size, seed=seed)]
    return [
        _payload_batch(spark, payloads[i * size : (i + 1) * size]) for i in range(n_batches)
    ]


def _stored_keys(spark, wh):
    """Keyed star table -> the surrogate keys stored under ``wh``."""
    from iot_real_time_data_pipeline_spark.operators.star_schema import KEY_COLUMNS

    return {
        name: [r[0] for r in spark.read.parquet(f"{wh}/star/{name}").select(key).collect()]
        for name, key in KEY_COLUMNS.items()
    }


def _assert_keys_unique_and_above(spark, wh, before):
    """Every keyed star table holds unique keys, and each key added since
    ``before`` (``_stored_keys`` earlier) lies above that table's max
    key then. The fact gained rows."""
    after = _stored_keys(spark, wh)
    for name, keys in after.items():
        assert len(keys) == len(set(keys)), f"{name}: duplicate keys"
        added = set(keys) - set(before[name])
        assert all(k > max(before[name], default=0) for k in added), name
    assert len(after["fact_sensor_readings"]) > len(before["fact_sensor_readings"])


def _assert_fact_exactly_once(spark, wh):
    """Each VALID or WARNING lake event is in the fact exactly once."""
    evt_ids = [r.evt_id for r in spark.read.parquet(f"{wh}/star/fact_sensor_readings").collect()]
    assert len(evt_ids) == len(set(evt_ids))
    loadable = {
        r.event_id
        for r in spark.read.parquet(f"{wh}/lake")
        .filter(F.col("validation_status").isin("VALID", "WARNING"))
        .collect()
    }
    assert set(evt_ids) == loadable


def test_fresh_loader_offsets_read_from_storage(spark, tmp_path):
    """A new loader (a restarted query) over a star another loader wrote
    reads the key offsets from storage on its first batch: its keys lie
    above the stored maxima and stay unique in every keyed table."""
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    first, second = _generated_batches(spark, 2, 30, seed=21)
    wh = str(tmp_path / "wh")
    foreach_batch_loader(wh)(first, 0)
    before = _stored_keys(spark, wh)
    foreach_batch_loader(wh)(second, 0)
    _assert_keys_unique_and_above(spark, wh, before)
    _assert_fact_exactly_once(spark, wh)


def test_failed_batch_drops_carried_offsets(spark, tmp_path, monkeypatch):
    """The dim_soil append of the second batch commits its rows and then
    raises, as a driver that fails after the commit would. The batch's
    re-run appends no soil row (they are stored), so the carried soil
    offset would stay below the stored max; the loader drops the carried
    offsets when a batch raises, and the next batch's soil keys lie
    above the stored ones. The re-run loads the fact exactly once, and
    the raised batch leaves no cached frame behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    batches = _generated_batches(spark, 3, 30, seed=23)
    wh = str(tmp_path / "wh")
    load = foreach_batch_loader(wh)
    load(batches[0], 0)

    write = DataFrameWriter.parquet
    failures = []

    def commit_then_raise(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if path.endswith("star/dim_soil") and not failures:
            failures.append(path)
            raise RuntimeError("driver lost after the dim_soil commit")

    def persistent_rdds():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    monkeypatch.setattr(DataFrameWriter, "parquet", commit_then_raise)
    cached = persistent_rdds()
    with pytest.raises(RuntimeError, match="dim_soil commit"):
        load(batches[1], 1)
    assert persistent_rdds() == cached
    before = _stored_keys(spark, wh)
    load(batches[1], 1)
    load(batches[2], 2)
    assert failures
    _assert_keys_unique_and_above(spark, wh, before)
    _assert_fact_exactly_once(spark, wh)


def test_empty_micro_batch_writes_nothing(spark, tmp_path):
    """P5 — an empty micro-batch writes no parquet file under the
    warehouse and leaves the carried key offsets as they were: the next
    batch's keys lie above the stored maxima."""
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    first, third = _generated_batches(spark, 2, 30, seed=25)
    wh = str(tmp_path / "wh")

    def parquet_files():
        return sorted(
            os.path.join(d, f) for d, _, files in os.walk(wh) for f in files
            if f.endswith(".parquet")
        )

    load = foreach_batch_loader(wh)
    load(first, 0)
    files = parquet_files()
    before = _stored_keys(spark, wh)
    load(_payload_batch(spark, []), 1)
    assert parquet_files() == files
    load(third, 2)
    _assert_keys_unique_and_above(spark, wh, before)


@pytest.mark.parametrize("first", [True, False], ids=["first_batch", "after_a_batch"])
def test_malformed_only_batch_writes_dead_letters_only(spark, tmp_path, first):
    """A micro-batch of undecodable payloads brings no row to the lake,
    so its cached lake frame may hold no partition at all. As the first
    batch of a warehouse or after a loaded one, it writes its dead
    letters and leaves the star's rows and the carried key offsets as
    they were: the next batch's keys lie above the stored maxima and
    stay unique, and its fact rows load exactly once."""
    from collections import Counter

    from iot_real_time_data_pipeline_spark.operators.star_schema import (
        KEY_COLUMNS,
        STAR_SCHEMAS,
        read_star,
    )
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    loaded, after = _generated_batches(spark, 2, 30, seed=29)
    wh = str(tmp_path / "wh")
    load = foreach_batch_loader(wh)
    if not first:
        load(loaded, 0)

    def star_rows():
        star = read_star(spark, f"{wh}/star")
        return {
            name: Counter(star[name].collect()) if name in star else Counter()
            for name in STAR_SCHEMAS
        }

    def dead_letters():
        path = f"{wh}/dead_letter"
        return spark.read.parquet(path).count() if os.path.exists(path) else 0

    star, n_dead = star_rows(), dead_letters()
    load(_payload_batch(spark, ["not-json", "{broken", "[1, 2"]), 1)
    assert dead_letters() == n_dead + 3
    assert star_rows() == star
    before = {name: [r[key] for r in star[name]] for name, key in KEY_COLUMNS.items()}
    load(after, 2)
    _assert_keys_unique_and_above(spark, wh, before)
    _assert_fact_exactly_once(spark, wh)


def _shuffle_exchanges(plan) -> int:
    """ShuffleExchangeExec nodes in a physical plan, cached relations
    (which are not its children) left out."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _shuffle_exchanges(plan.executedPlan())
    children = plan.children()
    return (name == "ShuffleExchangeExec") + sum(
        _shuffle_exchanges(children.apply(i)) for i in range(children.size())
    )


def test_one_partition_hint_only_at_one_partition(spark):
    """The loader's hint coalesces a cached frame of one partition, so
    a ``distinct`` over it plans no shuffle. Like the loader's lake, the
    frame is a shuffle that AQE coalesced to one partition, whose cached
    scan does not report it. A frame of several partitions, or of none
    (``coalesce`` rejects 0), comes back as it is."""
    from iot_real_time_data_pipeline_spark.streaming.pipeline import _one_partition_hint

    def exchanges(frame):
        plan = frame.select("k").distinct()._jdf.queryExecution().executedPlan()
        return _shuffle_exchanges(plan)

    one = (
        spark.range(8, numPartitions=4)
        .selectExpr("id % 5 AS a", "id % 3 AS k")
        .dropDuplicates(["a"])
        .persist()
    )
    try:
        one.count()
        assert one.rdd.getNumPartitions() == 1
        assert exchanges(one) == 1
        assert exchanges(_one_partition_hint(one)) == 0
    finally:
        one.unpersist()
    several = spark.range(8, numPartitions=4)
    assert _one_partition_hint(several) is several
    empty = spark.range(0)
    assert empty.rdd.getNumPartitions() == 0
    assert _one_partition_hint(empty) is empty


def test_dim_appends_skip_the_shuffle_only_on_a_one_partition_lake(
    spark, tmp_path, monkeypatch
):
    """With the cached lake frame in one partition (AQE coalesces a
    small batch), the loader reads it through ``coalesce(1)`` and no dim
    append plans a shuffle. With AQE's coalescing off, the lake keeps
    its shuffle partitions, is read as it is, and each dim's distinct
    still shuffles. Both write the same dim and fact rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    from iot_real_time_data_pipeline_spark.operators.star_schema import read_star
    from iot_real_time_data_pipeline_spark.streaming import foreach_batch_loader

    from .test_star_schema import _business_rows

    batches = _generated_batches(spark, 2, 30, seed=27)
    write = DataFrameWriter.parquet
    exchanges = {}

    def record_dim_plans(self, path, *args, **kwargs):
        if "star/dim_" in path:
            plan = self._df._jdf.queryExecution().executedPlan()
            exchanges[os.path.basename(path)] = _shuffle_exchanges(plan)
        write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record_dim_plans)

    def load_star(wh):
        load = foreach_batch_loader(wh)
        for i, batch in enumerate(batches):
            exchanges.clear()
            load(batch, i)
        return _business_rows(read_star(spark, f"{wh}/star"))

    one_partition = load_star(str(tmp_path / "one"))
    assert set(exchanges) == {"dim_location", "dim_time", "dim_soil", "dim_weather"}
    assert not any(exchanges.values()), exchanges

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        several = load_star(str(tmp_path / "several"))
    finally:
        spark.conf.set(key, saved)
    assert all(exchanges.values()), exchanges
    assert several == one_partition


def test_corpus_kafka_shaped_records_parse(spark):
    """The Kafka-source contract columns parse into the document stream
    schema with partition-offset traceability, same as the events path."""
    from iot_real_time_data_pipeline_spark.sources.events import (
        parse_kafka_documents,
    )

    payload = json.dumps({
        "doc_id": 7, "text": "hello kafka world", "lang": "en",
        "source": "s1", "ingest_ts": "2024-03-01T06:00:00",
    })
    records = spark.createDataFrame(
        [(bytearray(payload, "utf-8"), 2, 41)],
        "value binary, partition int, offset long",
    )
    out = parse_kafka_documents(records).collect()
    assert len(out) == 1
    r = out[0]
    assert r.doc_id == 7 and r.text == "hello kafka world"
    assert r.source_seq == "2-41"
    assert r.ingest_ts == datetime.datetime(2024, 3, 1, 6, 0)


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Stop a running sink and RESTART it from the same checkpoint with
    new source files present: the restarted query must pick up only the
    unseen offsets — no batch-1 reprocessing (no duplicate event_ids in
    the sink), no batch-2 loss. This is the recovery contract every
    production deployment leans on after an executor/driver crash."""
    import json as _json

    src = tmp_path / "restart_src"
    sink = tmp_path / "restart_sink"
    ckpt = tmp_path / "restart_ckpt"
    src.mkdir()

    def write_batch(name: str, ids: range) -> None:
        (src / name).write_text(
            "\n".join(
                _json.dumps(
                    {"event_id": i, "user_id": i % 3, "value": float(i),
                     "ts": "2024-01-01T00:00:00"}
                )
                for i in ids
            )
        )

    schema = "event_id long, user_id long, value double, ts timestamp"

    def start():
        return (
            spark.readStream.schema(schema)
            .json(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )

    write_batch("b1.json", range(0, 50))
    q1 = start()
    assert q1.awaitTermination(240), "stream did not finish (host-load timeout, not a data bug)"
    first = spark.read.parquet(str(sink)).count()
    assert first == 50

    write_batch("b2.json", range(50, 80))
    q2 = start()
    assert q2.awaitTermination(240), "stream did not finish (host-load timeout, not a data bug)"

    rows = spark.read.parquet(str(sink)).collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == 80  # batch 1 not reprocessed, batch 2 not lost
    assert len(set(ids)) == 80  # and no duplicates
    assert set(ids) == set(range(80))


def _parquet_files_per_leaf(root: str) -> dict[str, int]:
    """Parquet file count of every directory under ``root`` that holds
    any, keyed by its path relative to ``root``."""
    counts = {}
    for d, _, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            counts[os.path.relpath(d, root)] = n
    return counts


def test_lake_compaction_preserves_rows_and_bounds_files(spark, tmp_path):
    """Small-file compaction: a lake written in many appends collapses
    to <= target files per partition with IDENTICAL row content, and a
    second pass is a no-op (idempotent)."""
    from pyspark.sql import functions as F

    from iot_real_time_data_pipeline_spark.operators import maintenance as MX

    root = str(tmp_path / "lake")
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("part"),
        (F.col("id") * 7).alias("val"),
    )
    # 5 appends x repartition(4) -> up to 20 files per partition dir
    for _ in range(5):
        df.repartition(4).write.mode("append").partitionBy("part").parquet(root)

    before = _parquet_files_per_leaf(root)
    assert all(n > 1 for n in before.values())
    rows_before = sorted(
        (r.id, r.part, r.val) for r in spark.read.parquet(root).collect()
    )

    report = MX.compact_lake(spark, root, target_files=1)
    assert all(e["action"] == "compacted" for e in report)
    after = _parquet_files_per_leaf(root)
    assert set(after) == set(before) and all(n == 1 for n in after.values())
    rows_after = sorted(
        (r.id, r.part, r.val) for r in spark.read.parquet(root).collect()
    )
    assert rows_after == rows_before

    # idempotent second pass
    report2 = MX.compact_lake(spark, root, target_files=1)
    assert all(e["action"] == "skip" for e in report2)


def test_hidden_scratch_dirs_invisible_to_lake_readers(spark, tmp_path):
    """The swap protocol's safety premise: a dot-prefixed staging dir
    INSIDE the lake root (where compact_lake stages each partition's
    rewrite) is ignored by Spark's listing, so a concurrent reader
    during the stage phase sees exactly the old rows."""
    from iot_real_time_data_pipeline_spark.operators import maintenance as MX

    root = tmp_path / "lake"
    df = spark.createDataFrame([(i, str(i % 2)) for i in range(20)],
                               "id long, part string")
    df.write.mode("overwrite").partitionBy("part").parquet(str(root))
    before = sorted(r.id for r in spark.read.parquet(str(root)).collect())

    # simulate mid-compaction: a staged rewrite with DIFFERENT rows
    leaf = str(root / "part=0")
    staged = MX._hidden_sibling(leaf, "._compacting")
    spark.createDataFrame([(999, )], "id long").write.mode(
        "overwrite"
    ).parquet(staged)

    during = sorted(r.id for r in spark.read.parquet(str(root)).collect())
    assert during == before  # scratch invisible
    assert MX._leaf_partition_dirs(str(root)) == sorted(
        [str(root / "part=0"), str(root / "part=1")]
    )  # our own listing skips it too


def test_vacuum_lake_removes_only_crash_debris(spark, tmp_path):
    """vacuum_lake deletes leftover hidden scratch dirs from an
    interrupted swap and touches nothing else; dry_run only lists."""
    from iot_real_time_data_pipeline_spark.operators import maintenance as MX

    root = tmp_path / "lake"
    spark.createDataFrame([(i, str(i % 2)) for i in range(10)],
                          "id long, part string").write.mode(
        "overwrite").partitionBy("part").parquet(str(root))
    leaf = str(root / "part=0")
    for suffix in ("._old", "._compacting"):
        d = MX._hidden_sibling(leaf, suffix)
        os.makedirs(d)
        open(os.path.join(d, "junk.parquet"), "w").write("x")
    # a hidden dir NOT from our protocol must survive
    keep = str(root / ".user_notes")
    os.makedirs(keep)

    listed = MX.vacuum_lake(str(root), dry_run=True)
    assert len(listed) == 2 and all("part=0" in p for p in listed)
    assert all(os.path.exists(p) for p in listed)

    removed = MX.vacuum_lake(str(root))
    assert removed == listed
    assert not any(os.path.exists(p) for p in removed)
    assert os.path.exists(keep)
    assert sorted(r.id for r in
                  spark.read.parquet(str(root)).collect()) == list(range(10))
