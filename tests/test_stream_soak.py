"""Streaming soak (VERDICT r9 item 4): 100 micro-batches of seeded
generator traffic — replays, out-of-order arrival, dead letters, the
full fault taxonomy — accumulated through ``run_stream``, then checked
table-for-table against a SINGLE-batch load of the same input.

The invariant under test is the one no per-operator test can see:
incremental accumulation (100 appends, each anti-joining the
warehouse state it finds on disk) must converge to exactly the state
one atomic load produces — same fact rows (exactly-once despite
replays AND despite Spark's file source picking the files up in
mtime order, not event-time order), same sink-eligible lake rows,
same dim natural keys, same dead-letter classes. Checkpoint /
idempotency drift, double-applied batches, watermark races (the
round-10 finding: composing the Glue T4 watermark per micro-batch
silently dropped whole out-of-order batches — the foreachBatch star
step, ``append_star``, runs without it), or dim upserts that stop
deduplicating against disk all break the equality.

Delivery-log tiers are asserted as EXACT delivery counts rather than
set equality: INVALID lake rows, dead letters, and CRITICAL alerts
re-append on every redelivery by design (the reference stores every
Kinesis delivery in its error prefixes and critical alerts bypass the
throttle, lamda.py:257-261 + 488-530), so the streamed run must hold
exactly `once + replayed_deliveries` of each.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from iot_real_time_data_pipeline_spark.generator import generate_events
from iot_real_time_data_pipeline_spark.streaming import run_stream
from iot_real_time_data_pipeline_spark.streaming.pipeline import (
    foreach_batch_loader,
)

N_BATCHES = 100
EVENTS_PER_BATCH = 20
REPLAY_EVERY = 10  # every 10th file replays the previous decade's rows
SEED = 1009


def _batches() -> tuple[list[list[str]], list[str]]:
    """(files, replayed_payloads) — replays re-send 5 rows from the
    file one decade earlier (late + duplicate arrivals in one)."""
    events = generate_events(n=N_BATCHES * EVENTS_PER_BATCH, seed=SEED)
    payloads = [e["raw"] if e["raw"] else "not-json" for e in events]
    files = [
        payloads[i * EVENTS_PER_BATCH : (i + 1) * EVENTS_PER_BATCH]
        for i in range(N_BATCHES)
    ]
    replayed: list[str] = []
    for i in range(REPLAY_EVERY, N_BATCHES, REPLAY_EVERY):
        slice_ = files[i - REPLAY_EVERY][:5]
        replayed += slice_
        files[i] = slice_ + files[i]
    return files, replayed


def _read(spark, path):
    return spark.read.parquet(path)


@pytest.mark.slow
@pytest.mark.soak
def test_soak_100_batches_matches_single_batch_load(spark, tmp_path):
    files, replayed = _batches()

    # --- streamed: one file per micro-batch --------------------------
    src = tmp_path / "src"
    src.mkdir()
    for i, lines in enumerate(files):
        (src / f"f{i:03d}.jsonl").write_text("\n".join(lines) + "\n")
    wh_stream = str(tmp_path / "wh_stream")
    q = run_stream(
        spark, str(src), wh_stream, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(1800)
    assert not q.isActive

    # --- reference: the same loader, ONE batch over everything -------
    wh_once = str(tmp_path / "wh_once")
    all_payloads = [p for f in files for p in f]
    from iot_real_time_data_pipeline_spark.sources.events import (
        parse_raw_payloads,
    )

    one = parse_raw_payloads(
        spark.createDataFrame([(p,) for p in all_payloads], ["value"]),
        "value",
    )
    foreach_batch_loader(wh_once)(one, 0)

    # --- expected redelivery surplus per tier --------------------------
    lk_o = _read(spark, f"{wh_once}/lake")
    status_of = {
        r.event_id: r.validation_status
        for r in lk_o.select("event_id", "validation_status").collect()
    }
    n_replay_invalid = 0
    replay_ids = set()
    for p in replayed:
        try:
            eid = json.loads(p).get("event_id")
        except ValueError:
            continue  # garbage: dead-letter tier, never deduped anywhere
        replay_ids.add(eid)
        if status_of.get(eid) == "INVALID":
            n_replay_invalid += 1

    # --- fact: identical id set, exactly-once despite replays + order -
    fs = _read(spark, f"{wh_stream}/star/fact_sensor_readings")
    fo = _read(spark, f"{wh_once}/star/fact_sensor_readings")
    ids_s = {r.evt_id for r in fs.select("evt_id").collect()}
    ids_o = {r.evt_id for r in fo.select("evt_id").collect()}
    assert ids_s == ids_o
    assert fs.count() == len(ids_s)  # no double-loads across 100 appends
    fact_ids = [r.fact_id for r in fs.select("fact_id").collect()]
    assert len(fact_ids) == len(set(fact_ids))

    # --- lake: sink-eligible rows exactly-once; INVALID = delivery log
    def status_counts(df):
        return {
            r.validation_status: r["count"]
            for r in df.groupBy("validation_status").count().collect()
        }

    lk_s = _read(spark, f"{wh_stream}/lake")
    cs, co = status_counts(lk_s), status_counts(lk_o)
    assert cs.get("VALID") == co.get("VALID")
    assert cs.get("WARNING") == co.get("WARNING")
    assert cs.get("INVALID") == co.get("INVALID", 0) + n_replay_invalid
    ok_rows = lk_s.filter(F.col("validation_status") != "INVALID")
    assert ok_rows.select("event_id").distinct().count() == ok_rows.count()

    # --- dead letters: delivery logs over the same deliveries ----------
    # (the once-load input includes the replayed lines and dead letters
    # are never deduped on either path, so the logs are exactly equal)
    def dl_counts(df):
        return {
            r.error_type: r["count"]
            for r in df.groupBy("error_type").count().collect()
        }

    assert dl_counts(_read(spark, f"{wh_stream}/dead_letter")) == dl_counts(
        _read(spark, f"{wh_once}/dead_letter")
    )

    # --- dims: append-with-anti-join converges to the atomic load ------
    for dim, keys in [
        ("dim_location", ["loc_id", "latitude", "longitude"]),
        ("dim_time", ["full_date"]),
        ("dim_soil", ["ph", "nitrogen", "phosphorus", "potassium"]),
        (
            "dim_weather",
            ["weather_temperature", "weather_humidity", "wind_speed",
             "wind_direction", "rain", "surface_pressure"],
        ),
    ]:
        ds = _read(spark, f"{wh_stream}/star/{dim}")
        do = _read(spark, f"{wh_once}/star/{dim}")
        ks = {tuple(r) for r in ds.select(*keys).collect()}
        ko = {tuple(r) for r in do.select(*keys).collect()}
        assert ks == ko, dim
        # natural keys stay unique across 100 incremental appends
        assert ds.count() == len(ks), dim

    # --- fact FK integrity after 100 appends ---------------------------
    dim_loc = _read(spark, f"{wh_stream}/star/dim_location")
    orphans = fs.join(
        dim_loc.select("location_key"), "location_key", "left_anti"
    ).count()
    assert orphans == 0

    # --- alerts: idempotent for throttled tiers, consistent with lake --
    al = _read(spark, f"{wh_stream}/alerts")
    assert al.count() > 0
    # non-CRITICAL alerts ride the exactly-once lake tiers -> unique
    non_crit = al.filter(F.col("priority") != "CRITICAL")
    assert (
        non_crit.select("event_id", "alert_type").distinct().count()
        == non_crit.count()
    )
    # CRITICAL alerts bypass the throttle and re-send on redelivery
    # (lamda.py:257-261): duplicates allowed ONLY for replayed ids.
    dup_crit = (
        al.groupBy("event_id", "alert_type", "priority")
        .count()
        .filter(F.col("count") > 1)
        .collect()
    )
    for r in dup_crit:
        assert r.priority == "CRITICAL" and r.event_id in replay_ids, r
    # every sent alert points at a lake row whose own alerts array
    # (JSON-stringified in the flat row) carries that type — the
    # alert sink never invents or misattributes a send.
    lk_alerts = lk_s.select(
        "event_id", F.col("alerts").alias("lake_alerts")
    ).dropDuplicates(["event_id"])
    bad = (
        al.join(lk_alerts, "event_id", "left")
        .filter(
            F.col("lake_alerts").isNull()
            | ~F.col("lake_alerts").contains(F.col("alert_type"))
        )
        .count()
    )
    assert bad == 0
