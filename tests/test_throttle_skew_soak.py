"""Throttle-under-skew soak (VERDICT r10 item 7): a 90 %-hot-key alert
mix chained through ``throttle_sends`` over MANY batches, each batch's
history being the sends so far (read back from a parquet sink, as the
streaming loader reads its alerts sink), so cross-batch carry is
exercised under the hot key.

**Replay parity under skew**: per-key (n_sent, n_suppressed,
last_sent_at) from the chained run equals one
``throttle_stateful_replay`` fold over the same alerts — the greedy
decisions are identical whether the key's sequence arrives in 30
batches or one (reference semantics, ``Lambda/lamda.py:246-283``).

Timestamps increase globally across batches, so per-batch arrival order
equals global (timestamp, event_id) order, the replay's fold order.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from iot_real_time_data_pipeline_spark.streaming.throttle import (
    THROTTLE_OUTPUT_SCHEMA,
    throttle_sends,
    throttle_stateful_replay,
)

N_BATCHES = 30
EVENTS_PER_BATCH = 2000
HOT_SHARE = 0.9
N_COLD_LOCS = 50
SEED = 20260816

ALERT_SCHEMA = (
    "event_id string, loc_id string, timestamp timestamp, "
    "alert_type string, priority string, description string"
)


def _skewed_alerts() -> list[dict]:
    rng = random.Random(SEED)
    rows = []
    t = 0.0
    for i in range(N_BATCHES * EVENTS_PER_BATCH):
        # strictly increasing: deterministic per-key fold order on both
        # paths; steps 1-30 s keep the hot key mostly inside the 5-min
        # suppression window (the skew stress: ~10 alerts/5min/key hot)
        t += rng.uniform(1.0, 30.0)
        hot = rng.random() < HOT_SHARE
        rows.append(
            {
                "event_id": f"evt_{i:06d}",
                "loc_id": "loc_hot" if hot else f"loc_{rng.randrange(N_COLD_LOCS)}",
                "timestamp": t,
                "alert_type": "High Temperature",
                "priority": "CRITICAL" if rng.random() < 0.02 else "HIGH",
                "description": "skew soak",
            }
        )
    return rows


def _iso(epoch: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(
        1709251200.0 + epoch, tz=timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S.%f")


def _alerts_df(spark, rows):
    return spark.createDataFrame(
        [
            (
                r["event_id"],
                r["loc_id"],
                _iso(r["timestamp"]),
                r["alert_type"],
                r["priority"],
                r["description"],
            )
            for r in rows
        ],
        ALERT_SCHEMA.replace("timestamp timestamp", "timestamp string"),
    ).withColumn("timestamp", F.to_timestamp("timestamp"))


@pytest.mark.slow
@pytest.mark.soak
def test_throttle_skew_soak_chained_batches_match_replay(spark, tmp_path):
    import time

    rows = _skewed_alerts()
    sink = str(tmp_path / "alerts")
    t0 = time.perf_counter()
    for b in range(N_BATCHES):
        history = (
            spark.read.schema(THROTTLE_OUTPUT_SCHEMA).parquet(sink)
            if os.path.exists(sink)
            else None
        )
        batch = rows[b * EVENTS_PER_BATCH : (b + 1) * EVENTS_PER_BATCH]
        throttle_sends(_alerts_df(spark, batch), history).write.mode(
            "append"
        ).parquet(sink)
    wall = time.perf_counter() - t0

    sent = spark.read.parquet(sink).collect()
    # exactly-once per alert even across 30 chained batches
    assert len({r.event_id for r in sent}) == len(sent)
    streamed: dict[tuple, list] = {}
    for r in sent:
        streamed.setdefault((r.loc_id, r.alert_type), []).append(r)
    n_alerts_per_key: dict[tuple, int] = {}
    for r in rows:
        k = (r["loc_id"], r["alert_type"])
        n_alerts_per_key[k] = n_alerts_per_key.get(k, 0) + 1

    replay = {
        (r.loc_id, r.alert_type): r
        for r in throttle_stateful_replay(_alerts_df(spark, rows)).collect()
    }
    assert set(replay) == set(n_alerts_per_key)
    for key, rr in replay.items():
        got = streamed.get(key, [])
        assert rr.n_sent == len(got), (key, rr.n_sent, len(got))
        assert rr.n_suppressed == n_alerts_per_key[key] - len(got), key
        if got:
            assert rr.last_sent_at == max(r.sent_timestamp for r in got), key

    # the hot key really is hot AND really is throttled: >= 85 % of its
    # non-critical alerts suppressed (5-min window, ~16 s mean gap)
    hot = replay[("loc_hot", "High Temperature")]
    assert n_alerts_per_key[("loc_hot", "High Temperature")] > 0.85 * len(rows)
    assert hot.n_suppressed > 0.85 * (
        n_alerts_per_key[("loc_hot", "High Temperature")] - hot.n_critical_sent
    )

    print(
        f"\nTHROTTLE_SKEW_SOAK n_alerts={len(rows)} batches={N_BATCHES} "
        f"keys={len(n_alerts_per_key)} wall={wall:.1f}s sent={len(sent)}"
    )
