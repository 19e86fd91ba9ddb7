"""Semantic tests for the clickstream analytics operators
(sessionize / as-of attribution / retention / histogram / top-k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_real_time_data_pipeline_spark.operators import events_analytics as EA


def _events(spark, rows):
    """rows: (event_id, user_id, event_type, value, ts_sec)."""
    return spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "value", "ts_sec"]
    ).withColumn("ts_sec", F.col("ts_sec").cast("long"))


def test_sessionize_splits_on_gap(spark):
    rows = [
        # user 1: two events 10 min apart (one session), then one 2 h later
        (1, 1, "view", 1.0, 1000),
        (2, 1, "click", 1.0, 1600),
        (3, 1, "view", 1.0, 1600 + 7200),
        # user 2: single event
        (4, 2, "view", 1.0, 500),
    ]
    out = EA.sessionize(_events(spark, rows), gap_sec=1800).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    s1, s2 = sorted(by_user[1], key=lambda r: r.session_idx)
    assert (s1.n_events, s1.session_start_sec, s1.session_end_sec, s1.duration_sec) == (
        2, 1000, 1600, 600
    )
    assert (s2.n_events, s2.duration_sec) == (1, 0)
    assert len(by_user[2]) == 1


def test_sessionize_boundary_gap_exactly_equal_keeps_session(spark):
    # gap == gap_sec stays in the same session (strict > opens a new one)
    rows = [(1, 1, "view", 1.0, 0), (2, 1, "view", 1.0, 1800)]
    out = EA.sessionize(_events(spark, rows), gap_sec=1800).collect()
    assert len(out) == 1 and out[0].n_events == 2


def test_asof_attribution_last_strictly_prior_click(spark):
    rows = [
        (1, 1, "click", 1.0, 100),
        (2, 1, "click", 1.0, 200),
        (3, 1, "purchase", 9.0, 300),   # -> click 2
        (4, 1, "click", 1.0, 400),
        (5, 1, "purchase", 9.0, 400),   # same second, click has lower id -> prior
        (6, 2, "purchase", 9.0, 50),    # no prior click -> NULL attribution
    ]
    out = {r.event_id: r for r in EA.asof_attribution(_events(spark, rows)).collect()}
    assert out[3].attributed_event_id == 2 and out[3].gap_sec == 100
    assert out[5].attributed_event_id == 4 and out[5].gap_sec == 0
    assert out[6].attributed_event_id is None and out[6].gap_sec is None


def test_asof_attribution_does_not_cross_users(spark):
    rows = [
        (1, 1, "click", 1.0, 100),
        (2, 2, "purchase", 9.0, 200),
    ]
    out = EA.asof_attribution(_events(spark, rows)).collect()
    assert len(out) == 1 and out[0].attributed_event_id is None


def test_retention_cohorts_counts_distinct_users_per_offset(spark):
    day = 86400
    rows = [
        # users 1,2 start day 0; user 1 returns day 1 (twice -> still 1 user)
        (1, 1, "view", 1.0, 10),
        (2, 2, "view", 1.0, 20),
        (3, 1, "view", 1.0, day + 5),
        (4, 1, "view", 1.0, day + 6),
        # user 3 starts day 1
        (5, 3, "view", 1.0, day + 1),
    ]
    out = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in EA.retention_cohorts(_events(spark, rows)).collect()
    }
    assert out[(0, 0)] == 2
    assert out[(0, 1)] == 1
    assert out[(1, 0)] == 1
    assert (1, 1) not in out


def test_value_histogram_bins_and_edges(spark):
    rows = [
        (1, 1, "view", 0.0, 0),     # bin 0 (lo edge inclusive)
        (2, 1, "view", 49.99, 0),   # bin 0
        (3, 1, "view", 50.0, 0),    # bin 1 (boundary goes up)
        (4, 1, "click", 120.0, 0),  # bin 2
    ]
    out = {
        (r.event_type, r.bin): (r.bin_lo, r.n_events)
        for r in EA.value_histogram(_events(spark, rows)).collect()
    }
    assert out[("view", 0)] == (0, 2)
    assert out[("view", 1)] == (50, 1)
    assert out[("click", 2)] == (100, 1)


def test_top_events_per_user_rank_and_tiebreak(spark):
    rows = [
        (1, 1, "view", 5.0, 0),
        (2, 1, "view", 9.0, 0),
        (3, 1, "view", 9.0, 0),  # tie with 2 -> lower event_id ranks first
        (4, 1, "view", 1.0, 0),
        (5, 1, "view", 0.5, 0),
    ]
    out = sorted(
        EA.top_events_per_user(_events(spark, rows), k=3).collect(),
        key=lambda r: r.rank,
    )
    assert [r.event_id for r in out] == [2, 3, 1]


def test_with_ts_sec_handles_nanos_and_timestamp(spark):
    nanos = spark.createDataFrame([(1_704_067_207_179_575_000,)], ["ts"])
    assert EA.with_ts_sec(nanos).collect()[0].ts_sec == 1_704_067_207
    ts = spark.sql("SELECT TIMESTAMP'2024-01-01 00:00:07.179575' AS ts")
    assert EA.with_ts_sec(ts).collect()[0].ts_sec == 1_704_067_207


def test_funnel_requires_strict_order(spark):
    rows = [
        # user 1 completes the funnel in order
        (1, 1, "view", 1.0, 100),
        (2, 1, "click", 1.0, 200),
        (3, 1, "purchase", 1.0, 300),
        # user 2 clicks BEFORE viewing -> stalls at stage 0
        (4, 2, "click", 1.0, 50),
        (5, 2, "view", 1.0, 100),
        # user 3 views + clicks, same-second purchase does NOT advance
        (6, 3, "view", 1.0, 10),
        (7, 3, "click", 1.0, 20),
        (8, 3, "purchase", 1.0, 20),
        # user 4 never views
        (9, 4, "purchase", 1.0, 5),
    ]
    out = {r.stage: r.n_users for r in EA.funnel(_events(spark, rows)).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_hourly_rollup_buckets_and_cents(spark):
    rows = [
        (1, 1, "view", 1.25, 100),
        (2, 1, "view", 2.50, 3599),   # same hour bucket 0
        (3, 1, "view", 10.0, 3600),   # next bucket
        (4, 1, "click", 1.0, 100),
    ]
    out = {
        (r.event_type, r.bucket_start_sec): r
        for r in EA.hourly_rollup(_events(spark, rows)).collect()
    }
    r = out[("view", 0)]
    assert (r.n_events, r.sum_value_c, r.avg_value_cc) == (2, 375, 18750)
    assert out[("view", 3600)].sum_value_c == 1000
    assert out[("click", 0)].n_events == 1


def test_value_anomalies_flags_only_outliers(spark):
    # 40 values at ~10, one at 1000: only the spike exceeds 3 sigma
    rows = [(i, 1, "view", 10.0 + (i % 3), 0) for i in range(40)]
    rows.append((99, 1, "view", 1000.0, 0))
    out = EA.value_anomalies(_events(spark, rows)).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].z_milli > 3000

    # homogeneous values -> no anomalies (and no div-by-zero NaN rows)
    rows2 = [(i, 1, "view", 5.0, 0) for i in range(10)]
    assert EA.value_anomalies(_events(spark, rows2)).count() == 0


def test_dau_wau_trailing_window(spark):
    day = 86400
    rows = [
        (1, 1, "view", 1.0, 0),              # user 1 day 0
        (2, 2, "view", 1.0, 10),             # user 2 day 0
        (3, 1, "view", 1.0, 3 * day),        # user 1 day 3
        (4, 3, "view", 1.0, 8 * day),        # user 3 day 8 (day 0 outside its window)
    ]
    out = {r.day: r for r in EA.dau_wau(_events(spark, rows)).collect()}
    assert (out[0].dau, out[0].wau) == (2, 2)
    # day 3: user 1 active; users 1+2 within trailing 7 days
    assert (out[3].dau, out[3].wau, out[3].stickiness_ppm) == (1, 2, 500000)
    # day 8: only user 3 (days 0 activity is 8 days back; day-3 activity counts)
    assert (out[8].dau, out[8].wau) == (1, 2)
    # days with no activity produce no report row
    assert 5 not in out


def test_sessionize_fuzz_vs_python_reference(spark):
    """Randomized cross-check: the window-based sessionizer must agree
    with a straightforward per-user Python scan on arbitrary event
    layouts (duplicated timestamps, singleton users, long gaps)."""
    import random

    rng = random.Random(42)
    rows = []
    eid = 0
    for user in range(8):
        t = rng.randint(0, 1000)
        for _ in range(rng.randint(1, 30)):
            rows.append((eid, user, "view", 1.0, t))
            eid += 1
            # mix of sub-gap advances, exact-gap edges, and new sessions
            t += rng.choice([0, 1, 300, 1800, 1801, 5000])
    gap = 1800

    expected = {}
    by_user = {}
    for r in sorted(rows, key=lambda r: (r[1], r[4], r[0])):
        by_user.setdefault(r[1], []).append(r[4])
    for user, times in by_user.items():
        sessions = []
        for ts in times:
            if sessions and ts - sessions[-1][-1] <= gap:
                sessions[-1].append(ts)
            else:
                sessions.append([ts])
        expected[user] = sorted(
            (len(s), s[0], s[-1], s[-1] - s[0]) for s in sessions
        )

    out = EA.sessionize(_events(spark, rows), gap_sec=gap).collect()
    got = {}
    for r in out:
        got.setdefault(r.user_id, []).append(
            (r.n_events, r.session_start_sec, r.session_end_sec, r.duration_sec)
        )
    got = {u: sorted(v) for u, v in got.items()}
    assert got == expected


def test_value_deciles_equal_frequency(spark):
    rows = [(i, 1, "view", float(i), 0) for i in range(20)]
    out = sorted(
        EA.value_deciles(_events(spark, rows)).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in out] == list(range(1, 11))
    assert all(r.n_events == 2 for r in out)
    assert out[0].lo_value == 0.0 and out[-1].hi_value == 19.0


def test_multi_action_users_intersection(spark):
    rows = [
        (1, 1, "purchase", 1.0, 0),
        (2, 1, "error", 1.0, 0),
        (3, 2, "purchase", 1.0, 0),
        (4, 3, "error", 1.0, 0),
    ]
    out = {r.user_id for r in EA.multi_action_users(_events(spark, rows)).collect()}
    assert out == {1}


# ---------------------------------------------------------------------------
# Round-5: SCD2 intervals + trailing moving average
# ---------------------------------------------------------------------------


def test_scd2_intervals_partition_the_timeline(spark):
    rows = [
        # user 1: view view click view  -> 3 versions
        (1, 1, "view", 1.0, 100),
        (2, 1, "view", 1.0, 200),
        (3, 1, "click", 1.0, 300),
        (4, 1, "view", 1.0, 400),
        # user 2: single state
        (5, 2, "error", 1.0, 50),
    ]
    out = sorted(
        EA.scd2_intervals(_events(spark, rows)).collect(),
        key=lambda r: (r.user_id, r.version),
    )
    u1 = [r for r in out if r.user_id == 1]
    assert [r.event_type for r in u1] == ["view", "click", "view"]
    assert [r.version for r in u1] == [1, 2, 3]
    assert [r.n_events for r in u1] == [2, 1, 1]
    # intervals tile: each closes exactly where the next opens
    assert [(r.valid_from_sec, r.valid_to_sec) for r in u1] == [
        (100, 300), (300, 400), (400, -1),
    ]
    assert [r.is_current for r in u1] == [0, 0, 1]
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current == 1 and u2[0].valid_to_sec == -1


def test_scd2_same_second_ties_break_on_event_id(spark):
    rows = [
        (10, 1, "a", 1.0, 100),
        (11, 1, "b", 1.0, 100),  # same ts — event_id orders the run
        (12, 1, "b", 1.0, 200),
    ]
    out = sorted(
        EA.scd2_intervals(_events(spark, rows)).collect(), key=lambda r: r.version
    )
    assert [r.event_type for r in out] == ["a", "b"]
    assert [r.n_events for r in out] == [1, 2]


def test_daily_moving_avg_matches_python_reference(spark):
    rows = []
    eid = 0
    for day in (0, 1, 2, 5, 9):  # gap days: RANGE frame must shrink
        for j in range(3):
            eid += 1
            rows.append((eid, 1, "view", float(day * 10 + j), day * 86400 + j))
    out = {
        (r.event_type, r.day): r
        for r in EA.daily_moving_avg(_events(spark, rows), days=3).collect()
    }
    # python reference over the same integer-cent daily sums
    daily = {}
    for (_, _, _, v, ts) in rows:
        d = ts // 86400
        s, n = daily.get(d, (0, 0))
        daily[d] = (s + round(v * 100), n + 1)
    for d, (s, n) in daily.items():
        window = [daily[x] for x in range(d - 2, d + 1) if x in daily]
        tsum = sum(x[0] for x in window)
        tn = sum(x[1] for x in window)
        r = out[("view", d)]
        assert r.daily_sum_c == s
        assert r.trailing_sum_c == tsum and r.trailing_n == tn
        assert r.trailing_avg_c == tsum // tn
    # day 5 and 9 are isolated: their trailing window is just themselves
    assert out[("view", 5)].trailing_n == 3
    assert out[("view", 9)].trailing_n == 3


def test_ewma_daily_matches_python_recurrence(spark):
    rows = []
    eid = 0
    for day in (0, 1, 2, 5, 9):  # gaps: recurrence walks rows, not days
        for j in range(3):
            eid += 1
            rows.append((eid, 1, "view", float(day * 10 + j), day * 86400 + j))
    out = {
        r.day: r for r in EA.ewma_daily(_events(spark, rows)).collect()
    }
    daily = {}
    for (_, _, _, v, ts) in rows:
        d = ts // 86400
        s, n = daily.get(d, (0, 0))
        daily[d] = (s + round(v * 100), n + 1)
    am = EA.EWMA_ALPHA_MILLI
    ew = None
    for d in sorted(daily):
        avg_c = daily[d][0] // daily[d][1]
        ew = avg_c if ew is None else ((1000 - am) * ew + am * avg_c) // 1000
        assert out[d].daily_avg_c == avg_c
        assert out[d].ewma_c == ew, d
    assert len(out) == len(daily)


def test_seasonal_anomaly_catches_what_global_z_masks(spark):
    """A value normal for the daily PEAK but planted in the nightly
    LULL: global per-type z misses it (it sits inside the pooled
    spread), the hour-of-day baseline flags it."""
    rows = []
    eid = 0
    for day in range(6):
        for rep in range(4):
            eid += 1  # lull hour 3: values ~10
            rows.append((eid, 1, "view", 10.0 + rep * 0.2, day * 86400 + 3 * 3600 + rep))
            eid += 1  # peak hour 12: values ~100
            rows.append((eid, 1, "view", 100.0 + rep * 0.2, day * 86400 + 12 * 3600 + rep))
    eid += 1  # peak-sized value at the lull hour
    planted = eid
    rows.append((planted, 1, "view", 100.0, 5 * 86400 + 3 * 3600 + 50))
    df = _events(spark, rows)
    seasonal = {r.event_id for r in EA.seasonal_anomalies(df).collect()}
    global_z = {r.event_id for r in EA.value_anomalies(df).collect()}
    assert planted in seasonal
    assert planted not in global_z
    out = {r.event_id: r for r in EA.seasonal_anomalies(df).collect()}
    assert out[planted].hour == 3 and out[planted].z_milli > 3000


def test_linear_attribution_splits_credit_and_counts_unattributed(spark):
    rows = [
        # user 1: 2 clicks + 1 view inside the window, 1 click outside
        (1, 1, "click", 0.0, 100),                       # outside 7d window
        (2, 1, "click", 0.0, 1_000_000),
        (3, 1, "click", 0.0, 1_000_100),
        (4, 1, "view", 0.0, 1_000_200),
        (5, 1, "purchase", 9.0, 1_000_300),
        # user 2: purchase with no prior touches
        (6, 2, "purchase", 5.0, 500_000),
        # user 1 second purchase: same-second view must NOT count
        (7, 1, "view", 0.0, 1_200_000),
        (8, 1, "purchase", 7.0, 1_200_000),
    ]
    out = {
        r.touch_type: r
        for r in EA.linear_attribution(_events(spark, rows)).collect()
    }
    # purchase 5: clicks 2/3 of 1e6, view 1/3. purchase 8: window is
    # [1_200_000-7d, 1_199_999] -> touches 2,3,4 count again (all within
    # 7 days), view 7 at the same second excluded -> same split.
    assert out["click"].credit_ppm_total == 666666 * 2
    assert out["view"].credit_ppm_total == 333333 * 2
    assert out["click"].n_conversions == 2 and out["view"].n_conversions == 2
    assert out["unattributed"].n_conversions == 1
    assert out["unattributed"].credit_ppm_total == 1_000_000


def test_time_decay_attribution_halves_credit_per_day(spark):
    day = 86400
    base = 10 * day
    rows = [
        # user 1: click on day-0 (weight 64), view on day-2 (weight 16)
        (1, 1, "view", 0.0, base - 2 * day),           # d=2 bucket edge? delta = 2d
        (2, 1, "click", 0.0, base - 3600),             # d=0 bucket
        (3, 1, "purchase", 9.0, base),
        # user 2: only touch is same-second -> unattributed
        (4, 2, "view", 0.0, 500_000),
        (5, 2, "purchase", 5.0, 500_000),
        # user 3: touch exactly at the 7-day horizon boundary (counts, d=6)
        (6, 3, "click", 0.0, base - 7 * day),
        (7, 3, "purchase", 1.0, base),
    ]
    out = {
        r.touch_type: r
        for r in EA.time_decay_attribution(_events(spark, rows)).collect()
    }
    # user 1: delta(view)=2d lands in bucket d=1? delta = 172800 sec,
    # bucket d covers [d*86400+1, (d+1)*86400]: 172800 is in d=1's
    # (86401..172800] -> weight 2^(7-1-1)=32. click delta=3600 -> d=0,
    # weight 64. total 96: click 64/96, view 32/96 of 1e6 (floor).
    # user 3: delta=7d=604800 is in d=6's (518401..604800] -> weight 1,
    # sole touch -> full 1e6 to click.
    assert out["click"].credit_ppm_total == (1_000_000 * 64) // 96 + 1_000_000
    assert out["view"].credit_ppm_total == (1_000_000 * 32) // 96
    assert out["click"].n_conversions == 2
    assert out["view"].n_conversions == 1
    assert out["unattributed"].n_conversions == 1
    assert out["unattributed"].credit_ppm_total == 1_000_000


def test_ab_split_audit_matches_python_hash_assignment(spark):
    import hashlib

    rows, eid = [], 0
    purchasers = {3, 7, 11, 15}
    for u in range(1, 21):
        eid += 1
        rows.append((eid, u, "view", 0.0, 1000 + u))
        if u in purchasers:
            eid += 1
            rows.append((eid, u, "purchase", 1.0, 2000 + u))
    [r] = EA.ab_split_audit(_events(spark, rows)).collect()

    def variant(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2

    a = [u for u in range(1, 21) if variant(u) == 0]
    b = [u for u in range(1, 21) if variant(u) == 1]
    ca = sum(1 for u in a if u in purchasers)
    cb = sum(1 for u in b if u in purchasers)
    assert (r.n_users_a, r.n_users_b) == (len(a), len(b))
    assert r.srm_dev_ppm == abs(len(a) - len(b)) * 1_000_000 // 20
    assert r.conv_ppm_a == 1_000_000 * ca // len(a)
    assert r.conv_ppm_b == 1_000_000 * cb // len(b)
    assert r.delta_ppm == r.conv_ppm_a - r.conv_ppm_b


def test_punch_card_calendar_arithmetic(spark):
    # epoch day 0 is Thursday; ts 3600 -> Thu 01:00 (dow 3 with 0=Mon)
    rows = [
        (1, 1, "view", 0.0, 3600),
        (2, 2, "view", 0.0, 3700),            # same cell, second user
        (3, 1, "view", 0.0, 4 * 86400),       # Monday 00:00 -> dow 0
    ]
    out = {(r.dow, r.hour): r for r in EA.punch_card(_events(spark, rows)).collect()}
    assert out[(3, 1)].n_events == 2 and out[(3, 1)].n_users == 2
    assert out[(0, 0)].n_events == 1 and out[(0, 0)].n_users == 1


def test_conversion_latency_exact_percentiles(spark):
    rows = []
    eid = 0
    # 10 converters with latencies 1..10 minutes
    for u in range(1, 11):
        eid += 1
        rows.append((eid, u, "view", 0.0, 1000))
        eid += 1
        rows.append((eid, u, "purchase", 1.0, 1000 + u * 60))
    # non-converters: purchase BEFORE view, or view only
    rows += [(100, 50, "purchase", 1.0, 500), (101, 50, "view", 0.0, 900)]
    rows += [(102, 51, "view", 0.0, 700)]
    [r] = EA.conversion_latency(_events(spark, rows)).collect()
    assert r.n_converters == 10
    # percentile_disc over [1..10]: p50 -> 5th value, p90 -> 9th, p99 -> 10th
    assert (r.p50_min, r.p90_min, r.p99_min, r.max_min) == (5, 9, 10, 10)


def test_new_vs_returning_daily_split(spark):
    day = 86400
    rows = [
        (1, 1, "view", 0.0, 100),            # day 0: user 1 new
        (2, 1, "view", 0.0, day + 50),       # day 1: user 1 returning
        (3, 2, "view", 0.0, day + 60),       # day 1: user 2 new
        (4, 2, "view", 0.0, day + 70),       # same (user, day) collapses
    ]
    out = {r.day: r for r in EA.new_vs_returning(_events(spark, rows)).collect()}
    assert (out[0].n_active, out[0].n_new, out[0].n_returning) == (1, 1, 0)
    assert out[0].new_ppm == 1_000_000
    assert (out[1].n_active, out[1].n_new, out[1].n_returning) == (2, 1, 1)
    assert out[1].new_ppm == 500_000


def test_audience_overlap_jaccard_matrix(spark):
    rows = [
        # users 1,2 click; users 2,3 view; user 4 only purchases
        (1, 1, "click", 0.0, 100),
        (2, 2, "click", 0.0, 110),
        (3, 2, "click", 0.0, 120),   # dup (type,user) collapses
        (4, 2, "view", 0.0, 130),
        (5, 3, "view", 0.0, 140),
        (6, 4, "purchase", 0.0, 150),
    ]
    out = {
        (r.type_a, r.type_b): r
        for r in EA.audience_overlap(_events(spark, rows)).collect()
    }
    cv = out[("click", "view")]
    assert (cv.n_users_a, cv.n_users_b, cv.n_common) == (2, 2, 1)
    assert cv.jaccard_ppm == 1_000_000 // 3
    # disjoint audiences never emit a row (inner join on shared users)
    assert ("click", "purchase") not in out and ("purchase", "view") not in out


def test_session_paths_orders_truncates_and_ranks(spark):
    rows = [
        # user 1, session 1: view>click>purchase (common journey)
        (1, 1, "view", 0.0, 1000),
        (2, 1, "click", 0.0, 1010),
        (3, 1, "purchase", 0.0, 1020),
        # user 1, session 2 (after the gap): same journey again
        (4, 1, "view", 0.0, 500_000),
        (5, 1, "click", 0.0, 500_010),
        (6, 1, "purchase", 0.0, 500_020),
        # user 2: one long session -> truncated with the marker
        *[(10 + i, 2, "view", 0.0, 2000 + i) for i in range(10)],
        # user 3: same journey as user 1 once
        (30, 3, "view", 0.0, 3000),
        (31, 3, "click", 0.0, 3010),
        (32, 3, "purchase", 0.0, 3020),
    ]
    out = sorted(
        EA.session_paths(_events(spark, rows)).collect(),
        key=lambda r: r.rank,
    )
    assert out[0].path == "view>click>purchase" and out[0].n_sessions == 3
    trunc = [r for r in out if r.path.endswith(">…")]
    assert len(trunc) == 1
    assert trunc[0].path == ">".join(["view"] * 8) + ">…"
    assert trunc[0].n_sessions == 1


def test_bot_audit_ranks_metronomic_user_first(spark):
    rows = []
    eid = 0
    # user 10: metronomic — exactly every 60 s, 25 events
    for i in range(25):
        eid += 1
        rows.append((eid, 10, "view", 1.0, 1000 + i * 60))
    # user 20: bursty human — irregular gaps, 25 events
    import random

    rnd = random.Random(3)
    t = 1000
    for _ in range(25):
        eid += 1
        t += rnd.choice([5, 30, 600, 4000, 20000])
        rows.append((eid, 20, "view", 1.0, t))
    # user 30: below the volume floor, perfectly regular (cv 0)
    for i in range(3):
        eid += 1
        rows.append((eid, 30, "view", 1.0, 1000 + i * 10))
    out = EA.bot_audit(_events(spark, rows)).collect()
    assert [r.user_id for r in out] == [10, 20]  # 30 filtered by floor
    assert out[0].suspicion_rank == 1
    assert out[0].cv_milli == 0          # perfectly regular
    assert out[0].mean_gap_milli == 60_000
    assert out[1].cv_milli > 500         # human burstiness


def test_time_weighted_avg_locf_weighting(spark):
    rows = [
        # value 10 holds for 100 s, value 50 for 300 s, last sample unweighted
        (1, 1, "view", 10.0, 0),
        (2, 1, "view", 50.0, 100),
        (3, 1, "view", 99.0, 400),
    ]
    out = EA.time_weighted_avg(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_weighted == 2 and r.total_sec == 400
    # (1000*100 + 5000*300) / 400 = 4000 cents
    assert r.tw_avg_c == (1000 * 100 + 5000 * 300) // 400


def test_time_weighted_avg_ignores_burst_bias(spark):
    """A burst of identical readings must not drag the mean: the
    time-weighted average differs from the plain mean by design."""
    rows = [(i, 1, "view", 10.0, i) for i in range(10)]  # 10 s burst @ 10
    rows.append((10, 1, "view", 100.0, 9 + 1))           # then 100 holds...
    rows.append((11, 1, "view", 0.0, 10 + 1000))         # ...for 1000 s
    out = EA.time_weighted_avg(_events(spark, rows)).collect()[0]
    plain_mean_c = round(sum([10.0] * 10 + [100.0, 0.0]) / 12 * 100)
    assert out.tw_avg_c > 90 * 100  # dominated by the long-held 100
    assert abs(out.tw_avg_c - plain_mean_c) > 1000


def test_gapfill_locf_fills_interior_gaps_only(spark):
    h = EA.GAPFILL_BUCKET_SEC
    rows = [
        (1, 1, "view", 10.0, 0 * h + 5),
        (2, 1, "view", 20.0, 3 * h + 5),   # buckets 1,2 missing
        (3, 1, "view", 30.0, 4 * h + 5),
    ]
    out = {r.bucket: r for r in EA.gapfill_locf(_events(spark, rows)).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[0].real_sum_c == 1000 and out[0].is_filled == 0
    for b in (1, 2):
        assert out[b].real_sum_c == -1
        assert out[b].filled_sum_c == 1000  # carried forward
        assert out[b].is_filled == 1
    assert out[3].filled_sum_c == 2000 and out[4].filled_sum_c == 3000


def test_gapfill_grid_is_per_series_bounds(spark):
    h = EA.GAPFILL_BUCKET_SEC
    rows = [
        (1, 1, "view", 1.0, 0),
        (2, 1, "view", 1.0, 2 * h),
        (3, 1, "click", 1.0, 5 * h),  # click series starts later
    ]
    out = EA.gapfill_locf(_events(spark, rows)).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r.event_type, set()).add(r.bucket)
    assert by_type["view"] == {0, 1, 2}
    assert by_type["click"] == {5}  # no grid bleed across series


def test_key_skew_report_flat_vs_hot_key(spark):
    flat = [(i, i % 10, "view", 1.0, i) for i in range(100)]
    out = EA.key_skew_report(_events(spark, flat)).collect()[0]
    assert out.n_keys == 10 and out.n_rows == 100 and out.max_freq == 10
    assert out.skew_ratio_ppm == 1_000_000  # perfectly flat

    hot = flat + [(1000 + i, 7, "view", 1.0, i) for i in range(90)]
    out2 = EA.key_skew_report(_events(spark, hot)).collect()[0]
    assert out2.max_freq == 100
    assert out2.skew_ratio_ppm == (100 * 10 * 1_000_000) // 190


def test_heavy_hitters_exact_threshold(spark):
    # 100 rows; k=100 -> threshold freq > 1
    rows = [(i, i, "view", 1.0, i) for i in range(98)]  # 98 singletons
    rows += [(200, 500, "view", 1.0, 0), (201, 500, "view", 1.0, 1)]  # freq 2
    out = EA.heavy_hitters(_events(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].user_id == 500 and out[0].freq == 2
    assert out[0].share_ppm == (2 * 1_000_000) // 100


def test_exact_median_odd_and_even(spark):
    odd = [(i, 1, "view", float(v), i) for i, v in enumerate([5, 1, 9])]
    out = EA.exact_median(_events(spark, odd)).collect()[0]
    assert out.n_values == 3 and out.median_halfcent_c == 2 * 500

    even = [(i, 1, "view", float(v), i) for i, v in enumerate([4, 1, 9, 6])]
    out = EA.exact_median(_events(spark, even)).collect()[0]
    # middle two are 4 and 6 -> 400 + 600 half-cents (i.e. median 5.0)
    assert out.n_values == 4 and out.median_halfcent_c == 400 + 600


def test_scd2_fuzz_vs_python_reference(spark):
    """Randomized cross-check: interval build must agree with a
    per-user Python scan on arbitrary layouts (repeated states,
    same-timestamp runs, singleton users)."""
    import random

    rng = random.Random(7)
    rows = []
    eid = 0
    for user in range(10):
        t = rng.randint(0, 500)
        for _ in range(rng.randint(1, 25)):
            rows.append((eid, user, rng.choice("abc"), 1.0, t))
            eid += 1
            t += rng.choice([0, 1, 50])

    expected = {}
    by_user = {}
    for r in sorted(rows, key=lambda r: (r[1], r[4], r[0])):
        by_user.setdefault(r[1], []).append((r[2], r[4]))
    for user, seq in by_user.items():
        runs = []
        for typ, ts in seq:
            if runs and runs[-1][0] == typ:
                runs[-1][2] += 1
            else:
                runs.append([typ, ts, 1])
        iv = []
        for i, (typ, start, n) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else -1
            iv.append((i + 1, typ, start, nxt, n, 1 if nxt == -1 else 0))
        expected[user] = iv

    got = {}
    for r in EA.scd2_intervals(_events(spark, rows)).collect():
        got.setdefault(r.user_id, []).append(
            (r.version, r.event_type, r.valid_from_sec, r.valid_to_sec,
             r.n_events, r.is_current)
        )
    got = {u: sorted(v) for u, v in got.items()}
    assert got == expected


def test_daily_moving_avg_fuzz_vs_python_reference(spark):
    import random

    rng = random.Random(11)
    rows = []
    for eid in range(300):
        rows.append(
            (
                eid,
                rng.randint(0, 5),
                rng.choice(["view", "click"]),
                round(rng.uniform(0, 400), 2),
                rng.randint(0, 20) * 86400 + rng.randint(0, 86399),
            )
        )
    days = 7

    daily = {}
    for (_, _, typ, v, ts) in rows:
        d = ts // 86400
        s, n = daily.get((typ, d), (0, 0))
        daily[(typ, d)] = (s + round(v * 100), n + 1)

    out = EA.daily_moving_avg(_events(spark, rows), days=days).collect()
    assert {(r.event_type, r.day) for r in out} == set(daily)
    for r in out:
        window = [
            daily[(r.event_type, d)]
            for d in range(r.day - days + 1, r.day + 1)
            if (r.event_type, d) in daily
        ]
        tsum, tn = sum(x[0] for x in window), sum(x[1] for x in window)
        assert r.daily_sum_c == daily[(r.event_type, r.day)][0]
        assert (r.trailing_sum_c, r.trailing_n) == (tsum, tn)
        assert r.trailing_avg_c == tsum // tn


def test_props_stats_counts_malformed_payloads(spark):
    rows = [
        (1, 1, "view", 1.0, 0, '{"k": 5}'),
        (2, 1, "view", 1.0, 0, '{"k": 7}'),
        (3, 1, "view", 1.0, 0, "not json"),
        (4, 1, "view", 1.0, 0, '{"other": 1}'),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "value", "ts_sec", "props"]
    )
    out = EA.props_stats(df).collect()[0]
    assert out.n_events == 4 and out.n_null_k == 2
    assert out.sum_k == 12 and out.min_k == 5 and out.max_k == 7
    assert out.n_distinct_k == 2


# ---------------------------------------------------------------------------
# Two-table as-of join
# ---------------------------------------------------------------------------


def test_asof_join_inclusive_prior_and_null_when_unmatched(spark):
    rows = [
        # user 1: refs at 100 and 200; targets at 150 (matches 100),
        # 200 (INCLUSIVE: matches the ref at the same second), 90 (no
        # prior ref -> NULL match)
        (1, 1, "click", 1.0, 100),
        (2, 1, "click", 1.0, 200),
        (3, 1, "purchase", 1.0, 150),
        (4, 1, "purchase", 1.0, 200),
        (5, 1, "purchase", 1.0, 90),
        # user 2's ref must not leak into user 1
        (6, 2, "click", 1.0, 50),
        (7, 2, "purchase", 1.0, 60),
    ]
    out = {r.event_id: r for r in EA.asof_join_events(_events(spark, rows)).collect()}
    assert out[3].matched_event_id == 1 and out[3].lag_sec == 50
    assert out[4].matched_event_id == 2 and out[4].lag_sec == 0
    assert out[5].matched_event_id is None and out[5].lag_sec is None
    assert out[7].matched_event_id == 6 and out[7].lag_sec == 10


def test_asof_join_duplicate_right_timestamps_pick_max_event_id(spark):
    rows = [
        (1, 1, "click", 1.0, 100),
        (9, 1, "click", 1.0, 100),  # same second — max event_id must win
        (3, 1, "purchase", 1.0, 120),
    ]
    out = EA.asof_join_events(_events(spark, rows)).collect()
    assert len(out) == 1 and out[0].matched_event_id == 9


# ---------------------------------------------------------------------------
# Bucketed time-band pair join
# ---------------------------------------------------------------------------


def test_time_band_pairs_matches_naive_reference(spark):
    import random

    rng = random.Random(7)
    rows = []
    eid = 0
    for _ in range(60):
        eid += 1
        rows.append((eid, rng.randrange(3), "error", 1.0, rng.randrange(0, 2000)))
    for _ in range(60):
        eid += 1
        rows.append((eid, rng.randrange(3), "purchase", 1.0, rng.randrange(0, 2000)))
    band = 60
    out = {
        (r.left_event_id, r.right_event_id, r.gap_sec)
        for r in EA.time_band_pairs(_events(spark, rows), band_sec=band).collect()
    }
    naive = {
        (l[0], r[0], r[4] - l[4])
        for l in rows
        if l[2] == "error"
        for r in rows
        if r[2] == "purchase" and abs(r[4] - l[4]) <= band
    }
    assert out == naive


def test_time_band_pairs_boundary_and_bucket_crossing(spark):
    # gaps of exactly +/-band qualify; pairs in adjacent buckets are
    # found; a gap of band+1 is rejected even when buckets are adjacent.
    rows = [
        (1, 1, "error", 1.0, 119),  # bucket 1
        (2, 1, "purchase", 1.0, 179),  # bucket 2, gap 60 -> keep
        (3, 1, "purchase", 1.0, 59),  # bucket 0, gap -60 -> keep
        (4, 1, "purchase", 1.0, 180),  # bucket 3, gap 61 -> drop
    ]
    out = {
        (r.right_event_id, r.gap_sec)
        for r in EA.time_band_pairs(_events(spark, rows)).collect()
    }
    assert out == {(2, 60), (3, -60)}


# ---------------------------------------------------------------------------
# Inter-arrival stats
# ---------------------------------------------------------------------------


def test_interarrival_stats_gaps_and_single_event_user(spark):
    rows = [
        (1, 1, "view", 1.0, 0),
        (2, 1, "view", 1.0, 10),
        (3, 1, "view", 1.0, 25),
        (4, 2, "view", 1.0, 100),  # single event: no gaps, no row
    ]
    out = {r.user_id: r for r in EA.interarrival_stats(_events(spark, rows)).collect()}
    assert set(out) == {1}
    r = out[1]
    assert (r.n_gaps, r.min_gap_sec, r.max_gap_sec) == (2, 10, 15)
    assert r.mean_gap_milli == (25 * 1000) // 2


# ---------------------------------------------------------------------------
# Hopping rollup / pivot / transition matrix
# ---------------------------------------------------------------------------


def test_hopping_rollup_each_event_hits_all_overlapping_windows(spark):
    rows = [(1, 1, "view", 2.0, 3700)]  # inside [900,4500),[1800,5400),[2700,6300),[3600,7200)
    out = EA.hopping_rollup(_events(spark, rows)).collect()
    starts = sorted(r.window_start_sec for r in out)
    assert starts == [900, 1800, 2700, 3600]
    assert all(r.n_events == 1 and r.sum_value_c == 200 for r in out)


def test_hopping_rollup_sums_within_window(spark):
    rows = [
        (1, 1, "view", 1.0, 0),
        (2, 1, "view", 2.0, 800),  # same slide bucket as ts=0
        (3, 1, "view", 4.0, 950),  # next slide bucket
    ]
    out = {r.window_start_sec: r for r in EA.hopping_rollup(_events(spark, rows)).collect()}
    # window starting at 0 contains all three events
    assert out[0].n_events == 3 and out[0].sum_value_c == 700
    # window starting at 900 contains only the third
    assert out[900].n_events == 1 and out[900].sum_value_c == 400


def test_type_day_pivot_zero_fills_missing_types(spark):
    rows = [
        (1, 1, "click", 1.0, 100),
        (2, 2, "click", 1.0, 200),
        (3, 1, "error", 1.0, 86400 + 5),
    ]
    out = {r.day: r for r in EA.type_day_pivot(_events(spark, rows)).collect()}
    assert out[0].n_click == 2 and out[0].n_error == 0 and out[0].n_view == 0
    assert out[1].n_click == 0 and out[1].n_error == 1
    assert set(out[0].asDict()) == {
        "day", "n_click", "n_error", "n_purchase", "n_signup", "n_view",
    }


def test_transition_matrix_counts_and_row_normalizes(spark):
    rows = [
        # user 1: view -> click -> view -> click
        (1, 1, "view", 1.0, 0),
        (2, 1, "click", 1.0, 10),
        (3, 1, "view", 1.0, 20),
        (4, 1, "click", 1.0, 30),
        # user 2: view -> purchase (no cross-user transition from user
        # 1's trailing click)
        (5, 2, "view", 1.0, 0),
        (6, 2, "purchase", 1.0, 10),
    ]
    out = {(r.prev_type, r.next_type): r for r in EA.transition_matrix(_events(spark, rows)).collect()}
    assert out[("view", "click")].n_transitions == 2
    assert out[("click", "view")].n_transitions == 1
    assert out[("view", "purchase")].n_transitions == 1
    assert ("click", "purchase") not in out  # would require crossing users
    # row view -> {click: 2/3, purchase: 1/3}
    assert out[("view", "click")].prob_ppm == (2 * 1_000_000) // 3
    assert out[("view", "purchase")].prob_ppm == (1 * 1_000_000) // 3
    assert out[("click", "view")].prob_ppm == 1_000_000


def test_winsorized_stats_matches_python_reference(spark):
    import random

    rng = random.Random(21)
    rows = []
    for i in range(1, 301):
        rows.append((i, 1, "view" if i % 2 else "click", rng.uniform(-50, 500), i))
    out = {r.event_type: r for r in EA.winsorized_stats(_events(spark, rows)).collect()}

    by_type = {}
    for eid, _, t, v, _ in rows:
        by_type.setdefault(t, []).append((round(v * 100), eid))
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        lo_rank = (n + 99) // 100
        cut_lo = vals[lo_rank - 1][0]
        cut_hi = vals[n - lo_rank][0]
        clipped = [min(max(v, cut_lo), cut_hi) for v, _ in vals]
        r = out[t]
        assert (r.cut_lo_c, r.cut_hi_c) == (cut_lo, cut_hi)
        assert r.n_clipped_lo == sum(1 for v, _ in vals if v < cut_lo)
        assert r.n_clipped_hi == sum(1 for v, _ in vals if v > cut_hi)
        assert r.sum_winsor_c == sum(clipped)
        assert r.winsor_mean_milli == (sum(clipped) * 1000) // n


def test_winsorized_stats_tiny_group_degenerates_to_min_max(spark):
    rows = [(1, 1, "view", 1.0, 0), (2, 1, "view", 9.0, 10)]
    out = EA.winsorized_stats(_events(spark, rows)).collect()[0]
    # n=2: lo_rank=1, hi_rank=2 -> cutoffs are min/max, nothing clips
    assert (out.cut_lo_c, out.cut_hi_c) == (100, 900)
    assert out.n_clipped_lo == 0 and out.n_clipped_hi == 0


def test_cusum_changepoint_finds_level_shift(spark):
    # 10 days at ~100, then 10 days at ~500: |CUSUM| peaks at the shift
    rows = []
    eid = 0
    for day in range(20):
        level = 1.0 if day < 10 else 5.0
        for k in range(3):
            eid += 1
            rows.append((eid, 1, "view", level, day * 86400 + k * 100))
    out = EA.cusum_changepoint(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 20
    assert r.peak_day == 9  # last day of the old regime

    # python reference for the exact magnitude
    daily = {d: (300 if d < 10 else 1500) for d in range(20)}
    total = sum(daily.values())
    cusum, peak = 0, (0, -1)
    for d in range(20):
        cusum += daily[d] * 20 - total
        if abs(cusum) > peak[0]:
            peak = (abs(cusum), d)
    assert (r.peak_abs_cusum_xd, r.peak_day) == peak


def test_scd2_lookup_assigns_containing_version(spark):
    rows = [
        # user 1 regimes: view [0,30) v1, click [30,60) v2, view [60,-) v3
        (1, 1, "view", 1.0, 0),
        (2, 1, "view", 1.0, 10),
        (3, 1, "click", 1.0, 30),
        (4, 1, "view", 1.0, 60),
        # purchases: at 30 (same second as the click regime start ->
        # belongs to the NEW regime per [from, to) containment)... but a
        # purchase is itself a regime change, so build facts from a
        # separate purchase-regime run at 45
        (5, 1, "purchase", 1.0, 45),
    ]
    out = {r.event_id: r for r in EA.scd2_lookup(_events(spark, rows)).collect()}
    r5 = out[5]
    # the purchase at 45 creates its own regime run starting at 45
    assert r5.regime == "purchase" and r5.ts_sec == 45
    assert r5.version is not None


def test_scd2_lookup_fuzz_matches_naive_containment(spark):
    import random

    rng = random.Random(31)
    rows = []
    eid = 0
    for _ in range(300):
        eid += 1
        rows.append(
            (
                eid,
                rng.randrange(6),
                rng.choice(["view", "click", "purchase"]),
                1.0,
                rng.randrange(0, 50),  # dense: plenty of same-second ties
            )
        )
    out = {
        r.event_id: (r.version, r.regime)
        for r in EA.scd2_lookup(_events(spark, rows)).collect()
    }

    # naive python: build runs, then containment lookup
    by_user = {}
    for eid_, u, t, _, s in rows:
        by_user.setdefault(u, []).append((s, eid_, t))
    expected = {}
    for u, evs in by_user.items():
        evs.sort()
        runs = []  # (version, regime, from, to)
        ver = 0
        for s, eid_, t in evs:
            if not runs or runs[-1][1] != t:
                ver += 1
                if runs:
                    runs[-1] = (runs[-1][0], runs[-1][1], runs[-1][2], s)
                runs.append((ver, t, s, None))
        for s, eid_, t in evs:
            if t != "purchase":
                continue
            for ver_, regime, fr, to in runs:
                if s >= fr and (to is None or s < to):
                    expected[eid_] = (ver_, regime)
                    break
    assert out == expected


def test_asof_join_fuzz_matches_python_reference(spark):
    import random

    rng = random.Random(77)
    rows = []
    eid = 0
    for _ in range(400):
        eid += 1
        rows.append(
            (
                eid,
                rng.randrange(8),
                rng.choice(["purchase", "click", "view"]),
                1.0,
                rng.randrange(0, 100),  # dense ties
            )
        )
    out = {
        r.event_id: (r.matched_event_id, r.matched_ts_sec)
        for r in EA.asof_join_events(_events(spark, rows)).collect()
    }
    # python reference: per user, latest click with ts <= purchase ts;
    # among same-ts clicks the max event_id
    clicks = {}
    for eid_, u, t, _, s in rows:
        if t == "click":
            clicks.setdefault(u, []).append((s, eid_))
    expected = {}
    for eid_, u, t, _, s in rows:
        if t != "purchase":
            continue
        cands = [(cs, ce) for cs, ce in clicks.get(u, []) if cs <= s]
        if not cands:
            expected[eid_] = (None, None)
        else:
            best_s = max(cs for cs, _ in cands)
            best_e = max(ce for cs, ce in cands if cs == best_s)
            expected[eid_] = (best_e, best_s)
    assert out == expected


def test_funnel_within_enforces_deadline(spark):
    rows = [
        # user 1: click 10s after view, purchase 10s after click -> full
        (1, 1, "view", 1.0, 0),
        (2, 1, "click", 1.0, 10),
        (3, 1, "purchase", 1.0, 20),
        # user 2: click 2 days after view -> stalls at view under 24h
        (4, 2, "view", 1.0, 0),
        (5, 2, "click", 1.0, 2 * 86400),
        (6, 2, "purchase", 1.0, 2 * 86400 + 10),
        # user 3: click at exactly the 24h boundary -> still converts
        (7, 3, "view", 1.0, 0),
        (8, 3, "click", 1.0, 86400),
    ]
    out = {r.stage: r.n_users for r in EA.funnel_within(_events(spark, rows)).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}
    # the unconstrained funnel counts user 2's click too
    loose = {r.stage: r.n_users for r in EA.funnel(_events(spark, rows)).collect()}
    assert loose["click"] == 3


def test_incremental_rollup_merge_equals_full_recompute(spark):
    from iot_real_time_data_pipeline_spark.operators import (
        events_analytics as EA,
    )

    rows = [
        (i, 3600 * (i % 5) + i, 100 + i % 3, "click", float(i))
        for i in range(40)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_sec long, user_id long, "
              "event_type string, value double"
    )
    full = {
        (r.event_type, r.bucket_start_sec): (r.n_events, r.sum_value_c, r.avg_value_cc)
        for r in EA.hourly_rollup(ev).collect()
    }
    inc = {
        (r.event_type, r.bucket_start_sec): (r.n_events, r.sum_value_c, r.avg_value_cc)
        for r in EA.incremental_rollup_merge(ev).collect()
    }
    assert inc == full and len(full) > 1


def test_range_join_bucketed_boundaries_and_exactness(spark):
    """Half-open [w_start, w_end) semantics at the exact boundaries,
    grain-spanning intervals, and set-equality with the naive
    nested-loop range join on the same rows."""
    day = 19_000  # arbitrary epoch day
    w_start = day * 86400 + EA.MAINT_START_OFFSET_S          # 02:00:00
    w_end = w_start + EA.MAINT_DURATION_S                    # 04:30:00
    rows = [
        (1, 100, "click", w_start - 1),       # just before -> out
        (2, 100, "click", w_start),           # inclusive start -> in
        (3, 101, "click", w_start + 3600),    # second grain -> in
        (4, 102, "click", w_end - 1),         # last second -> in
        (5, 102, "click", w_end),             # exclusive end -> out
        (6, 103, "click", (day + 40) * 86400 + 6 * 3600),  # 06:00, outside any window
    ]
    ev = spark.createDataFrame(
        [(eid, u, t, s * 1_000_000_000) for eid, u, t, s in rows],
        "event_id long, user_id long, event_type string, ts long",
    )
    ev = EA.with_ts_sec(ev)
    matched = EA.range_join_bucketed(ev, EA.daily_windows(ev)).collect()
    got = {r.event_id for r in matched}
    assert got == {2, 3, 4}

    # naive reference join over the same frames
    win = EA.daily_windows(ev)
    naive = (
        ev.crossJoin(win.withColumnRenamed("interval_day", "d2"))
        .filter((F.col("ts_sec") >= F.col("w_start")) & (F.col("ts_sec") < F.col("w_end")))
        .select("event_id", "d2")
        .collect()
    )
    assert {(r.event_id, r.d2) for r in naive} == {
        (r.event_id, r.interval_day) for r in matched
    }


def test_range_join_plan_is_equi_join_not_nested_loop(spark):
    rows = [(i, i % 5, "click", (19_000 * 86400 + 7200 + i * 60) * 1_000_000_000)
            for i in range(50)]
    ev = EA.with_ts_sec(
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts long"
        )
    )
    plan = (
        EA.range_join_bucketed(ev, EA.daily_windows(ev))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ohlc_daily_picks_and_extremes(spark):
    day = 19_100 * 86400
    rows = [
        # (event_id, ts offset, value) — deliberately out of order
        (3, 300, 5.00),
        (1, 10, 2.50),     # open (earliest)
        (4, 400, 9.75),    # high
        (2, 100, 1.25),    # low
        (5, 86_399, 4.00), # close (latest second of the day)
        (6, 86_400 + 50, 7.00),  # next day -> its own bar
    ]
    ev = EA.with_ts_sec(
        spark.createDataFrame(
            [(e, 1, "trade", (day + off) * 1_000_000_000, v) for e, off, v in rows],
            "event_id long, user_id long, event_type string, ts long, value double",
        )
    )
    bars = {r.day_start_sec: r for r in EA.ohlc_daily(ev).collect()}
    b = bars[day]
    assert (b.open_c, b.high_c, b.low_c, b.close_c) == (250, 975, 125, 400)
    assert b.n_events == 5
    assert bars[day + 86400].open_c == 700


def test_ohlc_daily_tie_breaks_on_event_id(spark):
    day = 19_100 * 86400
    rows = [(2, day, 8.0), (1, day, 3.0), (9, day, 6.0), (8, day, 1.0)]
    ev = EA.with_ts_sec(
        spark.createDataFrame(
            [(e, 1, "t", s * 1_000_000_000, v) for e, s, v in rows],
            "event_id long, user_id long, event_type string, ts long, value double",
        )
    )
    b = EA.ohlc_daily(ev).collect()[0]
    # identical ts_sec everywhere: open = lowest event_id, close = highest
    assert b.open_c == 300 and b.close_c == 600
