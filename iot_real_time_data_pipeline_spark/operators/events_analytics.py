"""Event-stream analytics over the generic ``events`` table.

The reference pipeline treats events purely as IoT sensor payloads;
a production analytics engine on the same table also needs the classic
clickstream operators — sessionization, as-of attribution, retention
cohorts, value histograms. Each is expressed as a window/groupBy plan
whose only shuffle key is ``user_id`` (or the final low-cardinality
report key), so the same plan runs on a 100 TB event log: users hash
across reducers, no global sort, no driver-side state.

Cross-engine determinism: all time arithmetic is integer epoch
*seconds* (``BIGINT``), derived by integral division from the parquet
nano timestamps — no doubles, no timezone math. Window orderings always
tie-break on ``event_id``, so second-granularity timestamp ties cannot
reorder between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_SEC = 1800  # 30 min inactivity closes a session
HISTOGRAM_BIN_WIDTH = 50  # `value` bin width (integer → exact division grid)


def with_ts_sec(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Append integer epoch seconds from either a long-nanos column (the
    ``nanosAsLong`` read path) or a native timestamp column.

    Lossless integer ``div`` — the cross-engine contract for every
    operator below (DuckDB mirrors with ``epoch_ns(ts) // 1000000000``;
    both floor toward zero on the positive epoch range).
    """
    dt = dict(events.dtypes)[ts_col]
    if dt == "bigint":
        sec = F.expr(f"{ts_col} div 1000000000")
    else:
        # unix_timestamp truncates sub-second parts — same floor.
        sec = F.unix_timestamp(F.col(ts_col))
    return events.withColumn("ts_sec", sec.cast("long"))


def sessionize(events: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Gap-based sessionization: a session is a maximal run of a user's
    events with inter-event gaps <= ``gap_sec``.

    Plan: one shuffle on ``user_id`` (the session key), then two stacked
    windows over the SAME partitioning (lag -> running sum — Spark
    reuses the sort), then a partial-agged groupBy on (user_id,
    session_idx) that lands on the already-co-located partitions. At
    100 TB the per-user event lists are small (bounded by human
    activity) so no skew; a bot-flood user would be the one salting
    candidate.

    Returns ``(user_id, session_idx, n_events, session_start_sec,
    session_end_sec, duration_sec)`` — all BIGINT.
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    prev = F.lag("ts_sec").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts_sec") - prev > gap_sec), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts_sec", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        events.withColumn("session_idx", F.sum(is_new).over(run).cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_sec").alias("session_start_sec"),
            F.max("ts_sec").alias("session_end_sec"),
            (F.max("ts_sec") - F.min("ts_sec")).alias("duration_sec"),
        )
    )


def asof_attribution(
    events: DataFrame,
    target_type: str = "purchase",
    match_type: str = "click",
) -> DataFrame:
    """As-of join within the event stream: each ``target_type`` event is
    attributed to the user's most recent STRICTLY PRIOR ``match_type``
    event (last-touch attribution).

    This is the scalable as-of pattern — NO per-row range subquery and
    NO range join: tag match rows, then ``last(..., ignorenulls=True)``
    over ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`` carries
    the latest match id/timestamp forward within each user's ordered
    partition. One shuffle on ``user_id``; the window is a single
    streaming pass per partition. The same shape generalizes to
    cross-table as-of joins (union the two tables with a tag column
    first) — e.g. pricing ticks vs trades.

    Targets with no prior match keep NULL attribution (left-join
    semantics) so conversion-rate math can count unattributed sales.

    Returns ``(event_id, user_id, ts_sec, attributed_event_id,
    attributed_ts_sec, gap_sec)``.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    match_id = F.when(F.col("event_type") == match_type, F.col("event_id"))
    match_ts = F.when(F.col("event_type") == match_type, F.col("ts_sec"))
    return (
        events.withColumn("attributed_event_id", F.last(match_id, ignorenulls=True).over(w))
        .withColumn("attributed_ts_sec", F.last(match_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == target_type)
        .select(
            "event_id",
            "user_id",
            "ts_sec",
            "attributed_event_id",
            "attributed_ts_sec",
            (F.col("ts_sec") - F.col("attributed_ts_sec")).alias("gap_sec"),
        )
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each subsequent active day offset.

    Integer epoch days (``ts_sec div 86400``) throughout — no date
    types, no timezone. Plan: groupBy(user_id) for the cohort day
    (shuffle ∝ users, partial-agged), broadcast-free self-join replaced
    by a window over the same user partitioning, then distinct + count
    on the (cohort_day, day_offset) report grid — the second shuffle is
    the report cardinality (days²/2), tiny at any corpus size.

    Returns ``(cohort_day, day_offset, n_users)``.
    """
    ev = events.withColumn("day", F.expr("ts_sec div 86400").cast("long"))
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("cohort_day", F.min("day").over(w))
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


def value_histogram(events: DataFrame, bin_width: int = HISTOGRAM_BIN_WIDTH) -> DataFrame:
    """Fixed-width value histogram per event type.

    ``floor(value / bin_width)`` on the IEEE double is bit-identical
    across engines (one division by an exactly-representable integer,
    one floor); the groupBy key is (type, bin) — low cardinality, pure
    partial aggregation, the cheapest possible shuffle.

    Returns ``(event_type, bin, bin_lo, n_events)``.
    """
    bin_col = F.floor(F.col("value") / F.lit(float(bin_width))).cast("long")
    return (
        events.withColumn("bin", bin_col)
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n_events"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * bin_width).alias("bin_lo"),
            "n_events",
        )
    )


def top_events_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Each user's k highest-value events — the generic top-k-per-group
    primitive (rank window over the group shuffle, filter early).

    Deterministic ordering: value DESC, then event_id (doubles compare
    identically across engines — no arithmetic, just ordering).

    Returns ``(user_id, rank, event_id, event_type, value)``.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        events.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("user_id", "rank", "event_id", "event_type", "value")
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def funnel(events: DataFrame, stages: tuple[str, ...] = FUNNEL_STAGES) -> DataFrame:
    """Ordered conversion funnel: stage k counts users with a
    ``stages[k]`` event STRICTLY after their stage-(k-1) entry time.

    All stage times are conditional-min windows over the SAME
    ``user_id`` partition, so however many stages the funnel has, the
    plan is ONE shuffle plus stacked same-partition windows (Spark
    reuses the exchange), then a distinct user grid and a global count
    — the second shuffle is |users reached stage sets|, tiny.

    Second-granularity strictness: a same-second follow-up event does
    not advance the funnel (documented tie rule, identical on both
    engines).

    Returns ``(stage_idx, stage, n_users)``.
    """
    w = Window.partitionBy("user_id")
    df = events
    prev_t = None
    for i, stage in enumerate(stages):
        cond = F.col("event_type") == stage
        if prev_t is not None:
            cond = cond & (F.col("ts_sec") > F.col(prev_t))
        t = f"_t{i}"
        df = df.withColumn(t, F.min(F.when(cond, F.col("ts_sec"))).over(w))
        prev_t = t
    users = df.select("user_id", *[f"_t{i}" for i in range(len(stages))]).distinct()
    counts = users.agg(
        *[
            F.count(F.col(f"_t{i}")).alias(f"_n{i}")
            for i in range(len(stages))
        ]
    )
    rows = [
        F.struct(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.col(f"_n{i}").alias("n_users"),
        )
        for i, stage in enumerate(stages)
    ]
    return counts.select(F.explode(F.array(*rows)).alias("s")).select(
        "s.stage_idx", "s.stage", "s.n_users"
    )


ROLLUP_BUCKET_SEC = 3600


def hourly_rollup(events: DataFrame, bucket_sec: int = ROLLUP_BUCKET_SEC) -> DataFrame:
    """Time-bucketed continuous-aggregate rollup (the hypertable
    pattern): per (event_type, hour bucket) counts and integer-cent
    value sums.

    Pure partial aggregation — shuffle is the rollup grid (types x
    hours), independent of event volume; exactly the shape a streaming
    job would maintain incrementally with event-time windows.

    Returns ``(event_type, bucket_start_sec, n_events, sum_value_c,
    avg_value_cc)`` — value cents are per-row quantized before the sum,
    so the BIGINT totals are engine-exact.
    """
    bucket = F.expr(f"(ts_sec div {bucket_sec}) * {bucket_sec}")
    value_c = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy(
            "event_type", bucket.cast("long").alias("bucket_start_sec")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_c).alias("sum_value_c"),
        )
        .select(
            "event_type",
            "bucket_start_sec",
            "n_events",
            "sum_value_c",
            F.expr("(sum_value_c * 100) div n_events").alias("avg_value_cc"),
        )
    )


ANOMALY_Z = 3.0


def value_anomalies(events: DataFrame, z_threshold: float = ANOMALY_Z) -> DataFrame:
    """Statistical outlier detection: events whose value is more than
    ``z_threshold`` standard deviations from their type's mean.

    Determinism recipe: the per-type moments are INTEGER sums
    (cent-quantized value and its square — partial-agged groupBy,
    shuffle is one row per type), and mean/variance are then derived in
    double arithmetic from those exact integers — the same inputs and
    the same expression tree on both engines, so the flag comparison
    and the reported z-score are bit-stable. A double sum() would be
    accumulation-order-dependent; integer moments are not.

    Plan: one stats pass (tiny result, broadcast back) + one map-side
    filter over the stream — two scans of the same cached relation, or
    one scan at 100 TB if the stats come from the rollup table.

    Returns ``(event_id, event_type, value, z_milli)`` for outliers,
    with z in integer milli-units.
    """
    value_c = F.round(F.col("value") * 100).cast("long")
    stats = (
        events.withColumn("_vc", value_c)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("_n"),
            F.sum("_vc").alias("_sum_c"),
            F.sum(F.col("_vc") * F.col("_vc")).alias("_sumsq_c2"),
        )
    )
    j = events.withColumn("_vc", value_c).join(F.broadcast(stats), "event_type")
    n = F.col("_n").cast("double")
    mean = F.col("_sum_c").cast("double") / n
    var = (F.col("_sumsq_c2").cast("double") - n * mean * mean) / n
    # var == 0 (homogeneous group) would divide by zero (ANSI error in
    # Spark, NaN in SQL): z is 0 by definition there — all values ARE
    # the mean. Guarded identically in the oracle.
    z = F.when(var > 0, (F.col("_vc").cast("double") - mean) / F.sqrt(var)).otherwise(
        F.lit(0.0)
    )
    return (
        j.withColumn("_z", z)
        .filter(F.abs(F.col("_z")) > z_threshold)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(F.col("_z") * 1000).cast("long").alias("z_milli"),
        )
    )


def seasonal_anomalies(
    events: DataFrame, z_threshold: float = ANOMALY_Z
) -> DataFrame:
    """Deseasonalized outlier detection: events scored against their
    type's HOUR-OF-DAY baseline instead of the global mean, so the
    nightly lull and the daily peak stop masking (or faking) outliers
    — the first-order seasonality correction every IoT/clickstream
    monitor needs before :func:`value_anomalies`'s global z makes
    sense.

    Same determinism recipe as ``value_anomalies``: per (type, hour)
    INTEGER moments (cent-quantized sums — shuffle is |types| × 24
    rows), doubles derived from those exact integers with the same
    expression tree on both engines, var == 0 guarded to z = 0.

    Returns ``(event_id, event_type, hour, value, z_milli)`` for
    events beyond ``z_threshold`` sigmas of their seasonal cell.
    """
    value_c = F.round(F.col("value") * 100).cast("long")
    hour = F.expr("(ts_sec div 3600) % 24").cast("long")
    base = events.withColumn("_vc", value_c).withColumn("hour", hour)
    stats = base.groupBy("event_type", "hour").agg(
        F.count("*").alias("_n"),
        F.sum("_vc").alias("_sum_c"),
        F.sum(F.col("_vc") * F.col("_vc")).alias("_sumsq_c2"),
    )
    j = base.join(F.broadcast(stats), ["event_type", "hour"])
    n = F.col("_n").cast("double")
    mean = F.col("_sum_c").cast("double") / n
    var = (F.col("_sumsq_c2").cast("double") - n * mean * mean) / n
    z = F.when(
        var > 0, (F.col("_vc").cast("double") - mean) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return (
        j.withColumn("_z", z)
        .filter(F.abs(F.col("_z")) > z_threshold)
        .select(
            "event_id",
            "event_type",
            "hour",
            "value",
            F.round(F.col("_z") * 1000).cast("long").alias("z_milli"),
        )
    )


def dau_wau(events: DataFrame) -> DataFrame:
    """Daily active users, trailing-7-day active users, and the
    DAU/WAU stickiness ratio (ppm) per epoch day.

    WAU(d) counts users active in [d-6, d]: each (user, day) activity
    row fans out to the <=7 report days it supports (explode of a
    7-element sequence — rows ∝ active-days x 7, map-side), then one
    distinct-count per day. No self-join of the activity table against
    itself, no 7x re-scan; the fan-out constant is the window length.
    Report days outside the observed range are trimmed.

    Returns ``(day, dau, wau, stickiness_ppm)``.
    """
    days = events.select(
        "user_id", F.expr("ts_sec div 86400").cast("long").alias("day")
    ).distinct()
    bounds = days.agg(F.max("day").alias("_max_day"))
    dau = days.groupBy("day").agg(F.count("*").alias("dau"))
    support = days.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
    ).distinct()
    wau = (
        support.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("_max_day"))
        .groupBy("day")
        .agg(F.count("*").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("(dau * CAST(1000000 AS BIGINT)) div wau").alias("stickiness_ppm"),
        )
    )


def value_deciles(events: DataFrame) -> DataFrame:
    """Per-type decile assignment of event values (``ntile(10)`` over
    the total order (value, event_id) — the equal-frequency binning
    behind score normalization and percentile features).

    One shuffle on event_type for the rank window; the decile summary
    groupBy rides the same partitioning. Returns per (type, decile):
    count and the decile's value range — doubles carried verbatim (no
    arithmetic), min/max are order statistics so engine-exact.

    Returns ``(event_type, decile, n_events, lo_value, hi_value)``.
    """
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("lo_value"),
            F.max("value").alias("hi_value"),
        )
    )


def multi_action_users(events: DataFrame) -> DataFrame:
    """Users who BOTH purchased and hit an error — the INTERSECT shape
    (implemented as a left-semi self-join on the distinct key sets, the
    plan INTERSECT compiles to anyway). Returns ``(user_id,)``.
    """
    buyers = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = events.filter(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.intersect(erring)


def scd2_intervals(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from a change
    stream: collapse each user's event-type runs into versioned
    validity intervals — the dimension-table maintenance operator every
    warehouse load needs (the reference's star schema keeps only
    current-state dims; this is the versioned form).

    Plan: ONE shuffle on ``user_id``, then three stacked windows over
    the same partitioning (lag -> change flag -> running version sum),
    a co-located groupBy per (user, version), and a lead window for the
    interval close — Spark reuses the (user_id)-hashed sort for all of
    them. Open intervals use the ``-1`` sentinel (BIGINT, never NULL)
    so the cross-engine hash is total.

    Returns ``(user_id, version, event_type, valid_from_sec,
    valid_to_sec, n_events, is_current)``.
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    prev_type = F.lag("event_type").over(w)
    is_change = F.when(
        prev_type.isNull() | (prev_type != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = events.withColumn("version", F.sum(is_change).over(run).cast("long"))
    iv = versioned.groupBy("user_id", "version").agg(
        # event_type is constant within a version run by construction
        F.min("event_type").alias("event_type"),
        F.min("ts_sec").alias("valid_from_sec"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return (
        iv.withColumn(
            "valid_to_sec",
            F.coalesce(F.lead("valid_from_sec").over(w2), F.lit(-1)).cast("long"),
        )
        .withColumn(
            "is_current", (F.col("valid_to_sec") == -1).cast("long")
        )
        .select(
            "user_id", "version", "event_type", "valid_from_sec",
            "valid_to_sec", "n_events", "is_current",
        )
    )


MOVING_AVG_DAYS = 7


def daily_moving_avg(events: DataFrame, days: int = MOVING_AVG_DAYS) -> DataFrame:
    """Trailing ``days``-day moving average of event value per type —
    the RANGE-frame window shape (frame bounds in *key units*, not row
    counts, so gap days shrink the frame instead of stretching it).

    Two-level plan: the raw stream partial-aggregates to one row per
    (event_type, day) FIRST (shuffle ∝ |types| x |days|, never event
    volume), and the window runs on that tiny rollup — the pattern that
    makes trailing metrics free at 100 TB. Values are integer cents;
    the average is an integer division (daily sums are non-negative, so
    truncating ``div`` == the oracle's floor ``//``).

    Returns ``(event_type, day, daily_sum_c, trailing_sum_c,
    trailing_n, trailing_avg_c)``.
    """
    val_c = F.round(F.col("value") * 100).cast("long")
    daily = (
        events.withColumn("day", F.expr("ts_sec div 86400"))
        .groupBy("event_type", "day")
        .agg(F.sum(val_c).alias("daily_sum_c"), F.count("*").alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-(days - 1), Window.currentRow)
    )
    return (
        daily.select(
            "event_type",
            "day",
            "daily_sum_c",
            F.sum("daily_sum_c").over(w).alias("trailing_sum_c"),
            F.sum("n_events").over(w).alias("trailing_n"),
        )
        .withColumn("trailing_avg_c", F.expr("trailing_sum_c div trailing_n"))
    )


EWMA_ALPHA_MILLI = 300  # smoothing weight on the new observation


def ewma_daily(events: DataFrame, alpha_milli: int = EWMA_ALPHA_MILLI) -> DataFrame:
    """Integer-exact exponentially-weighted moving average of the
    daily value per event type — the streaming-dashboard smoothing
    recurrence ``y_i = ((1000-a)*y_{i-1} + a*x_i) div 1000`` (y_0 =
    x_0), all in integer cents so a fixed alpha is bit-reproducible on
    any engine (the DuckDB twin walks the same recurrence as a
    RECURSIVE CTE).

    Plan shape: the raw stream partial-aggregates to one row per
    (event_type, day) first — shuffle ∝ |types| × |days|, never event
    volume (daily_moving_avg's two-level discipline) — then the
    recurrence runs as a single in-row ``aggregate`` fold over each
    type's day-ordered array. The fold length is calendar days per
    type (bounded), not data volume; daily sums are non-negative, so
    truncating ``div`` == the oracle's floor ``//``.

    Returns ``(event_type, day, daily_avg_c, ewma_c)``.
    """
    daily = (
        events.withColumn("day", F.expr("ts_sec div 86400"))
        .groupBy("event_type", "day")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_c"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type", "day", F.expr("sum_c div n").alias("avg_c")
        )
    )
    seq = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "avg_c"))).alias("s")
    )
    folded = seq.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
              s,
              CAST(array() AS ARRAY<STRUCT<day: BIGINT, avg_c: BIGINT,
                                           ewma_c: BIGINT>>),
              (acc, x) -> array_append(acc, named_struct(
                'day', x.day,
                'avg_c', x.avg_c,
                'ewma_c', CASE WHEN size(acc) = 0 THEN x.avg_c
                          ELSE ({1000 - alpha_milli}
                                  * element_at(acc, -1).ewma_c
                                + {alpha_milli} * x.avg_c) div 1000 END)))
            """
        ).alias("r"),
    )
    return folded.select(
        "event_type", F.explode("r").alias("x")
    ).select(
        "event_type",
        F.col("x.day").alias("day"),
        F.col("x.avg_c").alias("daily_avg_c"),
        F.col("x.ewma_c").alias("ewma_c"),
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Time-weighted average of ``value`` per event type (the
    TimescaleDB ``time_weight('LOCF')`` aggregate): each sample's value
    holds until the next sample arrives, so its weight is the gap to
    the successor in seconds — irregular sampling stops biasing the
    mean toward burst periods, which is the right average for
    last-observation-carried-forward sensors.

    One shuffle on the series key, a lead window on the same sort, then
    a partial-agged groupBy. The last sample of each series has no
    successor and carries zero weight (excluded on both engines).
    All-integer arithmetic: cent values x second weights, with the
    final average an integer division.

    Returns ``(event_type, n_weighted, total_sec, tw_avg_c)``.
    """
    w = Window.partitionBy("event_type").orderBy("ts_sec", "event_id")
    val_c = F.round(F.col("value") * 100).cast("long")
    seq = events.select(
        "event_type", "ts_sec", "event_id", val_c.alias("val_c")
    ).withColumn("next_sec", F.lead("ts_sec").over(w))
    weighted = seq.filter(F.col("next_sec").isNotNull()).withColumn(
        "weight_sec", F.col("next_sec") - F.col("ts_sec")
    )
    return (
        weighted.groupBy("event_type")
        .agg(
            F.count("*").alias("n_weighted"),
            F.sum("weight_sec").alias("total_sec"),
            F.sum(F.col("val_c") * F.col("weight_sec")).alias("tw_sum"),
        )
        .select(
            "event_type",
            "n_weighted",
            "total_sec",
            # weights are non-negative (sorted series), so truncating
            # div == the oracle's floor //
            F.expr("tw_sum div total_sec").alias("tw_avg_c"),
        )
    )


GAPFILL_BUCKET_SEC = 3600


def gapfill_locf(events: DataFrame, bucket_sec: int = GAPFILL_BUCKET_SEC) -> DataFrame:
    """Dense time-bucket grid with last-observation-carried-forward
    fill (the TimescaleDB ``time_bucket_gapfill`` + ``locf()`` shape):
    real per-bucket aggregates where data exists, the previous bucket's
    value where it doesn't — what dashboards need to draw an unbroken
    line over a sparse series.

    The grid generates from each series' (min, max) bucket — a
    per-group ``sequence`` explode of the 2-row bound aggregate, NOT a
    driver-side loop — and left-joins the real rollup (both sides hash
    on the series key; grid size is buckets x series, independent of
    event volume). The fill is one ``last_value IGNORE NULLS`` window
    over the same partitioning. Leading missing buckets (nothing to
    carry) keep the 0/-1 sentinel convention.

    Returns ``(event_type, bucket, real_sum_c, filled_sum_c,
    is_filled)`` where ``filled_sum_c = -1`` for unfillable leading
    buckets.
    """
    val_c = F.round(F.col("value") * 100).cast("long")
    rollup = (
        events.withColumn("bucket", F.expr(f"ts_sec div {bucket_sec}"))
        .groupBy("event_type", "bucket")
        .agg(F.sum(val_c).alias("real_sum_c"))
    )
    bounds = rollup.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("bucket")
    )
    joined = grid.join(rollup, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last("real_sum_c", ignorenulls=True).over(w)
    return joined.select(
        "event_type",
        "bucket",
        F.coalesce(F.col("real_sum_c"), F.lit(-1)).cast("long").alias("real_sum_c"),
        F.coalesce(filled, F.lit(-1)).cast("long").alias("filled_sum_c"),
        F.when(F.col("real_sum_c").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_filled"),
    )


HEAVY_HITTER_K = 100  # report keys with frequency > n/K


def key_skew_report(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Partition-skew diagnostic: the per-key frequency distribution
    summarized as one row — total keys, max/mean key frequency, and the
    skew ratio in ppm. This is the query an operator runs BEFORE
    choosing a join/agg strategy at 100 TB (salt? AQE skew join?
    broadcast?): a skew ratio near 1M x means one hot key owns the
    reducer.

    One partial-agged groupBy on the key (the thing being measured),
    then a 1-row aggregate. Returns ``(n_keys, n_rows, max_freq,
    mean_freq_milli, skew_ratio_ppm)`` — all BIGINT.
    """
    per_key = events.groupBy(key).agg(F.count("*").alias("freq"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("freq").alias("n_rows"),
        F.max("freq").alias("max_freq"),
    ).select(
        "n_keys",
        "n_rows",
        F.col("max_freq").cast("long").alias("max_freq"),
        F.expr("(n_rows * 1000) div n_keys").alias("mean_freq_milli"),
        # max/mean in ppm = max * n_keys * 1e6 / n_rows
        F.expr("(max_freq * n_keys * CAST(1000000 AS BIGINT)) div n_rows").alias(
            "skew_ratio_ppm"
        ),
    )


def heavy_hitters(events: DataFrame, key: str = "user_id", k: int = HEAVY_HITTER_K) -> DataFrame:
    """Exact phi-heavy hitters: keys whose frequency exceeds n/k — the
    exact counterpart of the CMS/Misra-Gries question, answerable
    exactly in two partial-aggregated passes at any scale (shuffle ∝
    distinct keys; the n/k threshold is a broadcast 1-row aggregate).
    The cross-multiplied integer comparison ``freq * k > n`` avoids
    division entirely.

    Returns ``(user_id, freq, share_ppm)`` for qualifying keys.
    """
    per_key = events.groupBy(key).agg(F.count("*").alias("freq"))
    total = per_key.agg(F.sum("freq").alias("n"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * k > F.col("n"))
        .select(
            key,
            "freq",
            F.expr("(freq * CAST(1000000 AS BIGINT)) div n").alias("share_ppm"),
        )
    )


def exact_median(events: DataFrame) -> DataFrame:
    """Exact interpolated median of ``value`` per event type, in
    half-cent units so the even-count midpoint needs no fractional
    arithmetic: median_halfcent = val_lo_c + val_hi_c (odd count:
    2 * middle).

    Shape: one window sort per type ranks the values, then ONLY the two
    middle rows survive to the final 5-row aggregate — no full-column
    collect, no approx sketch; the per-type sort is the honest cost of
    an exact quantile and shuffles each type's values once. (For
    sketch-budget medians, ``sketches.approx_user_stats`` is the
    production path.)

    Returns ``(event_type, n_values, median_halfcent_c)``.
    """
    val_c = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("event_type").orderBy("val_c", "event_id")
    ranked = (
        events.select("event_type", "event_id", val_c.alias("val_c"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("event_type")))
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return (
        mid.groupBy("event_type")
        .agg(F.max("n").alias("n_values"), F.sum("val_c").alias("m_sum"))
        .select(
            "event_type",
            "n_values",
            # odd n: (n+1)div2 == (n+2)div2, so ONE row survives the
            # OR filter — double it to stay in half-cent units.
            F.when(
                F.col("n_values") % 2 == 1, F.col("m_sum") * 2
            )
            .otherwise(F.col("m_sum"))
            .alias("median_halfcent_c"),
        )
    )


def props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured analytics over the raw JSON ``props`` column:
    extract ``$.k`` per row and aggregate per event type — the "query
    the JSON payload without a pre-flattened schema" path every event
    lake needs.

    ``get_json_object`` is a JVM-side codegen expression (no Python in
    the row path); the extraction fuses into the scan stage and only
    the (type, k) pair reaches the partial agg. Unparseable / missing
    keys become NULL and are excluded from the value aggregates but
    counted (``n_null_k``) — silently dropping malformed payloads is
    how pipelines lie.

    Returns ``(event_type, n_events, n_null_k, sum_k, min_k, max_k,
    n_distinct_k)``.
    """
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


ASOF_TARGET_TYPE = "purchase"  # left side of the two-table as-of join
ASOF_REF_TYPE = "click"  # right side (the "quote"/reference stream)
BAND_LEFT_TYPE = "error"
BAND_RIGHT_TYPE = "purchase"
BAND_SEC = 60  # time-band half-width for the pair join


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str = "user_id",
    ts: str = "ts_sec",
    id_col: str = "event_id",
) -> DataFrame:
    """Generic TWO-TABLE as-of join: each ``left`` row picks the latest
    ``right`` row of the same ``by`` key with ``right.ts <= left.ts``
    (inclusive, kdb/TimescaleDB/pandas ``merge_asof`` semantics; the
    strictly-prior same-table variant is :func:`asof_attribution`).

    This is the scalable as-of shape — NO range join, NO per-row
    subquery: the right table is first collapsed to one row per
    (key, ts) (latest ``id_col`` wins, making duplicate-timestamp
    matches deterministic), both sides are union-tagged, and one
    ordered window per key carries the latest right id/ts forward.
    Right rows sort BEFORE left rows at equal ts (tag 0 < 1), which is
    exactly the inclusive contract. One shuffle on the key for the
    union; the window is a single streaming pass per partition — the
    same plan joins a 100 TB trade log to a quote log.

    Left rows with no prior right row keep NULL match columns
    (as-of LEFT join).

    Returns ``(event_id, user_id, ts_sec, matched_event_id,
    matched_ts_sec, lag_sec)``.
    """
    r1 = (
        right.groupBy(by, ts)
        .agg(F.max(id_col).alias("matched_event_id"))
        .select(
            F.col(by),
            F.col(ts),
            F.lit(0).alias("tag"),
            F.lit(None).cast("long").alias(id_col),
            "matched_event_id",
        )
    )
    l1 = left.select(
        F.col(by),
        F.col(ts),
        F.lit(1).alias("tag"),
        F.col(id_col),
        F.lit(None).cast("long").alias("matched_event_id"),
    )
    w = (
        Window.partitionBy(by)
        .orderBy(ts, "tag", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m_ts = F.when(F.col("tag") == 0, F.col(ts))
    return (
        r1.unionByName(l1)
        .withColumn("m_id", F.last(F.when(F.col("tag") == 0, F.col("matched_event_id")), ignorenulls=True).over(w))
        .withColumn("m_ts", F.last(m_ts, ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            F.col(id_col),
            F.col(by),
            F.col(ts),
            F.col("m_id").alias("matched_event_id"),
            F.col("m_ts").alias("matched_ts_sec"),
            (F.col(ts) - F.col("m_ts")).alias("lag_sec"),
        )
    )


def asof_join_events(
    events: DataFrame,
    target_type: str = ASOF_TARGET_TYPE,
    ref_type: str = ASOF_REF_TYPE,
) -> DataFrame:
    """Driver-facing instantiation of :func:`asof_join`: the event
    stream split into two genuinely separate DataFrames (purchases vs
    clicks) and re-joined as-of — the oracle twin is DuckDB's native
    ``ASOF LEFT JOIN``, an entirely independent implementation."""
    left = events.filter(F.col("event_type") == target_type)
    right = events.filter(F.col("event_type") == ref_type)
    return asof_join(left, right)


def time_band_pairs(
    events: DataFrame,
    left_type: str = BAND_LEFT_TYPE,
    right_type: str = BAND_RIGHT_TYPE,
    band_sec: int = BAND_SEC,
) -> DataFrame:
    """Cross-key temporal proximity join: every (``left_type``,
    ``right_type``) event pair — across ALL users — within
    ``band_sec`` seconds of each other (e.g. "which purchases happened
    within a minute of any error?").

    Spark has no native band/range join, and the naive form is a
    cross join with an ``abs(t1 - t2) <= B`` filter — O(n^2) at scale.
    The scalable shape is BUCKETING: each side keys by its time bucket
    ``ts div B``; a qualifying pair's buckets differ by at most 1, so
    exploding the left side to [b-1, b, b+1] and equi-joining on the
    bucket id finds every candidate exactly once (each right row lives
    in exactly one bucket). The equi-join shuffles on a dense integer
    key, candidate volume is bounded by per-bucket occupancy x 3, and
    the exact band predicate filters candidates post-join. Skewed
    (bursty) buckets are AQE-splittable because the key is the bucket.

    Returns ``(left_event_id, right_event_id, gap_sec)`` with
    ``gap_sec = right_ts - left_ts`` (signed, in [-B, B]).
    """
    lhs = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("left_event_id"),
            F.col("ts_sec").alias("left_sec"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"left_sec div {band_sec} - 1"),
                    F.expr(f"left_sec div {band_sec}"),
                    F.expr(f"left_sec div {band_sec} + 1"),
                )
            ),
        )
    )
    rhs = events.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("right_event_id"),
        F.col("ts_sec").alias("right_sec"),
        F.expr(f"ts_sec div {band_sec}").alias("bucket"),
    )
    return (
        lhs.join(rhs, "bucket")
        .filter(F.abs(F.col("right_sec") - F.col("left_sec")) <= band_sec)
        .select(
            "left_event_id",
            "right_event_id",
            (F.col("right_sec") - F.col("left_sec")).alias("gap_sec"),
        )
    )


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-user inter-arrival (gap) statistics — the burstiness /
    engagement-cadence profile: gap count, min/max, and mean in
    milliseconds (integer micro-arithmetic, no doubles).

    Plan: one shuffle on ``user_id``, a single lag window, then a
    partial-agged groupBy on the same key (no second exchange). Users
    with fewer than 2 events produce no row (no gaps exist).

    Returns ``(user_id, n_gaps, min_gap_sec, max_gap_sec,
    mean_gap_milli)``.
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    return (
        events.withColumn("gap_sec", gap)
        .filter(F.col("gap_sec").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_sec").alias("min_gap_sec"),
            F.max("gap_sec").alias("max_gap_sec"),
            F.expr("sum(gap_sec) * 1000 div count(*)").alias("mean_gap_milli"),
        )
    )


ATTRIBUTION_WINDOW_SEC = 7 * 86400
TOUCH_TYPES = ("click", "view")


def linear_attribution(
    events: DataFrame,
    target_type: str = "purchase",
    touch_types: tuple[str, ...] = TOUCH_TYPES,
    window_sec: int = ATTRIBUTION_WINDOW_SEC,
) -> DataFrame:
    """Multi-touch LINEAR attribution: every conversion splits its
    credit equally across ALL of the user's touch events (any type in
    ``touch_types``) in the strictly-prior lookback window — the
    fairer companion to :func:`asof_attribution`'s winner-takes-all
    last-touch model, and the report marketing teams reconcile spend
    against.

    Scalable shape: NO range join and NO per-conversion subquery —
    per-channel touch counts come from native RANGE-frame windows
    (``RANGE BETWEEN window_sec PRECEDING AND 1 PRECEDING`` over the
    user's time-ordered partition, one streaming pass), so the only
    shuffle is the ``user_id`` exchange every per-user operator here
    shares. Credit is integer ppm: each conversion hands channel ch
    ``(1_000_000 * n_ch) div n_total`` — floor division, so a
    conversion's credited ppm may undershoot 1e6 by < n_channels
    (deterministic on every engine; no doubles).

    Output rows: one per touch channel plus ``'unattributed'``
    (conversions with zero prior touches — a report that drops them
    overstates channel efficiency). Returns ``(touch_type,
    n_conversions, credit_ppm_total)``.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-window_sec, -1)
    )
    counted = events
    for ch in touch_types:
        # coalesce: an EMPTY frame (no prior events at all) sums to
        # NULL, which would silently drop the conversion from the
        # 'unattributed' row instead of counting it there
        counted = counted.withColumn(
            f"_n_{ch}",
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == ch, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).over(w),
                F.lit(0),
            ),
        )
    conv = counted.filter(F.col("event_type") == target_type).withColumn(
        "_n_total", sum(F.col(f"_n_{ch}") for ch in touch_types)
    )
    credit = conv.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ch).alias("touch_type"),
                        F.col(f"_n_{ch}").alias("n_ch"),
                        F.when(
                            F.col("_n_total") > 0,
                            F.expr(
                                f"(1000000 * _n_{ch}) div _n_total"
                            ),
                        ).otherwise(F.lit(0)).alias("credit_ppm"),
                    )
                    for ch in touch_types
                ],
                F.struct(
                    F.lit("unattributed").alias("touch_type"),
                    F.when(F.col("_n_total") == 0, F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("int")
                    .alias("n_ch"),
                    F.when(F.col("_n_total") == 0, F.lit(1_000_000))
                    .otherwise(F.lit(0))
                    .alias("credit_ppm"),
                ),
            )
        ).alias("c")
    )
    return credit.groupBy(F.col("c.touch_type").alias("touch_type")).agg(
        F.sum(F.when(F.col("c.n_ch") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_conversions"),
        F.sum("c.credit_ppm").cast("long").alias("credit_ppm_total"),
    )


DECAY_DAYS = 7  # lookback horizon; weight halves each day a touch ages


def time_decay_attribution(
    events: DataFrame,
    target_type: str = "purchase",
    touch_types: tuple[str, ...] = TOUCH_TYPES,
    decay_days: int = DECAY_DAYS,
) -> DataFrame:
    """Multi-touch TIME-DECAY attribution — the model between
    :func:`asof_attribution` (all credit to the last touch) and
    :func:`linear_attribution` (equal credit regardless of recency):
    a touch ``d`` whole days before the conversion earns weight
    ``2^(decay_days-1-d)`` units, so credit halves per day of age and
    the most recent day dominates without monopolizing.

    Integer-exact by construction: the half-life weights are POWERS OF
    TWO held as BIGINT units (day 0 → ``2^(decay_days-1)`` … oldest
    day → 1), never the float ``exp(-λΔt)`` textbooks write — same
    decay geometry, zero rounding. Per-conversion credit is
    ``(1_000_000 · Σ_d w_d·n_{ch,d}) div Σ_total`` ppm (floor).

    Scalable shape (round-7 cum-sum+probe form; the r6 version spent
    ``len(touch_types)·decay_days`` = 14 RANGE frames over every
    event): each conversion emits ``decay_days+1`` PROBE rows at the
    day-bucket boundaries ``conv_ts − d·86400 − 1``; probes union with
    the touch events and ONE window pass per ``user_id`` computes a
    running count per channel (``rowsBetween`` cumulative — no RANGE
    frame state at all). Bucket-``d``'s count is the difference of
    consecutive boundary cums, so the weighted sum telescopes into one
    ``Σ coef(d)·cum_d`` aggregate per conversion (coef = +2^(D−1) at
    d=0, −2^(D−1−d) for 0<d<D, −1 at d=D). Same single exchange+sort
    as before, but 2 running sums instead of 14 sliding frames, and
    the window input is |touches| + (D+1)·|conversions| rows instead
    of every event carrying every frame. Strictly-prior semantics are
    the ``−1`` in the boundary (a same-second touch earns nothing);
    probes sort AFTER same-second touches so boundary touches count.
    Returns ``(touch_type, n_conversions, credit_ppm_total)`` with the
    ``'unattributed'`` row counting conversions whose whole lookback
    is empty.
    """
    base = events.select("user_id", "ts_sec", "event_type")
    touches = base.filter(F.col("event_type").isin(*touch_types)).select(
        "user_id",
        F.col("ts_sec").alias("sort_sec"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("conv_ts"),
        F.lit(None).cast("int").alias("d"),
        "event_type",
    )
    # conversions collapse to (user, second) with multiplicity m: the
    # bucket cums are a pure function of (user, conv_ts), so identical
    # same-second conversions share one probe set and fan back out by m.
    convs = (
        base.filter(F.col("event_type") == target_type)
        .groupBy("user_id", F.col("ts_sec").alias("conv_ts"))
        .agg(F.count("*").alias("m"))
    )
    probes = convs.select(
        "user_id",
        "conv_ts",
        F.explode(
            F.array(*[F.lit(d) for d in range(decay_days + 1)])
        ).alias("d"),
    ).select(
        "user_id",
        (F.col("conv_ts") - F.col("d").cast("long") * 86400 - 1).alias(
            "sort_sec"
        ),
        F.lit(1).alias("is_probe"),
        "conv_ts",
        "d",
        F.lit(None).cast("string").alias("event_type"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("sort_sec", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_cols = [
        F.sum(F.when(F.col("event_type") == ch, 1).otherwise(0))
        .over(w_cum)
        .alias(f"_cum_{i}")
        for i, ch in enumerate(touch_types)
    ]
    cums = (
        touches.unionByName(probes)
        .select("user_id", "is_probe", "conv_ts", "d", *cum_cols)
        .filter(F.col("is_probe") == 1)
    )

    def coef(d: int) -> int:
        if d == 0:
            return 1 << (decay_days - 1)
        if d == decay_days:
            return -1
        return -(1 << (decay_days - 1 - d))

    coef_col = F.when(F.col("d") == 0, F.lit(coef(0)).cast("long"))
    for d in range(1, decay_days + 1):
        coef_col = coef_col.when(F.col("d") == d, F.lit(coef(d)).cast("long"))
    per_conv = cums.groupBy("user_id", "conv_ts").agg(
        *[
            F.sum(coef_col * F.col(f"_cum_{i}")).alias(f"_w_{i}")
            for i in range(len(touch_types))
        ]
    )
    conv = per_conv.join(convs, ["user_id", "conv_ts"]).withColumn(
        "_w_total", sum(F.col(f"_w_{i}") for i in range(len(touch_types)))
    )
    credit = conv.select(
        "m",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ch).alias("touch_type"),
                        F.col(f"_w_{i}").alias("w_ch"),
                        F.when(
                            F.col("_w_total") > 0,
                            F.expr(f"(1000000 * _w_{i}) div _w_total"),
                        ).otherwise(F.lit(0).cast("long")).alias("credit_ppm"),
                    )
                    for i, ch in enumerate(touch_types)
                ],
                F.struct(
                    F.lit("unattributed").alias("touch_type"),
                    F.when(F.col("_w_total") == 0, F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("w_ch"),
                    F.when(F.col("_w_total") == 0, F.lit(1_000_000))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("credit_ppm"),
                ),
            )
        ).alias("c"),
    )
    return credit.groupBy(F.col("c.touch_type").alias("touch_type")).agg(
        F.sum(F.when(F.col("c.w_ch") > 0, F.col("m")).otherwise(0))
        .cast("long")
        .alias("n_conversions"),
        F.sum(F.col("c.credit_ppm") * F.col("m"))
        .cast("long")
        .alias("credit_ppm_total"),
    )


BOT_MIN_EVENTS = 20   # volume floor: 1-gap users have cv 0 by definition
BOT_AUDIT_N = 20      # review-queue size


def bot_audit(events: DataFrame, n: int = BOT_AUDIT_N) -> DataFrame:
    """Robotic-traffic review queue — the clickstream-cleaning step
    that runs BEFORE any engagement metric is trusted: the ``n`` most
    METRONOMIC high-volume users, ranked by the coefficient of
    variation of their inter-arrival gaps. Human cadence is bursty
    (cv near or above 1); schedulers, scrapers and replay loops are
    regular (cv << 1) at ANY absolute rate — which is why the ranking
    keys on regularity rather than fixed rate thresholds that a
    population-density change silently defeats.

    Integer-exact: gaps are epoch-second BIGINTs and
    ``cv_milli = 1000·stdev/mean = isqrt(n·Σg² − (Σg)²)·1000 div Σg``
    (the n's cancel) — exact BIGINT moments, one floor division, no
    double accumulation. Plan: one shuffle on ``user_id`` (lag window
    + groupBy on the same key, single exchange), then a global
    ``ORDER BY … LIMIT n`` — Spark's distributed TakeOrdered, never a
    single-partition window, so the |users|-row stats table needs no
    global sort even at 10⁹ users.

    Returns ``(suspicion_rank, user_id, n_events, n_gaps,
    mean_gap_milli, cv_milli, min_gap_sec)``; total order
    (cv, mean_gap, user_id) makes the queue deterministic.
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    per_user = (
        events.withColumn("_gap", gap)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count("_gap").alias("n_gaps"),
            F.sum("_gap").alias("_sum_gap"),
            F.sum(F.col("_gap") * F.col("_gap")).alias("_sum_gap2"),
            F.min("_gap").alias("min_gap_sec"),
        )
        .filter(F.col("n_events") >= BOT_MIN_EVENTS)
    )
    stats = per_user.withColumn(
        "mean_gap_milli", F.expr("_sum_gap * 1000 div n_gaps")
    ).withColumn(
        "cv_milli",
        F.when(
            F.col("_sum_gap") > 0,
            F.expr(
                "CAST(floor(sqrt(CAST(n_gaps * _sum_gap2 - _sum_gap * _sum_gap"
                " AS DOUBLE))) AS BIGINT) * 1000 div _sum_gap"
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    ranked = (
        stats.orderBy("cv_milli", "mean_gap_milli", "user_id")
        .limit(n)
        .withColumn(
            "suspicion_rank",
            F.row_number().over(
                Window.orderBy("cv_milli", "mean_gap_milli", "user_id")
            ).cast("long"),
        )
    )
    return ranked.select(
        "suspicion_rank",
        "user_id",
        "n_events",
        "n_gaps",
        "mean_gap_milli",
        "cv_milli",
        "min_gap_sec",
    )


def ab_split_audit(
    events: DataFrame, target_type: str = "purchase"
) -> DataFrame:
    """A/B experiment split audit: users deterministically hash-split
    into two variants (md5 of the user id — the only assignment that
    is stable across sessions, machines, AND engines), per-variant
    conversion rates, and the SAMPLE-RATIO-MISMATCH deviation — the
    first thing to check before reading ANY experiment result, because
    a split that isn't 50/50 means the assignment (not the treatment)
    is driving the difference.

    One distinct-user pass with a conditional conversion flag, then a
    2-row aggregate pivoted into a single audit row — integers only
    (``srm_dev_ppm`` = |nA−nB|·1e6 div (nA+nB); delta in signed ppm
    with truncating div mirrored). Returns ``(n_users_a, n_users_b,
    srm_dev_ppm, conv_ppm_a, conv_ppm_b, delta_ppm)``.
    """
    variant = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == target_type, 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", variant)
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    row = per_variant.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias(
            "n_users_a"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias(
            "n_users_b"
        ),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias(
            "_conv_a"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias(
            "_conv_b"
        ),
    )
    return row.select(
        "n_users_a",
        "n_users_b",
        F.expr(
            "abs(n_users_a - n_users_b) * 1000000"
            " div (n_users_a + n_users_b)"
        ).alias("srm_dev_ppm"),
        F.expr("(1000000 * _conv_a) div n_users_a").alias("conv_ppm_a"),
        F.expr("(1000000 * _conv_b) div n_users_b").alias("conv_ppm_b"),
        F.expr(
            "(1000000 * _conv_a) div n_users_a"
            " - (1000000 * _conv_b) div n_users_b"
        ).alias("delta_ppm"),
    )


def punch_card(events: DataFrame) -> DataFrame:
    """Day-of-week x hour-of-day activity punch card (events + distinct
    users per cell) — the when-are-users-here heat map behind staffing,
    deploy-window, and campaign-timing calls.

    Integer calendar arithmetic shared with the oracle: epoch day 0 is
    a Thursday, so ``dow = (ts_sec div 86400 + 3) mod 7`` (0=Monday)
    and ``hour = (ts_sec mod 86400) div 3600`` — no timezone/date
    library in the hash path. One groupBy onto a ≤168-cell grid; the
    distinct-user count is the only expand, map-side combined.

    Returns ``(dow, hour, n_events, n_users)``.
    """
    return (
        events.select(
            F.expr("(ts_sec div 86400 + 3) % 7").cast("long").alias("dow"),
            F.expr("(ts_sec % 86400) div 3600").cast("long").alias("hour"),
            "user_id",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


CONV_PCTS_MILLI = (500, 900, 990)  # p50 / p90 / p99


def conversion_latency(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """EXACT conversion-latency percentiles: minutes from a user's
    FIRST ``from_type`` to their FIRST subsequent ``to_type`` — the
    time-to-convert number growth teams pair with the funnel's
    conversion RATE (two funnels with equal rates and 10x different
    latencies are different businesses).

    Same scale discipline as the warehouse percentile report: one
    conditional-min groupBy per user (map-side combined), a
    minute-bucket HISTOGRAM, a cumulative window over the bounded
    histogram (≤ observed-span minutes, corpus-size independent), and
    percentile_disc-exact integer selection — the fact table is never
    globally sorted.

    Returns one row: ``(n_converters, p50_min, p90_min, p99_min,
    max_min)``.
    """
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == from_type, F.col("ts_sec"))
        ).alias("first_from"),
        F.min(
            F.when(F.col("event_type") == to_type, F.col("ts_sec"))
        ).alias("first_to"),
    )
    lat = per_user.filter(
        F.col("first_from").isNotNull()
        & (F.col("first_to") > F.col("first_from"))
    ).select(
        F.expr("(first_to - first_from) div 60").alias("lat_min")
    )
    hist = lat.groupBy("lat_min").agg(F.count("*").alias("cnt"))
    w_cum = Window.orderBy("lat_min").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy())
    )
    pct_cols = [
        F.min(
            F.when(
                F.col("cum") * 1000 >= F.lit(q) * F.col("total"),
                F.col("lat_min"),
            )
        ).alias(f"p{q // 10}_min")
        for q in CONV_PCTS_MILLI
    ]
    return cdf.agg(
        F.max("total").cast("long").alias("n_converters"),
        *pct_cols,
        F.max("lat_min").alias("max_min"),
    )


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily acquisition split: per epoch day, how many active users
    are NEW (first day ever seen) vs RETURNING — the growth-accounting
    twin of :func:`dau_wau` (raw DAU can grow while acquisition
    stalls; this separates the two).

    Plan: distinct (user, day) — map-side combined — then the user's
    first day via a groupBy on the SAME user key (no second fact
    scan), a co-partitioned join back, and a |days|-row final
    aggregate. Integer epoch days throughout; ``new_ppm`` is the
    integer share of the day's actives that are new.

    Returns ``(day, n_active, n_new, n_returning, new_ppm)``.
    """
    ud = (
        events.select(
            "user_id", F.expr("ts_sec div 86400").cast("long").alias("day")
        )
        .distinct()
    )
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
            F.expr("(1000000 * n_new) div n_active").alias("new_ppm"),
        )
    )


def audience_overlap(events: DataFrame) -> DataFrame:
    """Audience-overlap matrix: for every unordered pair of event
    types, the Jaccard similarity of their USER sets — "do the people
    who purchase also search?", the segmentation question behind
    cross-sell targeting and funnel design.

    Plan: one distinct (event_type, user_id) pass (map-side combined —
    the shuffle carries at most |types| rows per user), a self-join ON
    ``user_id`` with ``type_a < type_b`` (each user contributes only
    their own type-pair fan-out, ≤ C(|types|,2) rows — never a
    cartesian), an integer pair count, and per-type totals broadcast
    back. Types are a bounded vocabulary, so every aggregate past the
    distinct is dimension-sized at any corpus scale.

    Returns ``(type_a, type_b, n_users_a, n_users_b, n_common,
    jaccard_ppm)`` with integer-ppm Jaccard (floor).
    """
    # Persist (round 13): the distinct (type, user) frame feeds the
    # per-type totals AND both self-join sides; un-persisted, each
    # branch re-ran the corpus distinct (11 AQE stage-jobs for one
    # item). Narrow two-column frame, ≤|types| rows per user.
    tu = events.select("event_type", "user_id").distinct().persist()
    totals = tu.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    a, b = tu.alias("a"), tu.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    ta = totals.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_users_a")
    )
    tb = totals.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_users_b")
    )
    return (
        common.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_users_a",
            "n_users_b",
            "n_common",
            F.expr(
                "(1000000 * n_common) div (n_users_a + n_users_b - n_common)"
            ).alias("jaccard_ppm"),
        )
    )


PATH_MAX_LEN = 8   # leading event types kept per session path
PATH_TOP_N = 20    # report size


def session_paths(
    events: DataFrame,
    gap_sec: int = SESSION_GAP_SEC,
    max_len: int = PATH_MAX_LEN,
    n: int = PATH_TOP_N,
) -> DataFrame:
    """Clickstream path analysis: the ``n`` most common session
    journeys, where a journey is the ordered sequence of the session's
    first ``max_len`` event types joined with ``'>'`` — the
    what-do-users-actually-do report product teams read next to the
    funnel (which only checks ONE prescribed order).

    The ``max_len`` cap is a scale decision, not a convenience: an
    uncapped path string grows with the longest session (bot sessions
    reach millions of events), while the capped prefix keeps every
    grouped key under ``max_len·|type|`` bytes, so the path groupBy
    behaves at any corpus size. Paths longer than the cap get a
    ``'>…'`` suffix so truncated journeys can't collide with genuine
    short ones.

    Plan: the sessionize windows (one ``user_id`` exchange, reused
    sort), a ``row_number`` cut to the first ``max_len`` rows per
    session BEFORE any aggregation (the shuffle carries ≤ max_len rows
    per session), an in-partition ordered fold to the path string, a
    path groupBy (map-side combined), and a distributed
    ``ORDER BY … LIMIT n``. Returns ``(rank, path, n_sessions)``.
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    prev = F.lag("ts_sec").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts_sec") - prev > gap_sec), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged = events.withColumn(
        "session_idx", F.sum(is_new).over(run).cast("long")
    )
    ws = Window.partitionBy("user_id", "session_idx").orderBy(
        "ts_sec", "event_id"
    )
    head = tagged.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= max_len + 1
    )
    per_session = head.groupBy("user_id", "session_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("raw_path"),
        F.count("*").alias("n_head"),
    )
    paths = per_session.select(
        F.when(
            F.col("n_head") > max_len,
            F.concat(
                F.array_join(
                    F.slice(F.split(F.col("raw_path"), ">"), 1, max_len),
                    ">",
                ),
                F.lit(">…"),
            ),
        )
        .otherwise(F.col("raw_path"))
        .alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    top = counted.orderBy(F.desc("n_sessions"), "path").limit(n)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("n_sessions"), "path"))
        .cast("long"),
    ).select("rank", "path", "n_sessions")


HOP_SIZE_SEC = 3600  # hopping-window rollup: window size
HOP_SLIDE_SEC = 900  # ... and slide (4 overlapping windows per event)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def hopping_rollup(
    events: DataFrame,
    size_sec: int = HOP_SIZE_SEC,
    slide_sec: int = HOP_SLIDE_SEC,
) -> DataFrame:
    """Hopping (sliding) window rollup: every event contributes to the
    ``size/slide`` overlapping windows that contain it — the smoothed
    dashboard-trend companion to the tumbling ``hourly_rollup``.

    Integer window grid (``ts div slide``) rather than timestamp
    structs, so the result is engine-exact; the fan-out is a bounded
    explode (size/slide copies — here 4) fused into the scan stage,
    then one partial-agged groupBy on (type, window_start). This is
    exactly how Structured Streaming's sliding windows decompose; at
    100 TB the shuffle carries size/slide x per-window partials, not
    raw events.

    Returns ``(event_type, window_start_sec, n_events, sum_value_c)``.
    """
    n = size_sec // slide_sec
    starts = F.expr(
        f"transform(sequence(0, {n - 1}),"
        f" k -> (ts_sec div {slide_sec} - k) * {slide_sec})"
    )
    return (
        events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("val_c"),
            F.explode(starts).alias("window_start_sec"),
        )
        .groupBy("event_type", "window_start_sec")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("val_c").alias("sum_value_c"),
        )
    )


def type_day_pivot(events: DataFrame) -> DataFrame:
    """Day x event-type PIVOT: one row per epoch day, one count column
    per (fixed, enumerated) event type — the wide cross-tab layout BI
    tools expect.

    The pivot value list is EXPLICIT: with an implicit list Spark must
    first run a distinct scan to discover the columns, and the output
    schema becomes data-dependent — both wrong at scale. With fixed
    values the pivot compiles to one partial-agged groupBy(day) with
    conditional counts (no extra pass, stable schema).

    Returns ``(day, n_click, n_error, n_purchase, n_signup, n_view)``.
    """
    day = F.expr("ts_sec div 86400").alias("day")
    pivoted = (
        events.select(day, "event_type")
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and row-normalized probabilities (ppm) of
    ``prev_type -> next_type`` transitions — the behavioral-model
    summary behind next-action prediction and anomaly scoring.

    One shuffle on ``user_id`` for the lag window, then a groupBy on
    the (prev, next) pair — 25 cells here, bounded by |types|^2 at any
    scale, so the row-normalizing window runs on a constant-size table.

    Returns ``(prev_type, next_type, n_transitions, prob_ppm)``.
    """
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    pairs = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    row = Window.partitionBy("prev_type")
    return pairs.withColumn(
        "row_total", F.sum("n_transitions").over(row)
    ).select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr("n_transitions * 1000000 div row_total").alias("prob_ppm"),
    )


WINSOR_TRIM_DIV = 100  # trim 1/100 (1%) from each tail


def winsorized_stats(events: DataFrame, trim_div: int = WINSOR_TRIM_DIV) -> DataFrame:
    """Winsorized (clipped) robust statistics per event type: values
    below the exact p(1/trim_div) / above the p(1-1/trim_div) order
    statistic are clipped to those cutoffs before aggregating — the
    outlier-robust mean every metrics pipeline needs next to the raw
    one.

    Cutoffs are EXACT order statistics (rank window on integer cents,
    ``(ts, event_id)``-free deterministic tie-break on the value+id
    order), computed per type and broadcast back; the clip itself is a
    narrow map. The rank window is the same per-type sorted pass the
    deciles/median operators already pay; at 100 TB the documented
    swap-in is an approx-quantile cutoff with the identical downstream
    plan.

    Returns ``(event_type, n_events, cut_lo_c, cut_hi_c, n_clipped_lo,
    n_clipped_hi, sum_winsor_c, winsor_mean_milli)``.
    """
    val_c = F.round(F.col("value") * 100).cast("long")
    base = events.select("event_type", "event_id", val_c.alias("val_c"))
    w = Window.partitionBy("event_type").orderBy("val_c", "event_id")
    ranked = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    lo_rank = F.expr(f"(n + {trim_div - 1}) div {trim_div}")
    hi_rank = F.col("n") + 1 - lo_rank
    cuts = (
        ranked.filter((F.col("rn") == lo_rank) | (F.col("rn") == hi_rank))
        .groupBy("event_type")
        .agg(F.min("val_c").alias("cut_lo_c"), F.max("val_c").alias("cut_hi_c"))
    )
    clipped = base.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "val_c",
        "cut_lo_c",
        "cut_hi_c",
        F.least(F.greatest(F.col("val_c"), F.col("cut_lo_c")), F.col("cut_hi_c")).alias(
            "wv"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("cut_lo_c").alias("cut_lo_c"),
            F.max("cut_hi_c").alias("cut_hi_c"),
            F.count(F.when(F.col("val_c") < F.col("cut_lo_c"), 1)).alias("n_clipped_lo"),
            F.count(F.when(F.col("val_c") > F.col("cut_hi_c"), 1)).alias("n_clipped_hi"),
            F.sum("wv").alias("sum_winsor_c"),
        )
        .withColumn("winsor_mean_milli", F.expr("sum_winsor_c * 1000 div n_events"))
    )


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """CUSUM changepoint summary per event type: cumulative deviation
    of the daily value totals from the per-type mean, reporting the day
    where |CUSUM| peaks — the classic level-shift detector (where did
    the metric's regime change?).

    Rollup-first discipline: the CUSUM window runs on the per-(type,
    day) aggregate, never raw events; deviations are exact integer
    micro-cents (daily_sum * days - total, avoiding the division), so
    the argmax day is engine-exact. The peak pick is one more bounded
    aggregate (max over days), tie-broken to the earliest day.

    Returns ``(event_type, n_days, peak_day, peak_abs_cusum_xd)`` where
    the CUSUM unit is cents x days (the division-free deviation scale).
    """
    daily = (
        events.select(
            "event_type",
            F.expr("ts_sec div 86400").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("val_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("val_c").alias("daily_sum_c"))
    )
    per_type = Window.partitionBy("event_type")
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # deviation scaled by n_days: dev_xd = daily_sum * n_days - total
    # (integer; equals (daily_sum - mean) * n_days exactly)
    scored = (
        daily.withColumn("n_days", F.count("*").over(per_type))
        .withColumn("total_c", F.sum("daily_sum_c").over(per_type))
        .withColumn(
            "cusum_xd",
            F.sum(
                F.col("daily_sum_c") * F.col("n_days") - F.col("total_c")
            ).over(run),
        )
    )
    best = F.max(
        F.struct(
            F.abs(F.col("cusum_xd")).alias("mag"),
            (-F.col("day")).alias("neg_day"),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(F.max("n_days").alias("n_days"), best.alias("b"))
        .select(
            "event_type",
            "n_days",
            (-F.col("b.neg_day")).alias("peak_day"),
            F.col("b.mag").alias("peak_abs_cusum_xd"),
        )
    )


def scd2_lookup(events: DataFrame, fact_type: str = "purchase") -> DataFrame:
    """Point-in-time (as-was) dimension lookup: each ``fact_type``
    event joined to the SCD2 version whose validity interval contains
    its timestamp — "which regime was this user in when they
    purchased". The correctness trap this operator exists for: joining
    facts to the CURRENT dim row instead of the historical one.

    Scalable shape: because SCD2 intervals PARTITION each user's
    timeline, interval containment is equivalent to an as-of match on
    ``valid_from`` — so the plan is the union+window as-of (no range
    join, no interval explode): version-start rows and fact rows union,
    one ordered window per user carries (version, regime) forward,
    version rows sorting before facts at equal seconds and higher
    versions last (so empty same-second intervals lose, exactly like
    the containment contract). The oracle states containment as the
    naive interval range join — an independent formulation.

    Returns ``(event_id, user_id, ts_sec, version, regime)``.
    """
    dim = scd2_intervals(events)
    v = dim.select(
        "user_id",
        F.col("valid_from_sec").alias("ts_sec"),
        F.lit(0).alias("tag"),
        "version",
        F.col("event_type").alias("regime"),
        F.lit(None).cast("long").alias("event_id"),
    )
    f = events.filter(F.col("event_type") == fact_type).select(
        "user_id",
        "ts_sec",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("regime"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "tag", "version", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried_v = F.last(F.when(F.col("tag") == 0, F.col("version")), ignorenulls=True)
    carried_r = F.last(F.when(F.col("tag") == 0, F.col("regime")), ignorenulls=True)
    return (
        v.unionByName(f)
        .withColumn("cur_version", carried_v.over(w))
        .withColumn("cur_regime", carried_r.over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            "ts_sec",
            F.col("cur_version").alias("version"),
            F.col("cur_regime").alias("regime"),
        )
    )


FUNNEL_WITHIN_SEC = 86400  # each stage must follow within 24 h


def funnel_within(
    events: DataFrame,
    stages: tuple[str, ...] = FUNNEL_STAGES,
    within_sec: int = FUNNEL_WITHIN_SEC,
) -> DataFrame:
    """Time-constrained conversion funnel: like :func:`funnel`, but
    each stage must occur within ``within_sec`` seconds of the
    previous stage's entry time — the form real conversion metrics use
    ("purchased within 24 h of clicking"), which the unconstrained
    funnel over-counts.

    Same plan discipline as ``funnel``: one user shuffle, stacked
    conditional-min windows over the same partition (the deadline is
    one extra predicate in each stage's condition), distinct grid,
    global counters.

    Returns ``(stage_idx, stage, n_users)``.
    """
    w = Window.partitionBy("user_id")
    df = events
    prev_t = None
    for i, stage in enumerate(stages):
        cond = F.col("event_type") == stage
        if prev_t is not None:
            cond = (
                cond
                & (F.col("ts_sec") > F.col(prev_t))
                & (F.col("ts_sec") <= F.col(prev_t) + within_sec)
            )
        t = f"_t{i}"
        df = df.withColumn(t, F.min(F.when(cond, F.col("ts_sec"))).over(w))
        prev_t = t
    users = df.select("user_id", *[f"_t{i}" for i in range(len(stages))]).distinct()
    counts = users.agg(
        *[F.count(F.col(f"_t{i}")).alias(f"_n{i}") for i in range(len(stages))]
    )
    rows = [
        F.struct(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.col(f"_n{i}").alias("n_users"),
        )
        for i, stage in enumerate(stages)
    ]
    return counts.select(F.explode(F.array(*rows)).alias("s")).select(
        "s.stage_idx", "s.stage", "s.n_users"
    )


IVM_DELTA_MOD = 10  # event_id % 10 == 0 → the "new micro-batch" slice


def incremental_rollup_merge(
    events: DataFrame,
    bucket_sec: int = ROLLUP_BUCKET_SEC,
    delta_mod: int = IVM_DELTA_MOD,
) -> DataFrame:
    """Incremental view maintenance for the hourly rollup: the corpus
    is split deterministically into a BASE (the standing continuous
    aggregate) and a DELTA (the next micro-batch, ``event_id mod N ==
    0``); each side is rolled up independently and the two partial
    aggregates are merged ALGEBRAICALLY (counts add, integer-cent sums
    add, the average is re-derived from the merged sums) — never by
    re-scanning the base's raw events.

    This is the maintenance path a 100 TB continuous aggregate lives
    by: per batch, work ∝ delta + rollup-grid size, not history. The
    oracle is the DIRECT rollup over all events — the hash match IS
    the proof that merge(partial(base), partial(delta)) ==
    full recompute, the lossless-merge property (sum/count are
    algebraic; a naive avg-of-avgs merge would fail this gate).

    Output schema matches :func:`hourly_rollup`.
    """
    base = events.filter(F.col("event_id") % delta_mod != 0)
    delta = events.filter(F.col("event_id") % delta_mod == 0)

    def partial(df: DataFrame) -> DataFrame:
        bucket = F.expr(f"(ts_sec div {bucket_sec}) * {bucket_sec}")
        value_c = F.round(F.col("value") * 100).cast("long")
        return df.groupBy(
            "event_type", bucket.cast("long").alias("bucket_start_sec")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(value_c).alias("sum_value_c"),
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("event_type", "bucket_start_sec")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value_c").cast("long").alias("sum_value_c"),
        )
    )
    return merged.select(
        "event_type",
        "bucket_start_sec",
        "n_events",
        "sum_value_c",
        F.expr("(sum_value_c * 100) div n_events").alias("avg_value_cc"),
    )


RANGE_GRAIN_SECONDS = 3600
MAINT_START_OFFSET_S = 2 * 3600   # daily window opens 02:00
MAINT_DURATION_S = 9000           # ... and runs 2.5 h


def daily_windows(
    events: DataFrame,
    start_offset_s: int = MAINT_START_OFFSET_S,
    duration_s: int = MAINT_DURATION_S,
) -> DataFrame:
    """One interval per calendar day PRESENT in the stream —
    ``[day 02:00, day 04:30)`` by default. Derived from the data so
    the oracle can derive the identical set; a production pipeline
    would read its campaign/maintenance windows from a dim table of
    exactly this shape: ``(interval_day, w_start, w_end)`` in epoch
    seconds, half-open."""
    return (
        events.select(F.expr("ts_sec div 86400").alias("interval_day"))
        .distinct()
        .select(
            "interval_day",
            (F.col("interval_day") * 86400 + start_offset_s).alias("w_start"),
            (F.col("interval_day") * 86400 + start_offset_s + duration_s).alias(
                "w_end"
            ),
        )
    )


def range_join_bucketed(
    events: DataFrame,
    intervals: DataFrame,
    grain_s: int = RANGE_GRAIN_SECONDS,
) -> DataFrame:
    """RANGE JOIN (event point-in-interval) as a grain-bucketed
    EQUI-join — the custom operator Spark lacks natively: a naive
    ``e.ts BETWEEN i.start AND i.end`` join has no equality predicate,
    so Catalyst plans BroadcastNestedLoopJoin (or a cartesian),
    O(|events| x |intervals|) — the classic scale-killer.

    The bucketed expansion: each interval explodes to the coarse time
    GRAINS it overlaps (``duration/grain + 1`` rows — bounded, tiny),
    each event maps to its single grain, and the join becomes a hash
    equi-join on the integer grain key with the exact range predicate
    as a post-filter. Exact by construction: an event's grain matches
    an interval iff the interval overlaps that grain, and each
    (event, interval) pair meets at EXACTLY ONE exploded row (the
    event's own grain), so no dedup is needed. Shuffle ∝ events +
    exploded intervals; a 100 TB stream range-joins against a million
    campaign windows without a nested loop. (Same trick databases
    ship as "bucketed range join".)

    Inputs: events carrying ``ts_sec``; intervals
    ``(interval_day, w_start, w_end)`` half-open epoch seconds.
    Returns the matched rows tagged with their interval.
    """
    iexp = intervals.select(
        "interval_day",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.expr(f"w_start div {grain_s}"),
                F.expr(f"(w_end - 1) div {grain_s}"),
            )
        ).alias("grain"),
    )
    tagged = events.withColumn("grain", F.expr(f"ts_sec div {grain_s}"))
    # No forced broadcast (the r6 de-hint rule): the interval side is
    # usually dim-sized and AQE elects the broadcast at runtime, but a
    # million-window campaign table must be allowed to shuffle.
    return tagged.join(iexp, "grain").filter(
        (F.col("ts_sec") >= F.col("w_start")) & (F.col("ts_sec") < F.col("w_end"))
    )


def range_join_window_counts(events: DataFrame) -> DataFrame:
    """Per daily-window traffic via the bucketed range join:
    ``(interval_day, w_start, w_end, n_events, n_users)``."""
    matched = range_join_bucketed(events, daily_windows(events))
    return matched.groupBy("interval_day", "w_start", "w_end").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def ohlc_daily(events: DataFrame) -> DataFrame:
    """Daily OHLC bars per event type over ``value`` — the candlestick
    aggregate every timeseries store ships (open = first value of the
    day, high/low = extremes, close = last), here as ONE map-side-
    partial groupBy: open/close are ``min/max(struct(ts_sec, event_id,
    value))`` picks — the struct ordering IS the (time, id) tie-break,
    it partial-aggregates like any min/max, and no window or sort ever
    touches the event volume. Values are integer cents (per-row
    quantized before any comparison), so the bar is engine-exact.

    Shuffle ∝ |types| x |days| — the rollup grid, not the stream.
    Returns ``(event_type, day_start_sec, n_events, open_c, high_c,
    low_c, close_c)``.
    """
    value_c = F.round(F.col("value") * 100).cast("long")
    day = F.expr("(ts_sec div 86400) * 86400").cast("long")
    tagged = events.select(
        "event_type",
        day.alias("day_start_sec"),
        F.struct(F.col("ts_sec"), F.col("event_id"), value_c.alias("v")).alias(
            "o"
        ),
        value_c.alias("v"),
    )
    return (
        tagged.groupBy("event_type", "day_start_sec")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("o").alias("first_o"),
            F.max("o").alias("last_o"),
            F.max("v").alias("high_c"),
            F.min("v").alias("low_c"),
        )
        .select(
            "event_type",
            "day_start_sec",
            "n_events",
            F.col("first_o.v").alias("open_c"),
            "high_c",
            "low_c",
            F.col("last_o.v").alias("close_c"),
        )
    )
