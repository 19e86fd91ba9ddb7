"""Event-time windowed aggregates over the processed stream (T6).

The reference has no streaming windows (its only hourly grouping is a
calendar bucket in the dashboard); a Spark-first engine gets tumbling
event-time windows with watermark-driven state eviction natively. These
are the operational "live dashboard" counterparts of D1/D4.

Late data: ``withWatermark`` bounds state; rows later than the delay are
dropped from the aggregate (and still land in the lake via the main
pipeline, so nothing is lost — the window result is the approximation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_activity(
    processed: DataFrame,
    gap: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-location event-time *session* windows (gap-based).

    A session groups consecutive events separated by less than ``gap``
    and closes when the gap elapses — the operational question "how
    long did this sensor burst last, and what happened during it",
    which no tumbling window answers. Native ``session_window``:
    Spark's state store merges overlapping candidate sessions and the
    watermark evicts closed ones; batch frames run the same plan with
    the watermark a no-op (one code path, twice usable).
    """
    src = processed
    if processed.isStreaming:
        src = processed.withWatermark("event_ts", watermark_delay)
    return (
        src.groupBy(F.session_window("event_ts", gap).alias("w"), F.col("loc_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_ts").alias("first_event"),
            F.max("event_ts").alias("last_event"),
            F.avg("sensor_temperature").alias("avg_temperature"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "loc_id",
            "n_events",
            "first_event",
            "last_event",
            "avg_temperature",
        )
    )


def windowed_health(
    processed: DataFrame,
    window: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-window, per-location health counts + mean temperature.

    Input: the processed stream (``operators.pipeline.assemble_events``
    output, with ``event_ts``). Works identically on batch frames (the
    watermark is a no-op there) — one code path, twice usable.
    """
    src = processed
    if processed.isStreaming:
        src = processed.withWatermark("event_ts", watermark_delay)
    return (
        src.groupBy(F.window("event_ts", window).alias("w"), F.col("loc_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("validation_status") == "INVALID", 1)).alias("n_invalid"),
            F.avg("sensor_temperature").alias("avg_temperature"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "loc_id",
            "n_events",
            "n_invalid",
            "avg_temperature",
        )
    )


def correlate_streams(
    readings: DataFrame,
    alerts: DataFrame,
    lookback: str = "10 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: for every alert, the sensor
    readings from the SAME location in the ``lookback`` window ending
    at the alert — the "what led up to this alert" correlation query.

    This is Spark's watermarked stream-stream inner join: both sides
    buffer in the state store, co-partitioned on ``loc_id`` (one
    exchange per side), and the range condition
    ``alert_ts - lookback <= reading_ts <= alert_ts`` plus the two
    watermarks lets the engine compute how long each side's state must
    be retained and evict the rest — bounded state on unbounded
    streams. Batch frames run the identical plan (watermarks are
    no-ops), which is how the parity test pins the semantics.

    Inputs need ``(loc_id, event_ts, ...)`` on the readings side and
    ``(loc_id, alert_ts, alert_type)`` on the alerts side. Returns one
    row per (alert, qualifying reading).
    """
    r = readings
    a = alerts
    if readings.isStreaming:
        r = readings.withWatermark("event_ts", watermark_delay)
    if alerts.isStreaming:
        a = alerts.withWatermark("alert_ts", watermark_delay)
    r = r.select(
        F.col("loc_id").alias("r_loc_id"),
        F.col("event_ts"),
        F.col("event_id").alias("reading_event_id"),
        F.col("sensor_temperature"),
    )
    return a.join(
        r,
        (F.col("loc_id") == F.col("r_loc_id"))
        & (F.col("event_ts") <= F.col("alert_ts"))
        & (F.col("event_ts") >= F.col("alert_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select(
        "loc_id",
        "alert_ts",
        "alert_type",
        "reading_event_id",
        "event_ts",
        "sensor_temperature",
    )


def windowed_distinct_hll(
    stream: DataFrame,
    id_col: str = "loc_id",
    ts_col: str = "event_ts",
    window: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Approximate distinct ``id_col`` per event-time window via the
    house HLL sketch — the streaming "unique visitors per window"
    query at a state cost of ``m`` registers per window instead of one
    state row per distinct id (exact streaming distinct is the classic
    unbounded-state trap; a sketch is the only honest answer at 10⁹
    ids/window).

    Single-aggregation formulation: the batch sketch
    (``sketches.hll_distinct``) chains two groupBys (per-bucket max,
    then the register fold), which streaming would treat as two
    stateful operators. Here the m=64 registers are m CONDITIONAL MAX
    aggregates in ONE ``groupBy(window)`` — mergeable across batches
    by construction (max is algebraic), complete/update/append all
    legal, and per-window state is exactly one 64-int row. The
    estimate tail (integer harmonic core + linear-counting branch) is
    shared with the batch sketch via ``sketches.with_hll_estimate``,
    so a batch replay of the same rows reproduces the streaming
    numbers bit-for-bit (the parity test pins this).

    Works identically on batch frames (watermark no-op). Returns
    ``(window_start, window_end, n_buckets_hit, sum_scaled,
    hll_raw_estimate, hll_estimate)``.
    """
    from ..functions import texthash as TH
    from ..operators import sketches as SK

    src = stream
    if stream.isStreaming:
        src = stream.withWatermark(ts_col, watermark_delay)
    h = TH.token_hash(F.col(id_col).cast("string"))
    bucketed = src.select(
        F.col(ts_col).alias("_ts"),
        F.shiftright(h, SK.HLL_W).alias("bucket"),
        SK._rho_ladder(
            h.bitwiseAND(F.lit((1 << SK.HLL_W) - 1))
        ).alias("rho"),
    )
    regs = bucketed.groupBy(F.window("_ts", window).alias("w")).agg(
        *[
            F.max(F.when(F.col("bucket") == j, F.col("rho"))).alias(f"r{j}")
            for j in range(SK.HLL_M)
        ]
    )
    arr = regs.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.array(*[F.col(f"r{j}") for j in range(SK.HLL_M)]).alias("regs"),
    )
    partials = arr.select(
        "window_start",
        "window_end",
        F.expr(
            "aggregate(regs, CAST(0 AS BIGINT), (a, r) -> a + "
            "CASE WHEN r IS NOT NULL THEN CAST(1 AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
        ).alias("n_buckets_hit"),
        F.expr(
            f"aggregate(regs, CAST(0 AS BIGINT), (a, r) -> a + "
            f"CASE WHEN r IS NOT NULL THEN "
            f"shiftleft(CAST(1 AS BIGINT), {SK.HLL_SCALE} - r) "
            f"ELSE CAST(0 AS BIGINT) END)"
        ).alias("sum_hit"),
    )
    return SK.with_hll_estimate(partials).select(
        "window_start",
        "window_end",
        "n_buckets_hit",
        "sum_scaled",
        "hll_raw_estimate",
        "hll_estimate",
    )


def windowed_hist_quantiles(
    stream: DataFrame,
    value_col: str,
    ts_col: str = "event_ts",
    window: str = "5 minutes",
    bin_width: float = 8.0,
    n_bins: int = 32,
    quantiles: tuple = (50, 90, 99),
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming percentiles per event-time window via the fixed-bin
    histogram CDF — ``sketches.hist_quantile_audit``'s estimator
    recast as ONE stateful aggregation (the ``windowed_distinct_hll``
    move): the ``n_bins`` bins are conditional-count aggregates inside
    one ``groupBy(window)``, counts are algebraic so micro-batches
    merge by addition, and per-window state is exactly one
    ``n_bins``-int row. Exact streaming percentiles are the classic
    unbounded-state trap (state = every value in the window); the
    histogram is the honest answer at any volume, with error bounded
    by ``bin_width``.

    Bin index clamps into ``[0, n_bins-1]`` so outliers land in the
    edge bins instead of growing state; a clamped top bin means the
    true p99 exceeds the histogram range — size ``bin_width *
    n_bins`` to the domain. Each requested percentile reports the
    upper edge of the first bin whose cumulative count reaches
    ``k = ceil(q*n/100)`` (NULL for an empty window).

    Works identically on batch frames (the watermark is a no-op), so
    a batch replay of the same rows reproduces the streaming output
    bit-for-bit — the parity test pins it.

    Returns ``(window_start, window_end, n, p{q}_upper ...)``.
    """
    src = stream
    if stream.isStreaming:
        src = stream.withWatermark(ts_col, watermark_delay)
    w = float(bin_width)
    b = F.least(
        F.greatest(
            F.floor(F.col(value_col) / F.lit(w)).cast("long"), F.lit(0).cast("long")
        ),
        F.lit(int(n_bins) - 1).cast("long"),
    )
    binned = src.select(F.col(ts_col).alias("_ts"), b.alias("_b"))
    counts = binned.groupBy(F.window("_ts", window).alias("win")).agg(
        *[
            F.sum(F.when(F.col("_b") == j, 1).otherwise(0))
            .cast("long")
            .alias(f"c{j}")
            for j in range(int(n_bins))
        ]
    )
    arr = counts.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        F.array(*[F.col(f"c{j}") for j in range(int(n_bins))]).alias("bins"),
    ).withColumn(
        "n",
        F.expr("aggregate(bins, CAST(0 AS BIGINT), (a, c) -> a + c)"),
    )
    # Prefix sums without ANSI out-of-bounds risk: cum[i] = sum of the
    # first i bins (O(n_bins^2) scalar ops per window row — trivial).
    arr = arr.withColumn(
        "cums",
        F.expr(
            "transform(sequence(1, size(bins)), i -> "
            "aggregate(slice(bins, 1, i), CAST(0 AS BIGINT), (a, c) -> a + c))"
        ),
    )
    out = arr
    for q in quantiles:
        out = out.withColumn(
            f"p{q}_upper",
            F.when(
                F.col("n") > 0,
                F.expr(
                    f"array_position(transform(cums, c -> "
                    f"c >= (({q} * n + 99) div 100)), true)"
                ).cast("double")
                * F.lit(w),
            ),
        )
    return out.select(
        "window_start",
        "window_end",
        "n",
        *[f"p{q}_upper" for q in quantiles],
    )
