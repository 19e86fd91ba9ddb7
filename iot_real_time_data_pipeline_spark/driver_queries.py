"""The driver-facing query registry: one entry per operator family from
SURVEY.md §2, each with a DuckDB oracle twin (``oracle_iot``).

Every Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
the matching oracle SQL runs on the same parquet tables in DuckDB.
Column names are aliased identically on both sides (the driver sorts
columns by name before hashing values).

Coverage map (SURVEY §2 row -> query):
- V1-V9 + P6/P7/F6/F8 -> ``validation_status_counts``
- P3/P4 + S5 routing  -> ``route_counts``, ``staging``
- A2/J5/J6/W1/A5/F4   -> ``dim_location/dim_time/dim_soil/dim_weather``
- J1-J4               -> ``fact``
- A1/T4               -> ``watermark_max``; P1 -> ``incremental_filter_count``
- A4                  -> ``batch_summary``
- R1-R5/J7/F7         -> ``alerts_by_type``; F13 -> ``alert_actions``
- D1-D10/W2/F5        -> ``d1_*`` .. ``d9_*``
- S3 (weather enrich) -> ``weather_enriched`` (lookup join + fallback)
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracle_iot as O
from .entrypoints import iot_processed, iot_staging, iot_star
from .operators import dashboard as D
from .operators.pipeline import (
    LAKE_PARTITION_BY,
    exploded_alerts,
    lake_partitions,
    route,
    staging_projection,
)
from .functions.alerts import recommended_action
from .functions import texthash as TH
from .streaming.throttle import ALERT_INTERVAL_SECONDS as _ALERT_INTERVAL

# P1 literal watermark — splits the events table's Jan-2024 range.
INCREMENTAL_WATERMARK = "2024-01-15 00:00:00"

QueryFn = Callable[[SparkSession, str], DataFrame]


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def q_validation_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        iot_processed(spark, sf_dir)
        .groupBy("validation_status")
        .agg(F.count("*").alias("n_events"))
    )


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lake = route(iot_processed(spark, sf_dir))["lake"]
    return lake.groupBy("route_prefix").agg(F.count("*").alias("n_events"))


def q_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    return iot_staging(spark, sf_dir)


# staging_from_lake slicer literals — a loc+date window that provably
# bites (drops loc_3/unknown and both Jan-2024 tails) so the pruned scan
# exercises all three partition keys.
LAKE_SLICE_DATE_FROM = "2024-01-05"
LAKE_SLICE_DATE_TO = "2024-01-20"
LAKE_SLICE_LOCS = ["loc_1", "loc_2"]


def _lake_dir(sf_dir: str) -> str:
    """Cache-dir path for the materialized lake, keyed on a CONTENT
    fingerprint (path + mtime + size of every source parquet file), not
    just the sf_dir path — regenerated source data under the same path
    gets a fresh cache dir instead of silently serving stale rows. The
    partition layout (``LAKE_PARTITION_BY``) is part of the key, so a
    lake written under another layout is never read back."""
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    paths = []
    if os.path.isdir(src):
        for dp, _dn, fns in os.walk(src):
            paths += [
                os.path.join(dp, f)
                for f in fns
                if not f.startswith((".", "_"))
            ]
    elif os.path.exists(src):
        paths = [src]
    h = hashlib.sha256("/".join(LAKE_PARTITION_BY).encode())
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}|{st.st_mtime_ns}|{st.st_size}\n".encode())
    tag = sf_dir.rstrip("/").replace("/", "_")
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_lake{tag}_{h.hexdigest()[:12]}",
    )


def q_staging_from_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 round-trip — the lake -> staging path through an ACTUAL
    partitioned Parquet lake, not the in-memory frame: write the routed
    lake once per (sf, tmpdir) partitioned by ``LAKE_PARTITION_BY``
    (SURVEY §4's prunable layout — the reference's S3
    lake, lamda.py:365-367, comments the date path out and can never
    prune), then read it back under a status+loc+date slice and emit
    the staging contract.

    The three predicates are all PARTITION filters: Spark resolves them
    against directory metadata, so the scan touches only the matching
    leaf dirs — at 100 TB this is the difference between reading two
    locations' two weeks and reading the lake.
    ``test_staging_from_lake_scan_is_partition_pruned`` pins that plan.
    """
    lake_dir = _lake_dir(sf_dir)
    if not os.path.exists(os.path.join(lake_dir, "_SUCCESS")):
        lake = route(iot_processed(spark, sf_dir))["lake"]
        typed = lake.select(
            *staging_projection(),
            *[c.alias(name) for name, c in lake_partitions().items()],
        )
        # Build in a unique scratch dir, publish with one atomic rename:
        # two concurrent sessions can both pass the _SUCCESS guard, but
        # the loser's rename fails against the existing dir and it
        # adopts the winner's (same-fingerprint ⇒ same rows) copy.
        import shutil
        import tempfile

        scratch = tempfile.mkdtemp(prefix="spark_graft_lake_build_")
        build_dir = os.path.join(scratch, "lake")
        (
            typed.write.mode("overwrite")
            .partitionBy(*LAKE_PARTITION_BY)
            .parquet(build_dir)
        )
        try:
            os.rename(build_dir, lake_dir)
        except OSError:
            pass  # lost the publish race — the existing dir is equivalent
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    # Explicit schema: an EMPTY source (a date range with no events)
    # produces a lake with no partition directories at all, and a bare
    # read would fail UNABLE_TO_INFER_SCHEMA instead of returning the
    # empty staging frame the caller expects.
    from pyspark.sql.types import DateType, StringType, StructField, StructType

    from .schemas import STAGING_COLUMNS

    lake_schema = StructType(
        [StructField(n, t) for n, t in STAGING_COLUMNS]
        + [StructField("loc_id_part", StringType()), StructField("date", DateType())]
    )
    scan = spark.read.schema(lake_schema).parquet(lake_dir)
    pruned = scan.filter(
        F.col("validation_status").isin("VALID", "WARNING")
        & F.col("loc_id_part").isin(*LAKE_SLICE_LOCS)
        & (F.col("date") >= F.lit(LAKE_SLICE_DATE_FROM).cast("date"))
        & (F.col("date") < F.lit(LAKE_SLICE_DATE_TO).cast("date"))
    )
    return pruned.select(*[name for name, _ in STAGING_COLUMNS])


def _star_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return iot_star(spark, sf_dir)[name]


def q_dim_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_table(spark, sf_dir, "dim_location")


def q_dim_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_table(spark, sf_dir, "dim_time")


def q_dim_soil(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_table(spark, sf_dir, "dim_soil")


def q_dim_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _star_table(spark, sf_dir, "dim_weather")


def q_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fact_id is assignment-order-dependent (IDENTITY semantics:
    # uniqueness only) — excluded from the oracle-hashed projection.
    return _star_table(spark, sf_dir, "fact_sensor_readings").drop("fact_id")


def q_watermark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return iot_staging(spark, sf_dir).agg(F.max("timestamp").alias("watermark"))


def q_incremental_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    filtered = iot_staging(spark, sf_dir).filter(
        F.col("timestamp") > F.lit(INCREMENTAL_WATERMARK).cast("timestamp")
    )
    return filtered.agg(F.count("*").alias("n_rows"))


def q_batch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-batch counters (lamda.py:418-420, 531-542).

    processed = rows handled without exception; errors = dead-lettered
    rows (decode/processing), NOT INVALID rows; alerts = total alerts
    generated (sum of per-record alert-list sizes).
    """
    proc = iot_processed(spark, sf_dir)
    is_err = F.col("json_decode_error") | F.col("dead_letter")
    return proc.agg(
        F.count(F.when(~is_err, 1)).alias("processed_count"),
        F.count(F.when(is_err, 1)).alias("error_count"),
        F.coalesce(
            F.sum(F.when(~is_err, F.size("alerts"))), F.lit(0).cast("long")
        ).alias("alert_count"),
    )


def q_alerts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        exploded_alerts(iot_processed(spark, sf_dir))
        .groupBy("alert_type", "priority")
        .agg(F.count("*").alias("n_alerts"))
    )


def q_throttled_alert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — alert sends per (alert_type, priority) through the throttle
    the streaming loader runs (``throttle_sends``): ≤1 non-critical send
    per (loc_id, type) per 5 minutes after the last send, CRITICAL
    bypass."""
    from .streaming.throttle import throttle_sends

    sent = throttle_sends(exploded_alerts(iot_processed(spark, sf_dir)))
    return sent.groupBy("alert_type", "priority").agg(
        F.count("*").alias("n_sent")
    )


def q_throttled_alerts_stateful_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T2 — the same greedy throttle (CRITICAL bypass refreshing the last
    send; non-critical suppressed within 5 minutes of the last send; not
    window-aligned), per-key counters out (``throttle_stateful_replay``,
    built on the fold ``throttle_sends`` runs)."""
    from .streaming.throttle import throttle_stateful_replay

    return throttle_stateful_replay(
        exploded_alerts(iot_processed(spark, sf_dir))
    )


def q_alert_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — alert type -> recommended action lookup."""
    return (
        exploded_alerts(iot_processed(spark, sf_dir))
        .select("alert_type")
        .distinct()
        .withColumn("action", recommended_action(F.col("alert_type")))
    )


# S3 weather-enrichment demo lookup: a cached "API snapshot" covering
# loc_1/loc_2 only, so loc_3 exercises the fallback path.
ENRICH_LOOKUP_TEMPS = {"loc_1": 21.5, "loc_2": 24.25}


def q_weather_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — lookup-join weather enrichment with fallback (broadcast)."""
    from .entrypoints import iot_raw_events
    from .sources.weather import FALLBACK_WEATHER, enrich_weather
    from .schemas import WEATHER_FIELDS

    raw = iot_raw_events(spark, sf_dir)
    stripped = raw.filter(
        F.col("weather_data").isNull()
        & F.col("loc_id").isin("loc_1", "loc_2", "loc_3")
    ).drop("weather_data")
    rows = [
        tuple([loc] + [t if f == "temperature_2m" else float(i)
                       for i, f in enumerate(WEATHER_FIELDS)])
        for loc, t in ENRICH_LOOKUP_TEMPS.items()
    ]
    # Inline literals, not createDataFrame: the parallelized Python RDD
    # behind a 2-row lookup spawns a python-worker wave on first scan
    # (see functions/planutil.inline_rows).
    from .functions.planutil import inline_rows

    lookup = inline_rows(
        spark, rows,
        [("loc_id", "string")] + [(f, "double") for f in WEATHER_FIELDS],
    )
    enriched = enrich_weather(stripped, lookup)
    return enriched.groupBy("loc_id").agg(
        F.count("*").alias("n_events"),
        F.avg(F.col("weather_data.temperature_2m")).alias("avg_weather_temp"),
    )


def _dash(spark: SparkSession, sf_dir: str):
    return iot_star(spark, sf_dir)


def _round6(df: DataFrame, *cols: str) -> DataFrame:
    """Floating-point sums/avgs are accumulation-order-dependent, and
    Spark's partition-wise order differs from DuckDB's. Both sides of
    the oracle compare snap to the integer 1e-6 grid
    (``texthash.quantized6`` — NOT ``round(x, 6)``, whose half-grid
    ties the engines resolve differently) — far above the ~1e-11
    relative error of reordering at these magnitudes, far below real
    differences. Counts / count-ratios are exact and stay unrounded."""
    return df.withColumns({c: TH.quantized6(F.col(c)) for c in cols})


def q_d1(spark, sf_dir):
    df = D.avg_temperature(_dash(spark, sf_dir)["fact_sensor_readings"])
    return _round6(df, "avg_temperature")


def q_d2(spark, sf_dir):
    df = D.avg_humidity(_dash(spark, sf_dir)["fact_sensor_readings"])
    return _round6(df, "avg_humidity")


def q_d3(spark, sf_dir):
    star = _dash(spark, sf_dir)
    df = D.avg_wind_speed(star["fact_sensor_readings"], star["dim_weather"])
    return _round6(df, "avg_wind_speed")


def q_d4(spark, sf_dir):
    return D.health_donut(_dash(spark, sf_dir)["fact_sensor_readings"])


def q_d5(spark, sf_dir):
    star = _dash(spark, sf_dir)
    df = D.temp_humidity_by_hour(star["fact_sensor_readings"], star["dim_time"])
    return _round6(df, "sum_temperature", "sum_humidity")


def q_d6(spark, sf_dir):
    star = _dash(spark, sf_dir)
    return D.wind_direction_counts(star["fact_sensor_readings"], star["dim_weather"])


def q_d7(spark, sf_dir):
    star = _dash(spark, sf_dir)
    df = D.nutrient_levels(star["fact_sensor_readings"], star["dim_soil"])
    return _round6(df, "total")


def q_d8(spark, sf_dir):
    star = _dash(spark, sf_dir)
    return D.readings_by_location(star["fact_sensor_readings"], star["dim_location"])


def q_d9(spark, sf_dir):
    star = _dash(spark, sf_dir)
    df = D.water_level_by_farm(star["fact_sensor_readings"], star["dim_location"])
    return _round6(df, "total_water_level", "avg_water_level")


# D-slicers — fixed literals that split the events table's Jan-2024
# range and drop one of the three farms, so both slicers provably bite.
SLICER_DATE_FROM = "2024-01-05"
SLICER_DATE_TO = "2024-01-20"
SLICER_FARMS = ["Toshka", "Dina Farms"]


def q_d10_sliced(spark, sf_dir):
    """D-slicers — a visual (D9 water level) under the dashboard's two
    global slicers (date range + farm, Dashboard.jpg right edge)."""
    star = _dash(spark, sf_dir)
    sliced = D.with_slicers(
        star["fact_sensor_readings"],
        star["dim_location"],
        date_from=SLICER_DATE_FROM,
        date_to=SLICER_DATE_TO,
        farms=SLICER_FARMS,
    )
    df = D.water_level_by_farm(sliced, star["dim_location"])
    return _round6(df, "total_water_level", "avg_water_level")


def iot_queries() -> dict[str, QueryFn]:
    return {
        "validation_status_counts": q_validation_status_counts,
        "route_counts": q_route_counts,
        "staging": q_staging,
        "staging_from_lake": q_staging_from_lake,
        "dim_location": q_dim_location,
        "dim_time": q_dim_time,
        "dim_soil": q_dim_soil,
        "dim_weather": q_dim_weather,
        "fact": q_fact,
        "watermark_max": q_watermark_max,
        "incremental_filter_count": q_incremental_filter_count,
        "batch_summary": q_batch_summary,
        "alerts_by_type": q_alerts_by_type,
        "alert_actions": q_alert_actions,
        "throttled_alert_counts": q_throttled_alert_counts,
        "throttled_alerts_stateful_replay": q_throttled_alerts_stateful_replay,
        "weather_enriched": q_weather_enriched,
        "d1_avg_temperature": q_d1,
        "d2_avg_humidity": q_d2,
        "d3_avg_wind_speed": q_d3,
        "d4_health_donut": q_d4,
        "d5_temp_humidity_by_hour": q_d5,
        "d6_wind_direction": q_d6,
        "d7_nutrient_levels": q_d7,
        "d8_readings_by_location": q_d8,
        "d9_water_level_by_farm": q_d9,
        "d10_sliced": q_d10_sliced,
    }


# ---------------------------------------------------------------------------
# Oracle side (DuckDB SQL)
# ---------------------------------------------------------------------------


# Greedy alert throttle replayed as a recursive CTE, appended to the
# alerts oracle prefix: each iteration advances every key by one alert
# (rn -> rn+1), carrying last_sent — the sequential fold window
# functions cannot express. `ordered` is MATERIALIZED so the alerts
# pipeline runs once, not once per iteration. Epoch math in DOUBLE
# matches Spark's CAST(ts AS DOUBLE) bit-for-bit. The interval is
# interpolated from the same constant the Spark side reads
# (streaming.throttle.ALERT_INTERVAL_SECONDS), so the two sides cannot
# silently desynchronize.
_GREEDY_REPLAY_CTE = f""", ordered AS MATERIALIZED (
                 SELECT loc_id, alert_type, timestamp AS ts, priority,
                        row_number() OVER (PARTITION BY loc_id, alert_type
                          ORDER BY timestamp, event_id, priority) AS rn
                 FROM alerts
               ),
               replay AS (
                 SELECT loc_id, alert_type, rn, ts, priority,
                        TRUE AS sent, epoch(ts) AS last_sent
                 FROM ordered WHERE rn = 1
                 UNION ALL
                 SELECT o.loc_id, o.alert_type, o.rn, o.ts, o.priority,
                        (o.priority = 'CRITICAL'
                         OR epoch(o.ts) - r.last_sent
                            >= {float(_ALERT_INTERVAL)!r}) AS sent,
                        CASE WHEN o.priority = 'CRITICAL'
                                  OR epoch(o.ts) - r.last_sent
                                     >= {float(_ALERT_INTERVAL)!r}
                             THEN epoch(o.ts) ELSE r.last_sent END AS last_sent
                 FROM ordered o JOIN replay r
                   ON o.loc_id = r.loc_id AND o.alert_type = r.alert_type
                  AND o.rn = r.rn + 1
               )"""


def _action_case() -> str:
    from .functions.alerts import DEFAULT_ACTION, RECOMMENDED_ACTIONS

    whens = " ".join(
        f"WHEN '{t}' THEN '{a}'" for t, a in RECOMMENDED_ACTIONS.items()
    )
    return f"(CASE alert_type {whens} ELSE '{DEFAULT_ACTION}' END)"


def iot_oracle_sql() -> dict[str, str]:
    wp = O.with_prefix
    return {
        "validation_status_counts": wp(
            "SELECT validation_status, COUNT(*) AS n_events FROM validated GROUP BY 1"
        ),
        "route_counts": wp(
            """SELECT CASE validation_status
                 WHEN 'VALID' THEN 'valid/'
                 WHEN 'WARNING' THEN 'valid/warnings/'
                 ELSE 'invalid/' END AS route_prefix,
               COUNT(*) AS n_events
            FROM validated GROUP BY 1"""
        ),
        "staging": wp("SELECT * FROM staging"),
        # Same rows the pruned lake scan must yield: the lake holds all
        # three statuses, but staging is VALID/WARNING only, so the
        # status prune is implicit in the staging CTE; loc/date slices
        # are explicit. NULL timestamps fall out of the date range on
        # both sides (Spark: 1970-01-01 partition; SQL: NULL compare).
        "staging_from_lake": wp(
            f"""SELECT * FROM staging
            WHERE loc_id IN ({", ".join(repr(x) for x in LAKE_SLICE_LOCS)})
              AND CAST(timestamp AS DATE) >= DATE '{LAKE_SLICE_DATE_FROM}'
              AND CAST(timestamp AS DATE) < DATE '{LAKE_SLICE_DATE_TO}'"""
        ),
        "dim_location": wp("SELECT * FROM dim_location", star=True),
        "dim_time": wp("SELECT * FROM dim_time", star=True),
        "dim_soil": wp("SELECT * FROM dim_soil", star=True),
        "dim_weather": wp("SELECT * FROM dim_weather", star=True),
        "fact": wp("SELECT * FROM fact", star=True),
        "watermark_max": wp("SELECT max(timestamp) AS watermark FROM staging"),
        "incremental_filter_count": wp(
            f"SELECT COUNT(*) AS n_rows FROM staging "
            f"WHERE timestamp > TIMESTAMP '{INCREMENTAL_WATERMARK}'"
        ),
        "batch_summary": wp(
            """SELECT (SELECT COUNT(*) FROM validated) AS processed_count,
               CAST(0 AS BIGINT) AS error_count,
               (SELECT COUNT(*) FROM alerts) AS alert_count""",
            alerts=True,
        ),
        "alerts_by_type": wp(
            "SELECT alert_type, priority, COUNT(*) AS n_alerts FROM alerts GROUP BY 1, 2",
            alerts=True,
        ),
        "alert_actions": wp(
            f"SELECT DISTINCT alert_type, {_action_case()} AS action FROM alerts",
            alerts=True,
        ),
        "throttled_alert_counts": wp(
            _GREEDY_REPLAY_CTE
            + """
               SELECT alert_type, priority, COUNT(*) AS n_sent
               FROM replay WHERE sent GROUP BY 1, 2""",
            alerts=True,
            recursive=True,
        ),
        "throttled_alerts_stateful_replay": wp(
            _GREEDY_REPLAY_CTE
            + """
               SELECT loc_id, alert_type,
                      CAST(count(*) FILTER (WHERE sent) AS BIGINT) AS n_sent,
                      CAST(count(*) FILTER (WHERE sent AND priority = 'CRITICAL')
                           AS BIGINT) AS n_critical_sent,
                      CAST(count(*) FILTER (WHERE NOT sent) AS BIGINT)
                        AS n_suppressed,
                      max(ts) FILTER (WHERE sent) AS last_sent_at
               FROM replay GROUP BY 1, 2""",
            alerts=True,
            recursive=True,
        ),
        # lookup temps are dyadic rationals, so avg-of-constant is exact.
        "weather_enriched": wp(
            """SELECT loc_id, COUNT(*) AS n_events,
               CAST(CASE loc_id WHEN 'loc_1' THEN 21.5 WHEN 'loc_2' THEN 24.25
                    ELSE 27.5 END AS DOUBLE) AS avg_weather_temp
            FROM readings
            WHERE weather_missing AND loc_id IN ('loc_1','loc_2','loc_3')
            GROUP BY loc_id"""
        ),
        "d1_avg_temperature": wp(
            f"SELECT {TH.sql_quantized6('avg(soil_temperature)')} AS avg_temperature FROM fact",
            star=True,
        ),
        "d2_avg_humidity": wp(
            f"SELECT {TH.sql_quantized6('avg(soil_humidity)')} AS avg_humidity FROM fact",
            star=True,
        ),
        "d3_avg_wind_speed": wp(
            f"""SELECT {TH.sql_quantized6('avg(w.wind_speed)')} AS avg_wind_speed
            FROM fact f JOIN dim_weather w USING (weather_key)""",
            star=True,
        ),
        "d4_health_donut": wp(
            """SELECT validation_status, COUNT(*) AS readings,
               COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
            FROM fact GROUP BY 1""",
            star=True,
        ),
        "d5_temp_humidity_by_hour": wp(
            f"""SELECT t.hour,
               {TH.sql_quantized6('sum(f.soil_temperature)')} AS sum_temperature,
               {TH.sql_quantized6('sum(f.soil_humidity)')} AS sum_humidity
            FROM fact f JOIN dim_time t USING (full_date) GROUP BY 1""",
            star=True,
        ),
        "d6_wind_direction": wp(
            """SELECT CASE
                 WHEN wd IS NULL THEN 'Unknown'
                 WHEN wd >= 337.5 OR wd < 22.5 THEN 'N'
                 WHEN wd < 67.5 THEN 'NE'
                 WHEN wd < 112.5 THEN 'E'
                 WHEN wd < 157.5 THEN 'SE'
                 WHEN wd < 202.5 THEN 'S'
                 WHEN wd < 247.5 THEN 'SW'
                 WHEN wd < 292.5 THEN 'W'
                 ELSE 'NW' END AS direction_category,
               COUNT(*) AS readings
            FROM (SELECT (w.wind_direction % 360.0) AS wd
                  FROM fact f JOIN dim_weather w USING (weather_key))
            GROUP BY 1""",
            star=True,
        ),
        "d7_nutrient_levels": wp(
            # leading comma: continues with_prefix's WITH-clause CTE list
            f""", sums AS (
              SELECT {TH.sql_quantized6('sum(s.nitrogen)')} AS n,
                     {TH.sql_quantized6('sum(s.phosphorus)')} AS p,
                     {TH.sql_quantized6('sum(s.potassium)')} AS k
              FROM fact f JOIN dim_soil s USING (soil_key)
            )
            SELECT 'Nitrogen' AS nutrient, n AS total FROM sums
            UNION ALL SELECT 'Phosphorus', p FROM sums
            UNION ALL SELECT 'Potassium', k FROM sums""",
            star=True,
        ),
        "d8_readings_by_location": wp(
            """SELECT CASE l.loc_id WHEN 'loc_1' THEN 'Toshka'
                 WHEN 'loc_2' THEN 'Sharq El Owainat'
                 WHEN 'loc_3' THEN 'Dina Farms' ELSE l.loc_id END AS farm,
               COUNT(*) AS readings,
               COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
            FROM fact f JOIN dim_location l USING (location_key) GROUP BY 1""",
            star=True,
        ),
        "d9_water_level_by_farm": wp(
            f"""SELECT CASE l.loc_id WHEN 'loc_1' THEN 'Toshka'
                 WHEN 'loc_2' THEN 'Sharq El Owainat'
                 WHEN 'loc_3' THEN 'Dina Farms' ELSE l.loc_id END AS farm,
               {TH.sql_quantized6('sum(f.water_level)')} AS total_water_level,
               {TH.sql_quantized6('avg(f.water_level)')} AS avg_water_level
            FROM fact f JOIN dim_location l USING (location_key) GROUP BY 1""",
            star=True,
        ),
        "d10_sliced": wp(
            f"""SELECT farm,
               {TH.sql_quantized6('sum(water_level)')} AS total_water_level,
               {TH.sql_quantized6('avg(water_level)')} AS avg_water_level
            FROM (
              SELECT CASE l.loc_id WHEN 'loc_1' THEN 'Toshka'
                       WHEN 'loc_2' THEN 'Sharq El Owainat'
                       WHEN 'loc_3' THEN 'Dina Farms' ELSE l.loc_id END AS farm,
                     f.water_level
              FROM fact f JOIN dim_location l USING (location_key)
              WHERE f.full_date >= TIMESTAMP '{SLICER_DATE_FROM}'
                AND f.full_date < TIMESTAMP '{SLICER_DATE_TO}'
            )
            WHERE farm IN ({", ".join(repr(x) for x in SLICER_FARMS)})
            GROUP BY farm""",
            star=True,
        ),
    }
