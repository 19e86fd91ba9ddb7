"""Dashboard reads: the engine's visuals over the star tables on disk,
each answer checked against DuckDB over the same parquet."""

from __future__ import annotations

import math
import statistics
import time

import duckdb

from iot_real_time_data_pipeline_spark.operators import dashboard as D

# The date + farm slicers of the sliced visual.
SLICE_FROM, SLICE_TO = "2024-03-01 06:20:00", "2024-03-01 07:20:00"
SLICE_FARMS = ["Toshka", "Dina Farms"]

FARM = "CASE loc_id " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in D.FARM_NAMES.items()) + " ELSE loc_id END"
WIND = """CASE WHEN wind_direction IS NULL THEN 'Unknown'
    WHEN wind_direction % 360 >= 337.5 OR wind_direction % 360 < 22.5 THEN 'N'
    WHEN wind_direction % 360 < 67.5 THEN 'NE' WHEN wind_direction % 360 < 112.5 THEN 'E'
    WHEN wind_direction % 360 < 157.5 THEN 'SE' WHEN wind_direction % 360 < 202.5 THEN 'S'
    WHEN wind_direction % 360 < 247.5 THEN 'SW' WHEN wind_direction % 360 < 292.5 THEN 'W'
    ELSE 'NW' END"""
SHARE = "count(*) AS readings, count(*) / sum(count(*)) OVER () AS share"

# (name, tables it reads, engine query, DuckDB twin). The twin reads the
# views ``fact``, ``dim_*`` over the same parquet directories.
VISUALS = [
    ("d1_avg_temperature", ["fact_sensor_readings"],
     lambda t: D.avg_temperature(t["fact_sensor_readings"]),
     "SELECT avg(soil_temperature) FROM fact"),
    ("d2_avg_humidity", ["fact_sensor_readings"],
     lambda t: D.avg_humidity(t["fact_sensor_readings"]),
     "SELECT avg(soil_humidity) FROM fact"),
    ("d3_avg_wind_speed", ["fact_sensor_readings", "dim_weather"],
     lambda t: D.avg_wind_speed(t["fact_sensor_readings"], t["dim_weather"]),
     "SELECT avg(wind_speed) FROM fact JOIN dim_weather USING (weather_key)"),
    ("d4_health_donut", ["fact_sensor_readings"],
     lambda t: D.health_donut(t["fact_sensor_readings"]),
     f"SELECT validation_status, {SHARE} FROM fact GROUP BY 1"),
    ("d5_temp_humidity_by_hour", ["fact_sensor_readings", "dim_time"],
     lambda t: D.temp_humidity_by_hour(t["fact_sensor_readings"], t["dim_time"]),
     "SELECT hour, sum(soil_temperature), sum(soil_humidity)"
     " FROM fact JOIN dim_time USING (full_date) GROUP BY 1"),
    ("d6_wind_direction", ["fact_sensor_readings", "dim_weather"],
     lambda t: D.wind_direction_counts(t["fact_sensor_readings"], t["dim_weather"]),
     f"SELECT {WIND}, count(*) FROM fact JOIN dim_weather USING (weather_key) GROUP BY 1"),
    ("d7_nutrient_levels", ["fact_sensor_readings", "dim_soil"],
     lambda t: D.nutrient_levels(t["fact_sensor_readings"], t["dim_soil"]),
     "UNPIVOT (SELECT sum(nitrogen) AS Nitrogen, sum(phosphorus) AS Phosphorus,"
     " sum(potassium) AS Potassium FROM fact JOIN dim_soil USING (soil_key))"
     " ON Nitrogen, Phosphorus, Potassium INTO NAME nutrient VALUE total"),
    ("d8_readings_by_location", ["fact_sensor_readings", "dim_location"],
     lambda t: D.readings_by_location(t["fact_sensor_readings"], t["dim_location"]),
     f"SELECT {FARM}, {SHARE} FROM fact JOIN dim_location USING (location_key) GROUP BY 1"),
    ("d9_water_level_by_farm", ["fact_sensor_readings", "dim_location"],
     lambda t: D.water_level_by_farm(t["fact_sensor_readings"], t["dim_location"]),
     f"SELECT {FARM}, sum(water_level), avg(water_level)"
     " FROM fact JOIN dim_location USING (location_key) GROUP BY 1"),
    ("d10_sliced_health_donut", ["fact_sensor_readings", "dim_location"],
     lambda t: D.health_donut(D.with_slicers(
         t["fact_sensor_readings"], t["dim_location"], SLICE_FROM, SLICE_TO, SLICE_FARMS)),
     f"SELECT validation_status, {SHARE} FROM fact"
     f" WHERE full_date >= TIMESTAMP '{SLICE_FROM}' AND full_date < TIMESTAMP '{SLICE_TO}'"
     f" AND location_key IN (SELECT location_key FROM dim_location WHERE {FARM} IN"
     f" ({', '.join(repr(f) for f in SLICE_FARMS)})) GROUP BY 1"),
]


def run_visual(ctx, warehouse: str, visual) -> tuple[list[tuple], dict]:
    """Read the tables, build the visual and collect it, as a dashboard
    client would for one tile. Returns the rows and the latency in ms, the
    Spark jobs launched and the parquet files scanned."""
    name, tables, build, _ = visual
    job0 = ctx.next_job_id()
    t0 = time.perf_counter()
    with ctx.span(name, "operators.dashboard", op=True, kind="visual") as op:
        with ctx.span("construct", "operators.dashboard"):
            df = build({t: ctx.spark.read.parquet(f"{warehouse}/star/{t}") for t in tables})
        if op is not None:
            with ctx.span("plan", "spark"):
                df._jdf.queryExecution().executedPlan()
        with ctx.span("execute", "spark"):
            rows = [tuple(r) for r in df.collect()]
    ms = (time.perf_counter() - t0) * 1000.0
    cost = {"ms": ms, "jobs": ctx.next_job_id() - job0, "files": len(df.inputFiles())}
    if op is not None:
        op["files_scanned"] = cost["files"]
    return rows, cost


class Oracle:
    """DuckDB answers of every visual over one warehouse, computed once."""

    def __init__(self, warehouse: str):
        con = duckdb.connect()
        try:
            for t in ("fact_sensor_readings", "dim_location", "dim_time", "dim_soil", "dim_weather"):
                view = "fact" if t == "fact_sensor_readings" else t
                con.execute(f"CREATE VIEW {view} AS"
                            f" SELECT * FROM read_parquet('{warehouse}/star/{t}/*.parquet')")
            con.execute("SET TimeZone = 'UTC'")
            self.answers = {name: con.execute(sql).fetchall() for name, _, _, sql in VISUALS}
        finally:
            con.close()

    def matches(self, name: str, rows: list[tuple]) -> bool:
        want = self.answers[name]
        if len(want) != len(rows):
            return False
        return all(_same_row(a, b) for a, b in zip(sorted(rows, key=_key), sorted(want, key=_key)))


def _key(row: tuple) -> tuple:
    return tuple(str(v) for v in row if not isinstance(v, float))


def _same_row(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            # Sums of doubles depend on accumulation order across engines.
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


def read_loop(ctx, warehouse: str, seconds: float):
    """Cycle through the visuals, one at a time, until ``seconds`` have
    passed; the cycle running then completes, so every visual is sampled
    equally often. Returns the answers, their costs (``run_visual``) and
    the wall time in s."""
    answers, costs = [], []
    t0 = time.perf_counter()
    while not answers or time.perf_counter() - t0 < seconds:
        for visual in VISUALS:
            rows, cost = run_visual(ctx, warehouse, visual)
            answers.append((visual[0], rows))
            costs.append(cost)
        ctx.log(f"cycle of visuals: {sum(c['ms'] for c in costs[-len(VISUALS):]):.0f} ms")
    return answers, costs, time.perf_counter() - t0


def per_visual_p50(answers: list[tuple[str, list[tuple]]], costs: list[dict], key: str) -> float:
    """Each visual's median of ``key``, averaged over the visuals. Visuals
    differ in cost by up to 3x, so one median over all samples would sit
    between cost groups and jump with small shifts; this stratified
    figure moves smoothly."""
    by_visual: dict[str, list[float]] = {}
    for (name, _), c in zip(answers, costs):
        by_visual.setdefault(name, []).append(c[key])
    return statistics.fmean(statistics.median(v) for v in by_visual.values())


def check_answers(ctx, oracle: Oracle, answers: list[tuple[str, list[tuple]]]) -> None:
    for name, rows in answers:
        ctx.check(f"{name} equals DuckDB", oracle.matches(name, rows), f"{rows[:3]}")
