"""Star-schema ETL: the in-memory star (``build_star``), the on-disk
append (``append_star`` + ``read_star``), and their parity."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

from iot_real_time_data_pipeline_spark.operators.star_schema import (
    KEY_COLUMNS,
    STAR_SCHEMAS,
    _key_offsets,
    append_star,
    build_star,
    read_star,
)
from iot_real_time_data_pipeline_spark.schemas import staging_schema


def ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def staging_rows(spark, rows):
    return spark.createDataFrame(rows, staging_schema())


def mk_row(event_id, t, loc="loc_1", lat=23.0, lon=30.0, temp=25.0, hum=60.0,
           wl=1.5, ph=7.0, n=110.0, p=60.0, k=60.0, wt=24.0, wh=50.0,
           ws=10.0, wd=180.0, rain=0.0, sp=1010.0, status="VALID"):
    return (event_id, ts(t), loc, lat, lon, temp, hum, wl, ph, n, p, k,
            wt, wh, ws, wd, rain, sp, status)


@pytest.fixture
def batch1(spark):
    return staging_rows(spark, [
        mk_row("e1", "2024-03-01T06:00:00"),
        mk_row("e2", "2024-03-01T06:01:00", temp=26.0),
        # duplicate measurement tuple of e1 -> same soil/weather dim rows
        mk_row("e3", "2024-03-01T06:02:00"),
        mk_row("e4", "2024-03-01T06:03:00", loc="loc_2", lat=22.4, lon=28.5,
               ph=7.7, status="WARNING"),
    ])


def test_fact_count_equals_staging_count(batch1):
    """SURVEY §7.3 — the double-equality dim joins must drop nothing."""
    out = build_star(batch1, dense_keys=True)
    assert out["fact_sensor_readings"].count() == batch1.count()


def test_dim_distinct_and_keys(batch1):
    out = build_star(batch1, dense_keys=True)
    soil = out["dim_soil"].collect()
    # e1/e2/e3 share (ph,n,p,k); e4 differs -> 2 rows, keys 1..2
    assert sorted(r.soil_key for r in soil) == [1, 2]
    loc = out["dim_location"].collect()
    assert sorted((r.location_key, r.loc_id) for r in loc) == [(1, "loc_1"), (2, "loc_2")]
    time = out["dim_time"].collect()
    assert len(time) == 4
    assert all(r.year == 2024 and r.hour == 6 for r in time)


def test_incremental_second_batch(spark, batch1, tmp_path):
    star_dir = str(tmp_path / "star")
    append_star(batch1, star_dir, read_star(spark, star_dir))
    existing = read_star(spark, star_dir)
    soil_keys = {r.soil_key for r in existing["dim_soil"].collect()}
    evt_ids = {r.evt_id for r in existing["fact_sensor_readings"].collect()}

    batch2 = staging_rows(spark, [
        # new row, existing location + existing soil tuple
        mk_row("e5", "2024-03-01T06:10:00"),
        # new row, brand-new soil tuple
        mk_row("e6", "2024-03-01T06:11:00", ph=6.5, n=120.0),
    ])
    append_star(batch2, star_dir, existing)
    out = read_star(spark, star_dir)

    assert out["dim_location"].count() == 2  # both locs already present
    soil = out["dim_soil"].collect()
    new_soil = [r for r in soil if r.soil_key not in soil_keys]
    assert len(new_soil) == 1  # only e6's tuple is new
    assert (new_soil[0].ph, new_soil[0].nitrogen) == (6.5, 120.0)
    # sparse keys: above the stored max, and unique
    assert new_soil[0].soil_key > max(soil_keys)
    assert len({r.soil_key for r in soil}) == len(soil)
    fact = out["fact_sensor_readings"].collect()
    assert sorted(r.evt_id for r in fact if r.evt_id not in evt_ids) == ["e5", "e6"]


def test_empty_batch_short_circuit(spark, batch1):
    """P5 — an empty staging batch yields empty outputs everywhere."""
    empty = staging_rows(spark, []).filter(F.lit(False))
    out = build_star(empty)
    assert out["fact_sensor_readings"].isEmpty()
    assert out["dim_soil"].isEmpty()


def test_sparse_keys_are_unique(spark, batch1):
    out = build_star(batch1)
    keys = [r.soil_key for r in out["dim_soil"].collect()]
    assert len(keys) == len(set(keys))
    fact_ids = [r.fact_id for r in out["fact_sensor_readings"].collect()]
    assert len(fact_ids) == len(set(fact_ids))


def test_fact_id_offsets_across_loads(spark, batch1, tmp_path):
    """fact_id is an IDENTITY PK (Creating Tables.sql:37): uniqueness must
    hold across incremental cycles, not just within one batch."""
    star_dir = str(tmp_path / "star")
    append_star(batch1, star_dir, read_star(spark, star_dir))
    existing = read_star(spark, star_dir)
    ids1 = {r.fact_id for r in existing["fact_sensor_readings"].collect()}
    batch2 = staging_rows(spark, [mk_row("e9", "2024-03-01T07:00:00")])
    append_star(batch2, star_dir, existing)
    fact = read_star(spark, star_dir)["fact_sensor_readings"].collect()
    ids2 = {r.fact_id for r in fact if r.evt_id == "e9"}
    assert len(ids2) == 1 and ids1.isdisjoint(ids2)


def test_key_offsets_on_empty_tables(spark, batch1, tmp_path):
    """Onto a star whose tables exist but hold no rows, every key offset
    is 0 and the appended keys are unique; no tables at all gives the
    same offsets without a job. After the append, each offset is its
    table's stored max key."""
    sc = spark.sparkContext
    next_job = sc._jsc.sc().dagScheduler().nextJobId
    zeros = dict.fromkeys(KEY_COLUMNS, 0)
    job0 = next_job()
    assert _key_offsets({}) == zeros
    assert next_job() == job0

    star_dir = str(tmp_path / "star")
    for name, schema in STAR_SCHEMAS.items():
        spark.createDataFrame([], schema()).write.parquet(f"{star_dir}/{name}")
    existing = read_star(spark, star_dir)
    assert set(existing) == set(STAR_SCHEMAS)
    assert _key_offsets(existing) == zeros

    append_star(batch1, star_dir, existing)
    out = read_star(spark, star_dir)
    assert out["fact_sensor_readings"].count() == batch1.count()
    maxima = {}
    for name, key in KEY_COLUMNS.items():
        keys = [r[key] for r in out[name].collect()]
        assert keys and min(keys) >= 1 and len(keys) == len(set(keys)), name
        maxima[name] = max(keys)
    assert _key_offsets(out) == maxima


def test_carried_offsets_equal_storage(spark, batch1, tmp_path):
    """The offsets ``append_star`` returns, carried into the next call,
    equal the stored key maxima after every call: a batch that appends
    no row to dim_location keeps its offset, and a batch of rows without
    a timestamp appends no row anywhere and keeps them all."""
    star_dir = str(tmp_path / "star")
    batch2 = staging_rows(spark, [
        # existing location and soil tuple, new weather tuple
        mk_row("e5", "2024-03-01T06:10:00", wt=25.0),
        mk_row("e6", "2024-03-01T06:11:00", ph=6.5, n=120.0),
    ])
    untimed = mk_row("e7", "2024-03-01T06:12:00", ph=6.0)
    batch3 = staging_rows(spark, [(untimed[0], None, *untimed[2:])])
    offsets = None
    for batch in (batch1, batch2, batch3):
        offsets = append_star(batch, star_dir, read_star(spark, star_dir), offsets)
        star = read_star(spark, star_dir)
        assert offsets == _key_offsets(star)
    # batch2 and batch3 appended no location, batch3 no row at all
    assert star["dim_location"].count() == 2
    assert star["fact_sensor_readings"].count() == 6


# dim table -> the fact column that references it
FACT_KEYS = {
    "dim_location": "location_key",
    "dim_time": "full_date",
    "dim_soil": "soil_key",
    "dim_weather": "weather_key",
}
SURROGATES = {"location_key", "soil_key", "weather_key", "fact_id"}


def _business(row: dict) -> tuple:
    return tuple(sorted((k, v) for k, v in row.items() if k not in SURROGATES))


def _business_rows(star):
    """Dim business tuples and fact rows, each fact foreign key replaced
    by the business tuple of the one dim row it resolves to."""
    dims = {}
    for name, key in FACT_KEYS.items():
        rows = [r.asDict() for r in star[name].collect()]
        dims[name] = {r[key]: _business(r) for r in rows}
        assert len(dims[name]) == len(rows), f"{name}: duplicate {key}"
    fact = []
    for row in (r.asDict() for r in star["fact_sensor_readings"].collect()):
        for name, key in FACT_KEYS.items():
            assert row[key] in dims[name], f"fact {key} {row[key]} unresolved"
            row[name] = dims[name][row[key]]
        fact.append(_business(row))
    return {name: sorted(d.values()) for name, d in dims.items()}, sorted(fact)


def test_build_star_matches_append_star(spark, batch1, tmp_path):
    """One meaning, two write modes: the in-memory star and the one
    appended to disk hold the same dim tuples and fact rows."""
    star_dir = str(tmp_path / "star")
    append_star(batch1, star_dir, read_star(spark, star_dir))
    on_disk = _business_rows(read_star(spark, star_dir))
    in_memory = _business_rows(build_star(batch1))
    assert on_disk == in_memory
    assert len(on_disk[1]) == batch1.count()
