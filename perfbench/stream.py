"""Streamed ingest: ``run_stream`` fed one generator file per micro-batch,
and the checks of the sinks it writes."""

from __future__ import annotations

import os
import time

import duckdb

from iot_real_time_data_pipeline_spark.streaming import pipeline as stream_pipeline

import inputs

POLL_S = 0.02
BATCH_TIMEOUT_S = 150.0


class Stream:
    """One ``run_stream`` query (``maxFilesPerTrigger=1``, no trigger
    interval) over a source directory the harness fills one file at a
    time. ``deliver`` drops the next file and returns once its
    micro-batch has committed: a closed loop with one client."""

    def __init__(self, ctx, name: str, deliveries: inputs.Deliveries, warehouse: str):
        self.ctx = ctx
        self.warehouse = warehouse
        self.deliveries = deliveries
        self.src = ctx.dir(name, "src")
        self.outbox = ctx.dir(name, "outbox")
        self.progress: list[dict] = []  # one entry per committed micro-batch
        checkpoint = os.path.join(ctx.run_dir, name, "checkpoint")
        self.commits = os.path.join(checkpoint, "commits")
        self.query = stream_pipeline.run_stream(
            ctx.spark, self.src, warehouse, checkpoint,
            max_files_per_trigger=1, available_now=False,
        )

    def deliver(self, k: int) -> dict:
        """Deliver file ``k``; wait until its micro-batch has committed."""
        name = f"f{k:05d}.jsonl"
        lines = self.deliveries.write(k, os.path.join(self.outbox, name))
        files0, job0 = parquet_files(self.warehouse), self.ctx.next_job_id()
        os.rename(os.path.join(self.outbox, name), os.path.join(self.src, name))
        want = len(self.progress)
        # Wait for the batch's commit-log entry (a local file test, which
        # costs the engine nothing), then for its progress report.
        committed = os.path.join(self.commits, str(want))
        deadline = time.monotonic() + BATCH_TIMEOUT_S
        next_check = time.monotonic() + 1.0
        while True:
            if os.path.exists(committed):
                # The commit is logged before the batch's progress report;
                # a trigger that found no data reports progress too, with
                # the same batch id but no addBatch.
                p = next((q for q in reversed(self.query.recentProgress)
                          if q.batchId == want and "addBatch" in q.durationMs), None)
                if p is not None:
                    break
            elif time.monotonic() > next_check:
                if time.monotonic() > deadline or not self.query.isActive:
                    raise RuntimeError(f"micro-batch {want} did not commit: {self.query.exception()}")
                next_check += 1.0
            time.sleep(POLL_S)
        # numInputRows is not used: the loader's isEmpty probe scans a
        # row of its own, which the progress report adds to the count.
        rec = {"batch": p.batchId, "file": k, "rows": lines,
               "jobs": self.ctx.next_job_id() - job0,
               "files": parquet_files(self.warehouse) - files0, **p.durationMs}
        self.progress.append(rec)
        return rec

    def closed_loop(self, first: int, seconds: float) -> tuple[list[dict], float, int]:
        """Deliver files from ``first`` on until ``seconds`` have passed;
        the batch running at that moment completes. Returns the batches,
        the wall time and the next undelivered file."""
        t0 = time.perf_counter()
        batches, k = [], first
        while not batches or time.perf_counter() - t0 < seconds:
            batches.append(self.deliver(k))
            k += 1
        return batches, time.perf_counter() - t0, k

    def stop(self) -> None:
        self.query.stop()


def parquet_files(root: str) -> int:
    """Parquet files under ``root``, at any depth."""
    return sum(f.endswith(".parquet") for _, _, files in os.walk(root) for f in files)


def check_sinks(ctx, warehouse: str, delivered: list[dict]) -> None:
    """Compare the sinks with what the generator's labels say they must
    hold, reading the parquet with DuckDB (not with the engine)."""
    want = inputs.expected_sinks(delivered)
    con = duckdb.connect()
    try:
        def scan(table: str, partitioned: bool = False) -> str:
            glob = f"{warehouse}/{table}/**/*.parquet" if partitioned else f"{warehouse}/{table}/*.parquet"
            return f"read_parquet('{glob}', hive_partitioning={str(partitioned).lower()})"

        def counts(table: str, col: str) -> dict:
            rows = con.execute(f"SELECT {col}, count(*) FROM {scan(table, True)} GROUP BY 1").fetchall()
            return dict(rows)

        lake = counts("lake", "validation_status")
        ctx.check("lake rows per status match the labels", lake == want["lake"],
                  f"{lake} != {want['lake']}")
        dead = counts("dead_letter", "error_type")
        ctx.check("dead letters per class match the labels", dead == want["dead_letter"],
                  f"{dead} != {want['dead_letter']}")

        fact = scan("star/fact_sensor_readings")
        ids = [r[0] for r in con.execute(f"SELECT evt_id FROM {fact}").fetchall()]
        ctx.check("fact is exactly-once over VALID+WARNING ids",
                  len(ids) == len(set(ids)) and set(ids) == want["fact_ids"],
                  f"{len(ids)} rows, {len(set(ids))} ids, {len(want['fact_ids'])} expected")

        dims = {
            "dim_location": ("location_key", "loc_id, latitude, longitude"),
            "dim_time": ("full_date", "full_date"),
            "dim_soil": ("soil_key", "ph, nitrogen, phosphorus, potassium"),
            "dim_weather": ("weather_key", "weather_temperature, weather_humidity, wind_speed,"
                                           " wind_direction, rain, surface_pressure"),
        }
        for dim, (key, natural) in dims.items():
            d = scan(f"star/{dim}")
            n, distinct = con.execute(
                f"SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT {natural} FROM {d})) FROM {d}"
            ).fetchone()
            orphans = con.execute(
                f"SELECT count(*) FROM {fact} f ANTI JOIN {d} USING ({key})"
            ).fetchone()[0]
            ctx.check(f"{dim} natural keys unique and every fact row joins",
                      n == distinct and orphans == 0,
                      f"{n} rows, {distinct} distinct, {orphans} orphan fact rows")

        dup_alerts = con.execute(
            f"SELECT count(*) FROM (SELECT event_id, alert_type FROM {scan('alerts')}"
            " WHERE priority <> 'CRITICAL' GROUP BY ALL HAVING count(*) > 1)"
        ).fetchone()[0]
        ctx.check("throttled alerts are exactly-once", dup_alerts == 0, f"{dup_alerts} duplicates")
    finally:
        con.close()
