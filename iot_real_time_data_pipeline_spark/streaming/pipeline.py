"""End-to-end Structured Streaming wrap (SURVEY §3.2 as one query).

``run_stream`` composes: file/Kafka-shaped source -> parse -> per
micro-batch, the flag frame (``operators.pipeline.process_events``,
cached) and the processed frame above it (``assemble_events`` — the
SAME two steps as the batch queries, one code path, which the
reference lacks) ->

- event_id dedup within the batch + against already-loaded facts (T5:
  at-least-once delivery + idempotent load, README.md:52);
- routed lake write, Parquet partitioned by
  ``operators.pipeline.LAKE_PARTITION_BY`` (status, location, event
  date — S5: the reference's valid/ / valid/warnings/ / invalid/
  prefixes become partition values -> static partition pruning for
  readers; the date key is SURVEY §4's fix for the reference's
  unprunable layout), with ``alerts_sent`` written back onto lake rows
  from the throttle output (lamda.py:465-471);
- dead-letter parquet sink (S6), partitioned by error class, carrying
  the error message + source sequence (lamda.py:488-530);
- throttled alert sink (S7) — appended to an alerts table, which is
  also the throttle's state: each batch's alerts fold on from every
  key's latest stored send (``throttle_sends``), so the throttle is
  exact across micro-batches that arrive in event-time order;
- incremental star-schema load (S10) appending the new dim rows, then
  the fact joined against the dims as written (``append_star``).

Sink order: lake, alerts, dead letters, then the star (four dims, then
the fact). A write re-caches every cached frame that reads its path
(Spark's ``recacheByPath``): the next use of such a frame re-runs its
plan over the grown directory. So each cached frame is consumed before
a write to a path it reads. The cached sends read the alerts sink as
the throttle's history: the lake's ``alerts_sent`` join consumes them
before the alerts append, since a fold re-run after it would see this
batch's own sends and suppress them. The cached lake frame reads the
fact for its anti-join, and the fact is written last.

Checkpointing gives exactly-once micro-batch replay; the evt_id
anti-join against the stored fact keeps a replayed batch out of the
lake and the star.

History is read once per batch, each star table with its declared
schema, so the reads launch no footer-inference job. The star's
surrogate key offsets are read from it once per query run, then
carried from each batch's appends (``append_star``); a batch that
raises drops them, and the next batch reads them again. So one
warehouse takes one loader at a time: a loader's carried offsets go
stale once another loader appends to the star, and its next batch would
reuse surrogate keys. A new loader (a new query run) reads them afresh.

Scale notes: every per-batch step is a narrow map or a key-bounded
join. AQE coalesces the loader's cached frames like any other plan
(``session.ENGINE_CONF``), so while a micro-batch fits one coalesced
partition each lake, alerts and star directory gets one file per
batch; dead letters, a narrow map of the input, keep its
partitioning. When the cached lake frame holds one partition, the star
append reads it through ``coalesce(1)``, which marks it as one
partition; that already satisfies each dim's ``distinct``, so the dim
appends plan no shuffle. A batch large enough to keep several
partitions (or one with no lake row) reads the cached frame as it is
and gets the same shuffled plans as without the hint, so the hint never
narrows a large batch's parallelism. The throttle's carried state is
one timestamp per (loc_id, alert_type), reduced map-side from the
alerts sink before its shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipeline import (
    LAKE_PARTITION_BY,
    assemble_events,
    exploded_alerts,
    flat_lake_row,
    process_events,
    route,
    to_staging,
)
from ..operators.star_schema import append_star, read_star
from ..sources.events import read_raw_events_stream
from .throttle import THROTTLE_OUTPUT_SCHEMA, throttle_sends


def _append_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _one_partition_hint(frame: DataFrame) -> DataFrame:
    """``frame`` coalesced to one partition when it holds exactly one,
    else ``frame`` itself. The scan of a cached frame does not report a
    single partition; ``coalesce(1)`` does, and that satisfies a later
    ``distinct`` without a shuffle. Reading the count runs no job once
    ``frame``'s cache is materialized. Any other count keeps the plan as
    it is: ``coalesce`` rejects 0 (a batch none of whose events reaches
    the lake may cache no partition), and above 1 it would add a
    ``CoalesceExec`` that gains nothing."""
    return frame.coalesce(1) if frame.rdd.getNumPartitions() == 1 else frame


def foreach_batch_loader(warehouse_dir: str, jsonl_mirror: bool = False):
    """Returns the foreachBatch callback wiring all sinks under
    ``warehouse_dir``: lake/, dead_letter/, alerts/, star/<table>/.

    ``jsonl_mirror=True`` additionally appends the flat lake rows as
    line-delimited JSON under lake_jsonl/ — the reference producer's
    local debug mirror (S4, producer.py:446-447).

    The callback carries the star's key offsets across batches, so it
    must be the warehouse's only writer while it runs: after another
    loader has appended to the same star, start a new one.
    """
    # The star's surrogate key offsets, carried from each batch's star
    # append to the next; None until the first batch reads them from
    # storage, and again after a batch that raised.
    offsets = None

    def _load(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal offsets
        spark = batch_df.sparkSession
        # P5 — empty-input short-circuit (s3-to-redshift.py:55-57):
        # empty micro-batches skip every sink write.
        if batch_df.isEmpty():
            return
        # Fill the source sequence the stream-level parse couldn't
        # assign (monotonically_increasing_id is batch-only); sources
        # that carry a real sequence (Kafka offset) arrive non-null.
        if "source_seq" in batch_df.columns:
            batch_df = batch_df.withColumn(
                "source_seq",
                F.coalesce(
                    F.col("source_seq"),
                    F.monotonically_increasing_id().cast("string"),
                ),
            )
        # Two-phase: persist the boolean flag frame, assemble the
        # error/warning arrays + alerts lazily above the cache (see
        # validation.validate_flags — cheaper cache, compilable codegen
        # regions, and status-only consumers prune the array assembly).
        flagged = process_events(batch_df).persist()
        processed = assemble_events(flagged)
        lake = alerts = None
        try:
            routed = route(processed)

            # The star as it stands before this batch, each table read
            # once: the fact feeds the anti-join below, and the first
            # append_star of a query run reads the key offsets from it.
            star_dir = f"{warehouse_dir}/star"
            existing = read_star(spark, star_dir)

            # T5 — idempotency: batch-internal dedup, then anti-join
            # against facts already loaded (replayed batches drop out).
            lake = routed["lake"].dropDuplicates(["event_id"])
            existing_fact = existing.get("fact_sensor_readings")
            if existing_fact is not None:
                lake = lake.join(
                    existing_fact.select(F.col("evt_id").alias("event_id")),
                    on="event_id",
                    how="left_anti",
                )
            lake = lake.persist()

            # S7 — throttled alerts: the alerts sink, read with its
            # declared schema before this batch appends, carries each
            # key's last send into the fold. The cached sends feed the
            # lake's alerts_sent before the alerts append re-caches them
            # (see "Sink order" above).
            alerts_dir = f"{warehouse_dir}/alerts"
            history = (
                spark.read.schema(THROTTLE_OUTPUT_SCHEMA).parquet(alerts_dir)
                if os.path.exists(alerts_dir)
                else None
            )
            alerts = throttle_sends(exploded_alerts(lake), history).persist()

            # alerts_sent write-back (lamda.py:465-471): each lake row
            # learns which of its alerts actually cleared the throttle.
            # array_sort makes the array order deterministic.
            sent = alerts.groupBy(F.col("event_id")).agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("alert_type").alias("type"),
                            F.col("priority"),
                            F.col("sent_timestamp"),
                        )
                    )
                ).alias("alerts_sent")
            )
            # S5 — routed lake (flat row format, lamda.py:333-348),
            # partitioned by status, location and event date.
            flat = flat_lake_row(lake.join(sent, "event_id", "left"))
            _append_parquet(flat, f"{warehouse_dir}/lake", LAKE_PARTITION_BY)
            if jsonl_mirror:  # S4 — debug JSONL mirror of the stream
                flat.write.mode("append").json(f"{warehouse_dir}/lake_jsonl")
            _append_parquet(alerts, alerts_dir)
            # S6 — dead letters, partitioned by error class like the
            # reference's errors/json_decode/ vs errors/processing/
            # prefixes (lamda.py:488-530).
            _append_parquet(routed["dead_letter"], f"{warehouse_dir}/dead_letter",
                            ["error_type"])

            # S10 — star-schema append: dims, then the fact against
            # the dims as written. The lake write materialized the
            # cache, so its partition count is known without a job.
            offsets = append_star(
                to_staging(_one_partition_hint(lake)), star_dir, existing, offsets
            )
        except BaseException:
            # A failed batch may have stored keys it never reported.
            offsets = None
            raise
        finally:
            # A batch that raises releases its caches too.
            for cached in (alerts, lake, flagged):
                if cached is not None:
                    cached.unpersist()

    return _load


def run_stream(
    spark: SparkSession,
    source_path: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    jsonl_mirror: bool = False,
):
    """Wire the full streaming pipeline; returns the StreamingQuery.
    One query at a time may load ``warehouse_dir`` (see
    ``foreach_batch_loader``)."""
    raw = read_raw_events_stream(spark, source_path, max_files_per_trigger)
    writer = (
        raw.writeStream.foreachBatch(
            foreach_batch_loader(warehouse_dir, jsonl_mirror=jsonl_mirror)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
