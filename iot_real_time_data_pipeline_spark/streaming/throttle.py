"""Alert throttle (reference T2, ``Lambda/lamda.py:246-283``).

Semantics, per key ``(loc_id, alert_type)``, in (timestamp, event_id)
order:

- CRITICAL alerts always send, and refresh the key's last send
  (bypass, lamda.py:257-261);
- any other alert sends iff no alert was sent for the key in the last
  ALERT_INTERVAL (5 min), measured from the last send, not from a
  window boundary (lamda.py:264-269); a suppressed alert leaves the
  last send alone.

Ordering contract: the fold is exact for alerts that arrive in event
time order. An alert older than its key's last stored send (a
straggler from a later micro-batch) meets a negative gap, so it is
suppressed unless it is CRITICAL; a send cannot be taken back.

The reference ships CONSECUTIVE_RECORDS_THRESHOLD = 1 (lamda.py:21),
which makes its consecutive counter vestigial, so the throttle is
purely time-based. Its 1-hour state purge (lamda.py:402-416) cannot
change a send at threshold 1: a key idle for an hour is far past the
5-minute interval either way.

The clock is the *event* timestamp column, not wall clock, so tests and
replays are deterministic (SURVEY §7.3 "throttle exactness").

The greedy decision is sequential per key (each depends on every prior
send), so no window function expresses it. ``_decide`` folds each
key's sequence JVM-side with the ``aggregate`` higher-order function
(no Python UDF). Two views share it:

- ``throttle_sends``: the send rows. The streaming loader carries state
  across micro-batches by passing the alerts sink as ``sent_history``;
  a key's carried state is its latest send time.
- ``throttle_stateful_replay``: per-key counters, oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALERT_INTERVAL_SECONDS = 300.0  # lamda.py:20

THROTTLE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("loc_id", T.StringType()),
        T.StructField("alert_type", T.StringType()),
        T.StructField("event_id", T.StringType()),
        T.StructField("priority", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("sent_timestamp", T.TimestampType()),
    ]
)


def _decide(
    exploded_alerts: DataFrame, sent_history: DataFrame | None
) -> DataFrame:
    """One row per alert (loc_id, alert_type, ts, event_id, priority,
    description) with its throttle decision, ``sent``.

    ``sent_history`` rows (``THROTTLE_OUTPUT_SCHEMA``) enter the same
    single ``groupBy`` under a ``carry`` flag: they are kept out of
    ``seq`` and only seed the fold's last send with their max
    ``sent_timestamp``. Partial aggregation then shuffles one history
    row per key per partition, not the whole history.
    """
    rows = exploded_alerts.select(
        "loc_id",
        "alert_type",
        F.lit(False).alias("carry"),
        F.col("timestamp").alias("ts"),
        "event_id",
        "priority",
        "description",
    )
    if sent_history is not None:
        rows = rows.unionByName(
            sent_history.select(
                "loc_id",
                "alert_type",
                F.lit(True).alias("carry"),
                F.col("sent_timestamp").alias("ts"),
                F.lit(None).cast("string").alias("event_id"),
                F.lit(None).cast("string").alias("priority"),
                F.lit(None).cast("string").alias("description"),
            )
        )
    carry = F.col("carry")
    seq = rows.groupBy("loc_id", "alert_type").agg(
        F.array_sort(
            F.collect_list(
                F.when(~carry, F.struct("ts", "event_id", "priority", "description"))
            )
        ).alias("seq"),
        F.max(F.when(carry, F.col("ts"))).alias("carried_last"),
    )
    # acc: (last send epoch-seconds | NULL, one flag byte per alert
    # folded so far). Epoch math in DOUBLE on both engines (Spark
    # CAST(ts AS DOUBLE) == DuckDB epoch(ts)), so the >= boundary
    # resolves identically. The flags are a byte string, not an array
    # of the sent alerts: aggregate() copies its accumulator at every
    # step, deeply for an array. On local[4] an array of sends made the
    # sf0.1 replay take 45 s; the flags take about 1 s.
    flags = F.expr(
        f"""
        aggregate(
          seq,
          struct(CAST(carried_last AS DOUBLE) AS last, X'' AS flags),
          (acc, e) -> CASE
            WHEN e.priority = 'CRITICAL' OR acc.last IS NULL
              OR CAST(e.ts AS DOUBLE) - acc.last >= {ALERT_INTERVAL_SECONDS!r}
            THEN struct(
              CAST(e.ts AS DOUBLE) AS last, concat(acc.flags, X'01') AS flags)
            ELSE struct(acc.last AS last, concat(acc.flags, X'00') AS flags)
          END
        ).flags
        """
    )
    # Two selects: the fold runs once per key, below the explode.
    return (
        seq.select("loc_id", "alert_type", "seq", flags.alias("flags"))
        .select(
            "loc_id", "alert_type", "flags", F.posexplode("seq").alias("pos", "a")
        )
        .select(
            "loc_id",
            "alert_type",
            "a.*",
            F.expr("substring(flags, pos + 1, 1) = X'01'").alias("sent"),
        )
    )


def throttle_sends(
    exploded_alerts: DataFrame, sent_history: DataFrame | None = None
) -> DataFrame:
    """The alerts that clear the throttle, as ``THROTTLE_OUTPUT_SCHEMA``
    rows.

    Input contract: columns (event_id, loc_id, timestamp, alert_type,
    priority, description) — ``operators.pipeline.exploded_alerts``.
    ``sent_history`` holds earlier sends (``THROTTLE_OUTPUT_SCHEMA``,
    e.g. the alerts sink): each key resumes from its latest one, so
    chaining batch by batch sends what one fold over all of them would,
    provided the batches arrive in event-time order.
    """
    return _decide(exploded_alerts, sent_history).filter("sent").select(
        "loc_id",
        "alert_type",
        "event_id",
        "priority",
        "description",
        F.col("ts").alias("sent_timestamp"),
    )


def throttle_stateful_replay(exploded_alerts: DataFrame) -> DataFrame:
    """Batch replay of the throttle, per-key counters out — the
    oracle-checkable view of the fold the streaming loader runs.

    Scale: ``collect_list`` materializes each key's replay sequence on
    one executor, bounded by alerts-per-key within the replay window.
    An unbounded history would instead be replayed in time-ordered
    slices through ``throttle_sends``, each slice's sends carried into
    the next, as the loader does per micro-batch.

    Returns one row per key: n_sent, n_critical_sent, n_suppressed,
    last_sent_at.
    """
    sent = F.col("sent")
    return (
        _decide(exploded_alerts, None)
        .groupBy("loc_id", "alert_type")
        .agg(
            F.count_if(sent).alias("n_sent"),
            F.count_if(sent & (F.col("priority") == "CRITICAL")).alias(
                "n_critical_sent"
            ),
            F.count_if(~sent).alias("n_suppressed"),
            F.max(F.when(sent, F.col("ts"))).alias("last_sent_at"),
        )
    )
