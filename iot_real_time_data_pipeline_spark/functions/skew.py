"""Skew- and shuffle-management utilities for the 100 TB layout.

Two standard techniques, packaged so operators can opt in:

- ``salted_agg``: two-phase aggregation for skewed group keys. Phase 1
  groups on (key, salt) so a hot key's rows spread across ``salt_mod``
  reducers; phase 2 merges the per-salt partials. Works for any
  algebraic aggregate (count/sum/min/max); the second shuffle carries
  ``salt_mod`` rows per hot key instead of the raw row stream.
  (AQE's skew-join splitting handles skewed JOINS automatically —
  ``spark.sql.adaptive.skewJoin.enabled`` is on in ``session.py`` —
  but aggregation skew still needs salting.)

- ``write_bucketed`` / co-located joins: persisting both fact tables
  bucketed by the join key makes the orderkey-style fact↔fact join
  exchange-free — each task reads matching buckets from both sides.
  The plan-asserted proof lives in tests/test_plans.py
  (``test_bucketed_join_has_no_exchange``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SALT_MOD = 16


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_mod: int = SALT_MOD,
    salt_source: Column | None = None,
) -> DataFrame:
    """Two-phase (salted) aggregation.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {"count", "sum", "min", "max"}; "count" ignores its input column.
    The salt is derived from a high-cardinality column when provided
    (deterministic — replays identically), else from the partition id
    (cheapest, still deterministic per shuffle layout).

    Exactness: count/sum re-aggregate with sum, min/max with min/max —
    algebraic merges, so the result equals the unsalted groupBy for any
    salt assignment.
    """
    salt = (
        (F.abs(F.hash(salt_source)) % salt_mod)
        if salt_source is not None
        else F.spark_partition_id() % salt_mod
    )
    phase1_aggs = []
    phase2_aggs = []
    for out, (col, fn) in aggs.items():
        part = f"_p_{out}"
        if fn == "count":
            phase1_aggs.append(F.count("*").alias(part))
            phase2_aggs.append(F.sum(part).alias(out))
        elif fn == "sum":
            phase1_aggs.append(F.sum(col).alias(part))
            phase2_aggs.append(F.sum(part).alias(out))
        elif fn == "min":
            phase1_aggs.append(F.min(col).alias(part))
            phase2_aggs.append(F.min(part).alias(out))
        elif fn == "max":
            phase1_aggs.append(F.max(col).alias(part))
            phase2_aggs.append(F.max(part).alias(out))
        else:
            raise ValueError(f"unsupported agg fn: {fn}")
    partials = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*phase1_aggs)
    )
    return partials.groupBy(*key_cols).agg(*phase2_aggs)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join
    key. Subsequent equi-joins between tables bucketed identically on
    that key plan with ZERO exchanges — the scan's bucketing satisfies
    the join's clustering requirement."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
