"""Focused tests for the round-12 optimization internals:
functions/planutil.lazy_local_checkpoint and the read_table plan memo.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_real_time_data_pipeline_spark.functions import planutil as PU

SF_DIR = "/root/testdata/sf0.001"


def test_lazy_local_checkpoint_runs_no_job_and_truncates(spark):
    """The checkpoint must launch NO job at construction (registry
    enumeration / plan audits build operators without executing them),
    must truncate the analyzed plan to a leaf, and must restore the
    session confs it flips during the Dataset->RDD conversion."""
    aqe_before = spark.conf.get(PU.AQE_KEY)
    bc_before = spark.conf.get(PU.BROADCAST_KEY)
    df = (
        spark.range(10_000)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.count("*").alias("c"))
    )
    sc = spark.sparkContext
    sc.setJobGroup("planutil-lazy", "lazy ckpt construction")
    try:
        ck = PU.lazy_local_checkpoint(df)
        jobs = sc.statusTracker().getJobIdsForGroup("planutil-lazy")
        assert list(jobs) == [], "lazy checkpoint launched a job at construction"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # confs restored
    assert spark.conf.get(PU.AQE_KEY) == aqe_before
    assert spark.conf.get(PU.BROADCAST_KEY) == bc_before
    # lineage truncated: the optimized plan is a bare leaf (no Aggregate)
    plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan and "LogicalRDD" in plan
    # and it still computes the right answer on first action
    rows = {r.k: r.c for r in ck.collect()}
    assert len(rows) == 7 and sum(rows.values()) == 10_000


def test_lazy_local_checkpoint_identical_results(spark):
    df = spark.range(1_000).withColumn("g", F.col("id") % 13)
    agg = df.groupBy("g").agg(F.sum("id").alias("s"))
    expect = sorted(map(tuple, agg.collect()))
    got = sorted(map(tuple, PU.lazy_local_checkpoint(agg).collect()))
    assert got == expect


def test_lazy_local_checkpoint_rejects_explicit_broadcast_hint(spark):
    """An explicit broadcast() hint survives the autoBroadcast=-1 flip
    and would submit a collect job at construction — the guard must
    fail loudly instead (ADVICE r12 / round-13 hardening)."""
    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(RuntimeError, match="broadcast hint"):
        PU.lazy_local_checkpoint(a.join(F.broadcast(b), "k"))
    # confs restored even on the error path
    assert spark.conf.get(PU.AQE_KEY) == "true"


def test_lazy_local_checkpoint_ignores_hint_text_in_string_literal(spark):
    """The hint guard matches the plan's hint syntax, not the bare text:
    a filter on the literal 'strategy=broadcast' carries no hint and
    must checkpoint normally."""
    df = spark.range(20).filter(
        F.concat(F.lit("k"), F.col("id").cast("string")) != "strategy=broadcast"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in plan  # the text a bare substring test trips on
    assert PU.lazy_local_checkpoint(df).count() == 20


def test_lazy_local_checkpoint_tolerates_persisted_broadcast_subtree(spark):
    """A persisted subtree whose CACHED physical plan embeds a
    BroadcastExchange (planned earlier under normal confs) must NOT
    trip the hint guard: the cached plan only executes at action time,
    so the construction stays action-free."""
    a = spark.range(200).withColumnRenamed("id", "k")
    b = spark.range(20).withColumnRenamed("id", "k").persist()
    b.count()
    try:
        ck = PU.lazy_local_checkpoint(a.join(b, "k"))
        assert ck.count() == 20
    finally:
        b.unpersist()


def test_lazy_local_checkpoint_reliable_path(spark, tmp_path):
    """reliable=True (or the session conf) routes through reliable
    checkpoint(): same lazy contract, same results, durable blocks."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    agg = (
        spark.range(1_000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.sum("id").alias("s"))
    )
    expect = sorted(map(tuple, agg.collect()))
    sc = spark.sparkContext
    sc.setJobGroup("planutil-reliable", "reliable lazy ckpt")
    try:
        ck = PU.lazy_local_checkpoint(agg, reliable=True)
        jobs = sc.statusTracker().getJobIdsForGroup("planutil-reliable")
        assert list(jobs) == [], "reliable lazy checkpoint ran a job at construction"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(map(tuple, ck.collect())) == expect
    # conf-driven variant
    spark.conf.set(PU.RELIABLE_KEY, "true")
    try:
        ck2 = PU.lazy_local_checkpoint(agg)
        assert sorted(map(tuple, ck2.collect())) == expect
    finally:
        spark.conf.unset(PU.RELIABLE_KEY)


def test_inline_rows_empty_is_typed_empty_frame(spark):
    """No rows gives an empty frame with the declared column types, one
    that downstream plans can analyze (not an ``array<void>`` explode)."""
    cols = [("k", "long"), ("name", "string"), ("w", "double")]
    empty = PU.inline_rows(spark, [], cols)
    one = PU.inline_rows(spark, [(1, "a", 0.5)], cols)
    assert empty.dtypes == one.dtypes == [("k", "bigint"), ("name", "string"), ("w", "double")]
    assert empty.count() == 0
    assert spark.range(3).withColumnRenamed("id", "k").join(empty, "k").count() == 0


def test_read_table_memo_same_session_same_plan(spark):
    """Repeat calls in one session return the SAME plan object (the
    construction-cost memo); a different (sf_dir, name) key misses."""
    from iot_real_time_data_pipeline_spark.entrypoints import read_table

    a = read_table(spark, SF_DIR, "documents")
    b = read_table(spark, SF_DIR, "documents")
    assert a is b
    c = read_table(spark, SF_DIR, "embeddings")
    assert c is not a
    # the memoized frame still reads fresh data from parquet per action
    assert a.count() == a.count() > 0


def test_read_table_memo_invalidates_on_new_session(spark):
    """A different SparkSession must not see the old session's plan."""
    from iot_real_time_data_pipeline_spark import entrypoints as EP

    df = EP.read_table(spark, SF_DIR, "documents")
    key = (SF_DIR, "documents")
    stored_session, stored_df = EP._READ_TABLE_MEMO[key]
    assert stored_session is spark and stored_df is df
    # simulate another session arriving: identity check must miss
    EP._READ_TABLE_MEMO[key] = (object(), df)
    try:
        rebuilt = EP.read_table(spark, SF_DIR, "documents")
        assert rebuilt is not df  # rebuilt, not served from the stale entry
        assert rebuilt.count() == df.count()
    finally:
        EP._READ_TABLE_MEMO.pop(key, None)
