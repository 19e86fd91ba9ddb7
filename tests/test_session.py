"""One engine config: ``session.build_session`` is the only place a
session is built, and ``read_table`` sets only the confs it needs."""

from __future__ import annotations

import os

from iot_real_time_data_pipeline_spark.entrypoints import read_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BROADCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _write_table(spark, sf_dir, name: str) -> None:
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(
        os.path.join(str(sf_dir), f"{name}.parquet")
    )


def test_read_table_changes_no_conf_of_a_built_session(spark, tmp_path):
    """A fresh session of the suite's build starts from the same confs as
    every other test's; a read must find them all already in place, so a
    test's plan config cannot depend on which tests read a table first."""
    _write_table(spark, tmp_path, "t")
    fresh = spark.newSession()
    before = fresh.conf.getAll
    read_table(fresh, str(tmp_path), "t").collect()
    assert fresh.conf.getAll == before


def test_read_table_keeps_a_callers_broadcast_override(spark, tmp_path):
    _write_table(spark, tmp_path, "t")
    saved = spark.conf.get(BROADCAST_KEY)
    spark.conf.set(BROADCAST_KEY, "-1")
    try:
        read_table(spark, str(tmp_path), "t")
        assert spark.conf.get(BROADCAST_KEY) == "-1"
    finally:
        spark.conf.set(BROADCAST_KEY, saved)


def test_only_session_module_builds_sessions():
    needle = ".".join(("SparkSession", "builder"))
    found = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    if needle in fh.read():
                        found.append(os.path.relpath(path, REPO))
    assert found == [os.path.join("iot_real_time_data_pipeline_spark", "session.py")]
