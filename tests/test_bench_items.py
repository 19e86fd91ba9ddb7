"""The bench times every registered query: its family table covers the
registries, so a newly registered query cannot be left out silently."""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
import bench  # noqa: E402
from iot_real_time_data_pipeline_spark.driver_queries import iot_queries  # noqa: E402


def test_bench_families_cover_every_non_iot_query_once():
    benched = Counter(
        name for fam in bench.FAMILIES for name in fam.registry()
    )
    assert [n for n, c in benched.items() if c > 1] == []
    iot = set(iot_queries())
    assert set(benched) == {n for n in E.queries() if n not in iot}
    assert "docs_train_split" in benched


def test_cold_canaries_are_registry_items():
    for fam in bench.FAMILIES:
        if fam.cold_canary is not None:
            assert fam.cold_canary in fam.registry()
