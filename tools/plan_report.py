"""Plan-shape audit over every registered query.

Builds each ``__spark_entry__.queries()`` DataFrame at the given SF and
records physical-plan shape counters — scans, exchanges (shuffles),
broadcast vs sort-merge joins, whole-stage-codegen spans, cartesian
products, Python (Arrow) stages — into ``PLAN_AUDIT.md``. This is the
mechanical complement to PERF.md's prose audits: a reviewer can see at
a glance that no query regressed into a cartesian product, that
small-side joins broadcast, and how many shuffles each operator pays.

Usage::

    python tools/plan_report.py [sf_dir] [out_md]
"""

from __future__ import annotations

import re
import os
import sys

# Repo root derived from this file, not hard-coded: the tool must
# import the sibling __spark_entry__ wherever the repo is cloned.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


COUNTERS = {
    "scans": r"FileScan|Scan parquet",
    "exchanges": r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
    "broadcast_joins": r"BroadcastHashJoin|BroadcastNestedLoopJoin",
    "sortmerge_joins": r"SortMergeJoin",
    "cartesian": r"CartesianProduct",
    "aggregates": r"HashAggregate|ObjectHashAggregate|SortAggregate",
    "windows": r"\bWindow\b",
    # (no codegen-span counter: under AQE the pre-execution plan string
    # is an AdaptiveSparkPlan without `*(n)` markers, so a static count
    # would read 0 everywhere and mislead — PERF.md's prose audits pin
    # codegen behavior where it matters, e.g. the validation split)
    "arrow_python": r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/PLAN_AUDIT.md"

    import __spark_entry__ as E
    from iot_real_time_data_pipeline_spark.session import build_session

    spark = build_session("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = plan_counters(spark, sf_dir, E.queries())
    keys = list(COUNTERS)
    lines = [
        "# PLAN_AUDIT — physical-plan shape counters per registered query",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}` (static plans,",
        "pre-AQE where not collected). Red flags a reviewer should scan for:",
        "`cartesian > 0` (none expected), `sortmerge_joins` where a side is",
        "dim-sized, `arrow_python > 0` outside the mm_/emb_gram families.",
        "",
        "| query | " + " | ".join(keys) + " |",
        "|---|" + "|".join(["---"] * len(keys)) + "|",
    ]
    for name, counts in rows:
        if "error" in counts:
            lines.append(f"| {name} | ERROR: {counts['error']} |")
            continue
        lines.append(
            f"| {name} | " + " | ".join(str(counts[k]) for k in keys) + " |"
        )
    total_cart = sum(c.get("cartesian", 0) for _, c in rows)
    lines += [
        "",
        f"**Totals**: {len(rows)} queries audited; cartesian products: "
        f"{total_cart} (must be 0); queries with Arrow/Python stages: "
        f"{sum(1 for _, c in rows if c.get('arrow_python', 0))} "
        "(the sanctioned mapInPandas families only).",
        "",
    ]
    with open(out_md, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_md}: {len(rows)} queries, cartesian={total_cart}")
    return 0


def plan_counters(spark, sf_dir: str, queries: dict) -> list[tuple[str, dict]]:
    """(name, counters) per query, in registry order. A query whose plan
    fails to build gets ``{"error": <message>}`` in place of counters.

    The counters are defined over plans built with the lake of
    ``staging_from_lake`` already on disk and nothing cached: writing
    that lake caches the flag frame, and a materialized cache prints its
    final plan beside the initial one, doubling its counters. So the
    lake is written (or found) first and the cache cleared, whatever
    the temp dir holds."""
    from iot_real_time_data_pipeline_spark.driver_queries import q_staging_from_lake

    q_staging_from_lake(spark, sf_dir)
    spark.catalog.clearCache()
    rows = []
    for name, fn in queries.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            rows.append((name, {"error": str(ex)[:80]}))
            continue
        counts = {
            key: len(re.findall(pat, plan)) for key, pat in COUNTERS.items()
        }
        rows.append((name, counts))
    return rows


if __name__ == "__main__":
    raise SystemExit(main())
