"""Per-query job/stage profiler (round 12 optimization measurement).

Runs one or more registered queries in a fresh JVM with the bench's
canonical warm context (corpus tables persisted, near-dup pairs primed,
both untimed), then prints for each query:

- wall seconds for the collect (3 repeats: first + median),
- the Spark JOB breakdown of the FIRST run (job id, duration ms,
  #stages, shuffle read/write bytes, task time) read from the
  AppStatusStore, so the expensive stage inside a multi-job query
  (iterative operators, per-round actions) is visible without the UI.

Usage::

    python tools/profile_query.py docs_labelprop_communities docs_pagerank
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 (default)
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py QUERY [QUERY...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import suite_session

    spark = suite_session("profile", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from iot_real_time_data_pipeline_spark import llm_queries as LQ
    from iot_real_time_data_pipeline_spark.entrypoints import read_table
    from iot_real_time_data_pipeline_spark.operators import dedup as DD

    for t in ("documents", "embeddings"):
        read_table(spark, sf_dir, t).persist().count()
    DD.minhash_lsh_pairs(
        read_table(spark, sf_dir, "documents"), threshold=LQ.JACCARD_THRESHOLD
    ).persist().count()

    store = spark.sparkContext._jsc.sc().statusStore()

    def jobs_snapshot():
        out = {}
        lst = store.jobsList(None)
        for i in range(lst.size()):
            j = lst.apply(i)
            out[j.jobId()] = j
        return out

    # Round 13: cover the events/warehouse registries too (their items
    # read the same warm base tables the bench persists above).
    from iot_real_time_data_pipeline_spark import events_queries as EQ
    from iot_real_time_data_pipeline_spark import warehouse_queries as WQ

    for t in ("events", "lineitem", "orders", "customer", "part",
              "supplier", "nation", "region"):
        read_table(spark, sf_dir, t).persist().count()
    qdict = {**LQ.llm_queries(), **EQ.events_queries(),
             **WQ.warehouse_queries()}
    for name in names:
        fn = qdict[name]
        before = set(jobs_snapshot())
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        first = time.perf_counter() - t0
        after = jobs_snapshot()
        new_jobs = sorted(set(after) - before)
        print(f"\n=== {name}: first run {first:.3f}s, {len(new_jobs)} jobs ===")
        for jid in new_jobs:
            j = after[jid]
            sub = j.submissionTime()
            comp = j.completionTime()
            dur = -1.0
            try:
                if sub.isDefined() and comp.isDefined():
                    dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
            except Exception:
                pass
            desc = ""
            try:
                if j.description().isDefined():
                    desc = j.description().get()[:90]
            except Exception:
                pass
            print(
                f"  job {jid}: {dur:7.3f}s  stages={j.stageIds().size()}"
                f"  tasks={j.numTasks()}  {desc}"
            )
        reps = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            reps.append(time.perf_counter() - t0)
        print(f"  repeats: {' '.join(f'{r:.3f}' for r in reps)}")


if __name__ == "__main__":
    main()
