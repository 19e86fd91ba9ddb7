"""Per-query job/stage profiler (round 12 optimization measurement).

Runs one or more registered queries in a fresh JVM with the bench's
warm context for their families (``bench.FAMILIES``: base tables
persisted, primer run, both untimed), then prints for each query:

- wall seconds for the collect (3 repeats: first + median),
- the Spark JOB breakdown of the FIRST run (job id, duration ms,
  #stages, shuffle read/write bytes, task time) read from the
  AppStatusStore, so the expensive stage inside a multi-job query
  (iterative operators, per-round actions) is visible without the UI.

This gives the isolated numbers for any bench item, e.g. the dup-graph
stack without the rest of its release block::

    python tools/profile_query.py docs_pagerank docs_labelprop_communities docs_detector_agreement
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

    from bench import FAMILIES, suite_session, warm

    qdict = {}
    families = []
    for fam in FAMILIES:
        registry = fam.registry()
        qdict.update(registry)
        if any(name in registry for name in names):
            families.append(fam)

    spark = suite_session("profile", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for fam in families:
        warm(spark, sf_dir, fam)

    store = spark.sparkContext._jsc.sc().statusStore()

    def jobs_snapshot():
        out = {}
        lst = store.jobsList(None)
        for i in range(lst.size()):
            j = lst.apply(i)
            out[j.jobId()] = j
        return out

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
