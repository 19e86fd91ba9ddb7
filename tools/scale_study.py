"""Scaling study: headline queries at multiple SFs → per-query exponents.

The round-1..9 evidence is all at sf ≤ 0.1; the 100 TB arguments were
design arguments. This tool measures the actual time-vs-data curves:
it runs a headline subset of ``__spark_entry__.queries()`` at each
given SF directory (generated by ``tools/gen_scale_data.py``), takes
per-query medians over N repeats, and fits the scaling exponent

    alpha = log(t_hi / t_lo) / log(sf_hi / sf_lo)

between the smallest and largest *generated* SFs (same generator ⇒
apples-to-apples distributions; the driver's own sf0.1 is run too as a
representativeness control). alpha ≈ 1 is linear; alpha < 1 means
fixed overhead still dominates; alpha > 1.15 with seconds-scale times
is flagged super-linear.

Plans execute through the ``noop`` write format — full execution, no
driver-side collect — so measured time is engine time, not result
transfer. Caches are cleared between queries (each registry callable
is self-contained), so every measurement is a cold, independent run.

Usage::

    python tools/scale_study.py out.json DIR [DIR ...]
    # e.g. python tools/scale_study.py BENCH_DETAIL_r10_sf1.json \\
    #   /root/testdata/sf0.1 /root/repo/.scaledata/sf0.1g \\
    #   /root/repo/.scaledata/sf0.3 /root/repo/.scaledata/sf1.0
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPEATS = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))

# One representative per cost shape: the full validate+stage pipeline,
# the 4-way double-equality star build, sessionization (window over the
# full stream), the dedup stack (exact, banded MinHash, SimHash,
# iterated connected components), TF-IDF, language ID, the ANN stack
# (brute-force top-k, IVF probe, LSH+verify near-dup, 2-round Lloyd,
# Gram/power iteration), warehouse scan-agg (Q1), 4-way join tree (Q9),
# bucketed range join (Q12), multi-anti-join (Q21), the stateful
# throttle replay, and the partitioned-lake round trip.
HEADLINE = [
    "staging",
    "fact",
    "staging_from_lake",
    "throttled_alerts_stateful_replay",
    "events_sessionize",
    "events_hourly_rollup",
    "docs_exact_dedup",
    "docs_minhash_lsh_pairs",
    "docs_simhash_dup_pairs",
    "docs_dup_clusters",
    "docs_tfidf_top_terms",
    "docs_language_id",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "emb_cosine_dup_pairs",
    "emb_kmeans_lloyd2",
    "emb_power_iteration",
    "wh_q1_pricing_summary",
    "wh_q9_product_profit",
    "wh_q12_bucketed",
    "wh_q21_waiting_suppliers",
    "mm_wav_features",
]


def main() -> int:
    out_path = sys.argv[1]
    sf_dirs = sys.argv[2:]
    only = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    names = only.split(",") if only else HEADLINE

    import __spark_entry__ as E
    from iot_real_time_data_pipeline_spark.operators.dedup import (
        release_session_caches,
    )
    from iot_real_time_data_pipeline_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        "scale-study",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = E.queries()
    # JIT/janino warmup so the first measured query isn't charged for
    # session startup (bench.py measures this split explicitly).
    qs["staging"](spark, sf_dirs[0]).count()
    release_session_caches(spark)

    results: dict[str, dict[str, dict]] = {}
    for sf_dir in sf_dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        results[label] = {}
        for name in names:
            runs = []
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                (
                    qs[name](spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                runs.append(time.perf_counter() - t0)
                release_session_caches(spark)
            runs.sort()
            results[label][name] = {
                "median": round(runs[len(runs) // 2], 3),
                "min": round(runs[0], 3),
                "max": round(runs[-1], 3),
            }
            print(
                f"{label:10s} {name:35s} median {runs[len(runs)//2]:7.2f}s",
                flush=True,
            )

    # exponents between smallest and largest GENERATED sf (dirs under
    # .scaledata, named sf<float> with an optional trailing 'g' control
    # tag which is excluded)
    gen = sorted(
        (
            (float(os.path.basename(d.rstrip("/"))[2:]), os.path.basename(d.rstrip("/")))
            for d in sf_dirs
            if ".scaledata" in d and not d.rstrip("/").endswith("g")
        ),
    )
    exponents = {}
    if len(gen) >= 2:
        (sf_lo, lo), (sf_hi, hi) = gen[0], gen[-1]
        ratio = math.log(sf_hi / sf_lo)
        for name in names:
            t_lo = results[lo][name]["median"]
            t_hi = results[hi][name]["median"]
            exponents[name] = {
                "t_lo": t_lo,
                "t_hi": t_hi,
                "alpha": round(math.log(t_hi / t_lo) / ratio, 3),
                "lo": lo,
                "hi": hi,
            }

    payload = {
        "repeats": REPEATS,
        "cpus": cpus,
        "sf_dirs": sf_dirs,
        "queries": names,
        "results": results,
        "exponents": exponents,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
