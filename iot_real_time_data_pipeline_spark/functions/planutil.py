"""Plan-size control for iterative DataFrame operators.

Iterative graph operators (pagerank, label propagation) build each
round's frame on top of the previous round's. With lazy ``persist()``
per round the *execution* is fine (the CacheManager substitutes each
round's InMemoryRelation at runtime), but the **analyzed logical plan
keeps the full nested tree**: round N's plan inlines the complete
upstream pipeline N times, so analyzer/optimizer/cache-lookup time on
the driver grows superlinearly with rounds. Measured on the round-12
tree (sf0.1, quiet host): ``label_propagation`` spent ~15 s of its
19.8 s wall in driver-side planning (its formatted plan was 4,506
lines / 646 Exchange nodes), and in-session repeats got *slower*
(33 s) as every call re-registered four more cached plans for the
matcher to scan.

:func:`lazy_local_checkpoint` truncates the lineage per round WITHOUT
running a job at construction (operators must stay action-free for
registry enumeration / plan audits — see
``test_pagerank_construction_is_lazy``):

- ``localCheckpoint(eager=False)`` converts the plan to an RDD now and
  wraps it in a ``LogicalRDD`` leaf, so downstream rounds analyze a
  one-node subtree; the RDD itself computes on the first action and is
  stored at MEMORY_AND_DISK for reuse (released by the ContextCleaner
  when the frame is garbage-collected — unlike ``persist()``, nothing
  accumulates in the CacheManager across calls).
- AQE is disabled *during the RDD conversion only*: under AQE,
  ``Dataset → RDD`` materializes every adaptive query stage (runs the
  actual shuffles), which would execute the operator at construction.
- Auto-broadcast is disabled during the conversion as well: a
  ``BroadcastHashJoinExec`` inside the converted subtree submits its
  broadcast-collect job from ``doExecute`` even without AQE. Baking
  shuffle joins into the checkpointed subtree is the scale-honest
  choice anyway — per-round label/rank frames are corpus-sized (one
  row per node) and never broadcastable at 100 TB.

Thread-safety (round-13, ADVICE r12): the two conf flips are
SESSION-GLOBAL. Concurrent query *construction* on the same session
from another thread would compile with AQE off / broadcast disabled
for the duration of this call's conversion window. A module lock
serializes concurrent ``lazy_local_checkpoint`` calls in this process;
the residual assumption — no *other* code constructs queries on the
same session concurrently — is the documented single-threaded-
construction contract of this engine's operators.

The ``autoBroadcastJoinThreshold=-1`` flip does NOT neutralize an
explicit ``F.broadcast()`` hint: a hinted join inside the converted
subtree would still submit its broadcast-collect job from
``doExecute`` at construction, silently breaking the action-free
invariant. No operator passes hinted subtrees today; the guard below
makes a future one fail loudly instead of executing at construction.

Cluster durability: localCheckpoint blocks are NOT fault-tolerant
(lineage is gone; a lost executor fails the query with "Checkpoint
block ... not found" and the whole multi-hour job retries from
scratch). For cluster runs set ``spark.sql.graft.checkpoint.reliable=
true`` (plus ``sparkContext.setCheckpointDir(...)``) and every call
routes through reliable ``checkpoint(eager=False)`` instead — same
lineage truncation, same lazy contract, HDFS-durable blocks.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AQE_KEY = "spark.sql.adaptive.enabled"
BROADCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"
# Custom conf (settable per session / per submit): route lineage
# truncation through reliable checkpoint() for fault tolerance on
# multi-hour cluster jobs. Requires a checkpoint dir on the context.
RELIABLE_KEY = "spark.sql.graft.checkpoint.reliable"

_FLIP_LOCK = threading.Lock()

# A broadcast hint in an optimized logical plan string: on a Join it
# prints as `leftHint=(strategy=broadcast)` / `rightHint=(...)`, and an
# uneliminated hint as a `ResolvedHint` node. Anchored to that syntax so
# a string literal such as 'strategy=broadcast' does not match.
_BROADCAST_HINT = re.compile(r"Hint=\(strategy=broadcast|^[\s:|+-]*ResolvedHint\b", re.M)


def inline_rows(spark, rows, cols) -> DataFrame:
    """A small driver-local result as a DataFrame of JVM literals.

    ``spark.createDataFrame(list)`` parallelizes the rows into a Python
    RDD whose first scan spawns a full python-worker wave just to
    unpickle them (round-13 profile: a 32-task, 1.6 s job on a cold
    pool for an 8-row BPE merge table — the most expensive job of that
    query). Building the same rows as an inline literal array keeps
    them JVM-local: no Python stage, no workers, constant-folded at
    plan time. Use ONLY for constant-size driver-side results (merge
    tables, fixed lookups, d-row vectors) — never for data that grows
    with the corpus.

    ``cols`` is ``[(name, sql_type), ...]``; values pass through
    ``F.lit(v).cast(sql_type)``, so ints/floats/strings/None keep
    exactly the types the old ``createDataFrame(rows, schema)`` gave.
    No rows gives an empty frame of the same types (an empty literal
    array would be ``array<void>``, which fails analysis).
    """
    if not rows:
        return spark.createDataFrame([], ", ".join(f"`{n}` {t}" for n, t in cols))
    structs = [
        F.struct(
            *[
                F.lit(v).cast(t).alias(n)
                for v, (n, t) in zip(row, cols)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select(*[F.col(f"_r.{n}").alias(n) for n, _ in cols])
    )


def lazy_local_checkpoint(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Truncate ``df``'s lineage to a ``LogicalRDD`` leaf without
    launching any job (see module docstring for the two conf flips).

    ``reliable=True`` (or session conf ``spark.sql.graft.checkpoint.
    reliable=true``) uses reliable ``checkpoint(eager=False)`` — the
    fault-tolerant variant for cluster runs; the caller must have set
    a checkpoint dir. Default stays local: right for single-host and
    short-lived jobs, and it never touches distributed storage.
    """
    conf = df.sparkSession.conf
    if reliable is None:
        reliable = conf.get(RELIABLE_KEY, "false") == "true"
    with _FLIP_LOCK:
        prev_aqe = conf.get(AQE_KEY)
        prev_bc = conf.get(BROADCAST_KEY)
        conf.set(AQE_KEY, "false")
        conf.set(BROADCAST_KEY, "-1")
        try:
            # Loud-failure guard (ADVICE r12): refuse subtrees carrying
            # an explicit broadcast() hint — the one thing the threshold
            # flip cannot neutralize; a hinted BroadcastHashJoin would
            # submit its broadcast-collect job from doExecute during the
            # conversion. Checked on the OPTIMIZED LOGICAL plan, where a
            # surviving hint prints on the Join (or as an uneliminated
            # ResolvedHint node), see _BROADCAST_HINT. The physical plan is
            # deliberately NOT scanned: BroadcastExchange nodes inside
            # persisted subtrees (InMemoryRelation cached plans, planned
            # earlier under normal confs) print there too but execute
            # only when the cache materializes at action time — scanning
            # them false-positives every operator that reads a persisted
            # frame (found immediately by the r13 baseline bench run).
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            if _BROADCAST_HINT.search(plan):
                raise RuntimeError(
                    "lazy_local_checkpoint: subtree carries an explicit "
                    "broadcast hint, which disabled auto-broadcast cannot "
                    "neutralize; converting it would launch a job at "
                    "construction. Drop the hint or checkpoint above it."
                )
            if reliable:
                return df.checkpoint(eager=False)
            return df.localCheckpoint(eager=False)
        finally:
            conf.set(AQE_KEY, prev_aqe)
            conf.set(BROADCAST_KEY, prev_bc)
