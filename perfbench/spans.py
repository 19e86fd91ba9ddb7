"""Harness-side tracing: spans around engine and PySpark calls, plus the
Spark jobs each span launched.

Nothing here edits the engine. ``Tracer.patch`` swaps a module attribute
or a PySpark method for a wrapper that records a span, and ``restore``
puts the originals back. Spans are kept in memory. Spark job and stage
counters are read from the application status store after the measured
part of a run (the listener bus is asynchronous, so reading them inside
a span would race it).

An *operation* (one micro-batch, one dashboard visual) is an outermost
span opened with ``op=True``; every span records the operation it ran
in, so per-operation sums need no tree walk.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

STAGE_COUNTERS = ("stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes",
                  "input_bytes", "output_bytes", "output_records")


class Tracer:
    def __init__(self, spark):
        self.enabled = False
        self.phase = "setup"  # the part of the run an operation belongs to
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.bind(spark)

    def bind(self, spark) -> None:
        """Read counters from this session (after a session restart)."""
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._job_cache: dict[int, dict] = {}
        self._stage_owner: dict[int, int] = {}

    # -- counters read synchronously -----------------------------------
    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))

    def cached_bytes(self) -> int:
        return sum(int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo())

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, op: bool = False, **attrs):
        """Record one span; ``op=True`` starts an operation (it also
        samples GC time and the storage held when it ends)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "layer": layer,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": None if op else (parent["op"] if parent else None),
            "job_lo": self.next_job_id(),
            **attrs,
        }
        if op:
            rec["op"] = rec["id"]
            rec["phase"] = self.phase
            gc0 = self.gc_ms()
        self.spans.append(rec)
        stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["job_hi"] = self.next_job_id()
            stack.pop()
            if op:
                rec["gc_ms"] = self.gc_ms() - gc0
                rec["cached_bytes"] = self.cached_bytes()

    def patch(self, owner, attr: str, name: str, layer: str, before=None, after=None) -> bool:
        """Wrap ``owner.attr`` in a span; returns False when the engine no
        longer has that attribute (the span is then simply absent).

        ``before(args, kwargs)`` runs outside the span and its result is
        handed to ``after(rec, state, args, kwargs)``, which also runs
        outside it, so their bookkeeping is not charged to the call."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return False
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
            if after:
                after(rec, state, args, kwargs)
            return out

        self.replace(owner, attr, traced)
        return True

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``restore``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- reading spans ----------------------------------------------------
    @staticmethod
    def ms(rec: dict) -> float:
        return (rec["t1"] - rec["t0"]) * 1000.0

    def ops(self, kind: str, phase: str) -> list[dict]:
        """The finished operations of one kind run in ``phase``, in order."""
        return [s for s in self.spans if s["op"] == s["id"] and s.get("kind") == kind
                and s["phase"] == phase and "t1" in s]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"] and "t1" in s]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time (span minus the part its children cover), in ms."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "t1" in s:
                own = (s["t1"] - s["t0"] - child[s["id"]]) * 1000
                out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    # -- Spark counters per span, read after the measured part -------------
    def settle(self) -> None:
        """Wait until the status store has seen every job launched so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int) -> dict:
        if job_id in self._job_cache:
            return self._job_cache[job_id]
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        store = self._jsc.statusStore()
        try:
            stage_ids = store.job(job_id).stageIds()
        except Exception:  # noqa: BLE001 - py4j error: job evicted from the store
            stage_ids = None
        for k in range(stage_ids.size() if stage_ids is not None else 0):
            sid = int(stage_ids.apply(k))
            # A stage reused by a later job is counted with the job that ran it.
            if self._stage_owner.setdefault(sid, job_id) != job_id:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j error: skipped stages have no attempt
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(s.numCompleteTasks())
            out["run_ms"] += int(s.executorRunTime())
            out["cpu_ms"] += int(s.executorCpuTime()) / 1e6
            out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            out["input_bytes"] += int(s.inputBytes())
            out["output_bytes"] += int(s.outputBytes())
            out["output_records"] += int(s.outputRecords())
        self._job_cache[job_id] = out
        return out

    def jobs_in(self, rec: dict) -> dict:
        """Summed job counters for the jobs launched inside one span."""
        tot = {"jobs": rec["job_hi"] - rec["job_lo"], **dict.fromkeys(STAGE_COUNTERS, 0)}
        for j in range(rec["job_lo"], rec["job_hi"]):
            for k, v in self._job(j).items():
                tot[k] += v
        return tot
