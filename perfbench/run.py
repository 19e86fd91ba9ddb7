"""The engine's benchmark: streamed ingest and dashboard reads.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload stream_small_batches --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload dashboard_reads --seed 1 --seconds 10 --trace 1

Every run builds its session with ``session.build_session`` on
``local[4]``, writes its seeded inputs and all engine output under a
fresh directory in ``perfbench/.runs/`` (removed at exit), measures for
``--seconds`` and then checks the engine's outputs. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones, and a traced run
also writes its spans to ``perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext, suppress

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

END_TO_END_UNITS = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "files_per_op": "files",
    "peak_rss_mb": "MB",
}


class Context:
    """What a workload needs: the session, its directories, the tracer
    (traced runs only) and the tally of output checks."""

    def __init__(self, args, run_dir: str, t_start: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.t_start = t_start
        self.cores = CORES
        self.spark = None
        self.tracer = None
        self.checked = 0
        self.failures: list[str] = []

    def elapsed_s(self) -> float:
        return time.perf_counter() - self.t_start

    def session(self, cores: int = CORES):
        """(Re)start the Spark session on ``local[cores]`` in this process."""
        from iot_real_time_data_pipeline_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            "perfbench",
            master=f"local[{cores}]",
            # One shuffle partition per core, as bench.py sets it.
            shuffle_partitions=cores,
            extra_conf={
                # A fixed, pre-touched heap: peak RSS then does not depend
                # on when the collector chose to grow the heap.
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData"
                    " -Xms2g -XX:+AlwaysPreTouch"
                    # C1 only: C2 would spend much of a one-minute run
                    # compiling, on the same four vCPUs as the queries.
                    " -XX:TieredStopAtLevel=1"
                ),
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            import layers
            from spans import Tracer

            if self.tracer is None:
                self.tracer = Tracer(self.spark)
                layers.install(self.tracer)
                self.tracer.enabled = True
            else:
                self.tracer.bind(self.spark)
        return self.spark

    def phase(self, name: str) -> None:
        """Tag the operations that follow (traced runs only)."""
        if self.tracer is not None:
            self.tracer.phase = name

    def span(self, name: str, layer: str, **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer, **attrs)

    def log(self, msg: str) -> None:
        log(msg)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checked += 1
        if not ok:
            self.failures.append(what)
            log(f"FAIL {what}: {detail}")

    def peak_rss_mb(self) -> float:
        """High-water RSS of this Python process plus the driver JVM."""
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(jvm_pid))) / 1024.0

    def next_job_id(self) -> int:
        """The id the next Spark job will get: job ids are consecutive, so
        the difference across an operation is the jobs it launched."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def dir(self, *parts: str) -> str:
        path = os.path.join(self.run_dir, *parts)
        os.makedirs(path, exist_ok=True)
        return path


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _stop_jvm(ctx: Context) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _write_trace(ctx: Context, workload: str, out: dict) -> None:
    tracer = ctx.tracer
    path = os.path.join(HERE, "results", f"trace-{workload}-seed{ctx.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    payload = {
        "workload": workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "per_layer": out["layer"],
        "self_time_ms_by_layer": tracer.self_times(),
        **out["tables"],
        "spans": tracer.spans,
    }
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
    log(f"wrote {os.path.relpath(path, ROOT)}")
    for layer, ms in sorted(payload["self_time_ms_by_layer"].items(), key=lambda kv: -kv[1]):
        log(f"  self time {layer:24s} {ms:12.1f} ms")


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Everything the run writes (Spark scratch, JVM and Python temp files)
    # stays inside the run directory.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    ctx = Context(args, run_dir, t_start)
    try:
        sys.path.insert(0, ROOT)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        out = WORKLOADS[args.workload](ctx)
        if ctx.trace:
            _write_trace(ctx, args.workload, out)
    except Exception:  # noqa: BLE001 - report, stop the JVM, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_jvm(ctx)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(run_dir))

    if ctx.trace:
        import layers

        metrics = {name: {"value": out["layer"][name], "unit": unit}
                   for name, (unit, _) in layers.METRICS.items()}
    else:
        metrics = {name: {"value": out["metrics"][name], "unit": unit}
                   for name, unit in END_TO_END_UNITS.items()}
    for name, m in metrics.items():
        log(f"{name:36s} {m['value']:.6g} {m['unit']}")
    failed = len(ctx.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": out["ops"] + ctx.checked,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
