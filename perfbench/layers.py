"""Which engine and PySpark calls the traced run wraps in spans, and the
per-layer metrics derived from those spans.

Layers are the engine's modules: ``functions`` (validation and alert
rules), ``operators.pipeline``, ``streaming.throttle``,
``streaming.pipeline`` (the foreachBatch loader and its sinks),
``operators.star_schema``, ``operators.dashboard``, and Spark itself
(the PySpark reader/writer calls and the jobs they launch).
"""

from __future__ import annotations

import glob
import os
import statistics

import pyarrow.parquet as pq
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from iot_real_time_data_pipeline_spark.operators import pipeline as operators_pipeline
from iot_real_time_data_pipeline_spark.streaming import pipeline as stream_pipeline

# Plan builders the loader calls through its own module's names ...
LOADER_BUILDERS = {
    "process_events": "operators.pipeline",
    "with_alerts": "functions",
    "attach_validation_arrays": "functions",
    "route": "operators.pipeline",
    "exploded_alerts": "operators.pipeline",
    "throttle_batch_window": "streaming.throttle",
    "flat_lake_row": "operators.pipeline",
    "incremental_load": "operators.star_schema",
}
# ... and the ones it imports from operators.pipeline when a batch runs.
CALL_TIME_BUILDERS = {"to_staging": "operators.pipeline", "event_time": "operators.pipeline"}

SINKS = {  # warehouse sub-directory -> sink name
    "alerts": "alerts", "lake": "lake", "dead_letter": "dead_letter",
    "star/dim_location": "dim_location", "star/dim_time": "dim_time",
    "star/dim_soil": "dim_soil", "star/dim_weather": "dim_weather",
    "star/fact_sensor_readings": "fact",
}
PROGRESS_MS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")

# Every per-layer metric with its unit and direction, in output order.
METRICS: dict[str, tuple[str, str]] = {
    **{f"streaming.{k}_ms": ("ms", "lower") for k in PROGRESS_MS},
    "streaming.empty_probe_ms": ("ms", "lower"),
    "streaming.history_read_ms": ("ms", "lower"),
    "streaming.history_reads": ("count", "lower"),
    "streaming.plan_build_ms": ("ms", "lower"),
    "streaming.other_ms": ("ms", "lower"),
    "streaming.replay_dropped": ("count", "higher"),
    **{m: spec for s in SINKS.values() for m, spec in (
        (f"sink.{s}_ms", ("ms", "lower")),
        (f"sink.{s}.rows", ("rows", "higher")),
        (f"sink.{s}.files", ("files", "lower")))},
    "sink.useful_append_frac": ("ratio", "higher"),
    "star_schema.history_fact_rows": ("rows", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.busy_frac": ("ratio", "higher"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.output_bytes": ("bytes", "lower"),
    "spark.cached_bytes": ("bytes", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "dashboard.construct_ms": ("ms", "lower"),
    "dashboard.plan_ms": ("ms", "lower"),
    "dashboard.execute_ms": ("ms", "lower"),
    "dashboard.jobs": ("count", "lower"),
    "dashboard.files_scanned": ("files", "lower"),
    "trace.op_p50_ms": ("ms", "lower"),
    "trace.throughput_per_s": ("1/s", "higher"),
    "local1.op_p50_ms": ("ms", "lower"),
    "local1.spark.busy_frac": ("ratio", "higher"),
}


def install(tracer) -> None:
    """Wrap the loader, its plan builders and the PySpark I/O calls."""
    for fn, layer in LOADER_BUILDERS.items():
        tracer.patch(stream_pipeline, fn, f"plan.{fn}", layer)
    for fn, layer in CALL_TIME_BUILDERS.items():
        tracer.patch(operators_pipeline, fn, f"plan.{fn}", layer)
    tracer.patch(DataFrame, "isEmpty", "empty_probe", "streaming.pipeline")
    tracer.patch(DataFrameReader, "parquet", "read", "spark")
    tracer.patch(DataFrameWriter, "parquet", "write", "spark",
                 before=_files_before, after=_name_sink)

    make_loader = stream_pipeline.foreach_batch_loader

    def traced_loader(warehouse_dir, *args, **kwargs):
        load = make_loader(warehouse_dir, *args, **kwargs)

        def traced_load(batch_df, batch_id):
            if not tracer.enabled:
                return load(batch_df, batch_id)
            history = _fact_rows(warehouse_dir)
            with tracer.span("batch", "streaming.pipeline", op=True, kind="batch",
                             batch=batch_id, history_fact_rows=history):
                load(batch_df, batch_id)

        return traced_load

    tracer.replace(stream_pipeline, "foreach_batch_loader", traced_loader)


def _write_path(args, kwargs) -> str:
    return os.path.normpath(args[1] if len(args) > 1 else kwargs["path"])


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def _files_before(args, kwargs) -> int:
    return _parquet_files(_write_path(args, kwargs))


def _name_sink(rec, files_before, args, kwargs) -> None:
    path = _write_path(args, kwargs)
    for sub, sink in SINKS.items():
        if path.endswith(os.sep + sub):
            rec["name"] = f"sink.{sink}"
            rec["layer"] = "streaming.pipeline"
    rec["files"] = _parquet_files(path) - files_before


def _fact_rows(warehouse_dir: str) -> int:
    files = glob.glob(os.path.join(warehouse_dir, "star", "fact_sensor_readings", "*.parquet"))
    return sum(pq.read_metadata(f).num_rows for f in files)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def spark_metrics(tracer, ops: list[dict], cores: int) -> dict:
    """Per-operation medians of the Spark counters of the jobs each ran."""
    jobs = [tracer.jobs_in(op) for op in ops]
    return {
        "spark.jobs": _median(j["jobs"] for j in jobs),
        "spark.stages": _median(j["stages"] for j in jobs),
        "spark.tasks": _median(j["tasks"] for j in jobs),
        "spark.executor_run_ms": _median(j["run_ms"] for j in jobs),
        "spark.executor_cpu_ms": _median(j["cpu_ms"] for j in jobs),
        "spark.busy_frac": _median(
            j["run_ms"] / (tracer.ms(op) * cores) for j, op in zip(jobs, ops)),
        "spark.shuffle_write_bytes": _median(j["shuffle_write_bytes"] for j in jobs),
        "spark.input_bytes": _median(j["input_bytes"] for j in jobs),
        "spark.output_bytes": _median(j["output_bytes"] for j in jobs),
        "spark.cached_bytes": _median(op["cached_bytes"] for op in ops),
        "jvm.gc_ms": _median(op["gc_ms"] for op in ops),
    }


def batch_ops(tracer, phase: str, batches: list[dict]) -> list[dict]:
    """The batch spans of ``batches`` (progress records) run in ``phase``."""
    spans = {s["batch"]: s for s in tracer.ops("batch", phase)}
    return [spans[b["batch"]] for b in batches]


def stream_table(tracer, ops: list[dict], batches: list[dict]) -> list[dict]:
    """One row per micro-batch: the progress durations, the child spans
    of the loader call and ``other_ms``, the part of ``addBatch`` no child
    span covers (so children + other = addBatch, batch by batch)."""
    rows = []
    for op, prog in zip(ops, batches):
        kids = tracer.children(op)
        row = {"batch": prog["batch"], "rows": prog["rows"],
               "history_fact_rows": op["history_fact_rows"],
               **{f"{k}_ms": float(prog.get(k, 0)) for k in PROGRESS_MS}}
        by_name: dict[str, float] = {}
        for k in kids:
            by_name[k["name"]] = by_name.get(k["name"], 0.0) + tracer.ms(k)
        row["children_ms"] = by_name
        row["other_ms"] = row["addBatch_ms"] - sum(by_name.values())
        row["history_reads"] = sum(k["name"] == "read" for k in kids)
        sinks = {}
        for k in kids:
            if k["name"].startswith("sink."):
                s = sinks.setdefault(k["name"][5:], {"ms": 0.0, "rows": 0, "files": 0, "appends": 0})
                s["ms"] += tracer.ms(k)
                s["rows"] += tracer.jobs_in(k)["output_records"]
                s["files"] += k["files"]
                s["appends"] += 1
        row["sinks"] = sinks
        written = sinks.get("lake", {}).get("rows", 0) + sinks.get("dead_letter", {}).get("rows", 0)
        row["replay_dropped"] = prog["rows"] - written
        rows.append(row)
    return rows


def stream_metrics(table: list[dict]) -> dict:
    out = {f"streaming.{k}_ms": _median(r[f"{k}_ms"] for r in table) for k in PROGRESS_MS}
    kid = lambda r, *names: sum(v for n, v in r["children_ms"].items() if n in names)  # noqa: E731
    out["streaming.empty_probe_ms"] = _median(kid(r, "empty_probe") for r in table)
    out["streaming.history_read_ms"] = _median(kid(r, "read") for r in table)
    out["streaming.history_reads"] = _median(r["history_reads"] for r in table)
    out["streaming.plan_build_ms"] = _median(
        sum(v for n, v in r["children_ms"].items() if n.startswith("plan.")) for r in table)
    out["streaming.other_ms"] = _median(r["other_ms"] for r in table)
    out["streaming.replay_dropped"] = float(sum(r["replay_dropped"] for r in table))
    appends = useful = 0
    for sink in SINKS.values():
        rows = [r["sinks"].get(sink, {"ms": 0.0, "rows": 0, "files": 0, "appends": 0}) for r in table]
        out[f"sink.{sink}_ms"] = _median(s["ms"] for s in rows)
        out[f"sink.{sink}.rows"] = _median(s["rows"] for s in rows)
        out[f"sink.{sink}.files"] = _median(s["files"] for s in rows)
        appends += sum(s["appends"] for s in rows)
        useful += sum(s["appends"] for s in rows if s["rows"] > 0)
    out["sink.useful_append_frac"] = useful / appends if appends else 0.0
    out["star_schema.history_fact_rows"] = _median(r["history_fact_rows"] for r in table)
    return out


def visual_table(tracer, ops: list[dict]) -> list[dict]:
    rows = []
    for op in ops:
        kids = {k["name"]: tracer.ms(k) for k in tracer.children(op)}
        rows.append({"visual": op["name"], "ms": tracer.ms(op),
                     "construct_ms": kids.get("construct", 0.0), "plan_ms": kids.get("plan", 0.0),
                     "execute_ms": kids.get("execute", 0.0), "jobs": tracer.jobs_in(op)["jobs"],
                     "files_scanned": op["files_scanned"]})
    return rows


def dashboard_metrics(table: list[dict]) -> dict:
    return {f"dashboard.{k}": _median(r[k] for r in table)
            for k in ("construct_ms", "plan_ms", "execute_ms", "jobs", "files_scanned")}
