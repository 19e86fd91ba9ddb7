"""The benchmark's workloads. Each takes the run's ``Context`` and
returns its end-to-end metrics, plus its per-layer metrics when traced.

Both run on ``local[4]`` from one process, as closed loops with a single
client: the next micro-batch or visual starts when the previous one has
finished.
"""

from __future__ import annotations

import statistics

import dashboard
import inputs
import layers
from stream import Stream, check_sinks

HEAD_EVENTS = 1000  # stream_small_batches: warehouse pre-load (micro-batch 0)
BULK_EVENTS = 2000  # dashboard_reads: the bulk load that writes the star


def stream_small_batches(ctx) -> dict:
    """run_stream drains small generator files, one per micro-batch."""
    ctx.session()
    ctx.log(f"session up at {ctx.elapsed_s():.1f} s")
    deliveries = inputs.Deliveries(ctx.seed, HEAD_EVENTS)
    warehouse = ctx.dir("warehouse")
    stream = Stream(ctx, "stream", deliveries, warehouse)
    stream.deliver(0)
    setup_s = ctx.elapsed_s()

    ctx.phase("timed")
    batches, wall, next_file = stream.closed_loop(1, ctx.seconds)
    stream.stop()
    ctx.log("micro-batches, pre-load first: " + ", ".join(
        f"{b['triggerExecution']} ms, {b['jobs']} jobs, {b['files']} files" for b in stream.progress))
    check_sinks(ctx, warehouse, [e for k in range(next_file) for e in deliveries.file(k)])
    out = {
        "ops": len(batches),
        "metrics": {
            "setup_s": setup_s,
            "jobs_per_op": statistics.median(b["jobs"] for b in batches),
            "files_per_op": statistics.median(b["files"] for b in batches),
            "peak_rss_mb": ctx.peak_rss_mb(),
        },
    }
    if not ctx.trace:
        return out

    # The visuals once over the streamed star, for the dashboard layer.
    ctx.phase("read")
    answers, _, _ = dashboard.read_loop(ctx, warehouse, 0)
    dashboard.check_answers(ctx, dashboard.Oracle(warehouse), answers)
    tracer = ctx.tracer
    tracer.settle()
    ops = layers.batch_ops(tracer, "timed", batches)
    batch_table = layers.stream_table(tracer, ops, batches)
    visual_table = layers.visual_table(tracer, tracer.ops("visual", "read"))
    layer = {
        **layers.stream_metrics(batch_table),
        **layers.spark_metrics(tracer, ops, ctx.cores),
        **layers.dashboard_metrics(visual_table),
        "trace.op_p50_ms": float(statistics.median(b["triggerExecution"] for b in batches)),
        "trace.throughput_per_s": sum(b["rows"] for b in batches) / wall,
    }

    # Single-threaded baseline: the same stream continued on local[1].
    ctx.session(1)
    ctx.phase("local1")
    stream = Stream(ctx, "local1", deliveries, warehouse)
    slow, _, next_file = stream.closed_loop(next_file, ctx.seconds / 2)
    stream.stop()
    check_sinks(ctx, warehouse, [e for k in range(next_file) for e in deliveries.file(k)])
    tracer.settle()
    layer["local1.op_p50_ms"] = float(statistics.median(b["triggerExecution"] for b in slow))
    layer["local1.spark.busy_frac"] = layers.spark_metrics(
        tracer, layers.batch_ops(tracer, "local1", slow), 1)["spark.busy_frac"]
    out["layer"] = layer
    out["tables"] = {"batches": batch_table, "visuals": visual_table}
    return out


def dashboard_reads(ctx) -> dict:
    """One client cycles the dashboard visuals over a star the engine's
    loader wrote in one bulk micro-batch."""
    ctx.session()
    ctx.log(f"session up at {ctx.elapsed_s():.1f} s")
    deliveries = inputs.Deliveries(ctx.seed, BULK_EVENTS)
    warehouse = ctx.dir("warehouse")
    stream = Stream(ctx, "load", deliveries, warehouse)
    loads = [stream.deliver(0)]
    stream.stop()
    ctx.log(f"star loaded at {ctx.elapsed_s():.1f} s")
    ctx.phase("warm-up")
    dashboard.read_loop(ctx, warehouse, 0)
    setup_s = ctx.elapsed_s()

    ctx.phase("timed")
    answers, costs, wall = dashboard.read_loop(ctx, warehouse, ctx.seconds)
    check_sinks(ctx, warehouse, deliveries.file(0))
    oracle = dashboard.Oracle(warehouse)
    dashboard.check_answers(ctx, oracle, answers)
    out = {
        "ops": 0,  # every visual is counted with its answer check
        "metrics": {
            "setup_s": setup_s,
            "jobs_per_op": dashboard.per_visual_p50(answers, costs, "jobs"),
            "files_per_op": dashboard.per_visual_p50(answers, costs, "files"),
            "peak_rss_mb": ctx.peak_rss_mb(),
        },
    }
    if not ctx.trace:
        return out

    tracer = ctx.tracer
    tracer.settle()
    ops = tracer.ops("visual", "timed")
    batch_table = layers.stream_table(tracer, layers.batch_ops(tracer, "setup", loads), loads)
    visual_table = layers.visual_table(tracer, ops)
    layer = {
        **layers.stream_metrics(batch_table),
        **layers.spark_metrics(tracer, ops, ctx.cores),
        **layers.dashboard_metrics(visual_table),
        "trace.op_p50_ms": dashboard.per_visual_p50(answers, costs, "ms"),
        "trace.throughput_per_s": len(costs) / wall,
    }

    # Single-threaded baseline: the same visuals on local[1].
    ctx.session(1)
    ctx.phase("local1")
    answers, slow, _ = dashboard.read_loop(ctx, warehouse, ctx.seconds / 2)
    dashboard.check_answers(ctx, oracle, answers)
    tracer.settle()
    layer["local1.op_p50_ms"] = dashboard.per_visual_p50(answers, slow, "ms")
    layer["local1.spark.busy_frac"] = layers.spark_metrics(
        tracer, tracer.ops("visual", "local1"), 1)["spark.busy_frac"]
    out["layer"] = layer
    out["tables"] = {"batches": batch_table, "visuals": visual_table}
    return out


WORKLOADS = {
    "stream_small_batches": stream_small_batches,
    "dashboard_reads": dashboard_reads,
}
