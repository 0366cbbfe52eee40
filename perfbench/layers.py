"""Per-layer metrics of a traced run.

``layers.json`` names every per-layer metric with its unit, which
direction is better, whether it is a ``count`` (repeats exactly for a
seed) or ``timing``, and which end-to-end metric it should move on which
workload. Per operation, Spark work comes from the event log over the
operation's ``collect_sufficient`` spans (batch) or its micro-batch window
(stream); layer times come from the spans. A count metric is the mean
over the operations of the workload's first ``trace_ops`` traced calls
(the same operations for the same seed); a timing metric is the median
over every traced operation. A layer the workload does not run reports 0.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import eventlog

SPEC: dict[str, dict] = json.loads(
    (Path(__file__).resolve().parent / "layers.json").read_text()
)


def _batch_op(tracer, op: int, call, events, n_cores: int) -> dict:
    windows = [
        (int(s.start * 1000), int(s.end * 1000) + 1)
        for s in tracer.spans
        if s.op == op and s.name == "sufficient"
    ]
    w = eventlog.SparkWork()
    for part in eventlog.attribute(events, windows):
        for k, v in part.as_dict().items():
            setattr(w, k, getattr(w, k) + v)
    totals = tracer.totals(op)
    own = tracer.self_times(op)
    busy = totals.get("sufficient", (0, 0.0))[1]
    return {
        "sources.input_bytes": w.input_bytes,
        "sources.input_records": w.input_records,
        "sources.scan_stages": w.scan_stages,
        "sufficient.busy_s": busy,
        "sufficient.executor_cpu_s": w.executor_cpu_s,
        "sufficient.executor_run_s": w.executor_run_s,
        "sufficient.gc_s": w.gc_s,
        "sufficient.shuffle_write_bytes": w.shuffle_write_bytes,
        "sufficient.shuffle_read_bytes": w.shuffle_read_bytes,
        "sufficient.jobs": w.jobs,
        "sufficient.stages": w.stages,
        "sufficient.tasks": w.tasks,
        "sufficient.task_wait_s": w.task_wait_s,
        "sufficient.core_util": w.executor_run_s / (busy * n_cores) if busy else 0.0,
        "sufficient.failed_tasks": w.failed_tasks,
        "hypothesis.calls": totals.get("hypothesis", (0, 0.0))[0],
        "hypothesis.busy_s": totals.get("hypothesis", (0, 0.0))[1],
        "engine.self_s": own.get("engine", 0.0),
        "engine.collect_s": totals.get("collect", (0, 0.0))[1],
        "engine.output_rows": len(call.output or []),
    }


def _stream_ops(call, events) -> list[dict]:
    out = []
    work = eventlog.attribute(events, call.windows)
    for p, w in zip(call.progress, work):
        dur = p["durationMs"]
        state = p["stateOperators"][0] if p["stateOperators"] else {}
        out.append(
            {
                "sources.input_bytes": w.input_bytes,
                "sources.input_records": w.input_records,
                "sources.scan_stages": w.scan_stages,
                "streaming.batches": len(call.progress),
                "streaming.trigger_s": dur.get("triggerExecution", 0) / 1000.0,
                "streaming.add_batch_s": dur.get("addBatch", 0) / 1000.0,
                "streaming.plan_s": dur.get("queryPlanning", 0) / 1000.0,
                "streaming.wal_commit_s": dur.get("walCommit", 0) / 1000.0,
                "streaming.state_rows": state.get("numRowsTotal", 0),
                "streaming.state_bytes": state.get("memoryUsedBytes", 0),
                "streaming.jobs": w.jobs,
                "streaming.tasks": w.tasks,
                "streaming.shuffle_write_bytes": w.shuffle_write_bytes,
            }
        )
    return out


def per_layer(wl, tracer, calls, log_dir, n_cores, setup_calls) -> dict:
    events = eventlog.read_events(log_dir)
    ops: list[dict] = []
    count_ops = 0
    for i, call in enumerate(calls):
        if call.error:
            continue
        if call.progress:
            batch = _stream_ops(call, events)
        else:
            batch = [_batch_op(tracer, i, call, events, n_cores)]
        ops += batch
        if i < wl.trace_ops:
            count_ops = len(ops)
    if not ops:
        raise RuntimeError("no traced operation succeeded")

    extra = {
        "setup.session_s": statistics.median(s for s, _t, _c in setup_calls),
        "setup.first_call_s": statistics.median(t - s for s, t, _c in setup_calls),
        "trace.call_p50_s": statistics.median(s for c in calls for s in c.samples),
    }
    metrics = {}
    for name, spec in SPEC.items():
        if name in extra:
            metrics[name] = extra[name]
            continue
        values = [op.get(name, 0) for op in ops]
        if spec["class"] == "count":
            metrics[name] = statistics.fmean(values[:count_ops])
        else:
            metrics[name] = statistics.median(values)
    return metrics
