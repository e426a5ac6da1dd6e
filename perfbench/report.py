"""Turn spans, the event log and probe results into metrics.

`end_to_end` gives the untraced metrics, `per_layer` the traced ones.
Each returns {"metrics": <the result line's metrics>, "report": <every
metric named in README.md, with sample counts, or why it is absent>}.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import read_event_log

# end-to-end per-operation latencies: metric name -> span name
OP_LATENCY = {
    "interactive_ops": {
        "knn_p50_s": "knn", "pip_poly_p50_s": "pip", "tile_p50_s": "tile",
        "polyfill_p50_s": "polyfill", "compact_p50_s": "compact",
    },
}


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _pct(values: list[float]) -> dict:
    """Median, sample count, the samples in run order, and every tail
    percentile with at least ten samples beyond it."""
    out = {"p50": statistics.median(values), "n": len(values), "values": values}
    for p in (90, 95, 99):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
    return out


def _by_call(tracer, calls) -> dict:
    """{call id: {span name: span}} for the given (call id, rows) list."""
    want = {c for c, _ in calls}
    out: dict = defaultdict(dict)
    for sp in tracer.spans:
        if sp.call_id in want:
            out[sp.call_id][sp.name] = sp
    return out


def call_seconds(wl, tracer, calls) -> list[float]:
    spans = _by_call(tracer, calls)
    return [sum(spans[c][n].seconds for n in wl.OPS) for c, _ in calls]


def end_to_end(wl, tracer, calls, setup_s: float) -> dict:
    secs = call_seconds(wl, tracer, calls)
    rates = [rows / s for (_, rows), s in zip(calls, secs)]
    report = {
        "setup_s": setup_s,
        "call_s": _pct(secs),
        "rows_per_s": _pct(rates),
    }
    spans = _by_call(tracer, calls)
    for metric, name in OP_LATENCY.get(wl.name, {}).items():
        report[metric] = _pct([spans[c][name].seconds for c, _ in calls])
    if wl.name != "interactive_ops":
        report["per_operation"] = "absent: only interactive_ops runs more than one operation per call"
    metrics = {
        "setup_s": _m(setup_s, "s"),
        "call_p50_s": _m(statistics.median(secs), "s"),
        "rows_per_s": _m(statistics.median(rates), "rows/s"),
    }
    return {"metrics": metrics, "report": report}


def _descendants(call_spans: dict, name: str) -> list:
    """The span `name` and every span nested in it, within one call."""
    out = [call_spans[name]]
    for sp in call_spans.values():
        p = sp.parent
        while p is not None and p != name:
            p = call_spans[p].parent if p in call_spans else None
        if p == name:
            out.append(sp)
    return out


def _merge(groups: list) -> dict:
    spans = []
    agg = {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    skew = []
    for g in groups:
        if g is None:
            continue
        spans.extend(g.job_spans)
        for k in agg:
            agg[k] += getattr(g, k)
        s = g.stage_skew(min_tasks=2)
        if s is not None:
            skew.append(s)
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    agg["job_s"] = total
    agg["stage_skew"] = max(skew) if skew else 1.0
    return agg


def _op_stats(stats, spans: dict, op: str, wall: float) -> dict:
    """jobs, job_s and driver_s of one operator span (nested spans
    included) in one call."""
    agg = _merge([stats.get(sp.group) for sp in _descendants(spans, op)])
    return {"jobs": agg["jobs"], "job_s": agg["job_s"], "driver_s": wall - agg["job_s"]}


def per_layer(wl, tracer, plain, traced, probes, ingest, log_dir, jvm_hwm) -> dict:
    stats = read_event_log(log_dir)
    spans = _by_call(tracer, traced)
    secs = call_seconds(wl, tracer, traced)

    per_call = []
    for (cid, _), s in zip(traced, secs):
        cs = spans[cid]
        unit = [d for n in wl.OPS for d in _descendants(cs, n)]
        top = [sp for sp in cs.values() if sp.parent is None]
        agg = _merge([stats.get(sp.group) for sp in unit])
        every = _merge([stats.get(sp.group) for sp in cs.values()])
        per_call.append({
            "jobs": agg["jobs"], "job_s": agg["job_s"], "driver_s": s - agg["job_s"],
            "tasks": every["tasks"], "task_s": every["task_s"], "gc_s": every["gc_s"],
            "shuffle_write_bytes": every["shuffle_write_bytes"],
            "spill_bytes": every["spill_bytes"], "stage_skew": every["stage_skew"],
            "jvm_cpu_s": sum(sp.cpu.get("jvm", 0.0) for sp in top),
            "python_cpu_s": sum(sp.cpu.get("python", 0.0) for sp in top),
        })

    def med(key):
        return statistics.median(c[key] for c in per_call)

    report: dict = {"calls": len(traced)}
    metrics = {name: _m(v, _unit(name)) for name, v in probes.items()}
    for op in wl.OPS:
        rows = [_op_stats(stats, spans[c], op, spans[c][op].seconds) for c, _ in traced]
        jobs = [r["jobs"] for r in rows]
        report[f"operators.{op}.jobs"] = {"per_call": jobs, "repeats_exactly": len(set(jobs)) == 1}
        for key in ("job_s", "driver_s"):
            report[f"operators.{op}.{key}"] = _pct([r[key] for r in rows])
        if op == "pip":
            metrics["operators.pip.jobs"] = _m(statistics.median(jobs), "count")
            for key in ("job_s", "driver_s"):
                metrics[f"operators.pip.{key}"] = _m(report[f"operators.pip.{key}"]["p50"], "s")
    if wl.name != "interactive_ops":
        report["operators.knn|tile|polyfill|compact"] = "absent: only interactive_ops runs them"

    metrics.update(_ingest_metrics(ingest, stats, tracer))
    overhead = statistics.median(secs) - statistics.median(call_seconds(wl, tracer, plain))
    metrics.update({
        "operators.jobs": _m(med("jobs"), "count"),
        "operators.job_s": _m(med("job_s"), "s"),
        "operators.driver_s": _m(med("driver_s"), "s"),
        "session.tasks": _m(med("tasks"), "count"),
        "session.task_s": _m(med("task_s"), "s"),
        "session.gc_s": _m(med("gc_s"), "s"),
        "session.shuffle_write_bytes": _m(med("shuffle_write_bytes"), "bytes"),
        "session.spill_bytes": _m(med("spill_bytes"), "bytes"),
        "session.stage_skew": _m(med("stage_skew"), "ratio"),
        "session.jvm_cpu_s": _m(med("jvm_cpu_s"), "s"),
        "session.python_cpu_s": _m(med("python_cpu_s"), "s"),
        "session.jvm_hwm_mb": _m(jvm_hwm, "MB"),
        "trace.overhead_s": _m(overhead, "s"),
    })
    report.update({k: v["value"] for k, v in metrics.items() if k not in report})
    return {"metrics": metrics, "report": report}


INGEST_METRICS = (
    "sources.write_images.rows_per_s", "operators.dedup.jobs",
    "operators.dedup.job_s", "operators.dedup.driver_s",
    "operators.dedup.skipped_pairs", "operators.dedup.cc_rounds",
    "plans.stage_s", "plans.resume_s",
)


def _ingest_metrics(ingest, stats, tracer) -> dict:
    """Write-side metrics from the traced ingest probe block; null values
    when its output check failed (the run then reports correct=false)."""
    if ingest is None:
        return {name: _m(None, _unit(name)) for name in INGEST_METRICS}
    from layers import PROBE_INDEX
    from workloads import INGEST_ROWS

    cid = f"c{PROBE_INDEX}"
    cs = _by_call(tracer, [(cid, 0)])[cid]
    dedup = _op_stats(stats, cs, "dedup", cs["dedup"].seconds)
    extra = ingest.stats.get(PROBE_INDEX, {})
    values = {
        "sources.write_images.rows_per_s": INGEST_ROWS / cs["write_images"].seconds,
        "operators.dedup.jobs": dedup["jobs"],
        "operators.dedup.job_s": dedup["job_s"],
        "operators.dedup.driver_s": dedup["driver_s"],
        "operators.dedup.skipped_pairs": extra.get("bucket", {}).get("skipped_pairs"),
        "operators.dedup.cc_rounds": extra.get("cc", {}).get("rounds"),
        "plans.stage_s": cs["stage_images"].seconds - cs["write_images"].seconds
        + cs["stage_dedup"].seconds - cs["dedup"].seconds,
        "plans.resume_s": cs["resume"].seconds,
    }
    return {name: _m(values[name], _unit(name)) for name in INGEST_METRICS}


def _unit(name: str) -> str:
    if name.endswith("_bytes"):
        return "bytes"
    for suffix, unit in (
        ("rows_per_s", "rows/s"), ("cells_per_s", "cells/s"), ("_s", "s"),
        ("share", "ratio"), ("over_kernel", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"
