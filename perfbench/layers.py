"""Per-layer metrics of the traced run.

Every workload reports every name below; a layer the workload does not
call reads 0.  Each ``*.exec_s`` is the wall time of forcing that
layer's output frame on its own.  Where a layer's input is another
layer's output (the shredded document tables), that input is cached
first under its own span, so the downstream span holds the layer's own
work only.  ``pass.*`` counts the pass proper: every job group of the
traced pass except the extra forcing actions.
"""

from __future__ import annotations

import statistics

from .trace import pass_totals

PER_LAYER = {
    "schemas.compile_s": "s",
    "engine.plan_s": "s",
    "engine.eager_jobs": "count",
    "docshred.exec_s": "s",
    "docshred.python_s": "s",
    "docshred.arrow_bytes": "bytes",
    "docshred.tasks": "count",
    "library_fallback.exec_s": "s",
    "library_fallback.rows": "count",
    "row_checks.exec_s": "s",
    "row_checks.violations": "count",
    "uniqueness.exec_s": "s",
    "uniqueness.shuffle_write_bytes": "bytes",
    "uniqueness.spill_bytes": "bytes",
    "uniqueness.violations": "count",
    "referential.exec_s": "s",
    "referential.fact_scans": "count",
    "referential.broadcast_joins": "count",
    "referential.shuffle_joins": "count",
    "referential.violations": "count",
    "payload.exec_s": "s",
    "payload.python_s": "s",
    "payload.arrow_bytes": "bytes",
    "payload.violations": "count",
    "manifest.filter_pending_s": "s",
    "manifest.record_s": "s",
    "manifest.ledger_probe_s": "s",
    "manifest.ledger_append_s": "s",
    "manifest.bytes_written": "bytes",
    "manifest.files": "count",
    "manifest.state_bytes_per_row": "bytes",
    "manifest.resume_noop_s": "s",
    "neardup.probe_s": "s",
    "neardup.record_s": "s",
    "neardup.candidates": "count",
    "neardup.verified_per_candidate": "ratio",
    "pass.jobs": "count",
    "pass.stages": "count",
    "pass.tasks": "count",
    "pass.executor_run_s": "s",
    "pass.executor_cpu_s": "s",
    "pass.gc_s": "s",
    "pass.shuffle_write_bytes": "bytes",
    "pass.spill_bytes": "bytes",
    "pass.core_utilization": "ratio",
    "pass.trace_overhead": "ratio",
}

# span names whose time the per-layer metric of the same prefix reports
SPAN_TIMES = {
    "engine.plan_s": "engine.plan",
    "manifest.filter_pending_s": "manifest.filter_pending",
    "manifest.record_s": "manifest.record",
    "manifest.ledger_probe_s": "manifest.ledger_probe",
    "manifest.ledger_append_s": "manifest.ledger_append",
    "neardup.probe_s": "neardup.probe",
    "neardup.record_s": "neardup.record",
}


def collect(tr, workload, cores: int, wall: float) -> dict:
    """Metrics of the traced pass just run."""
    stats = tr.group_stats()
    forced = tr.forced
    m = {name: 0.0 for name in PER_LAYER}
    for name, span in SPAN_TIMES.items():
        m[name] = tr.duration(span)
    m["engine.eager_jobs"] = stats.get("engine.plan", {}).get("jobs", 0)

    for layer in forced:
        if f"{layer}.exec_s" not in m:
            continue
        m[f"{layer}.exec_s"] = tr.duration(layer)
        plan = forced[layer]["plan"]
        if f"{layer}.violations" in m:
            m[f"{layer}.violations"] = forced[layer]["result"][0]
        if f"{layer}.python_s" in m:
            m[f"{layer}.python_s"] = plan["python_ms"] / 1000.0
            m[f"{layer}.arrow_bytes"] = plan["arrow_bytes"]
    if "docshred" in forced:
        m["docshred.tasks"] = stats.get("docshred", {}).get("tasks", 0)
    if "library_fallback" in forced:
        m["library_fallback.rows"] = forced["library_fallback"]["plan"]["python_rows"]
    if "uniqueness" in forced:
        u = stats.get("uniqueness", {})
        m["uniqueness.shuffle_write_bytes"] = u.get("shuffle_write_bytes", 0)
        m["uniqueness.spill_bytes"] = u.get("spill_bytes", 0)
    if "referential" in forced:
        plan = forced["referential"]["plan"]
        m["referential.fact_scans"] = sum(
            n for name, n in plan["scans"].items() if name.startswith(workload.FACT)
        )
        m["referential.broadcast_joins"] = plan["joins"].get("broadcast", 0)
        m["referential.shuffle_joins"] = plan["joins"].get("shuffle", 0)
    m.update(getattr(workload, "traced_counts", {}))

    total = pass_totals(stats, exclude=forced)
    proper_wall = wall - sum(tr.duration(layer) for layer in forced)
    m["pass.jobs"] = total["jobs"]
    m["pass.stages"] = total["stages"]
    m["pass.tasks"] = total["tasks"]
    m["pass.executor_run_s"] = total["run_ms"] / 1000.0
    m["pass.executor_cpu_s"] = total["cpu_ns"] / 1e9
    m["pass.gc_s"] = total["gc_ms"] / 1000.0
    m["pass.shuffle_write_bytes"] = total["shuffle_write_bytes"]
    m["pass.spill_bytes"] = total["spill_bytes"]
    m["pass.core_utilization"] = (
        m["pass.executor_run_s"] / (proper_wall * cores) if proper_wall > 0 else 0.0
    )
    return m


def summarize(samples, setup_parts: dict, overhead: float) -> dict:
    """Median of each metric over the traced passes, with units."""
    out = {}
    for name, unit in PER_LAYER.items():
        vals = [s[name] for s in samples]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    out["schemas.compile_s"] = (setup_parts.get("compile_s", 0.0), "s")
    out["pass.trace_overhead"] = (overhead, "ratio")
    return out
