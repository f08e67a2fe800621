"""Names, units and sources of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests keep the two in step. A per-layer metric is the mean per
call of one field of one span name (see ``trace.Tracer.summary``) or a value
the workload derives; it reads 0 on a workload that never makes the call.
"""

from __future__ import annotations

# name: (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
}

_FIELD_UNITS = {
    "busy_s": ("s", "lower"),
    "build_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "failed_tasks": ("count", "lower"),
    "bytes": ("bytes", "lower"),
    "files": ("count", "lower"),
    "bytes_written": ("bytes", "lower"),
    "delta_bytes": ("bytes", "lower"),
    "rows_in": ("count", "lower"),
    "rows_out": ("count", "higher"),
    "new_files": ("count", "higher"),
    "candidates": ("count", "lower"),
    "verified": ("count", "higher"),
}
# span field read for a metric field (exec_s is a query span's self time)
_SPAN_FIELD = {"exec_s": "busy_s"}


def _spans() -> list[tuple[str, str, str]]:
    """(metric name, span name, field) for every span-derived metric."""
    out = [("session.get_session.busy_s", "session.get_session", "busy_s")]

    def add(span: str, *fields: str, prefix: str | None = None) -> None:
        for f in fields:
            out.append((f"{prefix or span}.{f}", span, f))

    # CSV scan parallelism: divided by k it is the scan's core utilization
    out.append(("sources.read_csv_robust.scan_tasks", "sources.read_csv_robust.scan", "tasks"))
    for w in ("sources.write_parquet_partitioned", "sources.write_parquet"):
        add(w, "busy_s", "bytes", "files")
    add("sources.bookmarks.pending_files", "busy_s")
    add("sources.bookmarks.commit_files", "busy_s")
    add("functions.snake_case_columns", "build_s")
    add("functions.multi_format_date", "busy_s")
    add("operators.keep_latest", "busy_s", "rows_in", "rows_out")
    add("operators.enrich_with_dim", "busy_s")
    add("operators.consolidated_validation", "busy_s", "jobs")
    add("operators.sampled_profile", "busy_s")
    add("operators.anti_join_orphans", "busy_s")
    for stage in ("bronze", "silver", "gold"):
        add(f"plans.rues.{stage}", "build_s", "busy_s", "jobs", "failed_tasks")
    for q in ("q1", "q2", "q3", "q4"):
        add(f"plans.analytics.{q}", "busy_s", "jobs")
    add("plans.incremental.incremental_refresh", "busy_s", "jobs", "new_files")
    add("plans.incremental.read_refreshed", "busy_s")
    add("plans.incremental.incremental_refresh", "bytes_written", "delta_bytes",
        prefix="streaming.sinks.commit")
    for mod in ("relational", "athena", "events", "textops", "vectors"):
        add(f"queries.{mod}", "build_s", "exec_s", "jobs", "tasks")
    for ext in ("minhash_signatures", "lsh_candidate_pairs", "simhash", "train_ivf_index",
                "ivf_topk", "connected_components"):
        add(f"extensions.{ext}", "busy_s")
    add("extensions.minhash_near_duplicates", "candidates", "verified")
    return out


SPAN_METRICS = _spans()

# per-layer metric name: (unit, better)
PER_LAYER = {
    **{name: _FIELD_UNITS[field] for name, _, field in SPAN_METRICS},
    "sources.read_csv_robust.scan_tasks": ("count", "higher"),
    # derived by the workload from its op latencies and lake sizes
    "rues.input_rows_per_s": ("rows/s", "higher"),
    "lake.write_amp": ("ratio", "lower"),
    "refresh.space_amp": ("ratio", "lower"),
    "refresh.write_p50_s": ("s", "lower"),
    "refresh.read_p50_s": ("s", "lower"),
    # the JVM's peak RSS: no end-to-end bound, it mostly follows the heap
    # G1 grows to under spark.driver.memory
    "jvm.peak_rss_mb": ("MB", "lower"),
    # the traced run's own end-to-end figures: minus the untraced run's,
    # they give the tracing overhead
    "trace.op_p50_s": ("s", "lower"),
    "trace.ops_per_s": ("1/s", "higher"),
}


def per_layer(tr, derived: dict, e2e: dict) -> dict[str, float]:
    """Every per-layer metric from a traced run (0 where not exercised)."""
    summary = tr.summary(setup_names=("session.get_session",))
    values = {name: 0.0 for name in PER_LAYER}
    for name, span, field in SPAN_METRICS:
        values[name] = summary.get(span, {}).get(_SPAN_FIELD.get(field, field), 0.0)
    values.update(derived)
    values["trace.op_p50_s"] = e2e["op_p50_s"]
    values["trace.ops_per_s"] = e2e["ops_per_s"]
    return values


def with_units(values: dict[str, float], traced: bool) -> dict[str, dict]:
    units = PER_LAYER if traced else END_TO_END
    if set(values) != set(units):
        raise ValueError(f"metric names drifted: {sorted(set(values) ^ set(units))}")
    return {name: {"value": v, "unit": units[name][0]} for name, v in values.items()}
