"""Per-layer metrics of a traced run, named ``<layer>.<function>.<unit>``.

Span metrics are the mean, over the measured operations, of the total
time spent in spans of that name inside one operation (so they add up:
the mean operation time is the sum of the mean self times). Spark
counts are means of the per-operation status-store deltas. Set-up
metrics (``session.*`` and the site publish of ``dashboard_queries``)
are the duration of the one set-up span. A layer a workload does not
exercise reports 0.
"""

from __future__ import annotations

# per-operation span totals, reported in ms
OP_SPANS = [
    "streaming.dedup_fold.fold_dedup_batch",
    "streaming.release_fold.fold_release_batch",
    "streaming.release_fold.publish_release",
    "streaming.incremental.state_update",
    "operators.dedup.minhash_signatures",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.minhash_lsh_pairs_presketched",
    "operators.dedup.connected_components",
    "plans.website.interactive_filter",
    "plans.website.nest_agencies",
    "operators.aggregates.group_count_sorted",
    "operators.aggregates.explode_count",
    "operators.aggregates.prefix_search",
    "operators.relational.top_k",
    "spark.collect",
]
# set-up span durations, reported in ms (the dashboard's site publish)
SETUP_SPANS = [
    "plans.document_info.document_info",
    "plans.website.build_flat_table",
    "plans.doc_export.build_doc_export",
    "io.write_json",
    "io.write_json_per_key",
]
# per-operation status-store and state-directory deltas
OP_COUNTS = [
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.driver_wait_s", "driver_wait_s", "s"),
    ("spark.catalyst_ms", "catalyst_ms", "ms"),
    ("spark.executor_run_s", "executor_run_s", "s"),
    ("spark.executor_cpu_s", "executor_cpu_s", "s"),
    ("spark.cpu_per_run", "cpu_per_run", "ratio"),
    ("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("spark.input_bytes", "input_bytes", "bytes"),
    ("spark.gc_ms", "gc_ms", "ms"),
    ("streaming.incremental.state_files_rewritten", "state_files_rewritten", "count"),
    ("streaming.incremental.state_files_total", "state_files_total", "count"),
    ("streaming.incremental.state_bytes_rewritten", "state_bytes_rewritten", "bytes"),
]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, per_op: list[dict], e2e: dict, wl) -> dict:
    out: dict[str, tuple[float, str]] = {}
    setup = {}
    for s in tracer.spans:
        if s.op is None:
            setup[s.name] = setup.get(s.name, 0.0) + s.duration
    out["session.get_spark_s"] = (setup.get("session.get_spark", 0.0), "s")
    out["session.first_job_s"] = (setup.get("session.first_job", 0.0), "s")
    ops = [o["op"] for o in per_op]
    totals = {op: {} for op in ops}
    for s in tracer.spans:
        if s.op in totals:
            t = totals[s.op]
            t[s.name] = t.get(s.name, 0.0) + s.duration
    for name in OP_SPANS:
        out[f"{name}.ms"] = (_mean(totals[op].get(name, 0.0) * 1e3 for op in ops), "ms")
    for name in SETUP_SPANS:
        out[f"{name}.ms"] = (setup.get(name, 0.0) * 1e3, "ms")
    out["io.bytes_written"] = (float(getattr(wl, "site_bytes", 0)), "bytes")
    out["io.files_written"] = (float(getattr(wl, "site_files", 0)), "count")
    for metric, key, unit in OP_COUNTS:
        out[metric] = (_mean(o[key] for o in per_op), unit)
    out["trace.op_p50_ms"] = (e2e["op_p50_ms"][0], "ms")
    out["trace.setup_s"] = (e2e["setup_s"][0], "s")
    return out


def self_time_check(tracer) -> dict:
    """How the operations' wall time splits: the share covered by layer
    spans (everything but the benchmark's own glue in the root span),
    and the largest gap between an operation's duration and the sum of
    its spans' self times (0 up to rounding, by construction)."""
    selfs = tracer.self_times()
    roots = [s for s in tracer.spans if s.op is not None
             and (s.parent is None or tracer.spans[s.parent].op != s.op)]
    gap, wall, glue = 0.0, 0.0, 0.0
    for r in roots:
        spans = tracer.op_spans(r.op)
        gap = max(gap, abs(r.duration - sum(selfs[s.id] for s in spans)))
        wall += r.duration
        glue += selfs[r.id]
    return {
        "ops": len(roots),
        "max_gap_ms": gap * 1e3,
        "layer_share": (wall - glue) / wall if wall else 0.0,
    }
