"""Derives the end-to-end and per-layer metrics from the raw measurements the
JVM side writes (one record per pass) and the generator's manifest."""
from . import spans as spanlib
from .stats import drift, median, percentile, tail_percentile
from .workloads import QUERY_MIX

END_TO_END = (
    ("pass_s", "s"), ("rows_per_s", "1/s"), ("cpu_s", "s"),
    ("setup_s", "s"), ("heap_mb", "MB"),
)

# (name, unit); every name is emitted on every workload, 0 where the layer
# does no work on it
PER_LAYER = (
    ("setup.session_s", "s"), ("setup.generate_s", "s"),
    ("setup.warmup_s", "s"),
    ("pipeline.plan_s", "s"), ("pipeline.eager_jobs", "count"),
    ("pipeline.eager_s", "s"), ("pipeline.rows_out_per_row_in", "ratio"),
    ("driver.self_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("sources.rows_read", "count"), ("sources.bytes_read", "bytes"),
    ("sources.scan_stage_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.write_records", "count"),
    ("shuffle.write_s", "s"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("sinks.rows_written", "count"), ("sinks.bytes_written", "bytes"),
    ("sinks.commit_s", "s"), ("sinks.files_written", "count"),
    ("sinks.out_bytes_per_in_byte", "ratio"),
    ("executor.jobs", "count"), ("executor.stages", "count"),
    ("executor.tasks", "count"), ("executor.task_failures", "count"),
    ("executor.run_s", "s"), ("executor.deserialize_s", "s"),
    ("executor.gc_s", "s"), ("executor.spill_memory_bytes", "bytes"),
    ("executor.spill_disk_bytes", "bytes"),
    ("executor.peak_execution_memory_bytes", "bytes"),
    ("executor.busy_frac", "ratio"),
    ("executor.skew_max_over_median", "ratio"),
    ("operators.codegen_s", "s"), ("operators.sort_s", "s"),
    ("operators.sort_spill_bytes", "bytes"), ("operators.agg_s", "s"),
    ("operators.exchanges", "count"), ("operators.broadcasts", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.exec_s", "s"),
) + tuple((f"queries.{q}_s", "s") for q in QUERY_MIX) + (
    ("span.setup.session.self_s", "s"), ("span.setup.generate.self_s", "s"),
    ("span.setup.warmup.self_s", "s"), ("span.pass.self_s", "s"),
    ("span.pipeline.run.self_s", "s"), ("span.query.build.self_s", "s"),
    ("span.query.exec.self_s", "s"), ("span.job.self_s", "s"),
    ("span.stage.self_s", "s"),
    ("trace.pass_s_traced", "s"), ("trace.pass_s_untraced", "s"),
    ("trace.overhead_frac", "ratio"),
    ("drift.pass_s_ratio", "ratio"), ("drift.heap_ratio", "ratio"),
    ("checks.failed_frac", "ratio"),
)

SPAN_NAMES = ("pass", "pipeline.run", "query.build", "query.exec", "job",
              "stage")


def _sum(rows, key):
    return sum(r.get(key, 0) for r in rows)


def _union_s(intervals, lo, hi):
    return spanlib.union_length(intervals, lo, hi) / 1000.0


def pass_layers(rec, bench_spans, slots, input_rows, input_bytes):
    """Per-layer figures of one traced pass."""
    stages, jobs, plans = rec["stages"], rec["jobs"], rec["plans"]
    start, end = rec["start_ms"], rec["end_ms"]
    pass_s = rec["wall_s"]
    out = {}

    writes = sorted((e for e in rec["executions"] if e["is_write"]),
                    key=lambda e: e["start_ms"])
    write = writes[0] if writes else None
    if write:
        cut = write["start_ms"]
        eager = [j for j in jobs if j["end_ms"] <= cut]
        out["pipeline.plan_s"] = (cut - start) / 1000.0
        out["pipeline.eager_jobs"] = len(eager)
        out["pipeline.eager_s"] = _union_s(
            [(j["start_ms"], j["end_ms"]) for j in eager], start, cut)
        write_jobs = {j["id"] for j in jobs if j["exec_id"] == write["id"]}
        last = max((s["last_task_end_ms"] for s in stages
                    if s["job"] in write_jobs), default=end)
        out["sinks.commit_s"] = max(0.0, (end - last) / 1000.0)
    else:
        out["pipeline.plan_s"] = out["pipeline.eager_jobs"] = 0
        out["pipeline.eager_s"] = out["sinks.commit_s"] = 0.0

    out["driver.self_s"] = pass_s - _union_s(
        [(j["start_ms"], j["end_ms"]) for j in jobs], start, end)
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = _sum(plans, f"{phase}_ms") / 1000.0

    out["sources.rows_read"] = _sum(stages, "input_records")
    out["sources.bytes_read"] = _sum(stages, "input_bytes")
    out["sources.scan_stage_s"] = sum(
        s["done_ms"] - s["submit_ms"] for s in stages
        if s.get("input_bytes", 0) > 0) / 1000.0
    out["shuffle.write_bytes"] = _sum(stages, "shuffle_write_bytes")
    out["shuffle.write_records"] = _sum(stages, "shuffle_write_records")
    out["shuffle.write_s"] = _sum(stages, "shuffle_write_ns") / 1e9
    out["shuffle.read_bytes"] = _sum(stages, "shuffle_read_bytes")
    out["shuffle.fetch_wait_s"] = _sum(stages, "fetch_wait_ms") / 1000.0
    out["sinks.rows_written"] = _sum(stages, "output_records")
    out["sinks.bytes_written"] = _sum(stages, "output_bytes")
    out["sinks.files_written"] = rec["files"]
    out["sinks.out_bytes_per_in_byte"] = rec["bytes"] / input_bytes
    out["pipeline.rows_out_per_row_in"] = (
        out["sinks.rows_written"] / input_rows)

    run_s = _sum(stages, "run_ms") / 1000.0
    out["executor.jobs"] = len(jobs)
    out["executor.stages"] = len(stages)
    out["executor.tasks"] = _sum(stages, "tasks")
    out["executor.task_failures"] = _sum(stages, "failed_tasks")
    out["executor.run_s"] = run_s
    out["executor.deserialize_s"] = _sum(stages, "deser_ms") / 1000.0
    out["executor.gc_s"] = _sum(stages, "gc_ms") / 1000.0
    out["executor.spill_memory_bytes"] = _sum(stages, "spill_memory_bytes")
    out["executor.spill_disk_bytes"] = _sum(stages, "spill_disk_bytes")
    out["executor.peak_execution_memory_bytes"] = max(
        (s["peak_execution_memory_bytes"] for s in stages), default=0)
    out["executor.busy_frac"] = run_s / (pass_s * slots)
    out["executor.skew_max_over_median"] = skew(stages)

    out["operators.codegen_s"] = _sum(plans, "codegen_ms") / 1000.0
    out["operators.sort_s"] = _sum(plans, "sort_ms") / 1000.0
    out["operators.sort_spill_bytes"] = _sum(plans, "sort_spill_bytes")
    out["operators.agg_s"] = _sum(plans, "agg_ms") / 1000.0
    out["operators.exchanges"] = _sum(plans, "exchanges")
    out["operators.broadcasts"] = _sum(plans, "broadcasts")

    queries = rec.get("queries", [])
    out["queries.build_s"] = _sum(queries, "build_s")
    out["queries.exec_s"] = _sum(queries, "exec_s")
    for q in QUERY_MIX:
        out[f"queries.{q}_s"] = sum(x["build_s"] + x["exec_s"]
                                    for x in queries if x["name"] == q)
    mine = [s for s in bench_spans if s["pass"] == rec["pass"]]
    builds = {s["id"] for s in mine if s["name"] == "query.build"}
    out["queries.build_jobs"] = sum(1 for j in jobs if j["span"] in builds)

    own = spanlib.self_by_name(spanlib.pass_spans(rec, bench_spans))
    for name in SPAN_NAMES:
        out[f"span.{name}.self_s"] = own.get(name, 0.0) / 1000.0
    return out


def skew(stages):
    """Max over median task time in the widest shuffle-read stage."""
    reads = [s for s in stages if s.get("shuffle_read_bytes", 0) > 0
             and s["task_ms"]]
    if not reads:
        return 0.0
    widest = max(reads, key=lambda s: (s["tasks"], s["id"]))
    mid = median(widest["task_ms"])
    return max(widest["task_ms"]) / mid if mid else 0.0


def setup_figures(result, generate_s):
    session = result["setup"]["session_s"]
    gen = median(generate_s)
    warm = sum(result["setup"]["warmup_s"])
    return {"setup.session_s": session, "setup.generate_s": gen,
            "setup.warmup_s": warm, "setup_s": session + gen + warm}


def end_to_end(result, generate_s, input_rows, input_bytes, failed):
    """End-to-end figures over the untraced passes, plus the report-only
    figures that are zero on some workloads."""
    untraced = [p for p in result["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    pass_s = median(walls)
    figures = {
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s,
        "cpu_s": median(p["cpu_s"] for p in untraced),
        "setup_s": setup_figures(result, generate_s)["setup_s"],
        "heap_mb": median(p["heap_mb"] for p in untraced),
    }
    tail = tail_percentile(len(walls))
    report = {
        "pass_samples": len(walls),
        "failed_frac": failed / max(1, len(result["passes"])),
        "files_written": median(p["files"] for p in untraced),
        "out_bytes_per_in_byte": median(p["bytes"] for p in untraced)
        / input_bytes,
        "drift.pass_s_ratio": drift(walls),
        "drift.heap_ratio": drift([p["heap_mb"] for p in untraced]),
    }
    if tail is not None:
        report[f"pass_s_p{tail}"] = percentile(walls, tail)
    return figures, report


def per_layer(result, generate_s, input_rows, input_bytes, failed):
    """Per-layer figures: medians over the traced passes, set-up figures,
    span self times, tracing overhead and drift."""
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    bench_spans = [s for s in result["spans"] if s["pass"] >= 0]
    rows = [pass_layers(p, bench_spans, result["slots"], input_rows,
                        input_bytes) for p in traced]
    out = {name: median(r[name] for r in rows) if rows else 0.0
           for name in rows[0]} if rows else {}
    out.update(setup_figures(result, generate_s))
    del out["setup_s"]
    setup_spans = [s for s in result["spans"] if s["pass"] < 0]
    own = spanlib.self_by_name(setup_spans)
    out["span.setup.session.self_s"] = own.get("setup.session", 0.0) / 1000.0
    out["span.setup.warmup.self_s"] = own.get("setup.warmup", 0.0) / 1000.0
    out["span.setup.generate.self_s"] = sum(generate_s)
    t_on = median(p["wall_s"] for p in traced)
    t_off = median(p["wall_s"] for p in untraced)
    out["trace.pass_s_traced"] = t_on
    out["trace.pass_s_untraced"] = t_off
    out["trace.overhead_frac"] = t_on / t_off - 1.0 if t_off else 0.0
    everything = [p["wall_s"] for p in result["passes"]]
    out["drift.pass_s_ratio"] = drift(everything)
    out["drift.heap_ratio"] = drift([p["heap_mb"] for p in result["passes"]])
    out["checks.failed_frac"] = failed / max(1, len(result["passes"]))
    return {name: out.get(name, 0.0) for name, _ in PER_LAYER}
