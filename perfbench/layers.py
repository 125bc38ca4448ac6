"""Per-layer metrics of one traced pass, derived from its spans.

Spans nest pass -> step -> {build, action} -> job -> stage. Jobs carry
the step and span the harness thread tagged them with; plans, stream
batches and untagged jobs are placed in the step whose window holds
them. Jobs tagged -1 ran in the untimed gaps (result dumps, teardown)
and are left out.
"""
import statistics

# name -> unit, in the order they are reported; BENCHMARK.json lists the same
UNITS = {
    "scan.bytes": "B", "scan.rows": "count", "scan.files": "count",
    "scan.rows_per_out_row": "ratio",
    "plan.analysis_s": "s", "plan.optimize_s": "s", "plan.physical_s": "s",
    "plan.actions": "count",
    "build.s": "s", "build.jobs": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy": "ratio",
    "exec.skew": "ratio",
    "driver.self_s": "s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "B",
    "pin.count": "count", "pin.bytes": "B",
    "store.bytes_written": "B", "store.files_written": "count",
    "store.files_live": "count", "store.write_amp": "ratio",
    "stream.batches": "count", "stream.batch_p50_ms": "ms", "stream.plan_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.commit_ms": "ms", "stream.state_bytes": "B",
    "pipeline.ingest_s": "s", "pipeline.cluster_s": "s", "pipeline.reingest_s": "s",
    "out.bytes": "B", "out.files": "count",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
}


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def derive(spans, steps, wall_s, cores, extra):
    """`steps`: [(step id, t0 ms, t1 ms)] of the traced pass; `extra`:
    metrics measured outside the spans (pins, stores, outputs, ...).
    Returns every name in UNITS -> value."""
    def step_of(s, at):
        if s["step"] and any(s["step"] == i for i, _, _ in steps):
            return s["step"]
        return next((i for i, a, b in steps if a <= at <= b), None)

    spans = [s for s in spans if s["parent"] != -1]
    builds = {s["id"] for s in spans if s["kind"] == "build"}
    jobs = [s for s in spans if s["kind"] == "job" and step_of(s, s["t0"])]
    job_ids = {s["id"] for s in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and
              (s["parent"] in job_ids or (not s["parent"] and step_of(s, s["t0"])))]
    plans = [s for s in spans if s["kind"] == "plan" and step_of(s, s["t1"])]
    batches = [s for s in spans if s["kind"] == "batch" and step_of(s, s["t0"])]

    def tot(rows, key, scale=1.0):
        return sum(r["a"].get(key, 0.0) or 0.0 for r in rows) * scale

    m = dict.fromkeys(UNITS, 0.0)
    m["scan.bytes"] = tot(stages, "in_bytes")
    m["scan.rows"] = tot(stages, "in_rows")
    m["scan.files"] = tot(plans, "files")
    out_rows = extra.pop("out_rows", 0.0)
    m["scan.rows_per_out_row"] = m["scan.rows"] / out_rows if out_rows else 0.0
    m["plan.analysis_s"] = tot(plans, "analysis_ms", 1e-3)
    m["plan.optimize_s"] = tot(plans, "optimize_ms", 1e-3)
    m["plan.physical_s"] = tot(plans, "physical_ms", 1e-3)
    m["plan.actions"] = float(len(plans))
    m["build.s"] = sum(s["t1"] - s["t0"] for s in spans
                       if s["kind"] == "build" and step_of(s, s["t0"])) / 1e3
    m["build.jobs"] = float(sum(1 for j in jobs if j["parent"] in builds))
    m["exec.jobs"] = float(len(jobs))
    m["exec.stages"] = float(len(stages))
    m["exec.tasks"] = tot(stages, "tasks")
    m["exec.run_s"] = tot(stages, "run_ms", 1e-3)
    m["exec.cpu_s"] = tot(stages, "cpu_ns", 1e-9)
    m["exec.gc_s"] = tot(stages, "gc_ms", 1e-3)
    m["exec.busy"] = m["exec.run_s"] / (wall_s * cores) if wall_s else 0.0
    multi = [s for s in stages if s["a"].get("tasks", 0) >= 2 and s["a"].get("task_med_ms")]
    if multi:
        worst = max(multi, key=lambda s: s["t1"] - s["t0"])
        m["exec.skew"] = worst["a"]["task_max_ms"] / worst["a"]["task_med_ms"]
    m["driver.self_s"] = sum(
        (b - a) - _union([(max(a, j["t0"]), min(b, j["t1"])) for j in jobs
                          if step_of(j, j["t0"]) == i and j["t1"] > a and j["t0"] < b])
        for i, a, b in steps) / 1e3
    m["shuffle.write_bytes"] = tot(stages, "sh_w_bytes")
    m["shuffle.read_bytes"] = tot(stages, "sh_r_bytes")
    m["shuffle.fetch_wait_s"] = tot(stages, "fetch_wait_ms", 1e-3)
    m["spill.bytes"] = tot(stages, "spill_bytes")
    m["stream.batches"] = float(len(batches))
    if batches:
        m["stream.batch_p50_ms"] = statistics.median(b["a"]["trigger_ms"] for b in batches)
    m["stream.plan_ms"] = tot(batches, "plan_ms")
    m["stream.add_batch_ms"] = tot(batches, "add_batch_ms")
    m["stream.commit_ms"] = tot(batches, "commit_ms")
    m.update({k: float(v) for k, v in extra.items()})
    return m
