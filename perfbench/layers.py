"""Per-layer metrics of a traced run.

Every value is per traced pass. The self-time metrics (``*_self_s``,
``catalyst.*``, ``spark.job_s``, ``spark.idle_gap_s``,
``observability.state_s``, ``project.self_s``, ``op.self_s``) and
``unattributed_s`` partition ``trace.run_s``: they add up to it.
"""

from __future__ import annotations

import math

from perfbench.trace import partition

MB = 1024.0**2


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for no values)."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _project(wl, model_spans: list[dict], passes: int) -> dict:
    """Scheduler metrics from the model spans of the traced passes."""
    deps = {m.name: m.depends_on for m in getattr(wl, "models", [])}
    wait = crit = busy = 0.0
    by_pass: dict[int, dict[str, dict]] = {}
    for s in model_spans:
        by_pass.setdefault(s["op"].rsplit("#", 1)[1], {})[s["name"]] = s
    for spans in by_pass.values():
        finish: dict[str, float] = {}
        for name in sorted(spans, key=lambda n: spans[n]["start"]):
            s = spans[name]
            ends = [spans[d]["end"] for d in deps.get(name, []) if d in spans]
            if ends:
                wait += max(0.0, s["start"] - max(ends))
            dur = s["end"] - s["start"]
            busy += dur
            finish[name] = dur + max((finish.get(d, 0.0) for d in deps.get(name, [])),
                                     default=0.0)
        crit += max(finish.values(), default=0.0)
    return {"ready_wait_s": wait / passes, "critical_path_s": crit / passes,
            "busy_s": busy / passes}


def per_layer(wl, setup: dict, passes: list, tracer, harvest) -> tuple[dict, dict]:
    n = len(passes)
    windows = [(a, b) for a, b, _w in passes]
    spans = [s for s in tracer.spans if any(a <= s["start"] < b for a, b in windows)]
    jobs, stage, sql = harvest["jobs"], harvest["stage"], harvest["sql"]
    self_s = partition(spans, jobs, windows)
    run_s = sum(b - a for a, b in windows) / n

    def layer(name: str) -> float:
        return self_s.get(name, 0.0) / n

    # outermost transpiler calls only (to_spark inside to_spark_statements
    # would count twice)
    by_id = {s["id"]: s for s in tracer.spans}
    tr = [s for s in spans if s["layer"] == "transpiler"
          and by_id.get(s["parent"], {}).get("layer") != "transpiler"]
    tr_ms = [(s["end"] - s["start"]) * 1e3 for s in tr]
    execute = [s for s in spans if s["name"] == "execute"]
    writes = [s for s in spans if s["layer"] == "materializations.write"]
    obs = [s for s in spans if s["layer"] == "observability"]
    models = [s for s in spans if s["layer"] == "op" and s["name"] in
              {m.name for m in getattr(wl, "models", [])}]
    job_wall = _union([(j["start"], j["end"]) for j in jobs.values()])
    proj = _project(wl, models, n)
    proj_wall = sum(b - a for a, b in windows) / n
    records = [r for r in getattr(wl, "records", []) if r["pass"] >= 1]
    batch_rows = sum(r["batch_rows"] for r in records)

    m = {
        "session.start_s": (setup["session_s"], "s"),
        "sources.register_s": (setup["register_s"], "s"),
        "transpiler.calls": (len(tr) / n, "count"),
        "transpiler.busy_s": (sum(tr_ms) / 1e3 / n, "s"),
        "transpiler.call_p90_ms": (pct(tr_ms, 0.9), "ms"),
        "transpiler.self_s": (layer("transpiler"), "s"),
        "runner.execute_calls": (len(execute) / n, "count"),
        "runner.execute_self_s": (layer("runner.execute"), "s"),
        "runner.run_model_self_s": (layer("runner.run_model"), "s"),
        "catalyst.analyze_s": (layer("catalyst.analyze"), "s"),
        "catalyst.plan_s": (layer("catalyst.plan"), "s"),
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.stages": (stage["stages"] / n, "count"),
        "spark.tasks": (stage["tasks"] / n, "count"),
        "spark.failed_tasks": (stage["failed_tasks"] / n, "count"),
        "spark.job_s": (layer("spark.job"), "s"),
        "spark.idle_gap_s": (layer("spark.idle"), "s"),
        "spark.executor_run_s": (stage["run_ms"] / 1e3 / n, "s"),
        "spark.executor_cpu_s": (stage["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (stage["gc_ms"] / 1e3 / n, "s"),
        # executor time over the wall time some job was running, per core
        "spark.core_util": (stage["run_ms"] / 1e3 / (job_wall * wl.nproc)
                            if job_wall else 0.0, "frac"),
        "spark.input_mb": (stage["input_b"] / MB / n, "MB"),
        "spark.shuffle_write_mb": (stage["shuffle_w_b"] / MB / n, "MB"),
        "spark.spill_mb": (stage["spill_b"] / MB / n, "MB"),
        "xops.python_s": (sql["py_run_ms"] / 1e3 / n, "s"),
        "xops.python_boot_s": (sql["py_boot_ms"] / 1e3 / n, "s"),
        "xops.python_sent_mb": (sql["py_sent_b"] / MB / n, "MB"),
        "xops.python_rows_recv": (sql["py_rows"] / n, "count"),
        "materializations.write_s": (sum(s["end"] - s["start"] for s in writes) / n, "s"),
        "materializations.self_s": (layer("materializations")
                                    + layer("materializations.write"), "s"),
        "materializations.files_written": (sql["files"] / n, "count"),
        "materializations.mb_written": (sql["written_b"] / MB / n, "MB"),
        "materializations.rows_written": (sql["rows_written"] / n, "count"),
        "materializations.rewrite_ratio": (sql["rows_written"] / batch_rows
                                           if batch_rows else 0.0, "x"),
        "project.ready_wait_s": (proj["ready_wait_s"], "s"),
        "project.concurrency": (proj["busy_s"] / proj_wall if models else 0.0, "x"),
        "project.critical_path_s": (proj["critical_path_s"], "s"),
        "project.self_s": (layer("project"), "s"),
        "observability.state_s": (sum(s["end"] - s["start"] for s in obs) / n, "s"),
        "observability.self_s": (layer("observability"), "s"),
        "observability.errors": (sum(1 for s in obs if s["error"]) / n, "count"),
        "observability.records_lost": (sum(r["lost"] for r in records) / n, "count"),
        "op.self_s": (layer("op"), "s"),
        "unattributed_s": (layer("unattributed"), "s"),
        "trace.run_s": (run_s, "s"),
        # the tracer's own bookkeeping (spans, job groups) over the traced
        # wall time
        "trace.overhead_frac": (tracer.overhead_s / (run_s * n), "frac"),
    }
    parts = sum(v for k, (v, _u) in m.items() if k in SELF_METRICS)
    detail = {"traced_passes": n,
              "self_time_sum_s": parts, "trace_run_s": run_s,
              "sql_executions": sql["executions"], "spans": len(spans)}
    return m, detail


# the metrics that partition trace.run_s
SELF_METRICS = (
    "transpiler.self_s", "runner.execute_self_s", "runner.run_model_self_s",
    "catalyst.analyze_s", "catalyst.plan_s", "spark.job_s", "spark.idle_gap_s",
    "materializations.self_s", "project.self_s", "observability.self_s",
    "op.self_s", "unattributed_s",
)
