"""Traced run: spans around the engine's public functions, Spark job
groups per op, status-store harvesting and a self-time partition.

Spans are opened by wrappers installed from here (the engine itself is
not changed). Every op runs under its own Spark job group, set in the
thread that runs it (``ProjectRunner`` worker threads included), so its
jobs, stages and SQL executions are found through the group, not by
"the last execution in the session". Spans go to a JSONL file: name,
layer, start, end, parent, op id, thread.

Self times partition the traced wall time exactly: at every instant
each thread's innermost open span owns that thread's share, threads
with work share the instant equally, the project scheduler owns time
when it is the only thing open, and time with no span open is
``unattributed_s``.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from contextlib import contextmanager

# span layers that make up the self-time partition
LAYERS = (
    "op", "transpiler", "runner.execute", "runner.run_model", "catalyst.analyze",
    "catalyst.plan", "spark.job", "spark.idle", "materializations",
    "materializations.write", "observability", "project",
)
_BACKGROUND = {"project"}
_JOB_DEPTH = 10_000


class Tracer:
    def __init__(self, spark, path: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.path = path
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: dict[str, str] = {}  # op id (= job group) -> op name
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = 0
        # time the tracer itself spends in traced passes
        self.overhead_s = 0.0
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            self._seq += 1
            sid = self._seq
        sp = {
            "id": sid, "name": name, "layer": layer,
            "op": op or (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(), "depth": len(st),
            "start": time.time(), "end": None, "error": None,
        }
        st.append(sp)
        cost = time.perf_counter() - t_in
        try:
            yield sp
        except BaseException as exc:
            sp["error"] = type(exc).__name__
            raise
        finally:
            sp["end"] = time.time()
            t_out = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += cost + time.perf_counter() - t_out

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one op, run under its own job group."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        self.sc.setJobGroup(op_id, name)
        self.ops[op_id] = name
        cost = time.perf_counter() - t
        try:
            with self.span(name, "op", op=op_id) as sp:
                yield sp
        finally:
            t = time.perf_counter()
            self.sc.setJobGroup(None, None)
            with self._lock:
                self.overhead_s += cost + time.perf_counter() - t

    # ------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, layer: str, op_name=None) -> None:
        """Replace ``owner.attr`` with a spanned version. With
        ``op_name`` (a function of the call's arguments) the call is an
        op of its own: it gets a job group in the calling thread."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            if op_name is not None and not tracer._stack():
                with tracer.op(f"{op_name(args, kwargs)}#{tracer.pass_no}",
                               op_name(args, kwargs)):
                    with tracer.span(attr, layer):
                        return orig(*args, **kwargs)
            with tracer.span(attr, layer):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.readwriter import DataFrameWriter

        import dbt_icebreaker_spark.runner as runner_mod
        from dbt_icebreaker_spark.observability.run_summary import RunSummary
        from dbt_icebreaker_spark.observability.savings import SavingsTracker
        from dbt_icebreaker_spark.observability.state import CrashWal
        from dbt_icebreaker_spark.project import ProjectRunner
        from dbt_icebreaker_spark.runner import IcebreakerEngine
        from dbt_icebreaker_spark.transpiler import Transpiler

        model = lambda a, k: a[1] if len(a) > 1 else k.get("name")  # noqa: E731
        self.pass_no = 0
        self.wrap(Transpiler, "to_spark", "transpiler")
        self.wrap(Transpiler, "to_spark_statements", "transpiler")
        self.wrap(IcebreakerEngine, "execute", "runner.execute")
        self.wrap(IcebreakerEngine, "run_model", "runner.run_model", op_name=model)
        self.wrap(IcebreakerEngine, "run_snapshot", "runner.run_model", op_name=model)
        self.wrap(SparkSession, "sql", "catalyst.analyze")
        self.wrap(runner_mod, "run_incremental", "materializations")
        self.wrap(runner_mod, "run_snapshot", "materializations")
        self.wrap(DataFrameWriter, "saveAsTable", "materializations.write")
        self.wrap(DataFrameWriter, "insertInto", "materializations.write")
        for cls, names in ((CrashWal, ("pre_execute", "post_execute")),
                           (SavingsTracker, ("log_run",)),
                           (RunSummary, ("record", "finish"))):
            for n in names:
                self.wrap(cls, n, "observability")
        self.wrap(ProjectRunner, "run", "project")

    def uninstall(self) -> None:
        """Restore the wrapped functions and write the spans out."""
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        with open(self.path, "w") as out:
            for sp in self.spans:
                out.write(json.dumps(sp) + "\n")

    # ------------------------------------------------------ harvesting
    def harvest(self) -> dict:
        """Jobs, stages and SQL executions of every op so far, read from
        Spark's status store through the ops' job groups."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs: dict[int, dict] = {}
        for op_id in self.ops:
            for jid in tracker.getJobIdsForGroup(op_id):
                try:
                    jd = store.job(jid)
                except Exception:
                    continue
                sub, end = jd.submissionTime(), jd.completionTime()
                if sub.isEmpty() or end.isEmpty():
                    continue
                stages = jd.stageIds()
                jobs[jid] = {
                    "op": op_id, "start": sub.get().getTime() / 1000.0,
                    "end": end.get().getTime() / 1000.0,
                    "stages": [stages.apply(i) for i in range(stages.size())],
                }
        stage = {"stages": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0.0,
                 "cpu_ns": 0.0, "gc_ms": 0.0, "input_b": 0.0, "shuffle_w_b": 0.0,
                 "spill_b": 0.0}
        seen = set()
        for j in jobs.values():
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = store.stageData(sid, False, None, False, None)
                except Exception:
                    continue
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    stage["stages"] += 1
                    stage["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    stage["failed_tasks"] += sd.numFailedTasks()
                    stage["run_ms"] += sd.executorRunTime()
                    stage["cpu_ns"] += sd.executorCpuTime()
                    stage["gc_ms"] += sd.jvmGcTime()
                    stage["input_b"] += sd.inputBytes()
                    stage["shuffle_w_b"] += sd.shuffleWriteBytes()
                    stage["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return {"jobs": jobs, "stage": stage, "sql": self._sql_metrics(set(jobs))}

    def _sql_metrics(self, job_ids: set[int]) -> dict:
        """Python-worker and write metrics of every SQL execution that
        ran one of ``job_ids`` (few py4j calls per execution: the
        Scala collections are rendered to strings JVM-side)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = {"executions": 0, "py_run_ms": 0.0, "py_boot_ms": 0.0,
               "py_sent_b": 0.0, "py_rows": 0.0, "files": 0.0, "written_b": 0.0,
               "rows_written": 0.0}
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            keys = e.jobs().keySet().mkString(",")
            if not job_ids & {int(k) for k in keys.split(",") if k}:
                continue
            out["executions"] += 1
            eid = e.executionId()
            values = {}
            for entry in sql.executionMetrics(eid).mkString("\u0001").split("\u0001"):
                if " -> " in entry:
                    k, v = entry.split(" -> ", 1)
                    values[int(k)] = v
            names = {}
            for m in _METRIC.finditer(e.metrics().mkString("\u0001")):
                names[int(m.group(2))] = m.group(1)
            for acc, name in names.items():
                val = parse_metric(values.get(acc, ""))
                if name == "time to run Python workers":
                    out["py_run_ms"] += val
                elif name in ("time to start Python workers",
                              "time to initialize Python workers"):
                    out["py_boot_ms"] += val
                elif name == "data sent to Python workers":
                    out["py_sent_b"] += val
                elif name == "number of written files":
                    out["files"] += val
                elif name == "written output":
                    out["written_b"] += val
            wanted = set(names.values())
            if not wanted & {"time to run Python workers", "number of written files"}:
                continue
            # row counts need the node a metric belongs to
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                nname = node.name()
                python = any(w in nname for w in ("Python", "Pandas", "Arrow"))
                command = nname.startswith("Execute ") or "WriteFiles" in nname
                if not (python or command):
                    continue
                for m in _METRIC.finditer(node.metrics().mkString("\u0001")):
                    if m.group(1) == "number of output rows":
                        val = parse_metric(values.get(int(m.group(2)), ""))
                        out["py_rows" if python else "rows_written"] += val
        return out


_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),")


_SIZES = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NUM = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|min|h)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('1.2 KiB', '6,000', or a 'total (min,
    med, max ...)' block) as bytes, milliseconds or a count."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        return 0.0
    m = _NUM.search(lines[1] if len(lines) > 1 else lines[0])
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZES:
        return num * _SIZES[unit]
    return num * {"s": 1e3, "min": 6e4, "h": 3.6e6}.get(unit, 1.0)


# ----------------------------------------------------------------------
# self-time partition
# ----------------------------------------------------------------------
def _thread_segments(spans: list[dict]) -> list[tuple[float, float, str]]:
    """Innermost-span segments of one thread: (start, end, layer)."""
    events = []
    for i, s in enumerate(spans):
        events.append((s["start"], 1, i))
        events.append((s["end"], 0, i))
    events.sort()
    active: set[int] = set()
    segs: list[tuple[float, float, str]] = []
    prev = None
    for t, opening, i in events:
        if active and prev is not None and t > prev:
            best = max(active, key=lambda k: (spans[k]["depth"], spans[k]["start"]))
            segs.append((prev, t, spans[best]["layer"]))
        (active.add if opening else active.discard)(i)
        prev = t
    return segs


def partition(spans: list[dict], jobs: dict,
              windows: list[tuple[float, float]]) -> dict[str, float]:
    """Seconds of the traced ``windows`` owned by each layer, plus
    ``unattributed``; the values sum to the windows' total length."""
    by_op_action: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"] == "action" and s["op"]:
            by_op_action.setdefault(s["op"], []).append(s)
    op_root = {s["op"]: s for s in spans if s["layer"] == "op"}
    extra = []
    # Spark jobs run in the thread of their op, inside its root span
    for j in jobs.values():
        root = op_root.get(j["op"])
        if root is None:
            continue
        a, b = max(j["start"], root["start"]), min(j["end"], root["end"])
        if b > a:
            extra.append({"start": a, "end": b, "depth": _JOB_DEPTH,
                          "layer": "spark.job", "thread": root["thread"]})
    # an action's time before its first job is physical planning
    for op_id, actions in by_op_action.items():
        starts = sorted(j["start"] for j in jobs.values() if j["op"] == op_id)
        for act in actions:
            first = next((t for t in starts if t >= act["start"]), act["end"])
            first = min(first, act["end"])
            if first > act["start"]:
                extra.append({"start": act["start"], "end": first,
                              "depth": act["depth"] + 1, "layer": "catalyst.plan",
                              "thread": act["thread"]})
    by_thread: dict[int, list[dict]] = {}
    for s in spans + extra:
        by_thread.setdefault(s["thread"], []).append(s)
    thread_segs = {t: _thread_segments(ss) for t, ss in by_thread.items()}

    out = {layer: 0.0 for layer in LAYERS}
    out["unattributed"] = 0.0
    for w0, w1 in windows:
        cuts = {w0, w1}
        for segs in thread_segs.values():
            for a, b, _ in segs:
                if w0 < a < w1:
                    cuts.add(a)
                if w0 < b < w1:
                    cuts.add(b)
        cuts = sorted(cuts)
        ptr = {t: 0 for t in thread_segs}
        for a, b in zip(cuts, cuts[1:]):
            mid, dt = (a + b) / 2, b - a
            fg, bg = [], []
            for t, segs in thread_segs.items():
                i = ptr[t]
                while i < len(segs) and segs[i][1] <= mid:
                    i += 1
                ptr[t] = i
                if i < len(segs) and segs[i][0] <= mid:
                    (bg if segs[i][2] in _BACKGROUND else fg).append(segs[i][2])
            if fg:
                for layer in fg:
                    out[layer] += dt / len(fg)
            elif bg:
                out[bg[0]] += dt
            else:
                out["unattributed"] += dt
    return out
