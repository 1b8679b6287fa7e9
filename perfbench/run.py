"""Benchmark entry point.

    python3 perfbench/run.py --workload <query_mix|project_run> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from the seed under
``.perfbench/`` (removed at exit); Spark, Derby, Python and Java
temporary files stay there too. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The
line before it is a ``{"detail": ...}`` object with sample counts,
host load, versions and failures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
SETUPS = 3  # the first one also boots the JVM; setup_s is their median


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_ticks() -> tuple[int, int, int]:
    """Machine-wide (busy, steal, total) CPU ticks: busy is user, nice,
    system, irq and softirq; steal is time the hypervisor ran other
    guests while this one wanted the CPU."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7], sum(t)


def _env(work: str, nproc: int) -> None:
    """Keep every file the run writes inside ``work``."""
    for d in ("tmp", "local", "home"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_ICEBREAKER_HOME"] = os.path.join(work, "home")
    # the JVM writes its perf-counter file to /tmp unless told not to
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM; it exits when its
    stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _setup(wl) -> dict:
    """SETUPS session starts + source registrations + warm-ups; the
    first boots the JVM, the others restart the SparkContext in it."""
    rows = []
    for i in range(SETUPS):
        if i:
            wl.stop_session()
        t0 = time.time()
        wl.start_session()
        t1 = time.time()
        wl.register()
        t2 = time.time()
        wl.warm_up()
        t3 = time.time()
        rows.append((t1 - t0, t2 - t1, t3 - t2, t3 - t0))
    med = lambda k: statistics.median(r[k] for r in rows)  # noqa: E731
    t = time.time()
    wl.prepare()
    return {"session_s": med(0), "register_s": med(1), "warm_up_s": med(2),
            "setup_median_s": med(3), "prepare_s": time.time() - t,
            "jvm_boot_setup_s": rows[0][3]}


def _measure(wl, seconds: float, tracer) -> list[tuple[float, float, float]]:
    """Closed-loop passes until ``seconds`` have passed (at least one);
    (start, end, wall time without output checks) per pass."""
    passes = []
    start = time.time()
    while not passes or time.time() - start < seconds:
        n = len(passes) + 1
        if tracer:
            tracer.pass_no = n
            tracer.enabled = True
        t0, c0 = time.time(), _cpu_ticks()
        wall = wl.run_pass(n)
        passes.append((t0, time.time(), wall))
        busy, steal, total = (b - a for a, b in zip(c0, _cpu_ticks()))
        # host contention shows as steal; it moves every wall-clock metric
        wl.pass_cpu.append({"cpu_s": busy / os.sysconf("SC_CLK_TCK"),
                            "steal_frac": steal / max(total, 1)})
        if tracer:
            tracer.enabled = False
    return passes


def end_to_end(wl, setup: dict, passes: list) -> tuple[dict, dict]:
    from perfbench.layers import pct

    ops = [op for op in wl.ops if op.pass_no >= 1]
    lat = [op.seconds for op in ops]
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op.seconds)
    p90 = pct(lat, 0.9)
    beyond = sum(1 for v in lat if v > p90)
    geo = math.exp(statistics.fmean(
        math.log(max(statistics.median(v), 1e-6)) for v in by_name.values()))
    metrics = {
        "setup_s": (setup["setup_median_s"] + setup["prepare_s"], "s"),
        "run_s": (statistics.median(w for _a, _b, w in passes), "s"),
        "op_p50_s": (pct(lat, 0.5), "s"),
        "op_p90_s": (p90, "s"),
        "op_geomean_s": (geo, "s"),
        "stored_mb": (wl.stored_mb, "MB"),
    }
    detail = {
        # both percentiles are over all op_samples of the run
        "op_samples": len(lat), "op_p90_samples_beyond": beyond,
        # fewer than 10 samples beyond the p90 make it one slow op's time
        "op_p90_s": p90 if beyond >= 10 else None,
        "op_medians_s": {k: statistics.median(v) for k, v in sorted(by_name.items())},
        "passes": len(passes), "pass_walls_s": [w for _a, _b, w in passes],
        "pass_cpu": wl.pass_cpu,
        # G1 grows the JVM heap with GC timing: across seeds this spreads
        # by ~30% of its median, too wide to gate, so it is reported only
        "peak_rss_mb": wl.peak_rss_mb,
    }
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, nproc)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    load_start = _load1()
    wl = WORKLOADS[args.workload](args.seed, work, nproc)
    phases: dict[str, float] = {}
    mark = [time.time()]

    def phase(name: str) -> None:
        now = time.time()
        phases[name] = now - mark[0]
        mark[0] = now

    try:
        wl.make_inputs()
        phase("inputs_s")
        from pyspark import SparkContext

        setup = _setup(wl)
        phase("setup_s")
        wl.expect()
        phase("expect_s")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(wl.spark, os.path.join(
                ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
            tracer.install()
            wl.tracer = tracer
        passes = _measure(wl, args.seconds, tracer)
        phase("measure_s")
        wl.peak_rss_mb = _hwm_mb("self") + _hwm_mb(SparkContext._gateway.proc.pid)
        harvest = tracer.harvest() if tracer else None
        if tracer:
            tracer.uninstall()
            wl.tracer = None
        wl.verify()
        phase("verify_s")
        wl.stored_mb = wl.stored_bytes() / 1024.0**2
        spark_version = wl.spark.version
        if args.trace:
            from perfbench.layers import per_layer

            metrics, detail = per_layer(wl, setup, passes, tracer, harvest)
        else:
            metrics, detail = end_to_end(wl, setup, passes)
    finally:
        if hasattr(wl, "restore"):
            wl.restore()
        if hasattr(wl, "duck"):
            wl.duck.close()
        wl.stop_session()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        phase("teardown_s")

    attempted = len(wl.ops)
    failed = sum(1 for op in wl.ops if not op.ok)
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "spark_version": spark_version,
        "load1_start": load_start, "load1_end": _load1(),
        "fail_frac": failed / attempted, "setup": setup,
        "initial_build_s": getattr(wl, "initial_build_s", None),
        "phases": phases, "failures": wl.failures[:20],
    })
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
