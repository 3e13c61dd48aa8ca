#!/usr/bin/env python3
"""The repository benchmark: one command, a workload name and a seed.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is hermetic: it generates its inputs
from the seed under a fresh run directory (warehouse, Spark local dir and
inputs), starts one local Spark session sized to the host, sets up and
warms the workload, measures operations in a closed loop with one client for
``--seconds`` (or longer, until the workload's minimum number of operation
groups has run), checks every output without timing the checks, and prints
one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, taken
from a run whose operations alternate between traced and untraced, so the
difference between the two halves is the tracing overhead. The traced run
writes its spans and the per-operation breakdown to the sidecar
``perfbench/out/<workload>-seed<seed>-trace<trace>.json``.

The host is a share of a machine other tenants also load. Each operation
records the share of the VM's CPU time the hypervisor stole while it ran;
the timing metrics use the samples taken while that share stayed under
``STEAL_MAX``, when an operation has any, and the sidecar keeps them all.

An operation is one query (``adhoc``), one ``build`` of the paper's DAG
(``paper_dag``) or one run of the LLM-data pipeline (``llm_pipeline``). An
operation that raises or gives a wrong output counts as failed. The first
two are the workloads of ``BENCHMARK.json``; ``llm_pipeline`` runs with the
same command but is left out of it, because a third workload's runs do not
fit the benchmark's time budget.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Workload names, each the module that defines it.
WORKLOADS = ("adhoc", "paper_dag", "llm_pipeline")
#: How often the repeatable part of set-up (input generation) runs; its
#: median enters ``setup_s``.
SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def host_env(run_dir: str) -> dict[str, str]:
    """Size the engine to this host: all cores the process may use, and a
    driver heap of 2 GiB, or a quarter of available memory where that is
    less. The heap is fixed rather than a share of what happens to be free,
    because a heap that changes from run to run changes GC time with it."""
    cpus = len(os.sched_getaffinity(0))
    avail_kb = 8 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap_mb = max(512, min(2048, avail_kb // 1024 // 4))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Python workers import the engine's operators by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


#: vCPUs of the VM, over which ``/proc/stat`` sums steal time.
CPUS = os.cpu_count() or 1
#: An operation during which the hypervisor took more than this share of
#: the VM's CPU time ran on a contended host, not just on the program: the
#: timing metrics leave it out while undisturbed samples of the same
#: operation exist. An undisturbed host steals well under 1%.
STEAL_MAX = 0.02


def steal_s() -> float:
    """CPU time the hypervisor has taken from this VM's vCPUs since boot;
    its growth over a run tells a slow host from a slow program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping metadata files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Run:
    """State shared by the harness and one workload."""

    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dir = run_dir
        self.rng = random.Random(args.seed)
        self.threads = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.failures: list[str] = []
        self.sidecar: dict = {}

    @staticmethod
    def stored(path: str) -> tuple[int, int]:
        return dir_bytes(path)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED: {what}")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(run: Run, wl) -> dict:
    """Warm up, then run operation groups for ``run.seconds``. In a traced
    run, groups alternate between untraced (even) and traced (odd)."""
    attempted = failed = 0
    warm_walls = []
    for _ in range(wl.WARM_GROUPS):
        gt = time.perf_counter()
        for name, fn in wl.group():
            attempted += 1
            failed += not _call(run, wl, name, fn)[0]
        warm_walls.append(time.perf_counter() - gt)
    # (group, operation, seconds, share of the VM's CPU time stolen meanwhile)
    plain: list[tuple[int, str, float, float]] = []
    traced: list[tuple[int, str, float, float]] = []
    group_walls: list[float] = []
    group_ops: list[int] = []
    group_stolen: list[float] = []
    counters: list[dict] = []
    t0 = time.perf_counter()
    g = 0
    # traced: untraced, traced, untraced, ...; the first group is left out
    # of the overhead comparison, since a workload without warm-up runs it cold
    min_groups = 3 if run.trace else wl.MIN_GROUPS
    while g < min_groups or time.perf_counter() - t0 < run.seconds:
        on = run.trace and g % 2 == 1
        if on:
            run.tracer.install()
        gt = time.perf_counter()
        n = 0
        stolen_s = 0.0  # operation seconds weighted by their stolen share
        try:
            for name, fn in wl.group():
                n += 1
                if on:
                    op_id = f"g{g}:{name}"
                    with run.tracer.op(op_id) as c:
                        ok, dt, stolen = _call(run, wl, name, fn)
                    c["op"] = name
                    annotate(run.tracer, wl, op_id, c)
                    counters.append(c)
                else:
                    ok, dt, stolen = _call(run, wl, name, fn)
                attempted += 1
                failed += not ok
                stolen_s += dt * stolen
                (traced if on else plain).append((g, name, dt, stolen))
        finally:
            if on:
                run.tracer.uninstall()
        if not on:
            group_walls.append(time.perf_counter() - gt)
            group_ops.append(n)
            group_stolen.append(stolen_s / group_walls[-1])
        g += 1
    window = time.perf_counter() - t0
    return {
        "plain": plain, "traced": traced, "group_walls": group_walls,
        "group_ops": group_ops, "group_stolen": group_stolen,
        "counters": counters, "attempted": attempted, "failed": failed,
        "t0": t0, "window_s": window, "warm_walls": warm_walls,
    }


def annotate(tracer, wl, op_id: str, c: dict) -> None:
    """Per-operation layer figures from the operation's spans."""
    spans = [sp for sp in tracer.spans if sp.op == op_id and sp.end is not None]
    build = [sp for sp in spans if sp.name in wl.BUILD_SPANS]
    c["build_s"] = sum(sp.end - sp.start for sp in build)
    c["eager_jobs"] = sum(sp.attrs["jobs"] for sp in build)
    routes = [sp for sp in spans if "route_hit" in sp.attrs]
    c["route_s"] = sum(sp.end - sp.start for sp in routes)
    c["route_checks"] = len(routes)
    c["routable"] = int(bool(routes))
    c["route_hits"] = int(any(sp.attrs["route_hit"] for sp in routes))
    c["materialize_calls"] = sum(sp.name == "materialize" for sp in spans)
    wl.annotate(c, spans)


def _call(run: Run, wl, name: str, fn) -> tuple[bool, float, float]:
    """One timed operation, as (ok, wall seconds, share of the VM's CPU
    time the hypervisor took meanwhile); its output is checked after the
    clock stops."""
    s0 = steal_s()
    t = time.perf_counter()
    exc = None
    try:
        out = fn()
    except Exception:  # an operation that raises counts as failed
        exc = traceback.format_exc(limit=4)
    dt = time.perf_counter() - t
    stolen = (steal_s() - s0) / (dt * CPUS)
    if exc is not None:
        run.fail(f"{name} raised:\n{exc}")
        return False, dt, stolen
    problem = wl.check_op(name, out)
    if problem:
        run.fail(f"{name}: {problem}")
        return False, dt, stolen
    return True, dt, stolen


def undisturbed(samples: list[tuple[float, float]]) -> list[float]:
    """The values of (value, stolen share) pairs measured while the host
    stole at most ``STEAL_MAX``, or all values if none was."""
    return [v for v, st in samples if st <= STEAL_MAX] or [v for v, _ in samples]


def op_p50(samples: list[tuple[int, str, float, float]]) -> float:
    """Each operation's median undisturbed latency over the groups,
    averaged over the operations of a group. A pooled median over a mix of
    queries would jump between neighbouring queries' latencies; a median
    per operation also keeps one slow sample (a GC pause) out of the
    figure."""
    by_op: dict[str, list[tuple[float, float]]] = {}
    for _g, name, dt, stolen in samples:
        by_op.setdefault(name, []).append((dt, stolen))
    return statistics.fmean(_median(undisturbed(v)) for v in by_op.values())


def half_drift(samples: list[float]) -> float | None:
    """Median of the second half of the timed samples over the median of
    the first half, minus one: near zero when warm-up was long enough."""
    if len(samples) < 2:
        return None
    h = len(samples) // 2
    return _median(samples[h:]) / _median(samples[:h]) - 1.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        importlib.import_module("dbt_analytics_spark")
    except ImportError as exc:
        log(f"the engine package is not importable from {ROOT}: {exc}")
        return 2

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update(host_env(run_dir))
    run = Run(args, run_dir)
    wl = importlib.import_module(args.workload).Workload(run)
    try:
        return run_workload(run, wl, args)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM (its
    Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(run: Run, wl, args) -> int:
    """Start Spark, set up, measure, check and print the result line."""
    from dbt_analytics_spark.session import get_spark

    t = time.perf_counter()
    run.spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run.dir, "warehouse"),
            "spark.local.dir": os.path.join(run.dir, "local"),
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch files inside the run directory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run.dir}/tmp -Dderby.system.home={run.dir} "
                "-XX:-UsePerfData"
            ),
        },
    )
    run.spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    sc = run.spark.sparkContext
    host = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "loadavg_before": os.getloadavg(),
    }
    steal0 = steal_s()
    log(f"session {session_s:.2f}s {host}")

    inputs_s = []
    for i in range(SETUP_REPEATS):
        dest = os.path.join(run.dir, f"inputs{i}")
        t = time.perf_counter()
        wl.make_inputs(dest)
        inputs_s.append(time.perf_counter() - t)
        if i:  # keep the first copy: the repeats only time generation
            shutil.rmtree(dest)
    wl.use_inputs(os.path.join(run.dir, "inputs0"))
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    if run.trace:
        from tracing import Tracer

        run.tracer = Tracer(run.spark)
        wl.hook(run.tracer)
    m = measure(run, wl)
    warm_s = m["t0"] - t
    # process start to the first timed operation, with the repeated input
    # generation counted once, at its median
    setup_s = m["t0"] - T_START - (sum(inputs_s) - _median(inputs_s))
    log(f"setup {setup_s:.2f}s (session {session_s:.2f}, inputs "
        f"{_median(inputs_s):.2f}, prepare {prepare_s:.2f}, warm-up groups "
        f"{[round(w, 2) for w in m['warm_walls']]})")

    t = time.perf_counter()
    try:
        checked, wrong = wl.check_run()  # once per run, untimed
    except Exception:  # a check that cannot run counts as a wrong output
        run.fail(f"output check raised:\n{traceback.format_exc(limit=4)}")
        checked, wrong = 1, 1
    check_s = time.perf_counter() - t
    log(f"output checks {check_s:.2f}s: {checked - wrong}/{checked} passed")
    attempted = m["attempted"] + checked
    failed = m["failed"] + wrong
    stored = wl.stored_bytes()
    jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
    host["loadavg_after"] = os.getloadavg()
    host["steal_s"] = steal_s() - steal0

    lat = [d for _, _, d, _ in m["plain"]]
    drift = half_drift(m["group_walls"])
    calm = sum(st <= STEAL_MAX for *_, st in m["plain"])
    log(f"{len(lat)} timed ops in {len(m['group_walls'])} groups, {calm} "
        f"undisturbed; first/second-half drift {drift}")
    if run.trace:
        metrics = per_layer(run, wl, m, session_s, _median(inputs_s), warm_s, drift)
        metrics["memory.peak_rss_mb"] = (rss, "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (op_p50(m["plain"]), "s"),
            "ops_per_s": (_median(undisturbed([
                (n / w, st) for w, n, st in
                zip(m["group_walls"], m["group_ops"], m["group_stolen"])
            ])), "1/s"),
            "stored_mb": (stored / 1e6, "MB"),
        }
    side = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "setup": {"session_s": session_s, "inputs_s": inputs_s,
                                "prepare_s": prepare_s, "warm_group_s": m["warm_walls"]},
        "check_s": check_s,
        "timed_ops": m["plain"], "traced_ops": m["traced"],
        "group_walls_s": m["group_walls"], "group_stolen": m["group_stolen"],
        "undisturbed_ops": calm, "half_drift": drift,
        "op_quantiles_s": _quantiles(lat), "peak_rss_mb": rss, "failures": run.failures,
        **run.sidecar,
    }
    if run.trace:
        side["per_op"] = m["counters"]
        side["self_time_s"] = run.tracer.self_times()
        side["spans"] = run.tracer.dump()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(side, f, indent=1, default=str)

    result = {
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _quantiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"n": len(xs), "p50": _median(xs)}
    q = statistics.quantiles(xs, n=10)
    return {"n": len(xs), "p50": _median(xs), "p90": q[8]}


def per_layer(run: Run, wl, m, session_s, inputs_s, warm_s, drift) -> dict:
    """Per-layer metrics: mean per traced operation unless stated."""
    ops = m["counters"]
    n = max(len(ops), 1)
    mean = lambda key: sum(c.get(key, 0.0) for c in ops) / n  # noqa: E731
    plain = _median([d for g, _, d, _ in m["plain"] if g > 0])
    traced = _median([d for _, _, d, _ in m["traced"]])
    out = {
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (inputs_s, "s"),
        "setup.warm_s": (warm_s, "s"),
        "op.traced_p50_s": (traced, "s"),
        "trace.overhead_ratio": (traced / plain - 1.0 if plain else 0.0, "ratio"),
        "op.half_drift": (drift or 0.0, "ratio"),
        "driver.build_s": (mean("build_s"), "s"),
        "catalyst.plan_s": (mean("plan_s"), "s"),
        "spark.exec_s": (mean("exec_s"), "s"),
        "plans.route_s": (mean("route_s"), "s"),
        "py4j.calls": (mean("py4j_calls"), "count"),
        "spark.actions": (mean("actions"), "count"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "eager.jobs": (mean("eager_jobs"), "count"),
        "spark.shuffle_mb": (mean("shuffle_bytes") / 1e6, "MB"),
        "spark.spill_mb": (mean("spill_bytes") / 1e6, "MB"),
        "arrow.sent_mb": (mean("python_sent_bytes") / 1e6, "MB"),
        "plans.route_checks": (mean("route_checks"), "count"),
        "plans.route_hit_ratio": (
            sum(c.get("route_hits", 0) for c in ops)
            / max(sum(c.get("routable", 0) for c in ops), 1), "ratio"),
        "materialize.calls": (mean("materialize_calls"), "count"),
        "materialize.files": (mean("materialize_files"), "count"),
        "materialize.mb": (mean("materialize_bytes") / 1e6, "MB"),
        "registry.idle_ratio": (mean("idle_ratio"), "ratio"),
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
