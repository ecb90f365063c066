"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository: the program under
test is the ``wd2sql_spark`` package found there, and every file the run
reads or writes stays inside the checkout (under ``.perfbench/``). The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see
``BENCHMARK.json``). The line before it is the run record: the workload's
own named metrics, every sample count, versions, load and input sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _process_tree(root_pid: int) -> dict[int, int]:
    """pid -> CPU clock ticks (user + system, reaped children included) of
    ``root_pid`` and every live process below it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    tree = {}
    for pid in ticks:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            tree[pid] = ticks[pid]
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every live process below
    it: the Python driver, its JVM and the JVM's Python workers."""
    return sum(_process_tree(root_pid).values()) / os.sysconf("SC_CLK_TCK")


class Run:
    """State of one run: the session, the tracer and every sample taken."""

    def __init__(self, args, root: str) -> None:
        from perfbench.trace import Tracer

        self.root = root
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.state = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        self.sf_dir = os.path.join(self.work, "tables")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(run_id=f"{args.workload}-{args.seed}", enabled=self.traced)
        self.spark = None
        self.registry = None
        self.phase = "setup"
        self.ops: list[tuple[str, str, float, bool]] = []  # name, kind, wall, ok
        self.bad: dict[str, str] = {}  # op name -> why it failed
        self.samples: dict[str, list[float]] = {}
        self.get_spark_s = 0.0
        self.load_all_modules_s = 0.0
        self.warmup_s = 0.0
        self.passes = 0
        self.timed_wall = 0.0
        self.timed_window = (0.0, 0.0)  # epoch seconds
        self.pass_walls: list[float] = []
        self.pass_cpus: list[float] = []
        self.span_stats: dict = {}

    # -- recording -----------------------------------------------------------
    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def op(self, name: str, kind: str, body) -> None:
        """Run one operation. In the timed phase its wall time is a sample;
        in any phase an exception marks ``name`` failed (never retried)."""
        t0 = time.perf_counter()
        ok = True
        try:
            body()
        except Exception:  # noqa: BLE001 - a failed operation is a result
            ok = False
            self.bad.setdefault(name, traceback.format_exc(limit=3).strip().splitlines()[-1])
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        if self.phase == "timed":
            self.ops.append((name, kind, wall, ok))

    def timed_setup(self, body) -> None:
        """Run part of the warm-up; its wall time counts toward setup."""
        t0 = time.perf_counter()
        body()
        self.warmup_s += time.perf_counter() - t0

    def latencies(self) -> list[float]:
        return [w for _, _, w, _ in self.ops]

    def op_walls(self, name: str) -> list[float]:
        return [w for n, _, w, _ in self.ops if n == name]

    def timed_spans(self) -> list:
        """Spans opened during the timed passes (not the warm-up's)."""
        lo, hi = self.timed_window
        return [s for s in self.tracer.spans if lo <= s.start and s.end <= hi]

    # -- session -------------------------------------------------------------
    def start_session(self) -> None:
        """Import the package, ``get_spark`` (which launches the JVM),
        ``load_all_modules``."""
        t0 = time.perf_counter()
        from wd2sql_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from wd2sql_spark.queries import load_all_modules

        self.registry = load_all_modules()
        self.tracer.spark_context = self.spark.sparkContext
        self.get_spark_s = t1 - t0
        self.load_all_modules_s = time.perf_counter() - t1

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def _spark_env(run: Run) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's directory; turn on the event log for traced runs."""
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    conf = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}",
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
    ]
    if run.traced:
        os.makedirs(run.event_dir)
        for k, v in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", f"file://{run.event_dir}"),
            ("spark.eventLog.rolling.enabled", "false"),
            ("spark.eventLog.compress", "false"),
        ):
            conf += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'"{c}"' if " " in c else c for c in conf
    ) + " pyspark-shell"


def _versions(run: Run) -> dict:
    import pyarrow

    jvm = run.spark._jvm.java.lang.System
    return {
        "spark": run.spark.version,
        "java": str(jvm.getProperty("java.version")),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def _e2e(run: Run, memory: dict, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (memory["python_hwm_mb"] + memory["jvm_hwm_mb"], "MB"),
        "pass_s": (statistics.median(run.pass_walls), "s"),
        "pass_cpu_s": (statistics.median(run.pass_cpus), "s"),
    }


def _overhead(run: Run, workload: str, e2e: dict, op_medians: dict) -> dict:
    """Traced minus untraced value of each end-to-end metric, against the
    newest untraced result of the same workload kept in this checkout, and
    how far each operation's spans sit from its untraced median wall."""
    res_dir = os.path.join(run.state, "results")
    best = None
    for name in os.listdir(res_dir):
        if name.startswith(f"{workload}-") and name.endswith("-trace0.json"):
            path = os.path.join(res_dir, name)
            if best is None or os.path.getmtime(path) > os.path.getmtime(best):
                best = path
    if best is None:
        return {}
    with open(best) as f:
        base = json.load(f)
    delta = {k: v[0] - base["e2e"][k][0] for k, v in e2e.items() if k in base["e2e"]}
    rel = {
        k: op_medians[k] / base["op_medians"][k] - 1.0
        for k in op_medians
        if base["op_medians"].get(k)
    }
    return {"against": os.path.basename(best), "traced_minus_untraced": delta, "op_span_vs_untraced": rel}


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "wd2sql_spark", "session.py")):
        print(f"no wd2sql_spark package under {root}: run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    run = Run(args, root)
    os.makedirs(run.work)
    os.makedirs(os.path.join(run.state, "results"), exist_ok=True)
    try:
        return _run(run, WORKLOADS[args.workload](), args, started)
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)


def _stop_jvm() -> None:
    """Shut the py4j gateway, wait for the JVM it launched to exit, then for
    every other process this run started (the JVM's Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = set(_process_tree(os.getpid())) - {os.getpid()}
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Whether ``pid`` is still running (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _run(run: Run, wl, args, started: float) -> int:
    """Set-up, timed passes, checks; print the result. ``setup_s`` runs
    from ``started``, the first step of ``main``, to the timed phase,
    without the input generation."""
    loads = [_loadavg1()]
    clock = [time.perf_counter()]
    phases = {}

    def phase_done(name: str) -> None:
        clock.append(time.perf_counter())
        phases[name] = clock[-1] - clock[-2]

    _spark_env(run)
    inputs = wl.prepare(run)
    phase_done("prepare_s")
    run.start_session()
    run.phase = "warmup"
    wl.warmup(run)
    phase_done("session_warmup_s")

    run.phase = "timed"
    steal0 = _steal_s()
    epoch0 = time.time()
    t0 = time.perf_counter()
    while run.passes == 0 or time.perf_counter() - t0 < run.seconds:
        p0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        wl.run_pass(run)
        run.pass_walls.append(time.perf_counter() - p0)
        run.pass_cpus.append(tree_cpu_s(os.getpid()) - c0)
        run.passes += 1
        loads.append(_loadavg1())
    run.timed_wall = time.perf_counter() - t0
    run.timed_window = (epoch0, time.time())
    steal = _steal_s() - steal0
    run.phase = "after"
    phase_done("timed_s")
    memory = {
        "python_hwm_mb": _vmhwm_kb(os.getpid()) / 1024,
        "jvm_hwm_mb": _vmhwm_kb(run.jvm_pid()) / 1024,
    }

    if hasattr(wl, "measure_outputs"):
        wl.measure_outputs(run)
    if run.traced and hasattr(wl, "trace_extra"):
        wl.trace_extra(run)
    versions = _versions(run)
    try:
        run.bad.update(wl.check(run))
    except Exception:  # noqa: BLE001 - a check that cannot run fails what it covers
        traceback.print_exc(file=sys.stderr)
        run.bad.update({name: "output check raised" for name, _, _, _ in run.ops})
    phase_done("checks_s")
    run.spark.stop()
    run.spark = None

    if run.traced:
        from perfbench.trace import fold_events, read_events

        run.span_stats = fold_events(read_events(run.event_dir), run.tracer.spans, run.tracer.aliases)

    attempted = len(run.ops)
    failed = sum(
        1
        for name, kind, _, ok in run.ops
        if not ok or name in run.bad or f"{kind}:{name}" in run.bad
    )
    setup_s = clock[2] - started - phases["prepare_s"]
    e2e = _e2e(run, memory, setup_s)
    detail = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"], **wl.detail(run)}
    op_medians = {}
    for name, kind, wall, _ in run.ops:
        op_medians.setdefault(f"{kind}:{name}", []).append(wall)
    op_medians = {k: statistics.median(v) for k, v in op_medians.items()}
    loads.append(_loadavg1())

    record = {
        "workload": args.workload,
        "seed": run.seed,
        "trace": int(run.traced),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "versions": versions,
        "loadavg1": {"start": loads[0], "end": loads[-1], "max": max(loads)},
        "cpu_steal_s_timed": steal,
        "phases": phases,
        "memory": memory,
        "inputs": inputs,
        "samples": {
            "passes": run.passes,
            "ops": attempted,
            **{k: len(v) for k, v in run.samples.items()},
        },
        "setup": {
            "get_spark_s": run.get_spark_s,
            "load_all_modules_s": run.load_all_modules_s,
            "warmup_s": run.warmup_s,
        },
        "e2e": e2e,
        "detail": detail,
        "op_medians": op_medians,
        "failures": run.bad,
    }

    if run.traced:
        layers = {
            "session.get_spark_s": run.get_spark_s,
            "queries.load_all_modules_s": run.load_all_modules_s,
            "catalog.warmup_s": run.warmup_s,
            **wl.layers(run),
            "host.loadavg1_max": max(loads),
            "host.nproc": len(os.sched_getaffinity(0)),
        }
        record["overhead"] = _overhead(run, args.workload, e2e, op_medians)
        spans_path = os.path.join(run.state, "results", f"{args.workload}-{run.seed}-spans.jsonl")
        run.tracer.write(spans_path)
        metrics = layers
    else:
        metrics = {k: v for k, (v, _) in e2e.items()}
    units = _units()
    result = {
        "correct": not run.bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units[run.traced].items()},
    }
    record_path = os.path.join(
        run.state, "results", f"{args.workload}-{run.seed}-trace{int(run.traced)}.json"
    )
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


def _units() -> dict[bool, dict[str, str]]:
    """Metric name -> unit for untraced (False) and traced (True) runs, as
    declared in BENCHMARK.json next to this directory."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    sys.exit(main())
