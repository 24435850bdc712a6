"""The repository's benchmark: one command, named workloads, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload markov_pipeline --seed 1 --seconds 10 --trace 0

``--workload`` is ``markov_pipeline``, ``operator_queries`` or ``all``
(every workload, one process).
The run builds its session through ``deeptime_spark.session.get_spark`` on
``local[nproc]``, generates the trajectories from ``--seed`` (the query ops
read the fixture tables under ``fixtures/``), and then:

1. sets up once (JVM launch and session build, input generation, table
   registration), timed from process start: ``setup_s``;
2. runs a first pass (``first_pass_s``) and one warm-up pass, then steady
   passes until ``--seconds`` have gone by (at least three);
3. checks every op's output in every pass, outside the timed region.

``--trace 1`` also runs a traced phase in a second session with Spark's
event log on: each op runs under its own job group and its plan is forced
before the action, and the log is parsed into per-layer metrics. A third,
untraced session then repeats the traced phase's passes as the reference
for ``trace.overhead_s``. Per-op and per-span detail goes to
``.perfbench/<workload>-seed<n>-trace<t>.json``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). An op that raises or returns a wrong output is
counted in ``failed`` and named on stderr; its time stays in its pass.
"""

from __future__ import annotations

import time

_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_STEADY_PASSES = 3

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "op_s_p50": "s",
    "op_s_p90": "s",
    "peak_pss_mb": "MB",
}

# per-layer metric -> layer tag of the ops whose span time it sums
LAYER_SPANS = {
    "covariance.fit_s": "covariance",
    "decomposition.eig_s": "decomposition",
    "clustering.fit_s": "clustering",
    "markov.count_s": "markov.count",
    "markov.mle_s": "markov.mle",
    "markov.analysis_s": "markov.analysis",
    "dedup.exec_s": "dedup",
    "retrieval.exec_s": "retrieval",
    "graph.exec_s": "graph",
    "streaming.exec_s": "streaming",
    "sources.exec_s": "sources",
}
# per-layer metric -> span field it sums
SPAN_FIELDS = {
    "query.build_s": "build_s",
    "catalyst.plan_s": "plan_s",
    "query.exec_s": "exec_s",
    "spark.jobs": "jobs",
    "spark.unattributed_jobs": "unattributed_jobs",
    "spark.tasks": "tasks",
    "spark.driver_gap_s": "driver_gap_s",
    "spark.executor_run_s": "executor_run_s",
    "spark.executor_cpu_s": "executor_cpu_s",
    "spark.gc_s": "gc_s",
    "spark.shuffle_read_mb": "shuffle_read_mb",
    "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.spill_mb": "spill_mb",
    "spark.scan_mb": "scan_mb",
    "spark.output_mb": "output_mb",
}
COUNTS = ("spark.jobs", "spark.unattributed_jobs", "spark.tasks")
LAYER_UNITS = {
    m: "count" if m in COUNTS else "MB" if m.endswith("_mb") else "s"
    for m in [
        "session.build_s",
        *LAYER_SPANS,
        *SPAN_FIELDS,
        # executor run time minus JVM CPU time: a proxy for Python-worker
        # and I/O time inside tasks
        "spark.executor_wait_s",
        "trace.overhead_s",
    ]
}


# ------------------------------------------------------------------ host


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(ram: int) -> str:
    """A quarter of host RAM, between 1g and 8g: leaves room for the Python
    workers and the driver process on a box without swap."""
    return f"{max(1, min(8, ram // 4 // 2**30))}g"


def heap_options(ram: int) -> str:
    """Fixed heap sizing for the driver JVM: initial heap = maximum heap (the
    driver memory) and a young generation of a sixth of it. Left to itself,
    G1 grows the heap and resizes the young generation from measured GC
    times, so on a shared host the memory peak of runs of the same code
    differed by a third; pinned, it follows what the program allocates and
    retains."""
    gib = int(driver_memory(ram)[:-1])
    return f"-Xms{gib}g -Xmn{gib * 1024 // 6}m"


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def _pss(pid: int) -> int:
    """Proportional set size in bytes: shared pages split between the
    processes sharing them, so a JVM's short-lived forks (Hadoop shell
    helpers) and forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class MemorySampler(threading.Thread):
    """Samples the summed PSS of this process and all its descendants (JVM,
    Python workers) and keeps the peak, with its split by process."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_split: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self.interval):
            pss = {p: _pss(p) for p in [me, *descendants(me)]}
            total = sum(pss.values())
            with self._lock:
                if total > self.peak:
                    self.peak = total
                    self.peak_split = {p: (_comm(p), v / 1e6) for p, v in pss.items()}

    def take(self) -> tuple[int, dict]:
        """Return the peak so far and start a new one."""
        with self._lock:
            out = (self.peak, self.peak_split)
            self.peak, self.peak_split = 0, {}
        return out

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


# --------------------------------------------------------------- session


def configure_environment(work: str, cpus: int, ram: int) -> None:
    """Keep every file the run writes inside ``work``, put the repository on
    the Python workers' path, and size the session from the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory(ram)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that spark-submit starts first, too
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"{java_opts} {heap_options(ram)}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf",
            "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def build_session():
    from deeptime_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_event_log(spark, log_dir: str | None) -> None:
    """Turn Spark's event log on (or off) for sessions built after this call
    in the running JVM: a new SparkContext reads ``spark.*`` JVM system
    properties as defaults."""
    system = spark.sparkContext._jvm.java.lang.System
    props = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    for k, v in props.items():
        if log_dir is None:
            system.clearProperty(k)
        else:
            system.setProperty(k, v)


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


# ------------------------------------------------------------------ passes


def corrupt(result):
    """A wrong copy of an op's output, for the benchmark's own tests."""
    import pandas as pd

    if isinstance(result, pd.DataFrame):
        return result.iloc[:-1]
    key = next(iter(result))
    return {**result, key: result[key] * 1.5}


class Runner:
    """Runs passes of one workload and keeps every op record."""

    def __init__(self, wl, check, seed: int, inject: str | None):
        self.wl, self.check, self.inject = wl, check, inject
        self.rng = np.random.default_rng([seed, 7])
        self.records: list[dict] = []

    def run_pass(self, kind: str, spark, state: dict, traced: bool = False) -> dict:
        from pyspark.sql import DataFrame

        ops = list(self.wl.ops)
        if self.wl.shuffle:
            ops = [ops[i] for i in self.rng.permutation(len(ops))]
        pass_no = len(self.records)
        rec = {"pass": pass_no, "kind": kind, "ops": []}
        sc = spark.sparkContext
        for op in ops:
            span = {"op": op.name, "group": f"perfbench-{pass_no}-{op.name}"}
            if traced:
                sc.setJobGroup(span["group"], op.name)
            error, out = None, None
            state["layers"] = {}
            t0 = time.time()
            t_built = t_planned = None
            try:
                if self.inject == "raise" and op is self.wl.ops[0]:
                    raise RuntimeError("injected failure")
                out = op.call(state)
                t_built = time.time()
                if isinstance(out, DataFrame):
                    if traced:
                        out._jdf.queryExecution().executedPlan()
                    t_planned = time.time()
                    out = out.toPandas()
            except Exception as e:  # noqa: BLE001 — a failing op is counted, not fatal
                first_line = (str(e).strip().splitlines() or [""])[0]
                error = f"{type(e).__name__}: {first_line[:300]}"
                traceback.print_exc(file=sys.stderr)
            t1 = time.time()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            span.update(start_ms=t0 * 1e3, end_ms=t1 * 1e3, wall_s=t1 - t0)
            span["layers"] = state.pop("layers") or {op.layer: t1 - t0}
            if t_planned is not None:
                span.update(build_s=t_built - t0, plan_s=t_planned - t_built, exec_s=t1 - t_planned)
            else:
                span.update(build_s=0.0, plan_s=0.0, exec_s=t1 - t0)
            problems = []
            if error is None:
                if self.inject == "wrong" and op is self.wl.ops[0]:
                    out = corrupt(out)
                try:
                    problems = self.check(op.name, out, state)
                except Exception as e:  # noqa: BLE001 — a malformed output fails its op
                    problems = [f"check raised {type(e).__name__}: {e}"]
            span["error"] = error
            span["problems"] = problems
            span["failed"] = error is not None or bool(problems)
            if span["failed"]:
                why = error or "; ".join(problems)
                print(f"perfbench: op {op.name} failed in pass {pass_no}: {why}", file=sys.stderr)
            rec["ops"].append(span)
            spark.catalog.clearCache()
        rec["time_s"] = sum(s["wall_s"] for s in rec["ops"])
        self.records.append(rec)
        return rec

    def steady(self, spark, state: dict, seconds: float) -> list[dict]:
        out, t0 = [], time.monotonic()
        while len(out) < MIN_STEADY_PASSES or time.monotonic() - t0 < seconds:
            out.append(self.run_pass("steady", spark, state))
        return out


def layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Median over the traced steady passes of each per-layer sum."""
    per_pass: dict[str, list[float]] = {}
    for p in passes:
        spans = p["ops"]
        vals = {m: sum(s["layers"].get(tag, 0.0) for s in spans) for m, tag in LAYER_SPANS.items()}
        vals.update({m: float(sum(s[f] for s in spans)) for m, f in SPAN_FIELDS.items()})
        vals["spark.executor_wait_s"] = vals["spark.executor_run_s"] - vals["spark.executor_cpu_s"]
        for k, v in vals.items():
            per_pass.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in per_pass.items()}


# ------------------------------------------------------------------- main


def run_workload(name: str, args, work: str, spark, mem: MemorySampler):
    """Set up, run and check one workload; return (spark, result, report)."""
    import workloads

    import eventlog

    wl = workloads.build(name, args.smoke, args.seed)
    mem.take()
    scratch_dir = os.path.join(work, "data", name)
    os.makedirs(scratch_dir)
    # a later workload of the same run starts in a new JVM too; stopping the
    # previous one is teardown, not set-up
    if spark is None:
        t0 = _T0
    else:
        shutdown(spark)
        t0 = time.monotonic()
    ts = time.monotonic()
    spark = build_session()
    session_s = time.monotonic() - ts
    data_dir = wl.generate(scratch_dir)
    state = wl.register(spark, data_dir)
    setup_s = time.monotonic() - t0

    check = wl.make_checker(data_dir)
    runner = Runner(wl, check, args.seed, args.inject)
    first = runner.run_pass("first", spark, state)
    # no metric uses the second pass: the second execution of an op is
    # still slower than the third
    runner.run_pass("warmup", spark, state)
    steady = runner.steady(spark, state, args.seconds)
    op_times = [s["wall_s"] for p in steady for s in p["ops"]]
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": first["time_s"],
        "pass_s": statistics.median(p["time_s"] for p in steady),
        "op_s_p50": float(np.percentile(op_times, 50)),
        "op_s_p90": float(np.percentile(op_times, 90)),
    }
    peak, peak_split = mem.take()
    e2e["peak_pss_mb"] = peak / 1e6
    report = {
        "workload": name,
        "sizes": wl.sizes,
        "session_build_s": session_s,
        "steady_passes": len(steady),
        "peak_pss_split": peak_split,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }
    layers = None
    if args.trace:
        log_dir = os.path.join(work, "eventlog", name)
        os.makedirs(log_dir, exist_ok=True)
        spark.stop()
        set_event_log(spark, log_dir)
        spark = build_session()
        set_event_log(spark, None)
        app_id = spark.sparkContext.applicationId
        state = wl.register(spark, data_dir)
        runner.run_pass("traced-warmup", spark, state, traced=True)
        traced = [runner.run_pass("traced", spark, state, traced=True) for _ in range(MIN_STEADY_PASSES)]
        spark.stop()
        path = os.path.join(log_dir, app_id)
        if not os.path.exists(path):
            path += ".inprogress"
        jobs, per_job = eventlog.parse(path)
        spans = [s for p in runner.records if p["kind"].startswith("traced") for s in p["ops"]]
        report["jobs_outside_spans"] = eventlog.attribute(spans, jobs, per_job)
        # the reference for the trace's cost: the same passes, untraced, in
        # a session built the same way in the same (warm) JVM
        spark = build_session()
        state = wl.register(spark, data_dir)
        runner.run_pass("reference-warmup", spark, state)
        reference = [runner.run_pass("reference", spark, state) for _ in range(MIN_STEADY_PASSES)]
        layers = layer_metrics(traced)
        layers["session.build_s"] = session_s
        layers["trace.overhead_s"] = statistics.median(p["time_s"] for p in traced) - statistics.median(
            p["time_s"] for p in reference
        )
    report["passes"] = runner.records
    attempted = sum(len(p["ops"]) for p in runner.records)
    failed_ops = sorted({s["op"] for p in runner.records for s in p["ops"] if s["failed"]})
    failed = sum(s["failed"] for p in runner.records for s in p["ops"])
    result = {"attempted": attempted, "failed": failed, "failed_ops": failed_ops, "op_samples": len(op_times),
              "e2e": e2e, "layers": layers}
    return spark, result, report


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    parser.add_argument(
        "--inject", choices=("raise", "wrong"), help="make the first op raise or return a wrong output (tests)"
    )
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    import workloads

    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in workloads.WORKLOADS:
            parser.error(f"unknown workload {n!r}; choose from {', '.join(workloads.WORKLOADS)} or all")
    # fail before starting anything when the package is missing
    import __spark_entry__  # noqa: F401
    import deeptime_spark.session  # noqa: F401

    cpus = len(os.sched_getaffinity(0))
    ram = host_ram_bytes()
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    configure_environment(work, cpus, ram)

    mem = MemorySampler()
    mem.start()
    spark = None
    results = {}
    try:
        for n in names:
            spark, results[n], report = run_workload(n, args, work, spark, mem)
            report.update(
                seed=args.seed,
                trace=args.trace,
                seconds=args.seconds,
                host={"nproc": cpus, "ram_gb": round(ram / 2**30, 2), "driver_memory": driver_memory(ram),
                      "heap_options": heap_options(ram)},
                result=results[n],
            )
            artefact = os.path.join(out_dir, f"{n}-seed{args.seed}-trace{args.trace}.json")
            with open(artefact, "w") as fh:
                json.dump(report, fh, indent=1, default=float)
            print(f"perfbench {n}: nproc={cpus} ram_gb={ram / 2**30:.1f} driver_memory={driver_memory(ram)} "
                  f"heap_options={shlex.quote(heap_options(ram))} "
                  f"sizes={json.dumps(report['sizes'])} artefact={os.path.relpath(artefact, ROOT)}")
            print(f"perfbench {n}: spark_conf={json.dumps(report['spark_conf'])}")
    finally:
        shutdown(spark)
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    metrics = {}
    for n, r in results.items():
        prefix = "" if len(results) == 1 else f"{n}."
        chosen = (r["layers"], LAYER_UNITS) if args.trace else (r["e2e"], E2E_UNITS)
        for k, unit in chosen[1].items():
            metrics[prefix + k] = {"value": float(chosen[0][k]), "unit": unit}
        for k, unit in E2E_UNITS.items():
            print(f"{n} {k} {r['e2e'][k]:.6g} {unit}")
        print(f"{n} op_samples {r['op_samples']}")
        print(f"{n} failed_ops_ratio {r['failed'] / r['attempted']:.4f} ({r['failed']} of {r['attempted']} op runs)"
              + (f" failed: {', '.join(r['failed_ops'])}" if r["failed_ops"] else ""))
        if args.trace:
            for k, unit in LAYER_UNITS.items():
                print(f"{n} {k} {r['layers'][k]:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
