"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run drives one Spark application at
``local[nproc]`` from a single closed-loop client — the next operation
is issued only after the previous one returned — through one workload
(``workloads.py``). Inputs come from the seed and are cached per
(workload, seed) under ``.perfbench_work/inputs``, outside every timed
region. Every timed operation's output is checked against an oracle.
The last line of stdout is the JSON result; with ``--trace 1`` its
metrics are the per-layer ones (``layers.py``), including the end-to-end
figures measured with tracing on as ``trace.*``. README.md in this
directory defines every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s takes their median
END_TO_END = {"items_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
EVENT_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "executor_cpu_s": "s",
               "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_heap() -> str:
    """Driver heap from MemTotal (an eighth, 1-4 GiB), not get_spark's 16g.
    The heap is fixed (-Xms = -Xmx) so that heap resizing does not move
    the peak RSS from run to run."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, kb // 1024 // 8))}m"


class Run:
    """One run's identity, scratch directory and checked operations."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.run_id = f"{workload}-s{seed}-p{os.getpid()}"
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        self.attempted = self.failed = 0
        self.timings: list[float] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def timed_loop(self, wl) -> None:
        """Closed loop for ``seconds`` and at least ``wl.min_ops``
        operations; each output is verified outside its timed interval."""
        end = time.perf_counter() + self.seconds
        i = 0
        while i < wl.min_ops or time.perf_counter() < end:
            try:
                t0 = time.perf_counter()
                out = wl.op()
                dt = time.perf_counter() - t0
                ok = wl.verify(out)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                traceback.print_exc()
                ok = False
            if self.check(ok, f"operation #{i}"):
                self.timings.append(dt)
            i += 1


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "webcrawler_spark", "__init__.py")):
        fail("run from the repository root: webcrawler_spark/ is not here")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    sys.path.insert(0, root)
    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run = Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run.work, d))
    try:
        result = execute(run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))


def execute(run: Run) -> dict:
    """Generate inputs, launch the JVM, run the workload, stop the JVM."""
    import tempfile

    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [run.root, os.path.dirname(os.path.abspath(__file__))]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tempfile.tempdir = None  # re-read TMPDIR

    from inputs import ensure_inputs
    from pyspark import SparkConf, SparkContext
    from workloads import SIZING

    pre_s = time.perf_counter() - T_PROCESS
    inputs, props = ensure_inputs(os.path.join(run.root, ".perfbench_work", "inputs"),
                                  run.workload, run.seed, SIZING[run.workload])
    heap = driver_heap()
    launch_conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(launch_conf.items()))
    jvm_s = time.perf_counter() - t0
    log(f"inputs ready; JVM launched in {jvm_s:.2f}s")
    gateway = SparkContext._gateway
    try:
        return cycle(run, inputs, props, launch_conf, pre_s + jvm_s, jvm_s)
    finally:
        active = SparkContext._active_spark_context
        if active is not None:
            active.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def cycle(run: Run, inputs: str, props: dict, launch_conf: dict, pre_s: float,
          jvm_s: float) -> dict:
    from pyspark import SparkContext

    from spans import EVENT_FIELDS, Tracer, tally_event_log, vmhwm_mb
    from webcrawler_spark.session import get_spark
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    partitions = cores  # get_spark: shuffle partitions sized to cores
    conf = dict(launch_conf)
    if run.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    wl = WORKLOADS[run.workload](run, inputs, props, partitions)

    # set-up, repeated in fresh sessions of the one JVM: session start,
    # input read, sidecar build / index open
    setups = []
    for k in range(SETUPS):
        if setups:
            wl.tear_down()
            wl.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=partitions, extra_conf=conf)
        session_s = time.perf_counter() - t0
        wl.set_up(spark, k)
        setups.append({"total_s": time.perf_counter() - t0, "session_s": session_s})
        log(f"set-up {k}: {setups[-1]['total_s']:.2f}s (session {session_s:.2f}s)")
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = pre_s + statistics.median(s["total_s"] for s in setups) + warm_s
    log(f"warm-up {warm_s:.2f}s")
    wl.oracle()
    log("oracle done")
    run.timed_loop(wl)
    if not run.timings:
        fail("no timed operation succeeded")
    rss = vmhwm_mb(SparkContext._gateway.proc.pid)
    log("VmHWM MB by pid: " + ", ".join(f"{p}={v:.0f}" for p, v in rss.items()))
    e2e = {"items_per_s": wl.items / statistics.median(run.timings), "setup_s": setup_s,
           "peak_rss_mb": sum(rss.values())}
    log("timed operations (s): " + " ".join(f"{x:.3f}" for x in run.timings))
    print(f"# {run.run_id} local[{cores}] heap={launch_conf['spark.driver.memory']} "
          f"jvm_launch_s={jvm_s:.3f} warm_up_s={warm_s:.3f} timed_ops={len(run.timings)}")
    print("# inputs " + json.dumps(props))

    if not run.trace:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    else:
        from layers import SPANS, probe_layers

        tracer = Tracer(run.run_id)
        metrics = probe_layers(wl.spark, run.work, inputs, props, tracer)
        log("per-layer spans done: " + ", ".join(
            f"{k}={v:.2f}s" for k, v in tracer.walls.items()))
        fr = props["frontier"]
        run.check(metrics["crawl.kernel.admitted_rows"][0] == fr["admitted"]
                  and metrics["crawl.kernel.duplicate_rows"][0] == fr["text_duplicate_rows"],
                  "traced kernel row counts == generator ground truth")
        metrics["session.start_s"] = (statistics.median(s["session_s"] for s in setups), "s")
        metrics["session.jvm_launch_s"] = (jvm_s, "s")
        metrics["session.warm_up_s"] = (warm_s, "s")
        for k, v in e2e.items():
            metrics[f"trace.{k}"] = (v, END_TO_END[k])
        app_id = wl.spark.sparkContext.applicationId
        wl.tear_down()
        wl.spark.stop()
        logs = [f for f in os.listdir(os.path.join(run.work, "eventlog")) if f.startswith(app_id)]
        if len(logs) != 1:
            fail(f"expected one event log for {app_id}, found {logs}")
        tally = tally_event_log(os.path.join(run.work, "eventlog", logs[0]), SPANS)
        for g in SPANS:
            for f in EVENT_FIELDS:
                metrics[f"{g}.{f}"] = (tally[g][f], EVENT_UNITS[f])
    for name, (v, unit) in metrics.items():
        print(f"# {name} = {v} {unit}")
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    main()
