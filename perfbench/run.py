"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the package's layer modules in spans, turns
on Spark's event log and prints the per-layer metrics instead. A line of
run facts (master, cores, driver memory, seed, corpus size, program
digest, sample counts, CPU steal, host slowdown, the timings as measured
before scaling to reference host speed, secondary figures) precedes the
result line.

Everything the run writes goes under ``.perfbench/`` in the repository
root: the per-(seed, size) input cache, and a per-process directory for
Spark's local dirs, the index directories and the event log, removed at
exit. The one exception is the program's own: ``session.ensure_py_files``
zips the package to a per-process file under /tmp, which the run also
removes at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "pyf_aggregator_spark")
DEFAULT_TURNS = 5_000


def _rss_tree_kb(pid: int) -> int:
    """Resident set of ``pid`` and all its descendants (the driver JVM and
    the Python workers it forks), from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the process tree's resident set every ``interval`` s."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.samples: list[tuple[float, int]] = []  # (perf_counter, kB)
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.samples.append((time.perf_counter(), _rss_tree_kb(os.getpid())))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def peak_mb(self, until: float) -> float:
        return max(kb for t, kb in self.samples if t <= until) / 1024


def _program_digest() -> str:
    """The checkout is not a git repository; this names the program
    version instead of a commit."""
    h = hashlib.sha1()
    for root, dirs, files in sorted(os.walk(PKG_DIR)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=DEFAULT_TURNS,
                    help="corpus size in transcript turns")
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"run.py: program source {PKG_DIR} not found; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from inputs import load_inputs
    from report import end_to_end, per_layer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    t0 = time.perf_counter()
    inputs = load_inputs(os.path.join(work, "inputs"), args.seed, args.turns)
    input_s = time.perf_counter() - t0

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    # half the CPUs for Spark tasks, half for the driver JVM and the Python
    # driver, which run on their own machine in a deployment. On a 4-vCPU
    # VM, one seed run four times gave a 13% latency range on local[2]
    # against 47% on local[4], at the same median latency.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    driver_mb = min(2048, _host_memory_mb() // 4)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYFAGG_SEG_CACHE=os.path.join(run_dir, "segcache"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # for the launcher JVM too; -XX:-UsePerfData keeps both out of
        # /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    )
    conf = {"spark.ui.showConsoleProgress": "false"}
    tracer = None
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })

    from pyf_aggregator_spark import session

    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()

    steal0 = _steal_s()
    # walking /proc competes with the driver for the GIL: traced runs only
    rss = RssSampler() if args.trace else None
    if rss:
        rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_start_s = time.perf_counter() - t0
        run = Run(spark, inputs, run_dir, tracer, cores)
        result = WORKLOADS[args.workload](run, args.seconds)
        checks_s = time.perf_counter() - run.window_done
        gc_ms = _jvm_gc_ms(spark)
        master = spark.sparkContext.master
        _stop_spark(spark)
        spark = None
        if rss:
            rss.stop()
        facts = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": master, "cores": cores,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "turns": args.turns, "text_bytes": inputs.text_bytes,
            "program": _program_digest(), "input_gen_s": round(input_s, 3),
            "session_start_s": round(session_start_s, 3),
            "window_s": round(run.window_done - run.setup_done, 3),
            "checks_s": round(checks_s, 3),
            "steal_s": round(_steal_s() - steal0, 2),
            "samples": result["samples"],
            "host_slowdown": run.host_slowdown(),
            "measured": {"query_gmean_ms": result["query_gmean_ms"],
                         "bulk_gmean_s": result["bulk_gmean_s"]},
            "extra": result["extra"],
            "errors": run.errors[:5],
        }
        if args.trace:
            # peak until the window ends: the answer checks come after it
            metrics = per_layer(run, result, tracer, os.path.join(run_dir, "eventlog"),
                                session_start_s, gc_ms, rss.peak_mb(until=run.window_done))
        else:
            metrics = end_to_end(run, result, run.setup_done - PROCESS_START - input_s)
    finally:
        if spark is not None:
            _stop_spark(spark)
        if rss:
            rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        # session.ensure_py_files zips the package under /tmp, one file per process
        zip_path = f"/tmp/pyf_aggregator_spark_pyfiles_{os.getpid()}.zip"
        for f in (zip_path, zip_path + ".tmp"):
            if os.path.exists(f):
                os.remove(f)

    failed = sum(not r.ok for r in run.records)
    print(json.dumps(facts))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
