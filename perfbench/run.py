"""Engine benchmark: one seeded workload in one process driving one local
Spark session.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see BENCHMARK.json and perfbench/layers.json). The line
before it carries diagnostics that are context, not metrics: per-call
medians, the first-half versus second-half median of the timed samples,
a CPU-burn sentinel and the load average.

Inputs are cached per workload and input variant (see inputs.py). On a
cache miss they are built by a child ``run.py --prepare`` in a Spark
session of its own, which exits before the measured session starts, so
every measured run starts from the same cold JVM. Everything a run
writes stays under ``.perfbench_work/`` in the checkout: cached inputs,
Spark scratch, the run's tables (removed at exit) and, for traced runs,
the span dump under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

#: local[N] worker threads of the measured session; the host has 4 CPUs
CORES = 2
#: worker threads of the input-building session (unmeasured)
PREPARE_CORES = 4
HEAP = "2g"
SHUFFLE_PARTITIONS = 4
WORK = ".perfbench_work"
PACKAGE = "embulk_filter_expand_json_spark"


def process_start() -> float:
    """Wall-clock start of this process, so set-up time includes
    interpreter start and imports. The age of the process is taken on one
    clock, the uptime clock that its start time in /proc counts on."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError):
        return time.time()


T_PROCESS = process_start()


def burn_s() -> float:
    """Single-process CPU-burn sentinel: wall time of a fixed hash chain."""
    t0 = time.perf_counter()
    h = hashlib.sha256(b"x")
    for _ in range(300_000):
        h = hashlib.sha256(h.digest())
    return time.perf_counter() - t0


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> dict:
    """Host CPU tick counters; ``steal`` grows when the hypervisor runs
    other guests on this machine's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": sum(v[:3]) + sum(v[5:7]), "idle": v[3] + v[4], "steal": v[7]}


class MemSampler:
    """Peak memory of the Spark JVM plus its descendant processes (the
    Python workers), sampled every 0.25 s on a background thread. Memory
    is the proportional set size: forked workers share pages with their
    daemon, and summing resident sets would count those pages twice."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for ln in f:
                    if ln.startswith("Pss:"):
                        return int(ln.split()[1])
        except OSError:
            pass
        return 0

    def _tree(self) -> list:
        parent = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self._pss_kb(p) for p in self._tree()))

    def _loop(self) -> None:
        while not self._stop.wait(0.25):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def start_session(root: str, work: str, cores: int = CORES):
    """One local Spark session. JVM steadiness controls: a fixed,
    pre-touched heap; ParallelGC with GC and JIT compiler threads capped."""
    from pyspark.sql import SparkSession

    java_opts = (
        f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
        f"-XX:ParallelGCThreads={cores} -XX:CICompilerCount=2"
    )
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers import the engine from the checkout; scratch stays in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    # spark.local.dir; the environment variable takes precedence over the conf
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", f"{java_opts} -Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--wrong-digest",
        action="store_true",
        help="self-test: corrupt the expected digest (cdc_tail: the table; "
        "batch_ops: the decoded log); the run must then report failed "
        "operations and correct=false",
    )
    p.add_argument(
        "--prepare",
        action="store_true",
        help="only build the cached inputs of (workload, seed), then exit",
    )
    return p.parse_args(argv)


def prepare(root: str, work: str, args) -> float:
    """Build missing inputs in a child process that exits before the
    measured session starts. -> seconds spent (0.0 on a cache hit)"""
    import inputs

    if inputs.ready(work, args.workload, args.seed):
        return 0.0
    t0 = time.time()
    cmd = [
        sys.executable, os.path.abspath(__file__), "--prepare",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", "0",
    ]
    subprocess.run(cmd, cwd=root, check=True, stdout=sys.stderr)
    # flush the new files now, not as write-back during the measured run
    os.sync()
    if not inputs.ready(work, args.workload, args.seed):
        raise RuntimeError(f"input build of {args.workload} seed {args.seed} left no meta.json")
    return time.time() - t0


def build_inputs(root: str, work: str, args) -> int:
    import inputs

    spark = start_session(root, work, PREPARE_CORES)
    try:
        inputs.build(spark, work, args.workload, args.seed)
    finally:
        stop_session(spark)
    return 0


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(
            f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    args = parse_args(argv)
    work = os.path.join(root, WORK)
    if args.prepare:
        return build_inputs(root, work, args)
    import workloads

    declared = workloads.declared_metrics(root)
    prepare_s = prepare(root, work, args)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    ticks0 = cpu_ticks()
    context = {"burn_s_before": burn_s(), "loadavg_before": loadavg()}
    spark = start_session(root, work)
    t_session = time.time()
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    mem = MemSampler(int(pid))
    mem.start()
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, run_dir, args, mem, declared)
        # the input build and the burn sentinel are not set-up
        result = wl.execute(T_PROCESS + prepare_s + context["burn_s_before"], t_session)
    finally:
        mem.stop()
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    ticks = {k: v - ticks0[k] for k, v in cpu_ticks().items()}
    context.update(
        burn_s_after=burn_s(),
        loadavg_after=loadavg(),
        steal_share=ticks["steal"] / max(sum(ticks.values()), 1),
    )
    result["diagnostics"]["context"] = context
    result["diagnostics"]["input_build_s"] = prepare_s
    result["diagnostics"]["peak_pss_mb"] = mem.peak_kb / 1024.0
    if not args.trace:
        result["metrics"] = workloads.emit(
            declared["end_to_end"], {**result["metrics"], "peak_pss_mb": mem.peak_kb / 1024.0}
        )
    print(json.dumps({"diagnostics": result.pop("diagnostics")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
