"""Crawl-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload frontier_wave --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Load shape: a closed loop — this
process is the only client and runs one wave or crawl at a time on a
``local[nproc]`` Spark session with ``nproc`` shuffle partitions.

Phases:
1. Set-up, repeated ``SETUP_REPS`` times (``setup_s`` is the median):
   start a Spark session (the first repetition launches the JVM; later
   ones stop the session and start a new one in the same JVM), warm up
   the Python workers and Arrow, then generate the seeded inputs and
   persist them.
2. The exact reference (the golden oracle for the crawls), untimed.
3. The workload's untimed warm-up iterations, then the timed ones,
   tracing off: ``round(--seconds / NOMINAL_S)`` of them (at least one),
   where ``NOMINAL_S`` is the workload's iteration time on the reference
   host, so the timed part lasts about ``--seconds`` while the count
   stays independent of the code's speed. Every iteration's output,
   warm-up included, is checked. Each timed iteration also records the
   CPU seconds of the whole process tree (driver Python, JVM, Python
   workers): the throughput metrics are work per CPU-second, because on
   a shared host wall time follows how much CPU the hypervisor steals
   (reported as ``timed_steal_share``), while CPU time mostly does not.
   Wall-clock throughput is in the context line.
4. With ``--trace 1``: one more iteration with layer spans, reported as
   the per-layer metrics, and the spans written under
   ``.perfbench_out/``.

stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``; the line before it holds the host context. Exit code 0
when every output was correct, 1 when one was not, 2 when the checkout
lacks the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_MEMORY = "1g"
_FORBIDDEN_ON_FRONTIER = ("fetch", "extract", "store.", "sinks.")


def _descendants() -> list[int]:
    """PIDs of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, JVM, Python workers), summed from /proc/<pid>/statm.
    (statm is cheap to read; smaps_rollup, which would give shared-page
    aware PSS, takes the JVM's memory-map lock and measurably slows it.)"""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + _descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._done.wait(self.period_s)

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=10)


def steal_jiffies() -> int:
    """Cumulative CPU-steal jiffies from /proc/stat (0 if unavailable)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its live
    descendants, from /proc/<pid>/stat."""
    ticks = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def check_checkout() -> str | None:
    for part in ("photon_spark", "fixtures", "oracle", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, part)):
            return f"{part} not found under {ROOT}: run from a full source checkout"
    return None


def isolate(tmp: str) -> None:
    """Keep Spark's scratch space, the warehouse and temp files inside
    this run's temp dir. Must run before the JVM starts."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
    )


def start_session(nproc: int):
    from photon_spark.session import get_spark

    return get_spark(cores=nproc, shuffle_partitions=nproc, app_name="perfbench",
                     driver_memory=DRIVER_MEMORY)


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def warm_up(spark, nproc: int) -> None:
    """Start every Python worker and push one Arrow batch through each."""
    from pyspark.sql import functions as F

    plus_one = F.pandas_udf(_plus_one, "long")
    spark.range(0, 4096 * nproc, numPartitions=nproc).select(
        F.sum(plus_one("id"))
    ).collect()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Terminate and wait for any process this run still has."""
    for _ in range(50):
        pids = _descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGTERM)
            except OSError:
                pass
        time.sleep(0.2)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except OSError:
                pass


def _timed(wl):
    """One untraced iteration, with the CPU seconds the process tree
    spent on it. CPU time leaves out the time a shared host's hypervisor
    steals from this machine's cores, which wall time does not."""
    cpu0 = tree_cpu_s()
    it = wl.run_once()
    it.cpu_s = tree_cpu_s() - cpu0
    return it


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    problem = check_checkout()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # SIGTERM (a timeout) unwinds like an error, so the cleanup below
    # still stops the JVM, the workers and the server.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    isolate(tmp)
    sampler = RssSampler()
    sampler.start()
    held: dict = {}  # the Spark session and workload to release at exit
    try:
        return _run(args, spec, tmp, sampler, held)
    finally:
        sampler.stop()
        if "workload" in held:
            held["workload"].close()
        if "spark" in held:
            stop_spark(held["spark"])
        reap_children()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def _run(args, spec, tmp, sampler, held) -> int:
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    steal_start = steal_jiffies()

    wl = WORKLOADS[args.workload](args.seed, nproc, tmp)
    held["workload"] = wl
    wl.start()

    setup_s, session_start_s, spark = [], 0.0, None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(nproc)
        held["spark"] = spark
        if rep == 0:
            session_start_s = time.perf_counter() - t0
        warm_up(spark, nproc)
        wl.build(spark)
        setup_s.append(time.perf_counter() - t0)
    wl.prepare_reference()

    warmup = [wl.run_once() for _ in range(wl.WARMUP)]
    n_iter = max(1, round(args.seconds / wl.NOMINAL_S))
    steal0, wall0 = steal_jiffies(), time.perf_counter()
    its = [_timed(wl) for _ in range(n_iter)]
    timed_wall = time.perf_counter() - wall0
    timed_steal = steal_jiffies() - steal0
    peak_rss = sampler.peak_bytes

    secs = [it.seconds for it in its]
    untraced_median = statistics.median(secs)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "cores_used": nproc,
        "python": platform.python_version(), "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "setup_reps_s": setup_s, "warmup_s": [it.seconds for it in warmup],
        "iterations": len(its), "iteration_s": secs,
        "iteration_cpu_s": [it.cpu_s for it in its],
        "urls_per_wall_s": statistics.median(it.urls / it.seconds for it in its),
        "pages_per_wall_s": statistics.median(it.pages / it.seconds for it in its),
        "timed_steal_share": timed_steal / os.sysconf("SC_CLK_TCK") / (timed_wall * nproc),
    }
    traced = []
    if args.trace:
        it, values = _traced(args, wl, spark, context, untraced_median, session_start_s)
        traced.append(it)
        metric_specs = spec["per_layer"]
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "urls_per_cpu_s": statistics.median(it.urls / it.cpu_s for it in its),
            "pages_per_cpu_s": statistics.median(it.pages / it.cpu_s for it in its),
            "peak_rss_mb": peak_rss / 1e6,
        }
        metric_specs = spec["end_to_end"]

    all_its = warmup + its + traced
    attempted = len(all_its) + sum(it.fetch_attempts for it in all_its)
    failed = sum(not it.ok for it in all_its) + sum(it.fetch_failed for it in all_its)
    context["loadavg_start"] = load_start
    context["loadavg_end"] = os.getloadavg()
    context["steal_jiffies"] = steal_jiffies() - steal_start
    context["failed_ratio"] = failed / attempted
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metric_specs},
    }))
    return 0 if failed == 0 else 1


def _traced(args, wl, spark, context, untraced_median, session_start_s):
    """One traced iteration: per-layer metrics, span checks, spans file."""
    from perfbench.report import layer_metrics, layer_self_times
    from perfbench.tracing import Tracer

    tracer = Tracer(spark)
    it = wl.run_traced(tracer)
    tracer.resolve()
    extra = wl.extra_layer_metrics()
    extra["session.start_s"] = session_start_s
    fail_ratio = it.fetch_failed / it.fetch_attempts if it.fetch_attempts else 0.0
    values = layer_metrics(tracer, it.seconds, untraced_median, fail_ratio, extra)
    self_by_layer = layer_self_times(tracer)
    gap = sum(self_by_layer.values()) - it.seconds
    context.update(traced_wall_s=it.seconds, layer_self_s=self_by_layer,
                   layer_self_sum_minus_wall_s=gap)
    names = {r["name"] for r in tracer.spans}
    if args.workload == "frontier_wave" and any(
            n.startswith(_FORBIDDEN_ON_FRONTIER) for n in names):
        print("trace check failed: a crawl-only layer ran on frontier_wave", file=sys.stderr)
        it.ok = False
    if abs(gap) > 1e-6:
        print("trace check failed: layer self times do not sum to the wall time",
              file=sys.stderr)
        it.ok = False
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(spans_path)
    context["spans_file"] = os.path.relpath(spans_path, ROOT)
    return it, values


if __name__ == "__main__":
    sys.exit(main())
