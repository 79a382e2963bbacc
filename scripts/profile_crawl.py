"""Profile crawls on the engine's standard session: per-wave elapsed
time, Spark jobs, Janino compiles (count and milliseconds, from Spark's
CodegenMetrics), the CPU seconds of the driver, the JVM and the
Python workers, and the RDDs the crawl left persisted (with its result
still held; a count that grows with the waves is a cache leak). Next to
that count: the live Python worker processes (forked by pyspark.daemon)
before the crawl and with its result held, and their summed RSS; a
crawl that ends with more workers than it began with forked them
mid-crawl.

    python scripts/profile_crawl.py                       # every crawl below
    python scripts/profile_crawl.py --crawl resume_http   # one, in a cold JVM

Crawls:
  big          11k-page fanout site, only-urls, 6 waves (bench twin);
               one warm-up crawl first, so its numbers are warm-JVM
  fixture      the golden fixture site, full extraction, then to_sets()
  resume_http  the crawl_resume_http benchmark crawl (loopback HTTP into
               a CrawlStore, crashed after wave 0, resumed, write_txt),
               after the benchmark's set-up (a Python worker per slot)
  frontier     the frontier_wave benchmark wave (75k Zipf-skewed URLs:
               canonicalize, dedup, schedule with budget 1000 and
               salts=max(8, cores)); 6 untimed warm-up waves, then 8
               waves each profiled, then their total

Crawls run in the order given, in one JVM: only the first is cold.
Cores come from SPARK_GRAFT_CPUS (default 4), like get_spark.
"""

import argparse
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from photon_spark.session import get_spark, janino_compiles  # noqa: E402

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_tree() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    return children


def _cpu_s(pid: int, reaped: bool) -> float:
    """utime + stime of one live process; with ``reaped``, plus that of
    its reaped children (an exited Python worker lands in its daemon's
    cutime)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15 if reaped else 13]) / CLK_TCK


def python_workers() -> tuple[int, float]:
    """(count, summed RSS in MB) of the live Python workers: the
    processes pyspark.daemon, a child of the JVM, has forked."""
    children = _proc_tree()
    page_mb = os.sysconf("SC_PAGE_SIZE") / 1e6
    n, mb = 0, 0.0
    for jvm in children.get(os.getpid(), ()):
        for pid in children.get(jvm, ()):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" not in f.read():
                        continue
            except OSError:
                continue
            for worker in children.get(pid, ()):
                try:
                    with open(f"/proc/{worker}/statm") as f:
                        mb += int(f.read().split()[1]) * page_mb
                except OSError:
                    continue
                n += 1
    return n, mb


def cpu_split() -> dict[str, float]:
    """CPU seconds so far: this Python driver, the JVM it launched, and
    every process under the JVM (the Python workers)."""
    children = _proc_tree()
    out = {"driver": sum(os.times()[:2]), "jvm": 0.0, "workers": 0.0}
    for jvm in children.get(os.getpid(), ()):
        out["jvm"] += _cpu_s(jvm, reaped=False)
        todo = list(children.get(jvm, ()))
        while todo:
            pid = todo.pop()
            out["workers"] += _cpu_s(pid, reaped=True)
            todo.extend(children.get(pid, ()))
    return out


class Probe:
    """Jobs, compiles, CPU and newly persisted RDDs between construction
    and report()."""

    def __init__(self, spark):
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.t0 = time.time()
        self.jobs0 = self._jobs()
        self.compiles0 = janino_compiles(spark)
        self.cpu0 = cpu_split()
        self.rdds0 = self._persisted()
        self.workers0 = python_workers()[0]

    def _persisted(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def _jobs(self) -> int:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return max(self.tracker.getJobIdsForGroup(None) or [-1]) + 1

    def report(self, label: str) -> None:
        wall = time.time() - self.t0
        jobs = self._jobs() - self.jobs0
        count, ms = janino_compiles(self.spark)
        n = count - self.compiles0[0]
        ms = None if ms is None or self.compiles0[1] is None else ms - self.compiles0[1]
        cpu = cpu_split()
        split = {k: cpu[k] - self.cpu0[k] for k in cpu}
        ms_txt = f"{ms:.0f} ms" if ms is not None else "n/a ms"
        left = len(self._persisted() - self.rdds0)
        workers, workers_mb = python_workers()
        print(
            f"{label}: {wall:.2f}s wall, {jobs} jobs, {n} Janino compiles"
            f" ({ms_txt}), CPU-s jvm {split['jvm']:.1f} workers"
            f" {split['workers']:.1f} driver {split['driver']:.1f}"
            f" (total {sum(split.values()):.1f}), {left} RDDs left persisted,"
            f" Python workers {self.workers0} -> {workers}"
            f" ({workers_mb:.0f} MB RSS)"
        )


def _waves(res) -> None:
    for m in res.metrics:
        print("  wave", m["wave"], "sched", m["urls_scheduled"], "elapsed", m["elapsed_s"])


def big(spark) -> None:
    from fixtures.gen import BIG_ROOT, big_site_df
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    pages = big_site_df(spark, 11111).persist()
    pages.count()
    cfg = EngineConfig(crawl_level=6, only_urls=True)
    run_crawl(spark, pages, BIG_ROOT, cfg=cfg).waves.count()  # warm-up
    probe = Probe(spark)
    res = run_crawl(spark, pages, BIG_ROOT, cfg=cfg)
    n = res.waves.count()
    probe.report(f"big ({n} pages, {len(res.metrics)} waves)")
    _waves(res)
    pages.unpersist()


def fixture(spark) -> None:
    from fixtures.gen import ROOT, pages_df
    from photon_spark.crawl import run_crawl

    pages = pages_df(spark)
    probe = Probe(spark)
    res = run_crawl(spark, pages, ROOT)
    values = sum(len(v) for v in res.to_sets().values())
    probe.report(f"fixture ({values} values)")
    _waves(res)


def resume_http(spark) -> None:
    from perfbench.run import warm_up
    from perfbench.workloads import CrawlResumeHttp

    nproc = int(spark.sparkContext.defaultParallelism)
    with tempfile.TemporaryDirectory() as tmp:
        wl = CrawlResumeHttp(seed=1, nproc=nproc, tmp=tmp)
        wl.start()
        try:
            warm_up(spark, nproc)  # the benchmark's set-up: a worker per slot
            wl.build(spark)
            wl.prepare_reference()
            probe = Probe(spark)
            it = wl.run_once()
            probe.report(f"resume_http ({it.pages} pages, correct={it.ok})")
        finally:
            wl.close()


def frontier(spark) -> None:
    from perfbench.workloads import FrontierWave

    nproc = int(spark.sparkContext.defaultParallelism)
    with tempfile.TemporaryDirectory() as tmp:
        wl = FrontierWave(seed=1, nproc=nproc, tmp=tmp)
        wl.build(spark)
        wl.prepare_reference()
        for _ in range(6):
            wl.run_once()
        total = Probe(spark)
        for i in range(8):
            probe = Probe(spark)
            it = wl.run_once()
            probe.report(f"frontier wave {i} ({it.pages} scheduled, correct={it.ok})")
        total.report("frontier, 8 waves")
        wl.generated.unpersist()
        wl.seen.unpersist()


CRAWLS = {"big": big, "fixture": fixture, "resume_http": resume_http,
          "frontier": frontier}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--crawl", choices=sorted(CRAWLS), action="append",
                    help="crawl to profile; repeatable (default: all)")
    args = ap.parse_args()
    spark = get_spark(app_name="profile")
    try:
        for name in args.crawl or ["resume_http", "fixture", "big"]:
            CRAWLS[name](spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
