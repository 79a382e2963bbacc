"""The workloads: set-up, one timed iteration with its output check,
and one traced iteration.

Each workload drives the engine only through its public functions. A
timed iteration returns an ``Iteration``; its output is checked against
an exact reference computed once at set-up (the golden oracle for the
crawls), and a mismatch marks the iteration failed.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.tracing import Tracer, patched


@dataclass
class Iteration:
    seconds: float
    ok: bool
    urls: int                 # frontier URLs handled (candidates, or URLs discovered)
    pages: int                # pages crawled (frontier_wave: URLs scheduled)
    fetch_attempts: int = 0
    fetch_failed: int = 0
    cpu_s: float = 0.0        # process-tree CPU seconds (timed iterations only)


def _first_arg(args, kwargs):
    return args[0]


def _no_span(name: str):
    return contextlib.nullcontext()


def _files_under(root: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names)
    return out


class Workload:
    name = ""
    # Untimed warm-up iterations (output still checked), then
    # round(--seconds / NOMINAL_S) timed ones, at least one. NOMINAL_S is
    # the iteration time on the reference host, so the timed part lasts
    # about --seconds while the count does not depend on the code's speed.
    WARMUP = 0
    NOMINAL_S = 1.0

    def __init__(self, seed: int, nproc: int, tmp: str):
        self.seed = seed
        self.nproc = nproc
        self.tmp = tmp
        self.spark = None
        self._iter = 0

    def start(self) -> None:
        """Start benchmark-side harness (not timed as set-up)."""

    def build(self, spark) -> None:
        """Generate the inputs and persist them (timed as set-up)."""
        raise NotImplementedError

    def prepare_reference(self) -> None:
        """Compute the exact expected output (untimed)."""
        raise NotImplementedError

    def run_once(self) -> Iteration:
        raise NotImplementedError

    def run_traced(self, tracer: Tracer) -> Iteration:
        raise NotImplementedError

    def extra_layer_metrics(self) -> dict:
        """Per-layer numbers measured outside the traced iteration."""
        return {}

    def close(self) -> None:
        """Stop benchmark-side harness."""

    def _scratch(self, prefix: str) -> str:
        self._iter += 1
        path = os.path.join(self.tmp, f"{prefix}-{self._iter}")
        os.makedirs(path, exist_ok=True)
        return path


# ---------------------------------------------------------------------------
# frontier_wave


class FrontierWave(Workload):
    name = "frontier_wave"
    WARMUP = 4          # the first waves run while the JIT compiles
    NOMINAL_S = 1.0
    N_URLS = 75_000
    BUDGET = 1000

    def build(self, spark) -> None:
        self.spark = spark
        cand, seen = inputs.frontier_frames(spark, self.seed, self.N_URLS,
                                            partitions=self.nproc)
        self.generated = cand.persist()
        self.cand = self.generated.select("url")
        self.seen = seen.persist()
        self.generated.count()
        self.seen.count()

    def prepare_reference(self) -> None:
        pdf = self.generated.select("pid", "rank", "seen").toPandas()
        self.expected = inputs.frontier_reference(
            pdf["pid"].to_numpy(), pdf["rank"].to_numpy(), pdf["seen"].to_numpy(),
            self.BUDGET,
        )

    def _wave(self, canonicalize, dedup, schedule):
        from photon_spark.plans.frontier import canonicalize_urls, dedup_candidates
        from photon_spark.plans.schedule import schedule_wave

        canon = (canonicalize or canonicalize_urls)(self.cand)
        fresh = (dedup or dedup_candidates)(canon, self.seen)
        return (schedule or schedule_wave)(
            fresh, budget=self.BUDGET, partitions=self.nproc,
            salts=max(8, self.nproc),
        )

    @staticmethod
    def _per_host(out):
        """One action: per-host (count, sum of ids, xor of ids) of the
        scheduled URLs — materializes the whole wave."""
        pid = F.substring_index(F.col("url"), "/", -1).cast("long")
        rows = (
            out.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(pid).alias("s"),
                 F.bit_xor(pid).alias("x"))
            .collect()
        )
        return {r["host"]: (r["n"], r["s"], r["x"]) for r in rows}

    def _check(self, got: dict) -> bool:
        """Exact per-host match. Matching count, id-sum and id-xor per
        host pins the scheduled set: right count, per-host cap held, no
        seen URL scheduled in place of a fresh one."""
        if max((n for n, _, _ in got.values()), default=0) > self.BUDGET:
            return False
        return got == self.expected

    def _result(self, seconds: float, got: dict) -> Iteration:
        scheduled = sum(n for n, _, _ in got.values())
        return Iteration(seconds, self._check(got), urls=self.N_URLS, pages=scheduled)

    def run_once(self) -> Iteration:
        t0 = time.perf_counter()
        got = self._per_host(self._wave(None, None, None))
        return self._result(time.perf_counter() - t0, got)

    def run_traced(self, tracer: Tracer) -> Iteration:
        from photon_spark.plans.frontier import canonicalize_urls, dedup_candidates
        from photon_spark.plans.schedule import schedule_wave

        with tracer.span("iteration") as root:
            out = self._wave(
                tracer.layer("frontier.canonicalize", canonicalize_urls, rows_in=_first_arg),
                tracer.layer("frontier.dedup", dedup_candidates, rows_in=_first_arg),
                tracer.layer("schedule", schedule_wave, rows_in=_first_arg,
                             after=_partition_skew(tracer)),
            )
            got = self._per_host(out)
        tracer.release()
        return self._result(root["end"] - root["start"], got)


def _partition_skew(tracer: Tracer):
    def after(rec, out):
        with tracer.probe():
            sizes = [r["n"] for r in out.groupBy(F.spark_partition_id().alias("p"))
                     .agg(F.count(F.lit(1)).alias("n")).collect()]
        rec["counts"]["partitions"] = len(sizes)
        rec["counts"]["skew"] = max(sizes) / statistics.median(sizes) if sizes else 0.0
    return after


# ---------------------------------------------------------------------------
# crawl_resume_http


class CrawlResumeHttp(Workload):
    """Full-extraction crawl over loopback HTTP into a CrawlStore,
    crashed mid-crawl, resumed in the same session, and written out by
    sinks.write_txt; the 11 files are checked against the oracle."""

    name = "crawl_resume_http"
    # No warm-up: a CLI crawl is the first in its process, so the timed
    # crawl runs on a cold JIT, as a user's would. A cold crawl takes
    # 20-40 s, longer than any run_seconds used, so a run times one crawl.
    NOMINAL_S = 35.0
    FANOUT = 4
    DEPTH = 1           # 5 pages in waves of 1 and 4 (+3 unserved)
    PAGE_BYTES = 5000
    STOP_AFTER = 0      # crash after the root wave; the resumed half commits and compacts

    def start(self) -> None:
        from perfbench.site_server import SiteServer

        self.server = SiteServer(max_conns=self.nproc)
        self.root = self.server.root

    def build(self, spark) -> None:
        from fixtures.gen import PAGES_SCHEMA
        from photon_spark.config import EngineConfig
        from photon_spark.session import jvm_empty

        self.spark = spark
        self.site = inputs.intel_site(self.seed, self.root, self.FANOUT, self.DEPTH,
                                      self.PAGE_BYTES)
        self.server.serve(self.site)
        # robots.txt / sitemap.xml lookups read this table; the site has
        # neither, and every page is fetched over HTTP.
        self.pages = jvm_empty(spark, PAGES_SCHEMA)
        # one wave per tree level; the crawl stops at the level limit
        self.cfg = EngineConfig(crawl_level=self.DEPTH + 1, only_urls=False,
                                extract_keys=True, shuffle_partitions=self.nproc,
                                compact_every=2)

    def prepare_reference(self) -> None:
        from oracle.photon_oracle import crawl

        self.oracle = crawl(self.site, self.root, crawl_level=self.cfg.crawl_level,
                            only_urls=False, extract_keys=True)
        self.n_pages = len(self.oracle.waves)
        # URLs the crawl's frontier discovered
        self.n_urls = len(self.oracle.datasets["internal"])

    @staticmethod
    def fetcher(wave):
        from photon_spark.sources.fetch_http import fetch_stage, requests_transport

        return fetch_stage(wave, transport_factory=requests_transport)

    def _crawl(self, store, fetcher, span=_no_span):
        """Crash after STOP_AFTER, then resume in the same session."""
        from photon_spark.crawl import run_crawl

        kw = dict(cfg=self.cfg, store=store, fetcher=fetcher)
        with span("crawl.loop"):
            run_crawl(self.spark, self.pages, self.root,
                      stop_after_wave=self.STOP_AFTER, **kw)
        with span("crawl.loop") as rec:
            if rec is not None:
                rec["counts"]["resume"] = 1
            return run_crawl(self.spark, self.pages, self.root, resume=True, **kw)

    def _check_files(self, out_dir: str) -> bool:
        """All 11 written files against the oracle: a file exists iff
        the dataset is non-empty, and holds exactly its sorted values."""
        from photon_spark.crawl import DATASET_NAMES

        for name in DATASET_NAMES:
            want = sorted(self.oracle.datasets[name])
            path = os.path.join(out_dir, f"{name}.txt")
            if not want:
                if os.path.exists(path):
                    return False
                continue
            if not os.path.exists(path):
                return False
            with open(path) as f:
                if f.read() != "\n".join(want) + "\n":
                    return False
        return True

    def _finish(self, seconds: float, store, out_dir: str) -> Iteration:
        ok = self._check_files(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        store.destroy()
        # run_crawl leaves its wave frames persisted; an identical plan in
        # the next iteration would read them instead of fetching again
        self.spark.catalog.clearCache()
        served = self.server.ok_urls
        failed = sum(1 for u in self.oracle.waves if u in self.site and u not in served)
        return Iteration(seconds, ok, urls=self.n_urls, pages=self.n_pages,
                         fetch_attempts=self.n_pages, fetch_failed=failed)

    def run_once(self) -> Iteration:
        from photon_spark.plans.storage import CrawlStore
        from photon_spark.sinks import write_txt

        store = CrawlStore(self._scratch("store"))
        out_dir = self._scratch("txt")
        self.server.reset_counters()
        t0 = time.perf_counter()
        res = self._crawl(store, self.fetcher)
        write_txt(res, out_dir)
        return self._finish(time.perf_counter() - t0, store, out_dir)

    def run_traced(self, tracer: Tracer) -> Iteration:
        import photon_spark.crawl as C
        from photon_spark.plans.storage import CrawlStore
        from photon_spark.sinks import write_txt

        store = CrawlStore(self._scratch("store"))
        out_dir = self._scratch("txt")
        self.server.reset_counters()

        def fetch(wave):
            with tracer.span("fetch") as rec:
                busy0, bytes0 = self.server.snapshot()
                rec["counts"]["rows_in"] = tracer.count(wave)
                out, rec["counts"]["rows_out"] = tracer.force(self.fetcher(wave))
                busy1, bytes1 = self.server.snapshot()
                rec["counts"]["server_busy_s"] = busy1 - busy0
                rec["counts"]["bytes"] = bytes1 - bytes0
            return out

        def values_out(rec, ext):
            cols = ["internal_new", "external_new", "file_links", "intel",
                    "script_srcs", "custom", "keys"]
            with tracer.probe():
                rec["counts"]["values_out"] = ext.select(
                    F.sum(sum(F.size(c) for c in cols))).first()[0] or 0

        def store_layer(name, fn, force_tables=False):
            def wrapped(*args, **kwargs):
                nested = (tracer.current or {}).get("name", "").startswith("store.")
                with tracer.span(name) as rec:
                    before = _files_under(store.root)
                    out = fn(*args, **kwargs)
                    if force_tables and not nested:
                        rows = 0
                        for t, df in list(out.items()):
                            out[t], n = tracer.force(df)
                            rows += n
                        rec["counts"]["rows_out"] = rows
                    rec["counts"]["files_written"] = len(_files_under(store.root) - before)
                return out
            return wrapped

        layers = [
            (C, "dedup_candidates", tracer.layer(
                "frontier.dedup", C.dedup_candidates, rows_in=_first_arg)),
            (C, "schedule_wave", tracer.layer(
                "schedule", C.schedule_wave, rows_in=_first_arg,
                after=_partition_skew(tracer))),
            (C, "extract_wave", tracer.layer("extract", C.extract_wave, after=values_out)),
            (C, "assemble_intel", tracer.layer("crawl.assemble_intel", C.assemble_intel)),
            (store, "commit", store_layer("store.commit", store.commit)),
            (store, "compact", store_layer("store.compact", store.compact)),
            (store, "load", store_layer("store.load", store.load, force_tables=True)),
        ]
        with tracer.span("iteration") as root:
            with contextlib.ExitStack() as stack:
                for obj, attr, wrapper in layers:
                    stack.enter_context(patched(obj, attr, wrapper))
                res = self._crawl(store, fetch, span=tracer.span)
            with tracer.span("crawl.assemble") as rec:
                total = 0
                for name, df in list(res.datasets.items()):
                    res.datasets[name], n = tracer.force(df)
                    total += n
                rec["counts"]["values"] = total
            with tracer.span("sinks.write_txt") as rec:
                values = 0
                for path in write_txt(res, out_dir):
                    with open(path) as f:
                        values += sum(1 for _ in f)
                rec["counts"]["values"] = values
        tracer.release()
        return self._finish(root["end"] - root["start"], store, out_dir)

    def extra_layer_metrics(self) -> dict:
        return {
            "extract.kernel_s": self._kernel_pass(),
            "crawl.first_wave_s": self._first_wave(),
        }

    def _kernel_pass(self) -> float:
        """The extract kernels over the crawled pages' bodies, on one
        core in this process (no Spark, no Arrow, no Python worker)."""
        from urllib.parse import urlparse

        from photon_spark import kernels as K
        from photon_spark.config import DUMMY

        host = urlparse(self.root).netloc
        schema = self.root.split("//")[0]
        bodies = [(u, self.site.get(u, DUMMY)) for u in sorted(self.oracle.waves)]
        t0 = time.perf_counter()
        for url, body in bodies:
            for link in K.find_links(body):
                if not K.is_skippable_link(link) and not K.is_file_link(link):
                    K.classify_link(link, url, self.root, host, schema)
            K.find_intel(body)
            K.find_script_srcs(body)
            K.find_keys(body, url)
        return time.perf_counter() - t0

    def _first_wave(self) -> float:
        """A crawl_level=1 in-memory run of the same root: the fixed
        per-wave floor."""
        import dataclasses

        from photon_spark.crawl import run_crawl

        cfg = dataclasses.replace(self.cfg, crawl_level=1, compact_every=0)
        t0 = time.perf_counter()
        run_crawl(self.spark, self.pages, self.root, cfg=cfg, fetcher=self.fetcher)
        return time.perf_counter() - t0

    def close(self) -> None:
        self.server.close()


WORKLOADS = {w.name: w for w in (FrontierWave, CrawlResumeHttp)}
