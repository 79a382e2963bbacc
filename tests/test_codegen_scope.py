"""Codegen scope of small crawls (session.small_plans).

A small crawl wave, and the collect in CrawlResult.to_sets, plan and run
their actions with whole-stage codegen off and expressions interpreted:
at a handful of rows the Janino compiles cost more than they save. The
session's own values come back afterwards, however the block ends.
Spark reads these confs when an action plans its query, so the fetcher
— called while the wave builds its plan — sees them.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import photon_spark.crawl as crawl_mod
from fixtures.gen import BIG_ROOT, ROOT, big_site_df
from photon_spark import session
from photon_spark.config import DUMMY, EngineConfig
from photon_spark.crawl import run_crawl
from photon_spark.operators.extract import body_expr
from photon_spark.plans.storage import CrawlStore
from tests.test_storage_jobs import _jobs

WHOLE_STAGE = "spark.sql.codegen.wholeStage"
FACTORY = "spark.sql.codegen.factoryMode"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _set_values(spark) -> dict:
    """The two confs as explicitly set on the session (absent = unset)."""
    every = spark.conf.getAll
    return {k: every[k] for k in (WHOLE_STAGE, FACTORY) if k in every}


def _fetcher(pages, seen: list, fail: bool = False):
    """The pages-table join as a fetcher that records the confs in
    force when the wave calls it (and raises instead, with fail)."""
    body = pages.select("doc_id", body_expr().alias("body"))
    spark = pages.sparkSession

    def fetch(wave):
        seen.append((spark.conf.get(WHOLE_STAGE), spark.conf.get(FACTORY)))
        if fail:
            raise RuntimeError("fetch failed")
        return wave.join(body, wave.url == body.doc_id, "left").select(
            wave.url, wave.level, F.coalesce("body", F.lit(DUMMY)).alias("body")
        )

    return fetch


def test_small_plans_scope_and_bound(spark, monkeypatch):
    before = _set_values(spark)
    with session.small_plans(spark, 10):
        assert spark.conf.get(WHOLE_STAGE) == "false"
        assert spark.conf.get(FACTORY) == "NO_CODEGEN"
    assert _set_values(spark) == before
    with session.small_plans(spark, session.CODEGEN_MIN_ROWS):
        assert _set_values(spark) == before
    monkeypatch.setattr(session, "CODEGEN_MIN_ROWS", 0)
    with session.small_plans(spark, 0):
        assert _set_values(spark) == before


def test_small_crawl_runs_interpreted_and_restores(spark, fixture_pages):
    before = _set_values(spark)
    seen = []
    res = run_crawl(spark, fixture_pages, ROOT, fetcher=_fetcher(fixture_pages, seen))
    assert res.to_sets()["internal"]
    # two waves, plus the JS second pass after the loop
    assert seen and set(seen) == {("false", "NO_CODEGEN")}, seen
    assert _set_values(spark) == before


def test_stop_after_wave_restores(spark, fixture_pages, tmp_path):
    before = _set_values(spark)
    seen = []
    store = CrawlStore(str(tmp_path / "store"))
    out = run_crawl(spark, fixture_pages, ROOT, store=store, stop_after_wave=0,
                    fetcher=_fetcher(fixture_pages, seen))
    assert out is None and seen == [("false", "NO_CODEGEN")]
    assert _set_values(spark) == before


def test_failing_fetcher_restores(spark, fixture_pages):
    before = _set_values(spark)
    with pytest.raises(RuntimeError, match="fetch failed"):
        run_crawl(spark, fixture_pages, ROOT, fetcher=_fetcher(fixture_pages, [], fail=True))
    assert _set_values(spark) == before


def test_caller_values_come_back(spark, fixture_pages):
    spark.conf.set(WHOLE_STAGE, "true")
    spark.conf.set(FACTORY, "FALLBACK")
    try:
        seen = []
        run_crawl(spark, fixture_pages, ROOT, fetcher=_fetcher(fixture_pages, seen)).to_sets()
        assert set(seen) == {("false", "NO_CODEGEN")}
        assert _set_values(spark) == {WHOLE_STAGE: "true", FACTORY: "FALLBACK"}
    finally:
        spark.conf.unset(WHOLE_STAGE)
        spark.conf.unset(FACTORY)


def test_zero_bound_keeps_codegen(spark, fixture_pages, monkeypatch):
    monkeypatch.setattr(session, "CODEGEN_MIN_ROWS", 0)
    seen = []
    run_crawl(spark, fixture_pages, ROOT, fetcher=_fetcher(fixture_pages, seen)).to_sets()
    assert seen and all(ws != "false" for ws, _ in seen), seen


def test_scopes_sized_by_internal_bound(spark, monkeypatch):
    """Every scope is sized by an upper bound on the |internal| it reads,
    known before it opens. On a 111-page fanout-10 tree no page links to
    a known URL, so the bound is exact: each wave's count scope gets the
    |internal| that count then finds, not the previous wave's."""
    sizes = []
    real = crawl_mod.small_plans

    def recording(spark_, rows):
        sizes.append(rows)
        return real(spark_, rows)

    monkeypatch.setattr(crawl_mod, "small_plans", recording)
    cfg = EngineConfig(crawl_level=4, only_urls=True, shuffle_partitions=4)
    res = run_crawl(spark, big_site_df(spark, n_pages=111, fanout=10), BIG_ROOT, cfg=cfg)
    assert len(res.to_sets()["internal"]) == 111
    assert [m["internal_before"] for m in res.metrics] == [1, 11, 111]
    assert [m["internal_after_max"] for m in res.metrics] == [11, 111, 111]
    # per wave: count scope, schedule-to-lineage scope, commit scope;
    # wave 3 finds no links and stops after its count; then to_sets
    assert sizes == [1, 1, 11, 11, 11, 111, 111, 111, 111, 111, 111]


_COLD_CRAWL = """
from fixtures.gen import ROOT, pages_df
from photon_spark.crawl import run_crawl
from photon_spark.session import get_spark, janino_compiles

spark = get_spark(cores=2, shuffle_partitions=2, driver_memory="1g")
pages = pages_df(spark)
before = janino_compiles(spark)[0]
values = sum(map(len, run_crawl(spark, pages, ROOT).to_sets().values()))
print("RESULT", values, janino_compiles(spark)[0] - before)
spark.stop()
"""


def test_cold_fixture_crawl_compiles_little():
    """In a fresh JVM (Janino's class cache is JVM-wide, so an earlier
    test's compiles would hide these), the fixture crawl plus to_sets()
    compiles at most 20 classes; with codegen on it compiles about 190.
    factoryMode is an internal Spark conf: if a Spark upgrade stops
    honouring it, this fails."""
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run([sys.executable, "-c", _COLD_CRAWL], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    _, values, compiles = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")
    ).split()
    assert int(values) == 80
    assert int(compiles) <= 20, compiles


def test_store_crawl_job_count_per_wave(spark, fixture_pages, tmp_path):
    """Job-count regression guard for a store-backed crawl shaped like
    the crawl_resume_http benchmark: full extraction with keys, 2 waves,
    compaction after the second, crashed after wave 0 and resumed.

    Untraced counts, every AQE query stage included: the crawl up to the
    crash (zap collect, wave 0's count and lineage collects, one commit)
    runs 10 jobs; the resumed call (wave 1, its commit, the compaction
    and the post-loop scripts count) runs 21. The traced benchmark
    reports 7 per wave because its forcing probes absorb the rest.
    Cached frames of earlier crawls would let an identical plan skip
    its jobs, so the cache is cleared first."""
    spark.catalog.clearCache()
    cfg = EngineConfig(crawl_level=2, only_urls=False, extract_keys=True,
                       shuffle_partitions=4, compact_every=2)
    store = CrawlStore(str(tmp_path / "store"))
    kw = dict(cfg=cfg, store=store, fetcher=_fetcher(fixture_pages, []))
    _, crashed = _jobs(spark, lambda: run_crawl(spark, fixture_pages, ROOT,
                                                stop_after_wave=0, **kw))
    res, resumed = _jobs(spark, lambda: run_crawl(spark, fixture_pages, ROOT,
                                                  resume=True, **kw))
    assert [m["wave"] for m in res.metrics] == [1]
    assert crashed <= 10 and resumed <= 21, (crashed, resumed)
