"""Cache lifetime of the wave loops (plans/storage.WaveState).

Each wave caches its working frames; the next snapshot releases them,
and an in-memory snapshot releases the checkpoint it replaces. So what a
crawl or recrawl leaves persisted does not grow with its waves: the
last in-memory snapshot, plus the frames the result reads (`scripts`
here). Persisted RDDs are read from the SparkContext, and only those
the call added are counted, with its result still held.
"""

from __future__ import annotations

from fixtures.gen import BIG_ROOT, big_site_df
from photon_spark.config import EngineConfig
from photon_spark.crawl import run_crawl
from photon_spark.plans.storage import CrawlStore
from photon_spark.recrawl import recrawl_store, run_recrawl
from tests.test_recrawl import URLS, VERSIONS, _origin, _universe


def persisted(spark) -> set[int]:
    """Ids of the RDDs the SparkContext holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _left(spark, fn):
    """(fn's result, the RDDs it left persisted). The cache is cleared
    first: an identical plan of an earlier call would otherwise read
    that call's cache instead of caching its own."""
    spark.catalog.clearCache()
    before = persisted(spark)
    out = fn()
    return out, persisted(spark) - before


def test_memory_crawl_leaves_last_snapshot_only(spark):
    pages = big_site_df(spark, 1111)
    for level in (2, 4):
        cfg = EngineConfig(crawl_level=level, only_urls=True, shuffle_partitions=4)
        res, left = _left(spark, lambda: run_crawl(spark, pages, BIG_ROOT, cfg=cfg))
        assert len(res.metrics) == level
        assert len(left) == 1, (level, left)


def test_store_crawl_resumed_leaves_result_frames_only(spark, tmp_path):
    pages = big_site_df(spark, 1111)
    for level in (2, 4):
        cfg = EngineConfig(crawl_level=level, shuffle_partitions=4)
        store = CrawlStore(str(tmp_path / f"store{level}"))
        out, left = _left(spark, lambda: run_crawl(
            spark, pages, BIG_ROOT, cfg=cfg, store=store, stop_after_wave=0))
        assert out is None and not left, (level, left)
        res, left = _left(spark, lambda: run_crawl(
            spark, pages, BIG_ROOT, cfg=cfg, store=store, resume=True))
        assert [m["wave"] for m in res.metrics] == list(range(1, level))
        assert len(left) == 1, (level, left)  # scripts


def test_memory_recrawl_leaves_last_snapshot_only(spark):
    uni = _universe(spark, URLS)
    for n in (2, 4):
        res, left = _left(spark, lambda: run_recrawl(
            spark, uni, _origin(VERSIONS), n_waves=n, k=2))
        assert len(res.metrics) == n
        assert len(left) == 1, (n, left)


def test_store_recrawl_leaves_nothing(spark, tmp_path):
    uni = _universe(spark, URLS)
    for n in (2, 4):
        store = recrawl_store(str(tmp_path / f"store{n}"))
        res, left = _left(spark, lambda: run_recrawl(
            spark, uni, _origin(VERSIONS), n_waves=n, k=2, store=store))
        assert len(res.metrics) == n
        assert not left, (n, left)
