"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Below this many rows a plan runs interpreted (small_plans). From the
# wave-size sweep in SCALE.md §2 (scripts/codegen_sweep.py): waves over
# up to 1.1e4 URLs ran no slower interpreted, cold JVM or warm; from
# 1.1e5 the warm compiled wave was faster, and at 1.1e6 both were. The
# bound sits between, at their geometric mean rounded down.
CODEGEN_MIN_ROWS = 30_000

_INTERPRETED = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "photon_spark",
    driver_memory: str | None = None,
) -> SparkSession:
    """Local session tuned for the sandbox; on a real cluster the same
    engine code runs under spark-submit with cluster conf instead.

    AQE stays on (runtime coalescing + skew-join splitting — SURVEY.md
    §4); Arrow is on because every extractor is a pandas UDF.

    Whole-stage codegen stays on session-wide: the frontier, schedule
    and registry plans process enough rows to repay their Janino
    compiles. Turning it off session-wide cost the 75k-URL
    ``frontier_wave`` benchmark about 6% of its URLs per CPU-second,
    and about 12% with interpreted expressions too (SCALE.md §2).
    Exactly two places turn both off, through ``small_plans``: each
    wave of ``crawl.run_crawl`` and the collect in
    ``CrawlResult.to_sets``, while their row counts are below
    ``CODEGEN_MIN_ROWS``. There the compiles cost more CPU than the
    few rows they speed up: a cold fixture crawl compiled about 190
    classes for 80 result values.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    shuffle_partitions = shuffle_partitions or max(8, cores)
    # Executor Python workers must import this package. On a cluster
    # that's `spark-submit --py-files`; in local mode we export the
    # repo root on PYTHONPATH before the JVM forks workers.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Large heaps GC rarely → the ContextCleaner never runs → old
        # shuffle files pile up across iterative wave jobs. Force a
        # periodic GC so cleanup keeps pace with the wave loop.
        .config("spark.cleaner.periodicGC.interval", "30s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def small_plans(spark: SparkSession, rows: float):
    """Plan and run the enclosed actions interpreted when ``rows`` is
    below ``CODEGEN_MIN_ROWS``: no whole-stage codegen, and expressions
    evaluated without Janino-compiled projections or predicates. At or
    above the bound the block runs unchanged.

    Spark reads these confs when an action (or ``persist``) plans its
    query, so the block must enclose the actions themselves, not just
    the code that builds the DataFrames. ``spark.conf`` is session-
    global: for the duration of the block every query planned on this
    session — from any thread — runs interpreted. The values the
    session had before come back on exit, exception or not (unset ones
    are unset again).
    """
    if rows >= CODEGEN_MIN_ROWS:
        yield
        return
    conf = spark.conf
    prior = conf.getAll
    for key, value in _INTERPRETED.items():
        conf.set(key, value)
    try:
        yield
    finally:
        for key in _INTERPRETED:
            if key in prior:
                conf.set(key, prior[key])
            else:
                conf.unset(key)


def janino_compiles(spark: SparkSession) -> tuple[int, float | None]:
    """(classes compiled, compile milliseconds) by Janino in this JVM so
    far, from Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
    histogram. Cache hits compile nothing and are not counted. The
    milliseconds sum the histogram's reservoir, exact up to its 1028
    samples; past that they are None."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = hist.getCount()
    ms = float(sum(hist.getSnapshot().getValues())) if count <= 1028 else None
    return count, ms


def split_schema(schema: str) -> list[tuple[str, str]]:
    """'a string, b array<string>' → [(a, string), (b, array<string>)]
    — split on top-level commas only."""
    fields, depth, cur = [], 0, []
    for ch in schema:
        if ch == "," and depth == 0:
            fields.append("".join(cur))
            cur = []
        else:
            depth += ch in "<("
            depth -= ch in ">)"
            cur.append(ch)
    fields.append("".join(cur))
    return [tuple(f.strip().split(None, 1)) for f in fields if f.strip()]


def jvm_empty(spark: SparkSession, schema: str):
    """Typed empty relation with a pure-JVM plan. createDataFrame([])
    builds a Python-parallelize leaf whose scan spins up a Python
    worker per partition on EVERY downstream action — ~0.5s of fixed
    cost each time an empty accumulator's lineage replays."""
    from pyspark.sql import functions as F

    return spark.range(0).select(
        *[F.expr(f"CAST(NULL AS {tp})").alias(name) for name, tp in split_schema(schema)]
    )
