"""Bucketed-table co-location — joins and aggregations without an
exchange on the fact side.

The 100-TB pattern this encodes: tables that are repeatedly joined or
re-aggregated on the same key (the crawl's `seen` set keyed on url,
document tables keyed on doc_id, signature tables keyed on doc_id)
should be WRITTEN pre-partitioned on that key. Spark's bucketing does
exactly this: `bucketBy(n, key)` hash-partitions rows into a fixed
number of buckets at write time and records the bucket spec in the
catalog; a later equi-join of two tables bucketed on the same key with
the same bucket count needs NO Exchange on either side — the single
most expensive operator in a 10^10-row join simply disappears from the
plan (tests/test_bucketing.py asserts this on the executed plan).

Reference point: the reference engine keeps its `processed` set as an
in-memory Python set (photon.py:91-100) — single-process, rebuilt per
run. The bucketed form is its cluster-shape equivalent: durable,
co-located with the wave key, and join-ready without a shuffle.

Bucketed tables must be saved through the session catalog
(`saveAsTable`) — plain `.parquet(path)` writes have nowhere to record
the bucket spec. The catalog is the default in-memory/derby one in the
sandbox; on a cluster it is Hive/Glue/Unity and the same calls apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
    single_file_buckets: bool = False,
) -> None:
    """Save ``df`` as a bucketed (and, by default, per-bucket sorted)
    parquet table. Sorting within buckets additionally removes the
    sort step of a sort-merge join between co-bucketed tables — but
    Spark only TRUSTS the sort order when each bucket is one file
    (multiple writer tasks each emit their own file per bucket, and
    their concatenation isn't globally sorted). ``single_file_buckets``
    pre-shuffles the frame into exactly the bucket partitioning
    (repartition uses the same murmur3 hash as the bucket spec), so
    every bucket is written by one task as one file and a later
    sort-merge join skips the sort on this side entirely. Costs one
    exchange at write time; right for compaction-style rewrites whose
    output is re-joined every wave, wrong for gigantic tables where a
    single task per bucket would bottleneck the write."""
    if single_file_buckets:
        from pyspark.sql import functions as F

        df = df.repartition(n_buckets, F.col(key))
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Equi-join two co-bucketed catalog tables on their bucket key.
    With matching bucket specs this plans as an exchange-free
    sort-merge join (zero shuffle on either side)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def has_exchange(df: DataFrame) -> bool:
    """True if the executed plan contains a shuffle exchange —
    the property the bucketing tests pin down."""
    return exchange_count(df) > 0


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the executed plan. An adaptive
    plan prints both its final and initial forms; only the final one
    (what actually ran) is counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange RoundRobin")


def scan_is_bucketed(df: DataFrame) -> bool:
    """True if some parquet scan in the executed plan used its bucket
    spec (``Bucketed: true`` in the FileScan node)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Bucketed: true" in plan
