"""Bucketed co-location: the exchange disappears from the join plan.

Pins the scale claim in plans/bucketing.py — co-bucketed tables join
with NO shuffle on either side, while the same join over plain parquet
exchanges both sides.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from photon_spark.plans.bucketing import (
    cobucketed_join,
    exchange_count,
    has_exchange,
    scan_is_bucketed,
    write_bucketed,
)
from photon_spark.plans.frontier import dedup_candidates


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("fp"),
    )
    sigs = spark.range(0, 2000, 2).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 17).alias("sig"),
    )
    write_bucketed(docs, "b_docs", "doc_id", 8, path=str(base / "docs"))
    write_bucketed(sigs, "b_sigs", "doc_id", 8, path=str(base / "sigs"))
    yield "b_docs", "b_sigs"
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_sigs")


def _no_broadcast(spark):
    return spark.conf.get("spark.sql.autoBroadcastJoinThreshold"), "-1"


def test_cobucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, left, right, "doc_id")
        rows = joined.count()
        assert rows == 1000  # every even doc_id matches
        assert not has_exchange(joined), (
            "co-bucketed join must not shuffle either side"
        )

        # control: the same join over non-bucketed frames DOES exchange
        plain = spark.table(left).select("doc_id", "fp").repartition(8).join(
            spark.table(right).select("doc_id", "sig").repartition(8), "doc_id"
        )
        plain.count()
        assert has_exchange(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cobucketed_aggregation_has_no_exchange(spark, bucketed_tables):
    """A groupBy on the bucket key also reuses the bucket partitioning
    — no exchange before the aggregate."""
    left, _ = bucketed_tables
    agg = spark.table(left).groupBy("doc_id").agg(F.count("*").alias("n"))
    assert agg.count() == 2000
    assert not has_exchange(agg)


def test_bucketed_seen_antijoin_shuffles_wave_side_only(spark, tmp_path_factory):
    """The frontier scale story: a seen set written bucketed on url
    dedups each wave with ONE exchange (the wave side) and a bucketed
    scan of seen — |seen| never re-shuffles per wave."""
    base = tmp_path_factory.mktemp("seen_bucketed")
    seen = spark.range(30000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                 F.lit("/p"), F.col("id").cast("string")).alias("url")
    )
    write_bucketed(seen, "b_seen", "url", 8, path=str(base / "seen"))
    # wave: half already seen, half new
    wave = spark.range(20000, 40000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                 F.lit("/p"), F.col("id").cast("string")).alias("url")
    ).repartition(16)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = dedup_candidates(wave, spark.table("b_seen"))
        n = fresh.count()
        assert n == 10000  # ids 30000..39999
        assert scan_is_bucketed(fresh)
        # exactly one hash exchange: the wave side being routed to the
        # seen table's bucketing (the .repartition(16) RoundRobin above
        # is the synthetic input's, not the join's)
        assert exchange_count(fresh) <= 2
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1

        # parity with the plain shuffled anti-join
        plain = wave.join(seen, "url", "left_anti")
        assert plain.count() == n
        got = {r["url"] for r in fresh.collect()}
        want = {r["url"] for r in plain.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_seen")


def test_bucketed_join_correctness_matches_plain(spark, bucketed_tables):
    left, right = bucketed_tables
    got = {
        (r["doc_id"], r["sig"])
        for r in cobucketed_join(spark, left, right, "doc_id").collect()
    }
    want = {(i, i % 17) for i in range(0, 2000, 2)}
    assert got == want


def test_snapshot_diff_over_cobucketed_snapshots(spark, bucketed_tables):
    """The snapshot_diff scale claim: over two co-bucketed snapshot
    tables the full-outer join plans with ZERO exchange on either
    side (same property the per-wave dedup exploits)."""
    from photon_spark.plans.frontier import snapshot_diff

    left, right = bucketed_tables
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # diff on the bucketed column itself: casting the key to
        # string would strip the bucketing output partitioning
        old = spark.table(left).select(
            "doc_id", F.col("fp").alias("content_hash")
        )
        new = spark.table(right).select(
            "doc_id", F.md5(F.col("sig").cast("string")).alias("content_hash")
        )
        diff = snapshot_diff(old, new, url_col="doc_id")
        n = diff.count()
        # odds exist only in old (1000 'removed'); evens exist in both
        # and changed EXCEPT the 9 even doc_ids < 17 where sig == id
        # (md5 strings equal -> genuinely unchanged -> excluded)
        assert n == 2000 - 9
        assert not has_exchange(diff), (
            "diff over co-bucketed snapshots must not shuffle"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
