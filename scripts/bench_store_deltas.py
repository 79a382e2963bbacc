"""Per-operation cost of CrawlStore at a given per-wave delta size.

The store's commit writes all tables of a wave as one tagged union, so
every row carries the other tables' columns as NULLs: one job per
commit instead of one per table, at a higher cost per row. This script
measures where that trade lands. Four waves of crawl-shaped deltas for
all nine state tables (`rows` URLs each in `internal`, `processed` and
`waves`, smaller shares in the rest, 30% of each wave repeating the
previous one; the first commit is untimed warm-up), then a snapshot
load, one compaction and a load of the compacted snapshot. Deltas are
materialized before each commit, so the commit time is the store's own
cost. Uses only the store's public
interface, so the same file runs against any revision of the store.

Usage:
    python scripts/bench_store_deltas.py [rows] [bucket_seen] [cores]
Defaults: 200_000 rows, bucket_seen 0, 4 cores. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WAVES = 4


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    bucket_seen = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from pyspark.sql import functions as F

    from photon_spark.plans.storage import CrawlStore
    from photon_spark.session import get_spark

    spark = get_spark(cores=cores, shuffle_partitions=2 * cores, app_name="store_deltas")
    work = tempfile.mkdtemp(prefix="store_deltas_bench_")

    def urls(lo, n, prefix="http://h/p/"):
        return spark.range(lo, lo + n).select(
            F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url")
        )

    def values(lo, n, prefix):
        return urls(lo, n, prefix).select(F.col("url").alias("value"))

    def deltas(w):
        lo = rows * 7 // 10 * w
        u = urls(lo, rows)
        d = {
            "internal": u,
            "processed": u,
            "external": urls(lo, rows // 4, "http://ext/"),
            "files": values(lo, rows // 20, "f/"),
            "bad_intel": urls(lo, rows // 20).select(
                "url",
                F.lit("EMAIL").alias("name"),
                F.array(F.lit("a@b.c")).alias("parts"),
                F.lit(False).alias("is_tuple"),
            ),
            "bad_scripts": values(lo, rows // 100, "s/"),
            "custom": values(lo, rows // 100, "c/"),
            "keys": values(lo, rows // 100, "k/"),
            "waves": u.select("url", F.lit(w).alias("level")),
        }
        d = {k: v.repartition(cores).persist() for k, v in d.items()}
        for v in d.values():
            v.count()
        return d

    store = CrawlStore(os.path.join(work, "store"), bucket_seen=bucket_seen)
    commit_s = 0.0
    for w in range(WAVES):
        d = deltas(w)
        t0 = time.perf_counter()
        store.commit(w, d, {"wave": w})
        if w:  # wave 0's commit is the JVM's first write: warm-up
            commit_s += time.perf_counter() - t0
        for v in d.values():
            v.unpersist()

    def load_counts():
        t0 = time.perf_counter()
        counts = {k: v.count() for k, v in store.load(spark, WAVES - 1).items()}
        return counts, time.perf_counter() - t0

    counts, load_s = load_counts()
    t0 = time.perf_counter()
    store.compact(spark)
    compact_s = time.perf_counter() - t0
    after, load_compacted_s = load_counts()
    assert after == counts, (after, counts)

    print(
        json.dumps(
            {
                "job": "store_deltas",
                "cores": cores,
                "rows": rows,
                "bucket_seen": bucket_seen,
                "snapshot_rows": sum(counts.values()),
                "commit_s_per_wave": round(commit_s / (WAVES - 1), 3),
                "load_count_s": round(load_s, 3),
                "compact_s": round(compact_s, 3),
                "load_count_compacted_s": round(load_compacted_s, 3),
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
