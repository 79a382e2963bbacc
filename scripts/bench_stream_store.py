"""Throughput of the store-backed streaming scheduler.

Measures the per-micro-batch cost of StoreBackedScheduler (canonicalize
-> dedup vs CrawlStore seen-state -> politeness schedule -> sink write
-> store commit, with compaction every 4 batches) and checks that the
dedup is exact. Real readStream file source, one file per trigger.

Usage: python scripts/bench_stream_store.py [n_batches] [urls_per_batch] [cores]
Appends one JSON line to BENCH/stream_store_runs.jsonl.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from pyspark.sql import functions as F

    from photon_spark.plans.storage import CrawlStore
    from photon_spark.session import get_spark
    from photon_spark.streaming.wave_stream import StoreBackedScheduler

    spark = get_spark(cores=cores, shuffle_partitions=cores, app_name="stream_store")
    work = tempfile.mkdtemp(prefix="stream_store_bench_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)

    # n_batches files; 30% of each batch (after the first) repeats the
    # TAIL of the previous batch's new ids (cross-batch dedup is
    # exercised), Zipf-ish host skew via %97. New ids per batch are
    # [0.7P*b, 0.7P*(b+1)); the file prepends the previous 0.3P of them.
    new = per_batch * 7 // 10
    rep = per_batch * 3 // 10
    for b in range(n_batches):
        lo = new * b - (rep if b else 0)
        (
            spark.range(lo, new * (b + 1))
            .select(
                F.concat(
                    F.lit("http://h"),
                    (F.pmod(F.xxhash64("id"), F.lit(97))).cast("string"),
                    F.lit(".test/p/"),
                    F.col("id").cast("string"),
                ).alias("url")
            )
            .coalesce(4)
            .write.parquet(os.path.join(in_dir, f"b{b}"))
        )

    store = CrawlStore(os.path.join(work, "store"), bucket_seen=16)
    sched = StoreBackedScheduler(
        store,
        out_dir=os.path.join(work, "out"),
        budget=None,
        partitions=cores,
        salts=max(8, cores),
        compact_every=4,
    )
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir + "/*")
    )
    t0 = time.time()
    q = sched.start(stream, checkpoint_dir=os.path.join(work, "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sec = time.time() - t0

    out_rows = spark.read.parquet(os.path.join(work, "out")).count()
    urls_in = new * n_batches + rep * (n_batches - 1)
    distinct = new * n_batches
    assert out_rows == distinct, (out_rows, distinct)  # dedup exact

    report = {
        "job": "store_backed_stream",
        "cores": cores,
        "n_batches": n_batches,
        "urls_in": urls_in,
        "scheduled": out_rows,
        "sec": round(sec, 3),
        "urls_per_s": round(urls_in / sec, 1),
        "sec_per_batch": round(sec / n_batches, 3),
        "compact_every": 4,
        "ts": datetime.now(timezone.utc).isoformat(),
    }
    print(json.dumps(report, indent=2))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "stream_store_runs.jsonl"), "a") as f:
        f.write(json.dumps(report) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
