"""Measured throughput of the host-graph operators at 10^6 edges.

host_rank and trust_rank (one shared PageRank loop), spam_mass (both
of them plus a join), hits_scores (hub/authority) and the OPIC family
(opic_scores, and opic_init followed by two opic_update steps) all
claim a broadcast state vector + one host-keyed partial-agg shuffle
per (half-)round; this measures them on a synthesized Zipf-ish host
graph so the claims carry wall-clock evidence at a graph size three
orders of magnitude above the oracle entries. The trust seeds are
every (n_hosts // 100)-th host id.

Usage: python scripts/bench_graph_scale.py [n_edges] [n_hosts] [cores]
Appends one JSON line to BENCH/graph_scale.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from pyspark.sql import functions as F

    from photon_spark.plans.schedule import (
        hits_scores,
        host_rank,
        opic_init,
        opic_scores,
        opic_update,
        spam_mass,
        trust_rank,
    )
    from photon_spark.session import get_spark

    spark = get_spark(cores=cores, shuffle_partitions=cores,
                      app_name="graph_scale")

    # skewed dst (authority hubs): square the hash to concentrate mass
    e = spark.range(n_edges).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_hosts)).alias("src"),
        F.pmod(
            F.pmod(F.xxhash64(F.col("id") + 3), F.lit(n_hosts))
            * F.pmod(F.xxhash64(F.col("id") + 5), F.lit(1000)),
            F.lit(n_hosts),
        ).alias("dst"),
    ).persist()
    e.count()

    def best(fn, reps=3):
        times, out = [], None
        for _ in range(reps):
            t0 = time.monotonic()
            out = fn()
            times.append(time.monotonic() - t0)
        return min(times), out

    seeds = spark.range(0, n_hosts, max(1, n_hosts // 100)).select(
        F.col("id").alias("host")
    )

    def opic_incremental():
        state = opic_init(e)
        for _ in range(2):
            state = opic_update(state, e)
        return state

    ops = {
        "host_rank_3_iters": lambda: host_rank(e, iters=3),
        "trust_rank_3_iters": lambda: trust_rank(e, seeds, iters=3),
        "spam_mass_3_iters": lambda: spam_mass(e, seeds, iters=3),
        "hits_2_iters": lambda: hits_scores(e, iters=2),
        "opic_3_rounds": lambda: opic_scores(e, rounds=3),
        "opic_init_2_updates": opic_incremental,
    }
    results = {}
    for name, op in ops.items():
        sec, n = best(lambda: op().count())
        results[name] = {
            "sec": round(sec, 3),
            "edges_per_s": round(n_edges / sec),
            "hosts": n,
        }
    e.unpersist()

    rec = {
        "ts": datetime.now(timezone.utc).isoformat(),
        "n_edges": n_edges, "n_hosts": n_hosts, "cores": cores,
        "ops": results,
    }
    out_path = os.path.join(REPO, "BENCH", "graph_scale.jsonl")
    with open(out_path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
