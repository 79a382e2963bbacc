"""Where codegen starts to pay in a crawl wave: CPU seconds per wave
segment by row count, with every plan compiled (whole-stage codegen and
Janino expressions) against every plan interpreted.

    python scripts/codegen_sweep.py                  # n = 1.1k .. 1.1M pages
    python scripts/codegen_sweep.py --pages 1111 11111

For each site size ``n`` (fixtures.gen.big_site_df, fanout 10, so waves
hold 1, 10, 100, ... URLs) and each mode, one fresh process (a cold JVM,
like a CLI crawl) runs ``run_crawl`` twice, only-urls: a cold crawl, then
the same crawl warm. The mode is forced through
``session.CODEGEN_MIN_ROWS`` (0: always compiled; infinity: always
interpreted). Each wave is split at its two plan-building calls into
two segments, each charged the CPU seconds of the whole process tree
(driver, JVM, Python workers):

  count  from dedup_candidates to schedule_wave: the wave's count
         action over |internal| rows
  work   from schedule_wave to the next wave's dedup_candidates (or the
         end of the crawl): schedule, fetch, extract, merge and
         checkpoint of the wave's scheduled URLs

One JSON line per (n, mode, crawl, wave) goes to --out (default
BENCH/codegen_sweep.jsonl, appended) and a table to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.run import tree_cpu_s  # noqa: E402

MODES = {"codegen": 0, "interpreted": float("inf")}


def one(n_pages: int, mode: str, cores: int) -> list[dict]:
    """Both crawls of one (site size, mode) in this process."""
    import photon_spark.crawl as C
    from fixtures.gen import BIG_ROOT, big_site_df
    from photon_spark import session
    from photon_spark.config import EngineConfig

    session.CODEGEN_MIN_ROWS = MODES[mode]
    spark = session.get_spark(cores=cores, shuffle_partitions=cores,
                              app_name="codegen_sweep", driver_memory="4g")
    spark.range(1000).selectExpr("sum(id)").collect()
    pages = big_site_df(spark, n_pages).persist()
    pages.count()
    cfg = EngineConfig(crawl_level=10, only_urls=True, shuffle_partitions=cores)

    marks: list[tuple[str, float]] = []

    def marking(name, fn):
        def wrapped(*args, **kwargs):
            marks.append((name, tree_cpu_s()))
            return fn(*args, **kwargs)
        return wrapped

    C.dedup_candidates = marking("count", C.dedup_candidates)
    C.schedule_wave = marking("work", C.schedule_wave)
    rows = []
    for crawl in ("cold", "warm"):
        marks.clear()
        c0 = session.janino_compiles(spark)[0]
        t0 = time.time()
        res = C.run_crawl(spark, pages, BIG_ROOT, cfg=cfg)
        marks.append(("end", tree_cpu_s()))
        wall = time.time() - t0
        compiles = session.janino_compiles(spark)[0] - c0
        segs = [(name, b - a) for (name, a), (_, b) in zip(marks, marks[1:])]
        for m in res.metrics:
            w = m["wave"]
            count_s = segs[2 * w][1]
            work_s = segs[2 * w + 1][1]
            rows.append({
                "n_pages": n_pages, "mode": mode, "crawl": crawl, "wave": w,
                "internal_rows": m["internal_before"], "wave_rows": m["urls_scheduled"],
                "count_cpu_s": round(count_s, 2), "work_cpu_s": round(work_s, 2),
                "crawl_wall_s": round(wall, 2), "crawl_compiles": compiles,
            })
        # the final, empty wave's count action
        if len(segs) > 2 * len(res.metrics):
            rows[-1]["tail_cpu_s"] = round(segs[-1][1], 2)
        spark.catalog.clearCache()
    pages.unpersist()
    spark.stop()
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--pages", type=int, nargs="*",
                    default=[1111, 11111, 111111, 1111111])
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "codegen_sweep.jsonl"))
    ap.add_argument("--one", nargs=2, metavar=("N", "MODE"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one:
        print("ROWS " + json.dumps(one(int(args.one[0]), args.one[1], args.cores)))
        return
    stamp = time.strftime("%Y-%m-%dT%H:%M:%S")
    print(f"{'n':>8} {'mode':>11} {'crawl':>5} {'wave':>4} {'|internal|':>10}"
          f" {'scheduled':>9} {'count_s':>7} {'work_s':>7}")
    for n in args.pages:
        for mode in MODES:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", str(n), mode,
                 "--cores", str(args.cores)],
                cwd=REPO, capture_output=True, text=True,
            )
            line = next((ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")), None)
            if line is None:
                sys.exit(f"n={n} {mode} failed:\n{out.stderr[-3000:]}")
            rows = json.loads(line[5:])
            with open(args.out, "a") as f:
                for r in rows:
                    f.write(json.dumps({"ts": stamp, "cores": args.cores, **r}) + "\n")
            for r in rows:
                print(f"{r['n_pages']:>8} {r['mode']:>11} {r['crawl']:>5} {r['wave']:>4}"
                      f" {r['internal_rows']:>10} {r['wave_rows']:>9}"
                      f" {r['count_cpu_s']:>7.2f} {r['work_cpu_s']:>7.2f}", flush=True)


if __name__ == "__main__":
    main()
