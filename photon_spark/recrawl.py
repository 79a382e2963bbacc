"""Multi-wave recrawl driver — the freshness-maintenance loop.

The reference crawls once and never revisits (photon.py:91-100 pops
the frontier into `processed` permanently), so everything here is
engine surface beyond reference parity: keeping a fetched corpus fresh
at 10^10-URL scale. Each wave is one batch job over three composed,
individually-tested stages:

    schedule   fresh-first + change-rate revisits + politeness cap
    fetch      conditional GET (sources/fetch_http.fetch_stage with
               the stored validators attached) — 304s cost ~200B
    merge      apply_revalidation: one url-keyed full-outer MERGE

Scheduling policy per wave w (all integer arithmetic, wave units):

* fresh URLs (universe ∖ state) score 2^62 — never-fetched pages are
  infinitely stale, they outrank every revisit;
* URLs with ≥2 observed changes score staleness·(n_changes−1)·10^6
  div change_span — the Cho & Garcia-Molina change-rate estimator,
  the same formula `plans/schedule.recrawl_schedule` implements in
  epoch seconds (that entry is the oracled twin of this scoring);
* everything else scores −(last_checked+1): a least-recently-checked
  backstop, so unchanging pages rotate through the leftover budget
  instead of starving behind a fixed tie-break.

The scored union goes through `plans/schedule.schedule_wave(budget=k)`
— one per-host top-k window; for k ≤ 1000 Spark caps each host
map-side before the host exchange, so one Zipf-hot host with 10^8 URLs
cannot serialize the wave. Scoring itself is ONE
map-side-combinable groupBy over the observation log (no window until
the per-host cap); the log is touched once per wave.

State persists in an upsert CrawlStore table (`recrawl_store`): each
wave commits only the rows it actually revalidated — O(|wave|), like
an Iceberg MERGE INTO with merge-on-read resolution at load; the
observation log is a plain append table. Without a store, each wave's
snapshot is one localCheckpoint of both tables, deduplicated, so it
holds the rows a store's load() would return. Resume, snapshots and
the release of each wave's cached `fetched` frame are
`plans/storage.WaveState`'s, the same code run_crawl runs.

Failure semantics (from apply_revalidation, pinned by tests): a
transport failure keeps every stored field (stale beats lost) and
emits NO observation — and a URL whose FIRST fetch fails never enters
state, so it is rescheduled as fresh next wave.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.plans.storage import CrawlStore, WaveState
from photon_spark.sources.fetch_cond import apply_revalidation
from photon_spark.sources.fetch_http import Transport, fetch_stage

RECRAWL_SCHEMAS = {
    "state": (
        "url string, body string, etag string, last_modified string, "
        "fetched_wave int, checked_wave int"
    ),
    "observations": "url string, wave int, changed int",
}

_FRESH_SCORE = 2**62


def recrawl_store(root: str) -> CrawlStore:
    """CrawlStore configured for the recrawl tables: `state` resolves
    last-writer-wins on url (merge-on-read upsert), `observations`
    stays append-only."""
    return CrawlStore(
        root, schemas=RECRAWL_SCHEMAS, upsert_keys={"state": ["url"]}
    )


@dataclass
class RecrawlResult:
    state: DataFrame         # RECRAWL_SCHEMAS["state"]
    observations: DataFrame  # RECRAWL_SCHEMAS["observations"]
    metrics: list[dict] = field(default_factory=list)


def run_recrawl(
    spark: SparkSession,
    universe: DataFrame,
    transport_for_wave: Callable[[int], Transport],
    n_waves: int,
    k: int = 2,
    partitions: Optional[int] = None,
    salts: int = 1,
    delay: float = 0.0,
    timeout: float = 6.0,
    store: Optional[CrawlStore] = None,
    resume: bool = False,
    stop_after_wave: Optional[int] = None,
) -> Optional[RecrawlResult]:
    """Run ``n_waves`` revalidation waves over ``universe`` (a frame
    with a ``url`` column — at scale, the corpus table itself).

    ``transport_for_wave(w)`` returns the fetch_stage Transport for
    wave w — production passes ``lambda w: requests_transport()``; tests
    inject deterministic wave-aware origins. ``k`` is the per-host
    per-wave politeness budget (fresh + revisits combined).

    ``stop_after_wave`` simulates a crash for resume tests: state is
    committed to ``store``, everything the call cached is released,
    and the function returns None. A result holds the last wave's
    snapshot (a localCheckpoint, without a store) cached.
    """
    from photon_spark.plans.schedule import schedule_wave

    with WaveState(spark, RECRAWL_SCHEMAS, store, resume) as ws:
        state, observations = ws.state["state"], ws.state["observations"]
        metrics: list[dict] = []
        for w in range(ws.first_wave, n_waves):
            t0 = time.time()

            # ---- score revisits: ONE groupBy over the observation log.
            ch_wave = F.when(F.col("changed") == 1, F.col("wave"))
            g = observations.groupBy("url").agg(
                F.sum("changed").alias("n_ch"),
                F.max(ch_wave).alias("last_ch"),
                F.min(ch_wave).alias("first_ch"),
                F.max("wave").alias("last_checked"),
            )
            span = F.col("last_ch") - F.col("first_ch")
            rate = F.expr(
                f"(({w} - last_ch) * (n_ch - 1) * 1000000) div (last_ch - first_ch)"
            )
            revisits = g.select(
                "url",
                F.when((span > 0) & (rate > 0), rate)
                .otherwise(-(F.col("last_checked") + 1))
                .cast("long")
                .alias("score"),
            )
            fresh = universe.select("url").join(
                state.select("url"), "url", "left_anti"
            ).select("url", F.lit(_FRESH_SCORE).alias("score"))

            scheduled = schedule_wave(
                fresh.unionByName(revisits).withColumn("level", F.lit(w)),
                budget=k,
                partitions=partitions,
                salts=salts,
            ).select("url", "level")

            # ---- attach stored validators, revalidate over the wire.
            wave_df = scheduled.join(
                state.select("url", "etag", "last_modified"), "url", "left"
            )
            fetched = ws.hold(
                fetch_stage(
                    wave_df,
                    transport_factory=lambda: transport_for_wave(w),
                    delay=delay,
                    timeout=timeout,
                )
            )
            mrow = fetched.agg(
                F.count(F.lit(1)).alias("scheduled"),
                F.sum(F.col("not_modified").cast("int")).alias("n_unchanged"),
                F.sum((F.col("status") == 0).cast("int")).alias("n_failed"),
            ).collect()[0]

            # ---- merge + grow the log. Failed-first-fetch rows come out
            # of the merge all-null except url; dropping them (no stored
            # fetch ⇒ fetched_wave null) reschedules the URL as fresh.
            state, obs_w = apply_revalidation(state, fetched, wave=w)
            state = state.filter(F.col("fetched_wave").isNotNull())
            snap = ws.snapshot(
                w,
                # O(|wave|) upsert delta: only rows touched this wave
                {"state": state.filter(F.col("checked_wave") == w), "observations": obs_w},
                {"wave": w},
                replace={"state": state},
            )
            state, observations = snap["state"], snap["observations"]

            n_sched = int(mrow["scheduled"])
            n_unch = int(mrow["n_unchanged"] or 0)
            n_fail = int(mrow["n_failed"] or 0)
            elapsed = time.time() - t0
            metrics.append(
                {
                    "wave": w,
                    "scheduled": n_sched,
                    "n_modified": n_sched - n_unch - n_fail,
                    "n_unchanged": n_unch,
                    "n_failed": n_fail,
                    "elapsed_s": round(elapsed, 4),
                }
            )
            if stop_after_wave is not None and w >= stop_after_wave:
                return None

        # Uniform contract for checked_wave regardless of persistence mode:
        # the last SUCCESSFUL check per url, recomputed from the log (the
        # in-loop state only carries the current wave's marker).
        last_check = observations.groupBy("url").agg(
            F.max("wave").cast("int").alias("checked_wave")
        )
        state = state.drop("checked_wave").join(last_check, "url", "left")
        ws.hand_over()
        return RecrawlResult(state=state, observations=observations, metrics=metrics)
