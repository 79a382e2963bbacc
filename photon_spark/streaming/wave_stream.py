"""Structured-Streaming skin over the crawl wave (SURVEY.md §7 note).

The batch engine's wave function (canonicalize → dedup vs seen →
politeness schedule) re-used under ``foreachBatch``: a stream of
discovered candidate URLs becomes a stream of scheduled fetch work,
with the `seen` set carried in the batch driver's own CrawlStore. This
is the production shape for a continuous crawler: discovery events
arrive continuously; each micro-batch is one scheduling wave.

Batch/stream parity: each micro-batch applies the SAME dataframe
stages as photon_spark.crawl's wave loop, so the semantics contract is
the batch one (golden-tested); the tests assert the stream schedules
every distinct canonical URL exactly once across batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from photon_spark.plans.frontier import (
    canonicalize_urls,
    canonicalize_urls_ext,
    dedup_candidates,
    dedup_candidates_parts,
)
from photon_spark.plans.schedule import schedule_wave
from photon_spark.streaming import start_foreach_batch


class StoreBackedScheduler:
    """foreachBatch wave scheduler whose seen-state IS the batch
    engine's Iceberg-shaped ``CrawlStore`` — one state store serves
    both execution modes, so a crawl can start as a batch run, resume
    as a stream, and vice versa (the north rule's 'resumable from
    Iceberg checkpoints' with streaming discovery).

    Exactly-once contract (the standard foreachBatch idempotence
    pattern): store wave id = ``_stream_base + batch_id``, where
    ``_stream_base`` is pinned in the manifest meta at the stream's
    first commit — one past any pre-existing (batch-run) wave, so a
    crawl's batch waves 0..k and the stream's micro-batch ids 0..n
    never collide and the replay guard compares stream-lineage waves
    only. Per batch the order is (1) idempotent sink write — overwrite
    of the ``batch_id=<n>`` partition dir, (2) store commit of the
    scheduled delta. A crash between (1) and (2) replays the batch:
    the sink overwrite rewrites identical rows (the schedule is
    deterministic given the same input + seen snapshot, which the
    store guarantees — its latest wave is still ``wave-1``); a replay
    AFTER (2) is detected by ``latest() >= wave`` and skipped
    outright, because commit happening-after the sink write means both
    are on disk. (Idempotence is keyed on Spark's batch ids, so it
    holds per checkpoint lineage — restarting against a CLEARED
    checkpoint is a new stream and needs a fresh/reset store, exactly
    as with any batchId-keyed foreachBatch sink.)

    ``compact_every=K`` folds the delta tail into a consolidated base
    (bucketed on url when the store was built with ``bucket_seen>0``)
    and expires superseded deltas — after which the per-batch dedup
    runs on the exchange-free base + broadcast-tail plan
    (dedup_candidates_parts), the 10^10-|seen| rung. The trigger is
    the actual tail length (``wave - base_wave >= K``), not the batch
    counter, so a crash between commit and compact self-heals: the
    next committed batch sees the overlong tail and compacts.
    """

    def __init__(
        self,
        store,
        out_dir: str,
        budget: int | None = 100,
        partitions: int = 8,
        salts: int = 4,
        compact_every: int | None = None,
        canonical_ext: bool = False,
    ):
        self.store = store
        self.out_dir = out_dir
        self.budget = budget
        self.partitions = partitions
        self.salts = salts
        self.compact_every = compact_every
        # production knob: tracking-param strip + query sort on top of
        # the Q1 canonicalization (frontier.canonicalize_urls_ext)
        self.canonical_ext = canonical_ext

    def _seen(self, spark: SparkSession, latest):
        """(base, delta) pair when a bucketed base exists, else the
        plain snapshot-as-of-latest processed table (single-table load
        — the stream never touches the other state tables)."""
        if latest is None:
            from photon_spark.session import jvm_empty

            return None, jvm_empty(spark, "url string")
        parts = self.store.processed_parts(spark)
        if parts is not None:
            return parts, None
        return None, self.store.load_table(spark, latest[0], "processed")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = self.store.latest()
        meta_prev = latest[1] if latest else {}
        stream_base = meta_prev.get("_stream_base")
        if stream_base is None:
            # first stream commit against this store: stream waves
            # start AFTER any existing batch-run waves (batch->stream
            # resume must not read new micro-batches as replays of the
            # batch crawl's wave ids).
            stream_base = (latest[0] + 1) if latest else 0
        wave = stream_base + batch_id
        if latest is not None and latest[0] >= wave:
            # replay of a fully-committed micro-batch (commit is the
            # LAST step, so the sink partition for it is already on
            # disk too): exactly-once by skipping.
            return
        _canon = canonicalize_urls_ext if self.canonical_ext else canonicalize_urls
        canon = _canon(batch_df.select("url")).dropDuplicates(["url"])
        parts, seen = self._seen(spark, latest)
        if parts is not None:
            fresh = dedup_candidates_parts(canon, parts[0], parts[1])
        else:
            fresh = dedup_candidates(canon, seen)
        scheduled = schedule_wave(
            fresh,
            budget=self.budget,
            partitions=self.partitions,
            salts=self.salts,
        ).select("url")
        scheduled = scheduled.persist()
        scheduled.write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"batch_id={batch_id}")
        )
        self.store.commit(
            wave,
            {"processed": scheduled},
            {
                "scheduled": scheduled.count(),
                "mode": "stream",
                "batch_id": batch_id,
                "_stream_base": stream_base,
            },
        )
        scheduled.unpersist()
        if self.compact_every:
            # trigger on actual tail length, not the batch counter —
            # a crash between commit and compact self-heals next batch
            cur = self.store.latest()
            base = cur[1].get("_base") if cur else None
            base_wave = base["wave"] if base else -1
            if wave - base_wave >= self.compact_every:
                self.store.compact(spark)
                self.store.expire()

    def start(self, url_stream: DataFrame, checkpoint_dir: str):
        return start_foreach_batch(url_stream, self.process_batch, checkpoint_dir)
