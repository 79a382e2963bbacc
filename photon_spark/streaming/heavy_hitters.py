"""Streaming heavy-hitter monitor — a count-min sketch maintained over
a host stream with ``foreachBatch``.

CMS is a LINEAR sketch: the sketch of a union is the cell-wise SUM of
the sketches — so each micro-batch's increments merge into the stored
sketch with one (i, bucket) aggregation, the same property that lets a
real cluster build per-executor partial sketches and OR^H^Hsum them at
the reduce. The stored sketch is a parquet table of (i, bucket, c)
rows (≤ depth·width) held in a ``SwappedTable`` (plans/storage.py):
tiny, replaced crash-safely per batch, and readable by the batch
estimator (plans/schedule.cms_estimate) at any time — the
crawl-operations "which hosts are flooding the frontier RIGHT NOW"
gauge.

Parity contract (pytest): after streaming N micro-batches, the stored
sketch is row-identical to ``cms_sketch`` over the concatenated batch
input — linearity makes the stream/batch equivalence exact, not
approximate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.plans.schedule import cms_estimate, cms_sketch
from photon_spark.plans.storage import SwappedTable
from photon_spark.streaming import start_foreach_batch


class StreamingHeavyHitters:
    """foreachBatch CMS maintainer with parquet-backed sketch state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "host",
        depth: int = 4,
        width: int = 2048,
    ):
        self.spark = spark
        self.key_col = key_col
        self.depth = depth
        self.width = width
        self._state = SwappedTable(os.path.join(state_dir, "cms_sketch"))

    def sketch(self) -> DataFrame | None:
        return self._state.read(self.spark)[0]

    def estimate(self, keys: DataFrame) -> DataFrame:
        """Point estimates for `keys` against the CURRENT stored
        sketch (0 for everything when no batch has arrived yet)."""
        s = self.sketch()
        if s is None:
            return keys.select(self.key_col).distinct().withColumn(
                "est", F.lit(0).cast("bigint")
            )
        return cms_estimate(s, keys, self.key_col, self.depth, self.width)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard (same contract as StreamingQuantiles): a
        # re-delivered batch_id after restart must not double-count
        # into the sketch; the marker swaps atomically with the state.
        prev, last = self._state.read(self.spark)
        if batch_id <= last:
            return
        inc = cms_sketch(batch_df, self.key_col, self.depth, self.width)
        if prev is not None:
            inc = (
                inc.unionByName(prev)
                .groupBy("i", "bucket")
                .agg(F.sum("c").alias("c"))
            )
        self._state.replace(inc, batch_id)

    def attach(self, stream: DataFrame, checkpoint: str):
        """Start the maintainer on a readStream of keyed rows."""
        return start_foreach_batch(stream, self.process_batch, checkpoint)
