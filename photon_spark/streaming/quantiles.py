"""Streaming quantile monitor — a KLL compactor summary maintained
over a value stream with ``foreachBatch`` (the rank-query sibling of
StreamingHeavyHitters' CMS maintainer).

KLL is MERGEABLE rather than linear: the stream state is a valid
summary of the union (total weight preserved EXACTLY — k even halves
each compaction — so reported n always equals the true row count), but
its compaction history differs from a one-shot batch sketch, so cell
identity is only guaranteed while no compaction has fired. The parity
contract is therefore two-tier (pytest-pinned, tests/test_streaming.py):

* exact regime (rows so far ≤ k): stored summary ≡ the batch sketch of
  the concatenated input, row-identical, and quantiles are exact order
  statistics;
* compaction regime: n stays exact and every reported quantile's rank
  error stays within the same bound the batch pytest pins.

State is a parquet table of (v double, w long) rows — ≤ levels·k,
tiny, held in a ``SwappedTable`` (plans/storage.py) that replaces it
crash-safely per batch, readable mid-stream by ``quantiles()`` at any
time: the crawl-operations "latency/size percentile RIGHT NOW" gauge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from photon_spark.plans.schedule import (
    kll_merge,
    kll_partials,
    kll_rank_query,
)
from photon_spark.plans.storage import SwappedTable
from photon_spark.session import jvm_empty
from photon_spark.streaming import start_foreach_batch


class StreamingQuantiles:
    """foreachBatch KLL maintainer with parquet-backed summary state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        value_col: str = "value",
        k: int = 256,
    ):
        self.spark = spark
        self.value_col = value_col
        self.k = k
        self._state = SwappedTable(os.path.join(state_dir, "kll_summary"))

    def summary(self) -> DataFrame | None:
        return self._state.read(self.spark)[0]

    def quantiles(
        self, qs: tuple[float, ...] = (0.5, 0.9, 0.99)
    ) -> DataFrame:
        """Rank queries against the CURRENT stored summary (empty
        frame with the right schema before the first batch)."""
        s = self.summary()
        if s is None:
            return jvm_empty(self.spark, "q double, value double, n bigint")
        return kll_rank_query(s, qs)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard: after a failure/restart foreachBatch re-delivers
        # the last batch_id; folding it twice would inflate n and skew
        # quantiles. The applied-batch marker swaps atomically WITH the
        # summary, so state and marker can't diverge.
        prev, last = self._state.read(self.spark)
        if batch_id <= last:
            return
        inc = kll_partials(batch_df, self.value_col, self.k)
        if prev is not None:
            inc = inc.unionByName(prev)
        self._state.replace(kll_merge(inc, self.k), batch_id)

    def attach(self, stream: DataFrame, checkpoint: str):
        """Start the maintainer on a readStream of value rows."""
        return start_foreach_batch(stream, self.process_batch, checkpoint)
