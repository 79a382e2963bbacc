"""Streaming incremental near-dup gate — foreachBatch LSH ingestion.

The batch twin is ``dedupe.minhash_lsh_pairs_incremental`` (new batch
vs stored corpus, no corpus self-join); this maintainer runs it per
micro-batch and GROWS the corpus with each batch's clean survivors:

  batch N: band-key the new docs → match against the stored corpus
  band table (bucket-capped) AND against lower-keyed batch siblings
  (a batch can contain near-dups of itself) → flagged docs are
  recorded with their matched corpus doc; clean docs' band keys are
  appended to the corpus state.

State layout (parquet):
  <state>/bands/batch=N/   clean band keys admitted by batch N
  <state>/bands/base/      compact()'s fold of the batch dirs, a
                           ``SwappedTable`` (plans/storage.py) whose
                           pointer names the last batch folded
  <state>/flags/batch=N/   (new_doc, matched_doc) rejections of batch N
Each batch writes ONLY its own batch= subdirectories with overwrite —
replaying a batch (checkpoint recovery) rewrites the same files, and a
batch the base already folded is skipped, so the state is exactly-once
idempotent.

At 100 TB the corpus band table is the stored artifact of the batch
dedup pass (computed once per admitted doc); per micro-batch work is
one band-keyed equi-join of the (small) batch against it — the same
economics that make the batch twin incremental.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.operators.dedupe import (
    _band_keys,
    minhash_signatures,
)
from photon_spark.plans.storage import SwappedTable
from photon_spark.streaming import start_foreach_batch


class StreamingIngestDedup:
    """foreachBatch maintainer: LSH near-dup gate with a parquet-backed
    growing corpus band table."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        bands: int = 4,
        n_hashes: int = 8,
        max_bucket: int = 50,
    ):
        self.spark = spark
        self.bands = bands
        self.n_hashes = n_hashes
        self.max_bucket = max_bucket
        self._bands_dir = os.path.join(state_dir, "bands")
        self._flags_dir = os.path.join(state_dir, "flags")
        self._base = SwappedTable(os.path.join(self._bands_dir, "base"))

    @staticmethod
    def _batch_dirs(parent: str) -> dict[int, str]:
        """batch id → its batch=N dir under `parent`."""
        if not os.path.isdir(parent):
            return {}
        return {
            int(d[len("batch="):]): os.path.join(parent, d)
            for d in os.listdir(parent)
            if d.startswith("batch=")
        }

    def _corpus(
        self, base: DataFrame | None, folded: int, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """The base plus the band dirs of the batches it has not folded."""
        paths = [
            p
            for b, p in self._batch_dirs(self._bands_dir).items()
            if b > folded and b != exclude_batch
        ]
        tail = self.spark.read.parquet(*paths) if paths else None
        if base is None or tail is None:
            return tail if base is None else base
        return base.unionByName(tail)

    def corpus_bands(
        self, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """The admitted corpus's band table (doc_id, band, key)."""
        return self._corpus(*self._base.read(self.spark), exclude_batch)

    def flags(self) -> DataFrame | None:
        """All rejections so far (new_doc, matched_doc)."""
        paths = list(self._batch_dirs(self._flags_dir).values())
        return self.spark.read.parquet(*paths) if paths else None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        base, folded = self._base.read(self.spark)
        if batch_id <= folded:
            # replay of a batch compact() already folded: its bands are
            # in the base and its flags on disk. Admitting it again
            # would double its band rows and push its buckets over
            # max_bucket.
            return
        rows_per_band = self.n_hashes // self.bands
        nb = _band_keys(
            minhash_signatures(batch_df, self.n_hashes),
            self.bands,
            rows_per_band,
        ).localCheckpoint(eager=True)

        # vs the stored corpus, bucket-capped on the corpus side;
        # exclude this batch's own prior state so checkpoint REPLAY of
        # a batch can't match the batch against itself
        corpus = self._corpus(base, folded, exclude_batch=batch_id)
        if corpus is not None:
            ok = (
                corpus.groupBy("band", "key")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") <= self.max_bucket)
                .select("band", "key")
            )
            c_ok = corpus.join(ok, ["band", "key"], "left_semi")
            vs_corpus = (
                nb.join(
                    c_ok.select(
                        "band", "key", F.col("doc_id").alias("matched_doc")
                    ),
                    ["band", "key"],
                )
                .select(F.col("doc_id").alias("new_doc"), "matched_doc")
            )
        else:
            # empty frame with the caller's doc_id type
            vs_corpus = nb.select(
                F.col("doc_id").alias("new_doc"),
                F.col("doc_id").alias("matched_doc"),
            ).limit(0)

        # vs lower-keyed batch siblings (deterministic keeper rule)
        sib = (
            nb.alias("a")
            .join(
                nb.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("new_doc"),
                F.col("b.doc_id").alias("matched_doc"),
            )
        )
        # a sibling flagged against an ALSO-flagged sibling still counts
        # as a rejection (its content exists in the batch's keeper chain)
        flagged = vs_corpus.unionByName(sib).distinct().localCheckpoint(
            eager=True
        )
        clean_bands = nb.join(
            flagged.select(F.col("new_doc").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )

        clean_bands.write.mode("overwrite").parquet(
            os.path.join(self._bands_dir, f"batch={batch_id}")
        )
        flagged.write.mode("overwrite").parquet(
            os.path.join(self._flags_dir, f"batch={batch_id}")
        )

    def compact(self) -> int:
        """Fold all batch=N band directories into the ``base`` table —
        the same delta→base rewrite CrawlStore.compact() runs for the
        crawl's seen table (small-file pressure grows one dir per
        micro-batch; the band table is read by EVERY batch's join).
        Returns the number of batch dirs folded.

        The base is a ``SwappedTable`` whose pointer records the highest
        batch id folded, and the batch dirs are removed only after the
        pointer swap: a crash at any point keeps every admitted row
        readable exactly once (readers skip batch dirs the base
        already folded). Run it between batches (foreachBatch
        serializes with the stream).
        """
        base, folded = self._base.read(self.spark)
        dirs = self._batch_dirs(self._bands_dir)
        new = [b for b in dirs if b > folded]
        if new:
            merged = self._corpus(base, folded).dropDuplicates(
                ["doc_id", "band", "key"]
            )
            self._base.replace(merged, max(new))
        for p in dirs.values():
            shutil.rmtree(p)
        return len(new)

    def attach(self, stream: DataFrame, checkpoint: str):
        return start_foreach_batch(stream, self.process_batch, checkpoint)
