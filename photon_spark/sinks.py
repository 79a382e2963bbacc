"""Output sinks — the reference's writer/exporter surface (K1/K2/K4).

* write_txt: one <name>.txt per non-empty dataset, newline-joined with
  a trailing newline (reference core/utils.py:78-86; empty datasets
  produce no file). Values are sorted for deterministic goldens —
  comparisons stay order-insensitive (SURVEY.md §2.3).
* export: exported.json / exported.csv with the reference's shapes
  (plugins/exporter.py:6-24 — json dict-of-lists indent=4; csv rows of
  [name, *values]).
* write_results_table: the scale path — a single (dataset, value)
  parquet table partitioned by dataset, instead of driver-side files.
"""

from __future__ import annotations

import csv
import json
import os

from photon_spark.crawl import DATASET_NAMES, CrawlResult


def write_results_table(result: CrawlResult, path: str) -> None:
    result.results.write.mode("overwrite").partitionBy("dataset").parquet(path)


def _collected(result: CrawlResult) -> dict[str, list[str]]:
    return {name: sorted(vals) for name, vals in result.to_sets().items()}


def write_txt(result: CrawlResult, output_dir: str) -> list[str]:
    """Returns the files written (non-empty datasets only)."""
    os.makedirs(output_dir, exist_ok=True)
    written = []
    collected = result.to_sets()
    for name in DATASET_NAMES:
        values = sorted(collected[name]) if name in collected else []
        if not values:
            continue
        path = os.path.join(output_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write("\n".join(values))
            f.write("\n")
        written.append(path)
    return written


def export(result: CrawlResult, output_dir: str, method: str) -> str:
    os.makedirs(output_dir, exist_ok=True)
    datasets = _collected(result)
    if method.lower() == "json":
        path = os.path.join(output_dir, "exported.json")
        with open(path, "w") as f:
            f.write(json.dumps(datasets, indent=4))
        return path
    if method.lower() == "csv":
        path = os.path.join(output_dir, "exported.csv")
        with open(path, "w") as f:
            w = csv.writer(f, delimiter=",", quoting=csv.QUOTE_MINIMAL)
            for key, values in datasets.items():
                w.writerow([key] + values)
        return path
    raise ValueError(f"unknown export method: {method}")


def mirror_relpath(url: str) -> str:
    """K3 path mapping — the reference's --clone directory
    reconstruction (core/mirror.py:6-37), byte-for-byte, including its
    quirks: basename without a dot gains '.html' (mirror.py:30-31),
    the site root becomes index.html (and a dot-less ROOT collects the
    .html trail too: 'index.html.html'), the query string is appended
    to the FILENAME (mirror.py:36-37), and intermediate directories
    drop the FIRST path segment equal to the basename — list.remove
    semantics (mirror.py:11-14: '/a/b/a' keeps 'b/a', not 'a/b').
    Pure function so the Spark sink and tests share one kernel."""
    clean = url.replace("http://", "").replace("https://", "").rstrip("/")
    parts = clean.split("?")[0].split("/")
    root = parts[0]
    webpage = parts[-1]
    parts.remove(root)
    try:
        parts.remove(webpage)
    except ValueError:
        pass
    suffix = "".join(d + "/" for d in parts)
    trail = ""
    if "." not in webpage:
        trail += ".html"
    name = "index.html" if webpage == root else webpage
    if len(url.split("?")) > 1:
        trail += "?" + url.split("?")[1]
    return root + "_mirror/" + suffix + name + trail


def write_mirror(fetched, output_dir: str) -> None:
    """K3 corrected-mode mirror sink (--clone). The reference's mirror
    is broken on Python 3 — core/mirror.py:38-39 writes bytes to a
    text-mode file, and because mirror runs first in extractor
    (photon.py:242-243) the swallowed TypeError silently disables all
    extraction (Q7). This sink keeps the reference's PATH semantics
    (mirror_relpath) and fixes only the write.

    ``fetched``: (url, body) rows; the 'dummy' sentinel is skipped like
    mirror.py:5. Scale shape: files are written from EXECUTORS
    (foreachPartition — no driver collect, no bound on page count); on
    a cluster point output_dir at a shared filesystem. Same-path
    collisions overwrite, matching the reference's sequential
    last-write-wins."""
    from photon_spark.config import DUMMY

    os.makedirs(output_dir, exist_ok=True)
    # realpath (not abspath): the escape check below compares against
    # resolved paths, so a symlinked output_dir must not false-reject.
    base = os.path.realpath(output_dir)

    def write_partition(rows):
        for row in rows:
            body = row["body"]
            if body == DUMMY or body is None:
                continue
            rel = mirror_relpath(row["url"])
            path = os.path.join(base, rel)
            # Crawled URLs are hostile input: a page linking
            # /a/../../../../etc/cron.d/x would otherwise resolve
            # outside output_dir and let remote content write
            # arbitrary files on every executor. The reference shares
            # the flaw (core/mirror.py joins unsanitized); corrected
            # mode refuses any path that escapes the base dir.
            real = os.path.realpath(path)
            if os.path.commonpath([base, real]) != base:
                continue
            os.makedirs(os.path.dirname(real), exist_ok=True)
            with open(real, "w", encoding="utf-8") as f:
                f.write(body)

    fetched.select("url", "body").foreachPartition(write_partition)


def write_corpus_shards(
    documents,
    out_dir: str,
    budget_tokens: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    twophase: bool = False,
):
    """Training-corpus shard export with an integrity manifest — the
    sink end of the packing family (pack_shards assigns, this
    persists): documents land under ``data/<group>/<shard>/`` via a
    partitioned parquet write (one directory per bounded training
    shard, the layout a loader streams sequentially), and a manifest
    table ``(group, shard, n_docs, n_tokens, docs_md5)`` is written
    beside it, where docs_md5 fingerprints the comma-joined SORTED key
    list — so shard completeness is verifiable without trusting file
    counts.

    Shard assignment is the deterministic prefix-sum rule of
    pack_shards (``twophase=True`` switches to the dominant-group-safe
    two-phase cumsum — bit-identical output). The manifest's
    collect_list is bounded per shard by the token budget, never
    corpus-wide. Executors write the data; only manifest metadata
    (dimension-scale) flows through the driver-side parquet commit.

    Returns the manifest DataFrame (read back from storage, so what
    you get is what was durably written). ``verify_corpus_shards``
    recomputes it from the data and diffs.
    """
    from pyspark.sql import functions as F

    from photon_spark.operators.sampling import pack_shards, pack_shards_twophase

    assign_fn = pack_shards_twophase if twophase else pack_shards
    assign = assign_fn(documents, budget_tokens, group_col, key_col).select(
        key_col, "n_tokens", "shard"
    )
    full = documents.join(assign, key_col)
    data_path = os.path.join(out_dir, "data")
    full.write.partitionBy(group_col, "shard").mode("overwrite").parquet(data_path)
    manifest = _shard_manifest(full, group_col, key_col)
    man_path = os.path.join(out_dir, "manifest")
    manifest.write.mode("overwrite").parquet(man_path)
    return documents.sparkSession.read.parquet(man_path)


def _shard_manifest(full, group_col: str, key_col: str):
    from pyspark.sql import functions as F

    return full.groupBy(group_col, "shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col(key_col).cast("string")))
            )
        ).alias("docs_md5"),
    )


def verify_corpus_shards(
    spark, out_dir: str, group_col: str = "source", key_col: str = "doc_id"
):
    """Recompute the shard manifest from the written data and diff it
    against the stored one. Returns a DataFrame of mismatches — empty
    means every shard is complete and untampered (missing shards,
    extra shards, and doc-set drift all surface; a full-outer join on
    (group, shard) with null-safe comparison)."""
    from pyspark.sql import functions as F

    data = spark.read.parquet(os.path.join(out_dir, "data"))
    stored = spark.read.parquet(os.path.join(out_dir, "manifest")).select(
        group_col,
        "shard",
        F.col("n_docs").alias("m_docs"),
        F.col("n_tokens").alias("m_tokens"),
        F.col("docs_md5").alias("m_md5"),
    )
    actual = _shard_manifest(data, group_col, key_col)
    joined = actual.join(stored, [group_col, "shard"], "full_outer")
    bad = (
        ~F.col("n_docs").eqNullSafe(F.col("m_docs"))
        | ~F.col("n_tokens").eqNullSafe(F.col("m_tokens"))
        | ~F.col("docs_md5").eqNullSafe(F.col("m_md5"))
    )
    return joined.filter(bad)
