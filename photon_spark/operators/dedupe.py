"""Deduplication operators — exact and near-dup, built to shuffle once.

* exact_dedup: hash-groupBy on content fingerprint. One shuffle on
  md5(text); partial aggregation (map-side combine) comes free from
  groupBy.
* minhash_lsh_pairs: shingle → minhash signature → band buckets →
  candidate pairs via self-join *within buckets only*. The classic
  scale path: the O(n²) pair space never materializes; the only wide
  ops are one groupBy per band bucket. Hashes are md5-based so the
  DuckDB oracle can reproduce them bit-for-bit (no JVM/duckdb hash
  dialect dependency).
* ngram_jaccard_verify: exact Jaccard on candidate pairs only
  (explode-join-count, no cross join).

At 100 TB: shingling is narrow (scan-side); the band groupBy shuffles
|docs|·BANDS rows of (band_key ~16 bytes, doc_id); skewed buckets
(boilerplate shingles) are capped by `max_bucket` to bound the
quadratic within-bucket pairing — the standard LSH skew guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SHINGLE_WORDS = 3
MINHASHES = 8
BANDS = 4  # rows per band = MINHASHES // BANDS = 2


def shingles_col(text, k: int = SHINGLE_WORDS):
    """k-word shingles as an array column (distinct, order-free)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def minhash_signatures(documents: DataFrame, n_hashes: int = MINHASHES) -> DataFrame:
    """(doc_id, h0..h{n-1}) minhash signature via explode + groupBy-min.

    Scale path: shingling is a narrow flat-map; the min-per-hash
    aggregation partial-aggregates map-side, so the shuffle carries at
    most |docs|·n_hashes tiny rows — not |docs|·|shingles|.

    h_i is the lexicographic-min md5('i|shingle') hex string: min over
    hex strings == min over uniform 128-bit ints, and md5 is identical
    in Spark and DuckDB, so the oracle reproduces it exactly.
    """
    src = documents.select("doc_id", "text")
    # the n_hashes×|shingles| md5s evaluate in the map-side partial
    # aggregation, i.e. on the INPUT partitioning — a single-file
    # parquet table would compute them all on one core
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism)
    sh = src.select("doc_id", F.explode(shingles_col(F.col("text"))).alias("s"))
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("s")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical docs: (fp, keeper=min doc_id, n_dups)."""
    return (
        documents.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_docs"))
    )


# 31-bit universal-hash constants for the integer fast path: odd
# multipliers / offsets derived from the golden-ratio sequence (any
# fixed odd a_i works; these are pinned so signatures are stable).
_UH_MOD = 1 << 31
_UH_A = [2654435761 % _UH_MOD | 1]
_UH_B = [1013904223]
while len(_UH_A) < 64:
    _UH_A.append((_UH_A[-1] * 40503 + 2654435769) % _UH_MOD | 1)
    _UH_B.append((_UH_B[-1] * 69069 + 362437) % _UH_MOD)


def minhash_signatures_fast(documents: DataFrame, n_hashes: int = MINHASHES) -> DataFrame:
    """Integer minhash — the scale path. ONE xxhash64 per shingle,
    then n universal-hash permutations h_i(x) = (a_i·x + b_i) mod 2^31
    (products stay < 2^62: no overflow), min per document.

    vs the md5 family: ~n× less hash work, long-typed agg buffers
    instead of 32-char hex strings (≈8× less shuffle/agg garbage), so
    it keeps scaling where the string path starts saturating memory
    bandwidth (measured: BENCH/BASELINE.md dedup scaling pair).
    Not oracle-portable (DuckDB has no xxhash64) — the md5 family
    stays the hash-gated reference; a pytest pins planted-dup recall
    parity between the two.
    """
    src = documents.select("doc_id", "text")
    parallelism = documents.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism)
    sh = src.select("doc_id", F.explode(shingles_col(F.col("text"))).alias("s"))
    x = F.pmod(F.xxhash64("s"), F.lit(_UH_MOD))
    aggs = [
        F.min(
            F.pmod(x * F.lit(_UH_A[i]) + F.lit(_UH_B[i]), F.lit(_UH_MOD))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_keys(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Signature frame -> (doc_id, band, key) LSH band rows."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    bands: int = BANDS,
    n_hashes: int = MINHASHES,
    max_bucket: int = 50,
    fast: bool = False,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Bipartite LSH candidates: near-dups of a NEW ingest batch
    against an EXISTING corpus — the incremental-ingestion shape. The
    corpus is never self-joined (that quadratic work was paid when the
    corpus itself was deduped); candidate generation is one equi-join
    of the small new side's band keys against the corpus band table.

    At 100 TB the corpus-side signatures/bands are a stored artifact
    (computed once per doc at ingest) — pass them via ``corpus_sig``
    so only the new batch hashes; the join then reads the corpus band
    table pre-partitioned on (band, key). Skew guard caps CORPUS
    bucket membership (boilerplate buckets can hold 10^7 corpus docs;
    a new doc landing there would emit 10^7 candidate rows) — same
    count-filter → semi-join pattern as the self-join variant, and the
    new side is left intact so no candidate disappears on the small
    side.

    Returns distinct (new_doc, corpus_doc) pairs sharing ≥1 band.
    """
    rows_per_band = n_hashes // bands
    sig_fn = minhash_signatures_fast if fast else minhash_signatures
    nb = _band_keys(sig_fn(new_docs, n_hashes), bands, rows_per_band)
    if corpus_sig is None:
        corpus_sig = sig_fn(corpus_docs, n_hashes)
    cb = _band_keys(corpus_sig, bands, rows_per_band)
    ok = (
        cb.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "key")
    )
    cb_ok = cb.join(ok, ["band", "key"], "left_semi")
    return (
        nb.join(
            cb_ok.select(
                "band", "key", F.col("doc_id").alias("corpus_doc")
            ),
            ["band", "key"],
        )
        .select(F.col("doc_id").alias("new_doc"), "corpus_doc")
        .distinct()
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    bands: int = BANDS,
    n_hashes: int = MINHASHES,
    max_bucket: int = 50,
    fast: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band bucket.

    ``fast=True`` swaps the md5 signature family for the integer
    xxhash64 fast path (same banding/bucket semantics downstream,
    different — non-oracle-portable — hash values).
    """
    rows_per_band = n_hashes // bands
    sig_fn = minhash_signatures_fast if fast else minhash_signatures
    sig = sig_fn(documents, n_hashes)
    banded = _band_keys(sig, bands, rows_per_band)
    # Skew guard, two-stage so a degenerate bucket (boilerplate docs —
    # can be 10^7 members at crawl scale) is NEVER materialized in an
    # aggregation buffer: (1) count-only groupBy (map-side partial, a
    # few bytes per bucket) filters to 2 ≤ n ≤ max_bucket, (2) semi-join
    # keeps only surviving rows, (3) collect_list runs on bounded
    # buckets only. Both stages hash-partition on (band, key), so the
    # exchange is reused / the final groupBy needs no extra shuffle.
    ok_sizes = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
        .select("band", "key")
    )
    buckets = (
        banded.join(ok_sizes, ["band", "key"], "left_semi")
        .groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda a: F.transform(
                            F.col("ids"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")).distinct()
    return pairs


def ngram_jaccard_verify(
    documents: DataFrame, pairs: DataFrame, k: int = SHINGLE_WORDS
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (no cross join)."""
    sh = documents.select(
        "doc_id", shingles_col(F.col("text"), k).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    # floor-trick instead of round(): i/u with power-of-two u can land
    # exactly on a rounding half-boundary (engine round()s disagree
    # there by 1 ulp — see textstats.quality_score)
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.floor(jac * 1000000.0 + 0.5) / 1000000.0).alias("jaccard"),
        )
    )


def ngram_containment_verify(
    documents: DataFrame, pairs: DataFrame, k: int = SHINGLE_WORDS
) -> DataFrame:
    """Exact shingle CONTAINMENT for candidate pairs: |A∩B| / min(|A|,
    |B|). The asymmetric companion to Jaccard — a short document
    embedded verbatim in a long one (quote farms, boilerplate wrappers,
    prefix/suffix dups) scores near 1.0 here while its Jaccard stays
    low, so Jaccard-only pipelines keep the containment dup. Same
    candidate-only join shape as `ngram_jaccard_verify` (never n²)."""
    sh = documents.select("doc_id", shingles_col(F.col("text"), k).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.least(
        F.size("sh_a"), F.size("sh_b")
    ).cast("double")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.floor(cont * 1000000.0 + 0.5) / 1000000.0).alias("containment"),
        )
    )


def dup_components(
    pairs: DataFrame, max_iter: int = 20, checkpoint_dir: str | None = None
) -> DataFrame:
    """Connected components over a near-dup pair graph → one keeper per
    duplicate cluster: (doc_id, keeper = min doc_id in its component).

    The missing last step of every dedup pipeline: LSH/verify emit
    PAIRS, but retention decisions need CLUSTERS (a-b, b-c must keep
    exactly one of {a,b,c}). Implementation is iterative min-label
    propagation with a pointer-doubling shortcut (the MapReduce-CC
    family of Kiveris et al., public): per round, each node takes
    min(own label, neighbors' labels), then resolves its label through
    the label table once more (label ← label[label]). The shortcut jumps
    label chains two hops per round, so convergence is O(log diameter)
    rounds — a 1,000-node chain settles in ~11 rounds where plain
    propagation needs 1,000 — at the cost of one extra label-keyed
    self-join per round (dup clusters are dense/tiny-diameter, so for
    the common case the extra join is one cheap round). The convergence
    check is fused into the propagation aggregate (the node's previous
    label rides along as `min(CASE WHEN own)`) — no separate
    old-vs-new join.

    Labels are checkpointed each round so lineage stays O(1). By
    default this is `localCheckpoint` — fast, but NOT fault-tolerant
    (executor loss on a real cluster loses checkpointed partitions).
    Pass `checkpoint_dir` (HDFS/object-store path in production) to
    checkpoint label frames to reliable storage instead: each round's
    labels are written as parquet and read back, so a lineage recompute
    after executor loss re-reads files rather than replaying `max_iter`
    shuffle rounds. Intermediate round files are removed on exit; the
    final round's files back the returned DataFrame and must outlive it.
    """
    import os
    import shutil

    spark = pairs.sparkSession

    kept_paths: list[str] = []

    def _ckpt(df: DataFrame, tag: str) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = os.path.join(checkpoint_dir, f"labels_{tag}")
        df.write.mode("overwrite").parquet(path)
        kept_paths.append(path)
        return spark.read.parquet(path)

    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .persist()
    )
    labels = _ckpt(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        "r0",
    )
    for i in range(max_iter):
        nbr = (
            edges.join(labels, edges["b"] == labels["node"])
            .select(F.col("a").alias("node"), F.col("label"))
            .withColumn("own", F.lit(False))
        )
        step = (
            labels.withColumn("own", F.lit(True))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                # each node appears exactly once with own=True, so this
                # recovers its previous label without a second join
                F.min(F.when(F.col("own"), F.col("label"))).alias("prev"),
            )
        )
        # pointer-doubling shortcut: label ← label[label]. Labels are
        # node ids, and a label's own label only ever shrinks, so the
        # coalesce is monotone-safe; left join because a fully-resolved
        # label (pointing at a component root) maps to itself. `step`
        # feeds both sides of the self-join — persist it for the round
        # so the propagation aggregate runs once, not twice.
        step = step.persist()
        lut = step.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        new = _ckpt(
            step.join(lut, step["label"] == lut["l_node"], "left").select(
                "node",
                F.coalesce("l_label", "label").alias("label"),
                "prev",
            ),
            f"r{i + 1}",
        )
        step.unpersist()
        changed = new.filter(F.col("label") != F.col("prev")).limit(1).count()
        labels = new.select("node", "label")
        if changed == 0:
            break
    edges.unpersist()
    if checkpoint_dir is not None:
        # all but the final round's files are dead weight on disk
        for p in kept_paths[:-1]:
            shutil.rmtree(p, ignore_errors=True)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("keeper"))


def ngram_decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination — flag corpus documents that share
    ≥ ``min_overlap`` distinct k-word shingles with any benchmark/eval
    item (the published pretraining-hygiene recipe: exact n-gram
    overlap at n≈8-13, per GPT-3 appendix C / PaLM §6; nothing here
    uses the model, only the n-gram join).

    Returns (doc_id, bench_id, n_shared) for every contaminated
    (document, benchmark item) pair. Both shingle sets are distinct
    per side, so ``n_shared`` = |shingle-set intersection|.

    Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    exploded benchmark side is broadcast — the corpus-side explode is
    scan-local (narrow), the join is map-side, and the (doc_id,
    bench_id) count is partial-aggregated before the only shuffle,
    whose volume is bounded by the number of *matches*, not the
    corpus. Set ``broadcast_benchmark=False`` for a benchmark too big
    for the broadcast threshold (falls back to a shuffle hash join on
    the shingle key).
    """
    d = documents.select(
        "doc_id", F.explode(shingles_col(F.col(text_col), k)).alias("sh")
    ).filter(F.length("sh") > 0)
    b = benchmark.select(
        F.col(bench_id_col),
        F.explode(shingles_col(F.col(text_col), k)).alias("sh"),
    ).filter(F.length("sh") > 0)
    if broadcast_benchmark:
        b = F.broadcast(b)
    return (
        d.join(b, "sh")
        .groupBy("doc_id", bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def decontaminated(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Corpus minus contaminated documents (whole-document removal,
    the conservative published policy): anti-join against the flagged
    doc_ids from `ngram_decontaminate`."""
    flagged = ngram_decontaminate(
        documents, benchmark, k=k, min_overlap=min_overlap,
        text_col=text_col, bench_id_col=bench_id_col,
    ).select("doc_id").distinct()
    return documents.join(flagged, "doc_id", "left_anti")


def simhash64(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per document — Arrow-vectorized pandas stage.

    Bit-majority over md5(token) 64-bit prefixes. Per-document work is
    token-local (narrow, no shuffle); Python is justified here because
    per-bit majority voting has no clean built-in expression. Signature
    returned as signed int64 (two's complement) for a compact column.
    Near-dup query = group by band of the signature or hamming-
    distance join downstream.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            sigs = []
            for text in pdf["text"]:
                toks = set((text or "").split(" "))
                if not toks:
                    sigs.append(0)
                    continue
                hs = np.frombuffer(
                    b"".join(hashlib.md5(t.encode()).digest()[:8] for t in sorted(toks)),
                    dtype=">u8",
                )
                bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
                votes = (2 * bits - 1).sum(axis=0)
                sig = np.uint64(0)
                sig = np.bitwise_or.reduce(
                    (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
                )
                sigs.append(int(sig.astype(np.int64)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": pd.array(sigs, dtype="int64")})

    return documents.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, simhash long"
    )


def c4_span_dedup(documents: DataFrame, n_sents: int = 3) -> DataFrame:
    """C4 three-sentence-span deduplication (Raffel et al. 2020 §2.2):
    every sliding window of ``n_sents`` consecutive sentences is a
    span; of all occurrences of a span across the corpus, only the
    first (ordered by doc_id, then position) is kept. Returns one row
    per span: (doc_id, span_idx, span_md5, span_keep).

    Sentence boundaries use the same sentinel-rewrite formulation as
    textstats.c4_clean (RE2-safe, engine-identical). Spans are hashed
    (md5) before the exchange so the shuffle rows stay ~40 bytes
    regardless of sentence length.

    Scale shape: the sliding-window construction is narrow (one array
    transform per doc); the only exchange is the span_md5 hash
    partition for the first-occurrence window — the canonical
    dedup-by-key shape, linear at 100 TB. Each window group holds only
    the duplicates of one span (bounded by dup multiplicity, the same
    skew profile as exact_dedup's groupBy)."""
    from pyspark.sql.window import Window

    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1\x01"), "\x01"
    )
    n = F.size(sents)
    idx = F.when(
        n >= n_sents, F.sequence(F.lit(1), n - (n_sents - 1))
    ).otherwise(F.array().cast("array<int>"))
    span_hashes = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(sents, i, n_sents)))
    )
    spans = documents.select(
        "doc_id", F.posexplode(span_hashes).alias("pos", "span_md5")
    ).select("doc_id", (F.col("pos") + 1).alias("span_idx"), "span_md5")
    w = Window.partitionBy("span_md5").orderBy("doc_id", "span_idx")
    return spans.select(
        "doc_id",
        "span_idx",
        "span_md5",
        (F.row_number().over(w) == 1).alias("span_keep"),
    )


def keep_best_per_cluster(
    docs_scored: DataFrame,
    components: DataFrame,
    score_col: str = "quality",
    key_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup retention: keep the HIGHEST-scoring member
    of each near-dup cluster instead of dup_components' min-doc_id
    keeper — the production corpus policy (of a cluster of near-dup
    pages, retain the best-written one, not the numerically smallest
    id; tie → min key for determinism).

    ``components``: (doc_id, keeper) from dup_components — only docs
    that appear in some near-dup pair, so the join + per-cluster window
    run over the clustered subset (≪ corpus); unclustered docs survive
    untouched via the final anti-join. A boilerplate mega-cluster
    concentrates its window on one task — the same skew class as the
    LSH buckets; cap or salt first if clusters can exceed a task
    (near-dup clusters are overwhelmingly tiny).

    Returns the surviving keys (one column, ``key_col``).
    """
    from pyspark.sql import Window

    members = components.join(
        docs_scored.select(key_col, score_col), key_col
    )
    w = Window.partitionBy("keeper").orderBy(
        F.col(score_col).desc(), F.col(key_col).asc()
    )
    losers = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(key_col)
    )
    return docs_scored.select(key_col).join(losers, key_col, "left_anti")


def hamming_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_dist: int = 3,
    n_bands: int = 4,
    hash_bits: int = 64,
    group_cols: tuple = (),
) -> DataFrame:
    """EXACT Hamming near-dup pairs over a fingerprint column
    (perceptual image hash, simhash, audio fingerprint): all (a < b)
    with popcount(hash_a XOR hash_b) <= max_dist.

    ``group_cols`` restricts pairing to rows that agree on those
    columns (e.g. ``("frame_idx",)`` for per-position video frame
    matching); the columns join into the band key — so groups also
    partition the shuffle — and pass through to the output, one pair
    row per (id_a, id_b, *group_cols).

    Banded, not all-pairs: the hash is split into ``n_bands``
    contiguous bit bands; by pigeonhole, two hashes within Hamming
    distance ``max_dist < n_bands`` agree EXACTLY on at least one
    band, so the band-equality self-join is a complete candidate
    generator and the popcount filter makes the result exact — unlike
    minhash LSH there is no recall loss to trade. (Requires
    ``max_dist < n_bands``; raises otherwise.)

    Scale: the only wide op is the self-join keyed on (band_idx,
    band_value) — |rows|·n_bands candidate keys, quadratic only
    within a band bucket. md5-style fingerprints make buckets
    near-unique; byte-identical media should be removed by exact
    dedup upstream (identical hashes all share every band — the one
    degenerate-bucket hazard). All JVM-side: shift/mask banding,
    xor + bit_count verify, whole-stage codegen end to end.
    """
    if max_dist >= n_bands:
        raise ValueError(
            f"exactness needs max_dist < n_bands (got {max_dist} >= {n_bands})"
        )
    if hash_bits % n_bands:
        raise ValueError("hash_bits must divide evenly into n_bands")
    width = hash_bits // n_bands
    mask = F.lit((1 << width) - 1)
    h = F.col(hash_col)
    banded = df.select(
        F.col(id_col).alias("_id"),
        h.alias("_h"),
        *[F.col(g).alias(f"_g_{g}") for g in group_cols],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(h, b * width).bitwiseAND(mask).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "_id", "_h", "bk.band", "bk.key", *[f"_g_{g}" for g in group_cols]
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a._id") < F.col("b._id"))
    )
    for g in group_cols:
        cond = cond & (F.col(f"a._g_{g}") == F.col(f"b._g_{g}"))
    pairs = (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            *[F.col(f"a._g_{g}").alias(g) for g in group_cols],
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .distinct()  # a pair can agree on several bands
    )
    return pairs


def substring_dup_ranges(
    documents: DataFrame,
    window_tokens: int = 8,
    key_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate spans (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    operator, n-gram-posting formulation): every token window of
    `window_tokens` that appears verbatim in >= `min_docs` DISTINCT
    documents marks its token range as duplicated; overlapping and
    adjacent marked ranges within a document merge into maximal
    spans. Document-level dedup (minhash/Jaccard above) misses these
    shared boilerplate passages inside otherwise-unique documents.

    Output: (key, start_tok, end_tok) — merged duplicate spans,
    end-exclusive token positions.

    Stages and scale shape (the suffix-array of the paper replaced by
    the shuffle-native equivalent):
    1. posting build — narrow scan-side HOF (sequence → transform →
       md5 of the joined window), |tokens| rows of (16B hash, key,
       pos) out of the scan;
    2. duplicated-gram selection — one groupBy on the gram hash with
       a distinct-doc count (map-side partial aggregation), then a
       semi join of postings against it (same key → same shuffle
       partitioning, AQE-planned);
    3. island merge — per-document window (partitionBy key), the
       classic gaps-and-islands running max; a document's hits fit
       one task by construction.
    Boilerplate grams shared by millions of docs are NOT a skew
    hazard: stage 2 only counts them (partial agg) and the semi join
    fans them back out to their original postings — no within-bucket
    pairing exists in this operator at all.
    """
    from pyspark.sql import Window

    W = int(window_tokens)
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - W),
        lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, W), " ")),
    )
    postings = (
        documents.select(key_col, toks.alias("_toks"))
        .filter(F.size("_toks") >= W)
        .select(key_col, F.posexplode(grams).alias("pos", "gram"))
    )
    dup_grams = (
        postings.groupBy("gram")
        .agg(F.count_distinct(key_col).alias("nd"))
        .filter(F.col("nd") >= int(min_docs))
        .select("gram")
    )
    hits = postings.join(dup_grams, "gram", "left_semi")
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(key_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = hits.select(
        key_col,
        "pos",
        # new island when this window starts past everything seen so
        # far (end-exclusive: touching spans merge)
        F.when(
            F.col("pos") > F.coalesce(F.max(F.col("pos") + W).over(w_prev), F.lit(-1)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    ).withColumn("island", F.sum("new_island").over(w_run))
    return (
        flagged.groupBy(key_col, "island")
        .agg(
            F.min("pos").cast("bigint").alias("start_tok"),
            (F.max("pos") + W).cast("bigint").alias("end_tok"),
        )
        .select(key_col, "start_tok", "end_tok")
    )


def substring_dup_retention(
    documents: DataFrame,
    window_tokens: int = 8,
    key_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Per-document retention after substring-level dedup: how many
    tokens survive once every cross-document duplicate span from
    substring_dup_ranges is stripped (the paper's ExactSubstr cut,
    reported as a per-document fraction). One extra groupBy + one
    broadcast-sized join back to the per-document token counts.
    """
    spans = substring_dup_ranges(
        documents, window_tokens=window_tokens, key_col=key_col, min_docs=min_docs
    )
    dup_per_doc = spans.groupBy(key_col).agg(
        F.sum(F.col("end_tok") - F.col("start_tok")).alias("dup_tokens")
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    base = documents.select(key_col, n_tok.alias("n_tokens"))
    return (
        base.join(dup_per_doc, key_col, "left")
        .select(
            key_col,
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        )
        # integer parts-per-million (floor) instead of a rounded
        # double: keeps the value a pure integer function of the
        # inputs on every engine (the repo's cross-engine float
        # policy)
        .withColumn(
            "kept_ppm",
            F.expr("((n_tokens - dup_tokens) * 1000000) div n_tokens"),
        )
    )


def mirror_host_pairs(
    documents: DataFrame,
    host_col: str = "source",
    text_col: str = "text",
    shingle_k: int = 5,
    hot_hosts: int = 10,
    min_jaccard_micro: int = 2000,
) -> DataFrame:
    """Host-level mirror detection: resemblance between HOSTS from the
    shingle sets of their member documents (Broder-style set
    resemblance lifted one entity level — the "don't crawl the mirror"
    policy input; the reference crawls one site per run and cannot see
    mirrors at all).

    Dataflow (all JVM-side, no UDF):
      1. k-word shingles per document → (host, md5(shingle)) rows —
         narrow scan-side work, md5 so the DuckDB oracle reproduces the
         hashes bit-for-bit.
      2. ONE groupBy(shingle) with collect_set(host): the inverted
         index AND the per-host dedup in a single shuffle (the set
         semantics make a separate dropDuplicates redundant). This
         replaces the naive self-join on the shingle hash, which
         shuffles the (host, shingle) rows twice and materializes every
         per-shingle match row (measured 6× slower at sf0.01).
      3. hot-shingle cap: shingles on > ``hot_hosts`` hosts are
         boilerplate (navigation chrome, licenses), not mirror
         evidence — dropped BEFORE pair generation, bounding the
         per-shingle pair fan-out at hot_hosts² (the host-level analog
         of minhash_lsh_pairs' max_bucket guard).
      4. pair combinations generated map-side from the sorted host set
         (nested transform — no join), then counted per (host_a,
         host_b); per-host distinct-shingle sizes come from exploding
         the same grouped frame, so sh is computed once.
      5. Jaccard = shared / (|A| + |B| - shared) in integer micro-units
         (floor(x·10⁶ + 0.5)), thresholded at ``min_jaccard_micro``.

    At 10^10-URL scale: two aggregation shuffles (by shingle, by pair)
    plus one |hosts|-row broadcast — no wide join ever sees more than
    hot_hosts² rows per shingle. Output columns: (host_a, host_b,
    shared, jaccard_micro).
    """
    ws = F.split(F.lower(F.col(text_col)), " ")
    # sequence(1, size-k+1) would DESCEND for short docs (Spark
    # generates reverse ranges) — guard to an empty shingle set.
    fs = F.when(
        F.size(ws) >= shingle_k,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - shingle_k + 1),
            lambda i: F.md5(F.array_join(F.slice(ws, i, shingle_k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = documents.select(
        F.col(host_col).alias("host"), F.explode(fs).alias("f")
    )
    byf = (
        sh.groupBy("f")
        .agg(F.array_sort(F.collect_set("host")).alias("hs"))
        .filter(F.size("hs") <= hot_hosts)
        .persist()
    )
    sizes = byf.select(F.explode("hs").alias("host")).groupBy("host").agg(
        F.count("*").alias("n")
    )
    combos = F.flatten(
        F.transform(
            F.col("hs"),
            lambda x, i: F.transform(
                F.slice(F.col("hs"), i + 2, F.size(F.col("hs"))),
                lambda y: F.struct(x.alias("host_a"), y.alias("host_b")),
            ),
        )
    )
    pairs = (
        byf.filter(F.size("hs") >= 2)
        .select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.host_a").alias("host_a"), F.col("p.host_b").alias("host_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("host").alias("host_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("n").alias("_nb"))
    jac = F.floor(
        F.col("shared") * 1000000.0 / (F.col("_na") + F.col("_nb") - F.col("shared"))
        + 0.5
    ).cast("bigint")
    out = (
        pairs.join(F.broadcast(sa), "host_a")
        .join(F.broadcast(sb), "host_b")
        .select("host_a", "host_b", "shared", jac.alias("jaccard_micro"))
        .filter(F.col("jaccard_micro") >= min_jaccard_micro)
        .localCheckpoint(eager=True)
    )
    byf.unpersist()
    return out


def fuzzy_decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    min_jaccard_ppm: int = 300_000,
    k: int = SHINGLE_WORDS,
    bands: int = BANDS,
    n_hashes: int = MINHASHES,
    max_bucket: int = 50,
    bench_id_col: str = "bench_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination — the fuzzy sibling of
    ``ngram_decontaminate`` (which needs a verbatim k-gram hit and so
    misses lightly-edited eval leakage: reworded prompts, shuffled
    answer options, whitespace-mangled copies).

    Composition of two audited pieces: the benchmark plays the "new
    ingest batch" of ``minhash_lsh_pairs_incremental`` (the corpus is
    never self-joined — only the tiny eval set hashes fresh against
    the stored corpus band table), then candidates are rescored with
    EXACT shingle Jaccard in integer ppm (10⁶·|∩| div |∪| — integer
    division, cross-engine exact) and thresholded.

    Returns (doc_id, bench_id, jaccard_ppm) contamination hits;
    ``fuzzy_decontaminated`` anti-joins the flagged docs out.
    """
    bench_docs = benchmark.select(
        F.col(bench_id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    cand = minhash_lsh_pairs_incremental(
        bench_docs,
        documents,
        bands=bands,
        n_hashes=n_hashes,
        max_bucket=max_bucket,
    )
    sh_c = documents.select(
        "doc_id", shingles_col(F.col("text"), k).alias("sh_c")
    )
    sh_b = bench_docs.select(
        F.col("doc_id").alias(bench_id_col),
        shingles_col(F.col("text"), k).alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_c", "sh_b"))
    return (
        cand.select(
            F.col("corpus_doc").alias("doc_id"),
            F.col("new_doc").alias(bench_id_col),
        )
        .join(sh_c, "doc_id")
        .join(sh_b, bench_id_col)
        .select(
            "doc_id",
            bench_id_col,
            inter.cast("bigint").alias("n_inter"),
            (F.size("sh_c") + F.size("sh_b") - inter).cast("bigint").alias("n_union"),
        )
        .select(
            "doc_id",
            bench_id_col,
            F.expr("n_inter * 1000000 div n_union").alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= min_jaccard_ppm)
    )


def fuzzy_decontaminated(
    documents: DataFrame, benchmark: DataFrame, **kwargs
) -> DataFrame:
    """Corpus with fuzzy-contaminated documents removed (LEFT ANTI on
    the fuzzy_decontaminate hit set) — same removal contract as
    ``decontaminated``."""
    hits = fuzzy_decontaminate(documents, benchmark, **kwargs)
    return documents.join(
        hits.select("doc_id").distinct(), "doc_id", "left_anti"
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort the
    corpus by a similarity key, slide a ``window``-row window, emit
    every in-window pair as a linkage candidate — the THIRD blocking
    family next to LSH (set similarity) and hamming bands (bit
    similarity): O(n·w) candidates for typo-class drift that
    hash-exact blocks miss (adjacent sort keys differ in their tail).

    Global rank is the TWO-PHASE form (global_order_rank's machinery,
    ordered by the caller's key instead of md5): range partition on
    (key, id), per-partition counts → broadcast exclusive offsets →
    partition-local Arrow arange — no single-task global window.
    Pairing is ONE equi-join: left side explodes offsets 1..window−1
    and joins rank+offset against rank.

    Output: (id_a, id_b, key_a, key_b, rank_dist) with rank_dist in
    [1, window−1]; deterministic via the (key, id) total order.
    """
    import numpy as np

    if window < 2:
        raise ValueError("window must be >= 2")
    spark = records.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    part = (
        records.select(id_col, key_col)
        .repartitionByRange(n, F.col(key_col), F.col(id_col))
        .sortWithinPartitions(key_col, id_col)
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = part.groupBy("pid").agg(F.count("*").alias("c")).collect()
    run, offsets = 0, {}
    for pid, c in sorted((r["pid"], r["c"]) for r in counts):
        offsets[pid] = run
        run += c
    bc = spark.sparkContext.broadcast(offsets)
    types = dict(part.dtypes)

    def rank(batches):
        start = None
        for pdf in batches:
            if pdf.empty:
                continue
            if start is None:
                start = bc.value.get(int(pdf["pid"].iloc[0]), 0)
            out = pdf[[id_col, key_col]].copy()
            out["rank"] = np.arange(start, start + len(pdf), dtype="int64")
            start += len(pdf)
            yield out

    ranked = part.mapInPandas(
        rank, schema=f"{id_col} {types[id_col]}, {key_col} {types[key_col]}, rank long"
    ).localCheckpoint(eager=True)
    part.unpersist()
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col(key_col).alias("key_a"),
        F.col("rank"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("rank_dist"),
    ).withColumn("rank", F.col("rank") + F.col("rank_dist"))
    right = ranked.select(
        F.col(id_col).alias("id_b"), F.col(key_col).alias("key_b"), "rank"
    )
    return left.join(right, "rank").select(
        "id_a", "id_b", "key_a", "key_b", F.col("rank_dist").cast("bigint").alias("rank_dist")
    )


def content_novelty(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    k: int = SHINGLE_WORDS,
) -> DataFrame:
    """Content-novelty score for a fetched wave: the fraction of each
    new page's distinct k-word shingles NOT already in the corpus —
    the crawl-VALUE signal a scheduler feeds back (ucb_host_allocation
    with novelty as the yield column closes the loop: hosts serving
    templated/syndicated copy stop earning fetches; discovery_saturation
    says a host is running dry of URLs, this says it is running dry of
    CONTENT).

    Corpus side is distinct shingle hashes only — at 100 TB that is the
    stored artifact (pass ``corpus_shingles``, one `sh` column,
    bucketed by hash so the semi-join co-locates; the corpus text is
    never re-read per wave). Plan: new-side explode → ONE left-semi
    join against the corpus shingle table → one doc-keyed
    map-side-combinable agg. Integer ppm; shingle-less docs score 0.

    Output: (doc_id, n_shingles, n_known, novelty_ppm).
    """
    if corpus_shingles is None:
        if corpus_docs is None:
            raise ValueError("pass corpus_docs or corpus_shingles")
        corpus_shingles = (
            corpus_docs.select(
                F.explode(shingles_col(F.col("text"), k)).alias("sh")
            )
            .distinct()
        )
    new_sh = new_docs.select(
        "doc_id", F.explode(shingles_col(F.col("text"), k)).alias("sh")
    )
    known = new_sh.join(corpus_shingles, "sh", "left_semi").groupBy(
        "doc_id"
    ).agg(F.count("*").alias("n_known"))
    totals = new_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(known, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_known"), F.lit(0)).alias("n_known"),
            F.when(F.col("n_shingles") == 0, F.lit(0))
            .otherwise(
                F.floor(
                    (F.col("n_shingles") - F.coalesce(F.col("n_known"), F.lit(0)))
                    * F.lit(1_000_000)
                    / F.col("n_shingles")
                )
            )
            .cast("bigint")
            .alias("novelty_ppm"),
        )
    )
