"""Deterministic sampling & split assignment — training-pipeline staples.

Both operators key on md5(id) so the sample is a pure function of the
row (reproducible across runs, engines, and cluster sizes — no RNG, no
partition dependence, unlike df.sample()). Selection compares a
fixed-width lowercase-hex prefix lexicographically, which equals
numeric comparison — and md5 is dialect-portable, so the DuckDB oracle
reproduces membership bit-for-bit. Narrow, scan-side, zero shuffle
(the rate audit aggregates once).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex_prefix(key: Column, width: int = 4) -> Column:
    return F.substring(F.md5(key.cast("string")), 1, width)


def _below(h: Column, rate: float) -> Column:
    """h < hex(rate * 65536), with the boundary cases made exact:
    rate >= 1.0 keeps everything (the naive hex would be the 5-char
    '10000', which compares lexicographically BELOW most 4-char
    prefixes and would silently keep ~6%), rate <= 0 keeps nothing.
    Granularity between the bounds is 1/65536."""
    t = int(rate * 65536)
    if t >= 65536:
        return F.lit(True)
    if t <= 0:
        return F.lit(False)
    return h < F.lit(format(t, "04x"))


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ~rate sample: keep rows whose md5 prefix falls
    below the rate threshold. 4 hex digits → rate granularity 1/65536."""
    return df.filter(_below(_hex_prefix(F.col(key_col)), rate))


def split_assign(
    df: DataFrame,
    key_col: str = "doc_id",
    val_rate: float = 0.1,
    test_rate: float = 0.1,
) -> DataFrame:
    """train/val/test assignment by md5-prefix range — stable under
    data growth (a row's split never changes when other rows arrive)."""
    h = _hex_prefix(F.col(key_col))
    return df.withColumn(
        "split",
        F.when(_below(h, val_rate), F.lit("val"))
        .when(_below(h, val_rate + test_rate), F.lit("test"))
        .otherwise(F.lit("train")),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling — the class-balancing staple
    (downsample boilerplate strata, keep rare ones whole). Same
    md5-prefix selection as `hash_sample`, but the threshold is chosen
    per stratum value; membership stays a pure per-row function (no
    RNG, no shuffle, no partition dependence — a row's fate never
    changes when other rows arrive). The hash keys on (key, stratum)
    so re-labeling a row re-rolls it independently of its plain
    hash_sample fate.

    `rates` maps stratum value → keep rate; unlisted strata — including
    NULL strata — fall back to `default_rate` (the isin membership test
    is NULL for a NULL stratum, so it is coalesced to False rather than
    silently dropping those rows regardless of default_rate). Scan-side
    only: at 100 TB this is a map-only pass with the strata thresholds
    folded into one CASE expression.
    """
    h = _hex_prefix(
        F.concat(
            F.col(key_col).cast("string"),
            F.lit("|"),
            # NULL stratum → NULL concat → NULL hash; give it a sentinel
            # so default_rate can select it (non-null hashes unchanged)
            F.coalesce(F.col(strata_col), F.lit("\x00null")),
        )
    )
    cond = None
    for value, rate in sorted(rates.items()):
        c = (F.col(strata_col) == value) & _below(h, rate)
        cond = c if cond is None else cond | c
    listed = F.coalesce(F.col(strata_col).isin(*rates.keys()), F.lit(False))
    others = ~listed & _below(h, default_rate)
    cond = others if cond is None else cond | others
    return df.filter(cond)


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Exact k rows per group, deterministically: rank each group's
    rows by (md5(key), key) and keep the first k. Unlike rate-based
    stratified sampling this guarantees the cardinality (the common
    ask for eval-set carving and per-source caps); unlike a reservoir
    it is a pure function of the data — stable across runs, engines,
    and partitionings, and a row's membership only changes when a
    LOWER-hashed row arrives in its group.

    One group-keyed window; skew note: for a literal k ≤ 1000 Spark
    puts a partial WindowGroupLimit below the group exchange, so no
    group ships more than k rows per map task. Above that a group with
    10^9 rows serializes its sort on one partition — cap with a
    (group, salt) pre-rank when k << group size at that scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("_skg_rn", F.row_number().over(w))
        .filter(F.col("_skg_rn") <= int(k))
        .drop("_skg_rn")
    )


def pack_shards(
    documents: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Greedy token-budget shard assignment — the corpus-assembly step
    that turns a filtered document set into bounded training shards
    (sequence-packing's coarse sibling). Docs are packed in
    deterministic `key_col` order within each `group_col` stream; a doc
    lands in shard floor(tokens_before_it / budget), so shards fill to
    the budget then spill (a doc straddling the boundary goes to the
    earlier shard, keeping assignment a pure prefix-sum function).

    One exchange: the running sum partitions by group. At 100 TB a
    single dominant group would serialize its window — the scalable
    variant is the classic two-phase cumsum (per-partition partial
    sums + broadcast offsets), worth switching to when a group exceeds
    one executor's slice; group-per-source corpora rarely do.
    """
    from pyspark.sql import Window

    toks = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = documents.select(
        key_col, group_col, toks.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return out.select(
        key_col,
        group_col,
        "n_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {int(budget_tokens)}").alias("shard"),
    )


def pack_shards_twophase(
    documents: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """`pack_shards` with the classic two-phase cumulative sum — the
    scale path its docstring promises: a dominant group no longer
    serializes through one window task.

    Phase 1: range-partition by (group, key) and aggregate per
    (partition, group) token totals — a tiny agg whose result is at
    most num_partitions × groups-per-partition rows (bounded driver
    collect). An exclusive prefix over partition order per group gives
    each partition its group offset. Phase 2: one partition-local
    Arrow pass accumulates the running sum from the broadcast offsets
    — no window exchange at all; the only wide op is the range
    partitioner itself, and a heavy group's work is spread over every
    partition that holds its range.

    Output is bit-identical to `pack_shards` (same prefix-sum
    function, same shard boundaries) — pinned by pytest equality on a
    single-group skew frame and by sharing its oracle SQL.
    """
    from collections import defaultdict

    spark = documents.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    toks = F.size(F.split(F.col("text"), " "))
    part = (
        documents.select(key_col, group_col, toks.alias("n_tokens"))
        .repartitionByRange(n, F.col(group_col), F.col(key_col))
        .sortWithinPartitions(group_col, key_col)
        .withColumn("pid", F.spark_partition_id())
        # MUST be persisted: phase 1 (offsets) and phase 2 (the Arrow
        # cumsum pass) are separate actions, and without a single
        # materialization each plans its OWN range exchange —
        # RangePartitioner samples boundaries with a per-RDD seed, so
        # the two passes can disagree on which rows partition pid
        # holds, silently corrupting every offset after the first
        # divergent boundary. The cache pins one physical partitioning
        # for both passes (a lost cached partition recomputes through
        # the SAME pinned shuffle dependency, so boundaries cannot
        # drift).
        .persist()
    )
    sums = part.groupBy("pid", group_col).agg(
        F.sum("n_tokens").alias("s")
    ).collect()
    by_group: dict = defaultdict(list)
    for r in sums:
        by_group[r[group_col]].append((r["pid"], r["s"]))
    offsets: dict = {}
    for g, lst in by_group.items():
        run = 0
        for pid, s in sorted(lst):
            offsets[(pid, g)] = run
            run += s
    bc = spark.sparkContext.broadcast(offsets)
    budget = int(budget_tokens)

    key_t = dict(part.dtypes)[key_col]
    group_t = dict(part.dtypes)[group_col]
    out_schema = (
        f"{key_col} {key_t}, {group_col} {group_t},"
        f" n_tokens int, shard long"
    )

    def pack(batches):
        state: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            # rows arrive partition-sorted by (group, key); groups
            # are contiguous, and a group spanning Arrow batches
            # continues from `state`
            starts = []
            for g, sub in pdf.groupby(group_col, sort=False):
                start = state.get(g)
                if start is None:
                    start = bc.value.get((int(sub["pid"].iloc[0]), g), 0)
                t64 = sub["n_tokens"].astype("int64")
                cum_before = start + t64.cumsum() - t64
                starts.append(cum_before // budget)
                state[g] = start + int(sub["n_tokens"].sum())
            import pandas as pd

            out = pdf[[key_col, group_col, "n_tokens"]].copy()
            out["shard"] = pd.concat(starts).astype("int64")
            yield out

    # Materialize the result off the cached partitioning, then release
    # the phase-1/phase-2 input cache (the eager localCheckpoint
    # truncates lineage so the unpersist can't trigger a re-shuffle;
    # at cluster scale write the result to a table instead —
    # localCheckpoint is not executor-loss-tolerant).
    result = part.mapInPandas(pack, schema=out_schema).localCheckpoint(eager=True)
    part.unpersist()
    return result


def mix_token_budget(
    documents: DataFrame,
    weights: dict[str, float],
    total_budget: int,
    default_weight: float = 0.0,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Token-budget data mixing: fill a global token budget from each
    source according to target mixture weights (the training-data
    "data mixing" step — public Pile / DoReMi-style source weighting,
    made deterministic). Each source s gets floor(total_budget ·
    w_s) tokens; documents are admitted in md5(doc_id) order (then
    doc_id — reproducible, uncorrelated with corpus order) while the
    source budget is unexhausted. Greedy prefix: the last admitted
    document may overshoot its budget, never undershoot.

    At 100 TB: one window shuffle partitioned by source — same cost
    profile as pack_shards; budgets are per-source literals (a CASE
    expression, no join). Skew note: a dominant source makes one
    window partition large; the window is a running sum (linear,
    spillable), and the two-phase cumsum variant (pack_shards_twophase)
    is the drop-in if a single source outgrows a task.

    Weights should be dyadic rationals (1/2, 1/4, ...) so
    floor(total_budget · w) is exact IEEE on every engine.

    ``n_tokens_col``: reuse an already-computed token count instead of
    re-splitting ``text`` — the composition hook (a pipeline that just
    ran an LM scorer has the counts; re-deriving them re-reads the
    corpus text for nothing).
    """
    from pyspark.sql import Window

    w_expr = F.lit(float(default_weight))
    for src, wt in sorted(weights.items()):
        w_expr = F.when(F.col("source") == src, F.lit(float(wt))).otherwise(w_expr)
    budget = F.floor(w_expr * float(total_budget)).cast("bigint")
    n_tokens = (
        F.col(n_tokens_col)
        if n_tokens_col
        else F.size(F.split(F.col("text"), " "))
    )
    h = _hex_prefix(F.col("doc_id"), 8)
    win = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = documents.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        h.alias("h"),
        budget.alias("budget_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(win))
    return scored.filter(
        F.col("cum_tokens") - F.col("n_tokens") < F.col("budget_tokens")
    ).select("doc_id", "source", "n_tokens", "cum_tokens", "budget_tokens")


def temperature_mix(
    documents: DataFrame,
    alpha: float = 0.5,
    total_budget: int = 1 << 20,
) -> DataFrame:
    """Temperature-based source mixing: target weights DERIVED from
    corpus composition, w_s ∝ n_s^alpha (the public multilingual
    T5 / XLM-R sampling-temperature recipe) — alpha=1 reproduces
    natural proportions, alpha→0 approaches uniform, 0<alpha<1
    up-samples small sources. The admit step is mix_token_budget's
    greedy md5-ordered prefix, with budgets computed instead of given.

    Cross-engine exactness: n_s^alpha is floored to INTEGER micro-units
    (floor(pow(n_s, alpha)·1e6)) before the ratio, so the total and the
    per-source budget (total_budget·p_s div Σp_t) are integer-exact —
    no float summation order can flip a floor boundary between Spark
    and the SQL oracle (pow itself is correctly-rounded IEEE in both).

    Plan: one map-side-combinable source agg (|sources| rows) → 1-row
    total via a window over the tiny frame → broadcast join of budgets
    back to the corpus → the same single window exchange as
    mix_token_budget. The corpus is touched twice (totals + admit) but
    shuffled once.
    """
    from pyspark.sql import Window

    n_tokens = F.size(F.split(F.col("text"), " "))
    totals = (
        documents.select("source", n_tokens.alias("_nt"))
        .groupBy("source")
        .agg(F.sum("_nt").alias("_n_s"))
    )
    p = F.floor(F.pow(F.col("_n_s").cast("double"), F.lit(float(alpha))) * 1e6).cast(
        "bigint"
    )
    budgets = totals.select(
        "source",
        p.alias("_p"),
    ).select(
        "source",
        F.expr(f"({int(total_budget)} * _p) div sum(_p) over ()").alias(
            "budget_tokens"
        ),
    )
    h = _hex_prefix(F.col("doc_id"), 8)
    win = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        documents.select("doc_id", "source", n_tokens.alias("n_tokens"), h.alias("h"))
        .join(F.broadcast(budgets), "source")
        .withColumn("cum_tokens", F.sum("n_tokens").over(win))
    )
    return scored.filter(
        F.col("cum_tokens") - F.col("n_tokens") < F.col("budget_tokens")
    ).select("doc_id", "source", "n_tokens", "cum_tokens", "budget_tokens")


def length_percentile_gate(
    documents: DataFrame, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Outlier-length filter: keep documents whose token count falls
    inside the corpus's [lo, hi] exact percentile band (the
    truncation step most curation recipes apply before mixing).

    Plan shape: one 2-scalar exact-percentile aggregation (Spark's
    percentile is a partial-aggregating sort-based agg — no global
    sort of the corpus), broadcast back via a 1-row cross join; the
    gate itself is a narrow comparison. Exact percentiles over exact
    integer token counts use the same (n-1)·p linear interpolation in
    Spark and DuckDB, so the 1e-6-rounded bounds are engine-identical.
    """
    d = documents.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    r6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    bounds = d.agg(
        r6(F.percentile("n_tokens", F.lit(lo))).alias("lo_bound"),
        r6(F.percentile("n_tokens", F.lit(hi))).alias("hi_bound"),
    )
    return d.crossJoin(bounds).select(
        "doc_id",
        "n_tokens",
        "lo_bound",
        "hi_bound",
        (
            (F.col("n_tokens") >= F.col("lo_bound"))
            & (F.col("n_tokens") <= F.col("hi_bound"))
        ).alias("kept"),
    )


def dsir_select(
    documents: DataFrame,
    target: Column,
    k: int,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-shaped importance selection (public: Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"),
    deterministic top-k variant: score every document by the
    log-likelihood ratio of a target-subset unigram LM against the
    raw-corpus unigram LM (both add-1 smoothed over the shared
    vocabulary), then keep the k highest-weight documents. The paper
    hashes n-grams into buckets purely to bound model memory; the
    whitespace-unigram twin keeps the estimator identical in shape and
    makes the whole computation SQL-oracle-able.

    Plan shape at 100 TB: ONE token explode feeds ONE token-keyed
    aggregation computing raw and target counts together (map-side
    combinable conditional sums — the target model costs no second
    pass), a 1-row totals frame joined by Catalyst as a broadcast, a
    token-keyed join back, a doc-keyed regroup, and a TakeOrdered
    top-k (per-partition heaps, no global sort). No driver actions.

    Cross-engine determinism: each token's log-ratio is quantized to
    integer micro-units once per VOCAB entry —
    floor(ln((cnt_t+1)(N_r+V) / ((cnt_r+1)(N_t+V)))·1e6 + 0.5) with
    the ratio formed by one IEEE division of exact integer products —
    so per-document scores are exact integer sums (order-independent)
    and the top-k boundary is decided on (integer score, key), never
    on float round-off. Integer products stay < 2^63 up to ~3·10^9
    tokens per model; beyond that split the ln into a difference of
    two quantized terms.
    """
    toks = documents.select(
        F.col(key_col).alias("k"),
        target.cast("boolean").alias("tgt"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("cnt_r"),
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("cnt_t"),
    )
    totals = vocab.agg(
        F.sum("cnt_r").alias("nr"),
        F.sum("cnt_t").alias("nt"),
        F.count("*").alias("v"),
    )
    lp = vocab.crossJoin(totals).select(
        "tok",
        F.floor(
            F.log(
                ((F.col("cnt_t") + 1) * (F.col("nr") + F.col("v"))).cast("double")
                / ((F.col("cnt_r") + 1) * (F.col("nt") + F.col("v"))).cast("double")
            )
            * 1000000.0
            + 0.5
        )
        .cast("bigint")
        .alias("lpm"),
    )
    per_doc = (
        toks.join(lp, "tok")
        .groupBy("k")
        .agg(F.sum("lpm").alias("llr_micro"), F.count("*").alias("n_tokens"))
    )
    return (
        per_doc.orderBy(F.col("llr_micro").desc(), F.col("k").asc())
        .limit(int(k))
        .select(F.col("k").alias(key_col), "n_tokens", "llr_micro")
    )


def concat_chunk_pack(
    documents: DataFrame,
    chunk_tokens: int,
    key_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the canonical pretraining
    batch-assembly step: documents are laid end-to-end in a
    deterministic shuffled order (md5(key), then key) and the token
    stream is cut every `chunk_tokens`, so every training sequence is
    exactly full and a document straddling a boundary contributes a
    piece to each side (GPT-style packing; pack_shards is the
    coarse whole-document sibling).

    Output: one row per (document, chunk) piece —
    (key, chunk_id, doc_off, chunk_off, n_tok): tokens
    [doc_off, doc_off+n_tok) of the document land at
    [chunk_off, chunk_off+n_tok) of chunk chunk_id. Pure integer
    prefix-sum arithmetic, reproducible across engines and runs.

    Scale: the global token offset uses the two-phase cumulative sum
    (range-partition by order key → per-partition totals → broadcast
    exclusive offsets → partition-local Arrow running sum), so no
    single global window task exists; the piece explosion is
    JVM-side sequence()+explode. One range exchange total. Skew-free
    by construction (md5 order keys are uniform).
    """
    spark = documents.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    L = int(chunk_tokens)
    toks = F.size(F.split(F.col("text"), " "))
    part = (
        documents.select(
            key_col,
            F.md5(F.col(key_col).cast("string")).alias("_ord"),
            toks.alias("n_tokens"),
        )
        .repartitionByRange(n, F.col("_ord"), F.col(key_col))
        .sortWithinPartitions("_ord", key_col)
        .withColumn("pid", F.spark_partition_id())
        # pinned for the same reason as pack_shards_twophase: the
        # offsets pass and the cumsum pass must see ONE range
        # partitioning (RangePartitioner boundaries are sampled per
        # RDD and would otherwise drift between the two actions)
        .persist()
    )
    sums = part.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect()
    run, offsets = 0, {}
    for pid, s in sorted((r["pid"], r["s"]) for r in sums):
        offsets[pid] = run
        run += s
    bc = spark.sparkContext.broadcast(offsets)

    key_t = dict(part.dtypes)[key_col]
    mid_schema = f"{key_col} {key_t}, n_tokens long, off long"

    def cumsum(batches):
        start = None
        for pdf in batches:
            if pdf.empty:
                continue
            if start is None:
                start = bc.value.get(int(pdf["pid"].iloc[0]), 0)
            t64 = pdf["n_tokens"].astype("int64")
            out = pdf[[key_col]].copy()
            out["n_tokens"] = t64
            out["off"] = start + t64.cumsum() - t64
            start += int(t64.sum())
            yield out

    with_off = part.mapInPandas(cumsum, schema=mid_schema).localCheckpoint(
        eager=True
    )
    part.unpersist()
    first = F.expr(f"off div {L}")
    last = F.expr(f"(off + n_tokens - 1) div {L}")
    pieces = with_off.select(
        key_col,
        "n_tokens",
        "off",
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    p_start = F.greatest(F.col("off"), F.col("chunk_id") * L)
    p_end = F.least(F.col("off") + F.col("n_tokens"), (F.col("chunk_id") + 1) * L)
    return pieces.select(
        key_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        (p_start - F.col("off")).cast("bigint").alias("doc_off"),
        (p_start - F.col("chunk_id") * L).cast("bigint").alias("chunk_off"),
        (p_end - p_start).cast("bigint").alias("n_tok"),
    )


def global_order_rank(
    documents: DataFrame,
    key_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global training order: every row gets a dense
    0-based rank in md5(key) order — the reproducible corpus shuffle
    a training run consumes (and the order concat_chunk_pack packs
    in). A naive row_number() needs one global window task; this is
    the two-phase equivalent: range-partition by the order key,
    count per partition (a numPartitions-row driver collect), then a
    partition-local Arrow pass adds the exclusive offset to a local
    arange. One range exchange total, skew-free (md5 keys are
    uniform).
    """
    import numpy as np

    spark = documents.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    part = (
        documents.select(
            key_col, F.md5(F.col(key_col).cast("string")).alias("_ord")
        )
        .repartitionByRange(n, F.col("_ord"), F.col(key_col))
        .sortWithinPartitions("_ord", key_col)
        .withColumn("pid", F.spark_partition_id())
        # same pinning rationale as pack_shards_twophase: the count
        # pass and the rank pass must see ONE range partitioning
        .persist()
    )
    counts = part.groupBy("pid").agg(F.count("*").alias("c")).collect()
    run, offsets = 0, {}
    for pid, c in sorted((r["pid"], r["c"]) for r in counts):
        offsets[pid] = run
        run += c
    bc = spark.sparkContext.broadcast(offsets)
    key_t = dict(part.dtypes)[key_col]

    def rank(batches):
        start = None
        for pdf in batches:
            if pdf.empty:
                continue
            if start is None:
                start = bc.value.get(int(pdf["pid"].iloc[0]), 0)
            out = pdf[[key_col]].copy()
            out["rank"] = np.arange(start, start + len(pdf), dtype="int64")
            start += len(pdf)
            yield out

    result = part.mapInPandas(
        rank, schema=f"{key_col} {key_t}, rank long"
    ).localCheckpoint(eager=True)
    part.unpersist()
    return result


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    max_weight: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sampling: keep each
    row with probability weight/max_weight — the quality-weighted
    corpus downsampling step (keep high-quality documents at full
    rate, low-quality ones proportionally less; public DoReMi /
    quality-mixing lineage), with hash_sample's determinism contract
    (a row's fate is a pure function of its key + weight, stable under
    data growth).

    Exact integer arithmetic end to end: keep iff

        h * max_weight < weight * 2^32

    where h is the first 8 md5 hex digits of the key as an integer —
    no float thresholds, no engine-dependent rounding, so the DuckDB
    twin is bit-identical. Weights are integers (e.g. quality scores
    bucketed 0..max_weight); weight >= max_weight keeps always,
    weight <= 0 never. Products stay far below 2^63 for any sane
    max_weight (< 2^31).

    Scan-side narrow expression — zero shuffle, pushes into the source
    when the caller filters.
    """
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    w = F.col(weight_col).cast("bigint")
    return df.filter(h * F.lit(int(max_weight)) < w * F.lit(1 << 32))


def curriculum_tiers(
    scored: DataFrame,
    score_col: str,
    n_tiers: int = 4,
    key_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Curriculum bucketing: assign every document to one of
    ``n_tiers`` quality/perplexity tiers by EXACT score quantiles —
    the staged-training input (easy→hard ordering over LM score, the
    published curriculum-learning recipe shape) and the stratifier a
    mixing policy samples per-tier from.

    One (n_tiers−1)-scalar exact-percentile aggregation broadcast back
    (length_percentile_gate's plan), then a narrow CASE — the corpus
    never sorts globally. Tier 0 = lowest scores; boundaries are
    half-open [q_{i-1}, q_i) with the top tier closed, so every row
    lands in exactly one tier; 1e-6 floor-rounded cut points are
    engine-identical.
    """
    r6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    cuts = scored.agg(
        *[
            r6(F.percentile(score_col, F.lit(i / n_tiers))).alias(f"q{i}")
            for i in range(1, n_tiers)
        ]
    )
    tier = F.lit(n_tiers - 1)
    for i in range(n_tiers - 1, 0, -1):
        tier = F.when(F.col(score_col) < F.col(f"q{i}"), F.lit(i - 1)).otherwise(
            tier
        )
    return scored.crossJoin(F.broadcast(cuts)).select(
        key_col,
        score_col,
        tier.cast("bigint").alias("tier"),
        # passthrough for compositions: carrying sibling columns here
        # avoids a self-join back onto the scored frame (which would
        # re-derive its whole upstream plan)
        *keep_cols,
    )


def mad_outlier_gate(
    documents: DataFrame, k: float = 3.0, by: str = "source"
) -> DataFrame:
    """Robust per-group length gating: median + MAD (median absolute
    deviation) instead of mean + stddev, so a handful of mega-documents
    can't drag the gate open the way they drag a stddev band
    (length_percentile_gate is the corpus-global cousin; this is the
    per-source robust variant curation recipes use when sources have
    wildly different length regimes).

    Keep rule: |n_tokens − median_g| ≤ k · MAD_g within each group g.
    MAD = 0 (over half the group at one length) degenerates to keeping
    exactly the modal length — the conservative reading.

    Plan shape: two exact-percentile aggregations at GROUP grain (each
    a partial-aggregating sort-based agg, no global sort), each joined
    back via broadcast (group dimension ≪ corpus); the gate is a
    narrow comparison. Both medians are micro-rounded through the
    shared floor(x·1e6 + 0.5) so DuckDB's quantile_cont reproduces
    them bit-for-bit, and every downstream float op (abs, k·mad,
    the ≤) is the identical IEEE expression on both engines.
    """
    r6 = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    d = documents.select(
        "doc_id",
        by,
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    med = d.groupBy(by).agg(
        r6(F.percentile("n_tokens", F.lit(0.5))).alias("med")
    )
    dev = d.join(F.broadcast(med), by).withColumn(
        "dev", F.abs(F.col("n_tokens") - F.col("med"))
    )
    mad = dev.groupBy(by).agg(r6(F.percentile("dev", F.lit(0.5))).alias("mad"))
    return (
        dev.join(F.broadcast(mad), by)
        .select(
            "doc_id",
            by,
            "n_tokens",
            "med",
            "mad",
            (F.col("dev") <= F.lit(k) * F.col("mad")).alias("kept"),
        )
    )
