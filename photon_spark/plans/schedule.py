"""Wave scheduling — politeness window, priority, host partitioning.

The reference's scheduler is a thread pool over an unordered set with a
single global delay (reference core/flash.py:6-17, requester.py:33).
The engine's contract (SURVEY.md §2.3 F3/F4):

* ``score`` column orders URLs within a host (level-based BFS priority;
  deterministic tie-break on url asc — quirk Q12's ordering contract).
* per-host budget: ``row_number() over (partition by host order by
  score desc, url)`` ≤ budget. With budget=None this is skipped and the
  engine degenerates to the reference's behavior (Q26).
* fetch locality: repartition by host so one host's URLs land in one
  partition (politeness + connection reuse per north_rule); with
  ``salts`` > 1 the key is (host, salt), which spreads a Zipf-hot host
  over up to ``salts`` fetch partitions (SURVEY.md §4 skew).

The budget cap is one host window. Hot hosts do not serialize it:
Spark's InferWindowGroupLimit puts a partial WindowGroupLimit below
the host exchange, so each map task ships at most ``budget`` rows per
host and the window sees at most tasks·budget rows for any host. Spark
does that only for a literal cap ≤
``spark.sql.optimizer.windowGroupLimitThreshold`` (1000); a larger
``budget`` or a ``host_budgets`` column cap gets no partial limit, and
the window task of a host holding more than 1/partitions of the wave
straggles (SCALE.md §1).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _final_ckpt(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    """Truncate lineage on a returned dimension frame (so the loop
    caches can be unpersisted without later recompute). Default is
    localCheckpoint — fast, in-memory+local-disk, but lost with its
    executor, so a rank frame reused across many crawl waves would
    fail mid-session on a real cluster after node loss. Pass
    `checkpoint_dir` (HDFS/object-store path in production) to park
    the frame in reliable storage instead — the same convention as
    dedupe.dup_components. Each operator writes its own `tag`
    subdirectory; a repeat call with the same dir+tag overwrites it,
    so rotate tags (e.g. a wave index) when older frames must stay
    live."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    path = os.path.join(checkpoint_dir, tag)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _host_of(url: Column) -> Column:
    """with_host's host expression, for use inside a select."""
    return F.coalesce(F.parse_url(url, F.lit("HOST")), url)


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Host column via parse_url; unparseable URLs fall back to the raw
    string (still a stable partition key)."""
    return df.withColumn("host", _host_of(F.col(url_col)))


def _round6(c: Column) -> Column:
    """Floor-round at 1e-6: the dialect-stable rounding of the oracled
    scores (see host_rank)."""
    return F.floor(c * 1e6 + 0.5) / 1e6


def _state_hint(broadcast_state: bool):
    """Join hint for a |hosts|-row state vector: a broadcast, or none
    past broadcast size so AQE picks the strategy (see host_rank)."""
    return F.broadcast if broadcast_state else (lambda df: df)


def _nodes(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Node set (host) of a directed edge frame."""
    return (
        edges.select(F.col(src_col).alias("host"))
        .unionByName(edges.select(F.col(dst_col).alias("host")))
        .distinct()
    )


def _host_graph(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """Distinct directed (src, dst) edges and their node set (host)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    return e, _nodes(e, "src", "dst")


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Distinct undirected edges (u < v) with self-loops dropped."""
    s, d = F.col(src_col), F.col(dst_col)
    return (
        edges.filter(s != d)
        .select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(host, degree) over an undirected (u, v) edge set."""
    return (
        und.select(F.col("u").alias("host"))
        .unionAll(und.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count("*").alias("degree"))
    )


def priority_score(
    df: DataFrame,
    url_col: str = "url",
    host_ranks: DataFrame | None = None,
    max_authority_boost: int = 3,
    first_wave_col: str | None = None,
    current_wave: int | None = None,
    max_age_boost: int = 8,
) -> DataFrame:
    """F4 priority producer (north-star: level-based BFS with
    intel/endpoint prioritization). The reference has NO ordering (set
    iteration); within our per-host queue we rank by URL-shape signals
    known BEFORE fetch:

    * fuzzable boost (+4): URLs with query parameters — the
      reference's own interest marker (photon.py:344-346 '=' filter);
      parameterized pages are the intel/endpoint-rich ones.
    * shallowness boost (+3..0): fewer path segments first — the BFS
      flavor; shallow pages fan out more.
    * optional authority boost (+0..max_authority_boost): given
      ``host_ranks`` — (host, rank) from a previous crawl's
      `host_rank` PageRank over the host link graph — a host scoring
      a× the uniform 1/n rank gets floor(a)−1 extra points (capped).
      The ranks frame is one row per host (orders of magnitude smaller
      than the frontier), so it always broadcasts: the boost joins
      without an exchange. Unranked hosts (new discoveries) boost 0.

    * optional aging boost (+0..max_age_boost): given ``first_wave_col``
      (the wave a URL was first admitted to the frontier) and
      ``current_wave``, a URL deferred by the per-host budget gains one
      point per waited wave: ``least(max_age_boost, current_wave −
      first_wave)``. Starvation-freedom: with per-host budget B ≥ 1, a
      URL whose static score trails its host's in-queue maximum by g ≤
      max_age_boost strictly gains on every competitor admitted after
      it, so it enters the host's top-B within O(g + queue_ahead/B)
      waves instead of waiting forever behind an unbounded stream of
      fresher high-score discoveries. The cap bounds the other
      direction: stale residue (e.g. trap leftovers admitted before the
      trap gate was enabled) can never outrank a fresh URL by more than
      max_age_boost, whatever its age.

    Pure integer arithmetic on JVM expressions, reproducible in ANSI
    SQL (driver oracle). `schedule_wave` consumes the resulting
    `score` column (orderBy score desc, url asc — Q12 deterministic
    tie-break).
    """
    url = F.col(url_col)
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*(/.*)?$", 1)
    slashes = F.length(path) - F.length(F.regexp_replace(path, "/", ""))
    fuzz = F.when(url.contains("="), F.lit(4)).otherwise(F.lit(0))
    score = fuzz + F.greatest(F.lit(0), F.lit(3) - slashes)
    if first_wave_col is not None:
        if current_wave is None:
            raise ValueError("aging needs current_wave alongside first_wave_col")
        age = F.lit(int(current_wave)) - F.col(first_wave_col).cast("int")
        score = score + F.least(
            F.lit(int(max_age_boost)), F.greatest(F.lit(0), age)
        )
    if host_ranks is not None:
        n_hosts = host_ranks.count()  # bounded scalar (one row per host)
        had_host = "host" in df.columns
        out = df if had_host else with_host(df, url_col)
        out = out.join(
            F.broadcast(host_ranks.select("host", F.col("rank").alias("_hr"))),
            "host",
            "left",
        )
        boost = F.least(
            F.lit(int(max_authority_boost)),
            F.greatest(
                F.lit(0),
                F.floor(F.coalesce(F.col("_hr"), F.lit(0.0)) * n_hosts).cast("int")
                - 1,
            ),
        )
        out = out.withColumn("score", score + boost).drop("_hr")
        return out if had_host else out.drop("host")
    return df.withColumn("score", score)


def robots_gate(
    wave: DataFrame,
    disallows: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Drop URLs whose path falls under a disallowed prefix for their
    host. ``disallows``: (host string, prefix string) — small (one row
    per robots rule), so the anti-join broadcasts; the gate is a
    host-equi + startswith non-equi condition. Opt-in via
    EngineConfig.respect_robots (the reference never gates — SURVEY.md
    §2.1 S2 seeds from robots.txt instead)."""
    w = with_host(wave, url_col) if "host" not in wave.columns else wave
    d = disallows.select(
        F.col("host").alias("_r_host"), F.col("prefix").alias("_r_prefix")
    )
    # path = everything from the first '/' after the authority
    path = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*(/.*)?$", 1)
    gated = w.join(
        F.broadcast(d),
        (F.col("host") == F.col("_r_host")) & path.startswith(F.col("_r_prefix")),
        "left_anti",
    )
    return gated if "host" in wave.columns else gated.drop("host")


def robots_gate_rfc(
    wave: DataFrame,
    rules: list[tuple[str, str, bool]],
    url_col: str = "url",
) -> DataFrame:
    """RFC 9309 (public Robots Exclusion Protocol) Allow/Disallow gate:
    ``*`` wildcards, ``$`` end anchors, LONGEST-match-wins with Allow
    beating Disallow on ties — the semantics production crawlers
    implement, a superset of `robots_gate`'s plain prefix Disallow.

    ``rules``: [(host, path_pattern, allow)]. The rule set is compiled
    DRIVER-SIDE into one chained CASE expression ordered by
    (pattern length desc, allow first), so the first matching branch
    IS the RFC's most-specific rule — the whole gate is a scan-side
    boolean inside whole-stage codegen: zero joins, zero shuffles.
    Right whenever the rule set fits an expression tree (robots rules
    are ~10^1 per host; 10^3-10^4 total inline fine). For web-scale
    rule corpora (10^6+ hosts' robots), the twin shape is a broadcast
    join on host + per-(url, rule) match + argmax(length, allow) per
    URL — same semantics, one broadcast, still no fact shuffle.

    URLs whose host has no matching rule pass (RFC default-allow).
    """
    import re as _re

    w = with_host(wave, url_col) if "host" not in wave.columns else wave
    path = F.regexp_extract(
        F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*(/.*)?$", 1
    )

    def rx(pat: str) -> str:
        anchored = pat.endswith("$")
        core = pat[:-1] if anchored else pat
        esc = "".join(".*" if ch == "*" else _re.escape(ch) for ch in core)
        return "^" + esc + ("$" if anchored else "")

    expr = None
    for host, pat, allow in sorted(
        rules, key=lambda r: (-len(r[1]), not r[2], r[0], r[1])
    ):
        cond = (F.col("host") == host) & path.rlike(rx(pat))
        branch = F.when(cond, F.lit(bool(allow)))
        expr = branch if expr is None else expr.when(cond, F.lit(bool(allow)))
    keep = F.lit(True) if expr is None else expr.otherwise(F.lit(True))
    out = w.filter(keep)
    return out if "host" in wave.columns else out.drop("host")


def schedule_wave(
    wave: DataFrame,
    budget: int | None = None,
    partitions: int | None = None,
    salts: int = 1,
    url_col: str = "url",
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Apply priority + per-host budget, then host-partition the wave.

    The budget cap is one ``row_number()`` window per host, ordered by
    ``score desc`` (when a score column exists) then ``url asc``. It
    suffices because Spark caps each host map-side, before the host
    exchange, for a literal budget ≤ 1000; a larger budget or
    ``host_budgets`` gets no such cap (module docstring). Salting >1
    spreads one hot host over `salts` output partitions for the
    fetch/extract stage (fetch politeness is then enforced within the
    UDF per sub-partition budget).

    ``host_budgets`` — optional (host, host_budget) frame of per-host
    overrides (e.g. robots.txt Crawl-delay converted to a per-wave
    cap): a listed host is capped at its own budget instead of the
    scalar ``budget``; unlisted hosts keep ``budget`` (or stay uncapped
    when ``budget`` is None). Robots-derived, so at most one row per
    crawled host — always broadcast; the join adds no exchange.
    """
    out = with_host(wave, url_col)
    if budget is not None or host_budgets is not None:
        order = [F.col("score").desc()] if "score" in out.columns else []
        order.append(F.col(url_col).asc())
        if host_budgets is not None:
            out = out.join(
                F.broadcast(
                    host_budgets.select("host", F.col("host_budget").cast("int"))
                ),
                "host",
                "left",
            )
            cap = F.coalesce(F.col("host_budget"), F.lit(budget).cast("int"))
        else:
            cap = F.lit(budget)
        # NULL cap (no scalar budget, host not listed) means uncapped.
        keep = cap.isNull() | (F.col("_rn") <= cap)
        w = Window.partitionBy("host").orderBy(*order)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(keep)
            .drop("_rn")
        )
        if host_budgets is not None:
            out = out.drop("host_budget")
    if partitions:
        if salts > 1:
            out = out.repartition(
                partitions,
                F.col("host"),
                F.pmod(F.xxhash64(F.col(url_col)), F.lit(salts)),
            )
        else:
            out = out.repartition(partitions, F.col("host"))
    return out


def host_rank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_state: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank-style host authority over the crawl's host link graph
    (fixed iteration count, no dangling-mass redistribution) — feeds
    F4-style frontier prioritization with a global signal the
    reference's per-page heuristics can't see.

    Declarative power iteration: `iters` rounds of (join contributions
    on src, re-aggregate on dst). The only driver-side action is ONE
    bounded scalar (the host count, used as a literal in the rank
    expressions — same bounded-collect class as the bloom partials).
    Each round is one shuffle keyed on host (partial aggregation
    map-side); out-degrees are computed once and re-joined. At crawl
    scale the host graph is orders of magnitude smaller than the URL
    frontier (10^7 hosts for a 10^10 frontier), so a few rounds of
    host-keyed shuffles are cheap relative to one frontier wave.

    It is the uniform-teleport case of the one power iteration
    (:func:`_pagerank`) that :func:`trust_rank` personalizes:
    host_rank(e) equals trust_rank(e, <every node>) row for row, while
    host_rank's teleport stays a literal with no seed join.

    Returns (host, rank) with rank floor-rounded at 1e-6 — the
    dialect-stable rounding used across the oracled queries (sums of
    doubles are order-dependent at the last ulp; rounding far above it
    makes Spark and the SQL twin byte-equal).

    `broadcast_state=True` (default) force-broadcasts the |hosts|-row
    rank vector each round — right whenever hosts fit in executor
    memory (10^7 hosts ≈ 100s of MB). For a host dimension too big to
    broadcast (10^8+ hosts), pass False: the joins carry no hint and
    AQE picks the strategy from runtime sizes — small graphs still
    auto-broadcast, huge ones degrade to shuffle joins on host instead
    of OOMing the executors. Results are identical either way
    (test_graph_sampling::test_broadcast_state_off_parity).
    """
    e, nodes = _host_graph(edges, src_col, dst_col)
    nodes = nodes.persist()
    n_hosts = nodes.count()  # bounded scalar; also materializes the cache
    return _pagerank(
        e,
        nodes,
        init=F.lit(1.0) / F.lit(float(n_hosts)),
        teleport=F.lit((1.0 - damping) / float(n_hosts)),  # = SQL twin
        iters=iters,
        damping=damping,
        broadcast_state=broadcast_state,
        out_col="rank",
        checkpoint_dir=checkpoint_dir,
        tag="host_rank",
    )


def _pagerank(
    e: DataFrame,
    nodes: DataFrame,
    init: Column,
    teleport: Column,
    iters: int,
    damping: float,
    broadcast_state: bool,
    out_col: str,
    checkpoint_dir: str | None,
    tag: str,
) -> DataFrame:
    """The power iteration shared by host_rank (uniform teleport) and
    trust_rank (teleport on the seeds only): ``iters`` rounds of
    rank = teleport + damping · Σ in-neighbor rank/out-degree, from the
    ``init`` vector. ``e`` is the distinct edge set, ``nodes`` the
    persisted node frame (``init`` and ``teleport`` may read its
    columns). Returns (host, out_col) floor-rounded at 1e-6 and
    checkpointed under ``tag``; both loop caches are released."""
    _b = _state_hint(broadcast_state)
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # the loop references the edge+degree join and the node set once
    # per round: persist them so the distinct/degree shuffles run once
    # instead of O(iters) times when the final single action fires
    ew = e.join(outdeg, "src").persist()
    ranks = nodes.select("host", init.alias("rank"))
    # The rank vector is |hosts| rows — orders of magnitude below the
    # edge set — so it rides the loop as a BROADCAST side: each round
    # is map-side join + one host-keyed partial-agg shuffle, and the
    # per-round left join back onto nodes broadcasts the aggregated
    # contributions. (For a host dimension too big to broadcast, drop
    # the hints: the plan degrades to sort-merge joins on host.)
    for _ in range(iters):
        contrib = (
            ew.join(_b(ranks), ew["src"] == ranks["host"])
            .select(F.col("dst").alias("host"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(_b(contrib), "host", "left").select(
            "host",
            (teleport + damping * F.coalesce(F.col("c"), F.lit(0.0))).alias("rank"),
        )
    out = _final_ckpt(
        ranks.select("host", _round6(F.col("rank")).alias(out_col)),
        checkpoint_dir,
        tag,
    )
    # the checkpoint truncates lineage, so the loop caches can be
    # released here instead of leaking into the shared session (the
    # same leak class ivf_topk and dup_components were fixed for)
    nodes.unpersist()
    ew.unpersist()
    return out


def trust_rank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "host",
    broadcast_state: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004, public) over
    the host link graph: PageRank with the teleport restricted to a
    hand-vetted TRUSTED seed set, so trust flows outward from known-good
    hosts and link-farm clusters that only cite each other starve — the
    spam-demotion input to frontier prioritization that complements
    host_rank's topic-blind authority (a farm can fake in-links, it
    cannot fake a path from a trusted seed).

    The same power iteration as :func:`host_rank` — one shared loop,
    :func:`_pagerank` (broadcast rank vector, one host-keyed partial-agg
    shuffle per round); the two differences are the personalized
    teleport — base mass (1-damping)/|seeds| lands ONLY on seed hosts —
    and the seed-uniform initial vector. Seeds are dimension-sized by construction (a vetted
    list), so the membership flag rides a broadcast left join onto the
    node set. Hosts unreachable from every seed end at exactly 0.

    Returns (host, trust) floor-rounded at 1e-6 (the dialect-stable
    rounding shared with host_rank). `broadcast_state` gates the
    rank-vector broadcast hints exactly as in :func:`host_rank` (pass
    False past ~10^8 hosts; the SEED join stays broadcast either way —
    a vetted seed list is dimension-sized by construction).
    """
    e, nodes = _host_graph(edges, src_col, dst_col)
    nodes = (
        nodes.join(
            F.broadcast(
                seeds.select(F.col(seed_col).alias("host")).distinct()
                .withColumn("_s", F.lit(True))
            ),
            "host",
            "left",
        )
        .select("host", F.coalesce(F.col("_s"), F.lit(False)).alias("is_seed"))
        .persist()
    )
    n_seeds = nodes.filter(F.col("is_seed")).count()  # bounded scalar
    if n_seeds == 0:
        out = _final_ckpt(
            nodes.select("host", F.lit(0.0).alias("trust")),
            checkpoint_dir,
            "trust_rank",
        )
        nodes.unpersist()
        return out
    return _pagerank(
        e,
        nodes,
        init=F.when(F.col("is_seed"), F.lit(1.0 / float(n_seeds))).otherwise(
            F.lit(0.0)
        ),
        teleport=F.when(
            F.col("is_seed"), F.lit((1.0 - damping) / float(n_seeds))
        ).otherwise(F.lit(0.0)),
        iters=iters,
        damping=damping,
        broadcast_state=broadcast_state,
        out_col="trust",
        checkpoint_dir=checkpoint_dir,
        tag="trust_rank",
    )


def hits_scores(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_state: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999, public) over the
    host link graph — the complementary signal to host_rank's
    PageRank: authorities are hosts many hubs point AT (content
    worth recrawling), hubs are hosts that point at many authorities
    (directories/link farms — crawl-trap candidates when hub >> auth).

    Runs UNNORMALIZED for a fixed iteration count in pure integer
    arithmetic (hub_0 = 1): normalization only rescales each vector, so
    rankings are identical, while integer sums are exact — the Spark
    result and the SQL twin agree bit-for-bit with no float-rounding
    bridge. Scores grow ~O(avg_degree^iters); with bigint that bounds
    safe depth at ~15 iterations on a 10^7-host graph (far past the
    2-4 used for scheduling signals).

    Same plan economics as host_rank: the score vector is |hosts|
    rows, broadcast each half-round; each half-round is one map-side
    join + one host-keyed partial-agg shuffle over the edge set.
    `broadcast_state=False` drops the hints for host dimensions past
    broadcast size and lets AQE choose (see :func:`host_rank`).
    """
    if int(iters) < 1:
        raise ValueError("iters must be >= 1")
    _b = _state_hint(broadcast_state)
    e, nodes = _host_graph(edges, src_col, dst_col)
    e, nodes = e.persist(), nodes.persist()
    nodes.count()  # materialize both caches before the loop reuses them
    hub = nodes.select("host", F.lit(1).cast("bigint").alias("h"))
    auth = None
    # each score vector is consumed twice (the next half-round's edge
    # join AND either the following half-round or the final auth⋈hub
    # assembly, whose two sides share subtrees the optimizer cannot
    # reuse across exchange types): persist the |hosts|-row frames so
    # the final action materializes each once — released after the
    # eager checkpoint (the same fix measured on opic_scores)
    cached = []
    for _ in range(iters):
        a_agg = (
            e.join(_b(hub), e["src"] == hub["host"])
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum("h").alias("a"))
        )
        auth = nodes.join(_b(a_agg), "host", "left").select(
            "host", F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("a")
        )
        cached.append(auth.persist())
        h_agg = (
            e.join(_b(auth), e["dst"] == auth["host"])
            .groupBy(F.col("src").alias("host"))
            .agg(F.sum("a").alias("h"))
        )
        hub = nodes.join(_b(h_agg), "host", "left").select(
            "host", F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("h")
        )
        cached.append(hub.persist())
    out = _final_ckpt(
        auth.join(hub, "host").select(
            "host",
            F.col("a").alias("auth_score"),
            F.col("h").alias("hub_score"),
        ),
        checkpoint_dir,
        "hits_scores",
    )
    e.unpersist()
    nodes.unpersist()
    for s in cached:
        s.unpersist()
    return out


def retry_backoff_schedule(
    attempts: DataFrame,
    max_retries: int = 4,
    backoff_cap: int = 16,
    url_col: str = "url",
    wave_col: str = "wave",
    ok_col: str = "ok",
) -> DataFrame:
    """Exponential-backoff retry scheduling over the fetch-attempt log
    (url, wave, ok) — the engine-side answer to the reference's dead
    `failed` set (Q5: requester.py:62 compares int to str, so Photon
    never retries anything; real crawlers re-attempt transient
    failures with backoff, e.g. the public Heritrix/Nutch retry
    policies).

    For every URL with ≥1 failure and NO success yet:
      next_wave = last_failed_wave + min(2^n_failures, backoff_cap)
    dropped permanently once n_failures ≥ max_retries. Integer
    end-to-end (shiftleft, no float pow) — cross-engine exact.

    One map-side-combinable groupBy over the attempt log; the output
    is one row per still-retryable URL, ready to left-join the wave
    scheduler (admit rows with next_wave ≤ current wave). At crawl
    scale the attempt log is append-only alongside the metrics table;
    the aggregation prunes to the failure tail, which is orders of
    magnitude below frontier size.
    """
    ok = F.col(ok_col).cast("boolean")
    agg = attempts.groupBy(F.col(url_col).alias("url")).agg(
        F.sum(F.when(~ok, 1).otherwise(0)).cast("int").alias("n_failures"),
        F.max(F.when(~ok, F.col(wave_col))).cast("int").alias("last_fail_wave"),
        F.max(F.when(ok, 1).otherwise(0)).alias("_succ"),
    )
    return (
        agg.filter(
            (F.col("_succ") == 0)
            & (F.col("n_failures") >= 1)
            & (F.col("n_failures") < int(max_retries))
        )
        .select(
            "url",
            "n_failures",
            (
                F.col("last_fail_wave")
                # clamp the shift amount: shiftleft is 32-bit, so a
                # large max_retries would wrap before least() applies
                + F.least(
                    F.expr("shiftleft(1, least(n_failures, 30))"),
                    F.lit(int(backoff_cap)),
                )
            ).alias("next_wave"),
        )
    )


def url_policy_flags(
    urls: DataFrame,
    blocked_hosts: tuple[str, ...] = (),
    blocked_suffixes: tuple[str, ...] = (),
    blocked_path_terms: tuple[str, ...] = (),
    url_col: str = "url",
) -> DataFrame:
    """UT1/FineWeb-style URL policy filtering: flag URLs whose host is
    on an exact blocklist, whose registered domain matches a blocked
    suffix, or whose path contains a blocked term.

    The blocklists are literals folded into the predicate (the UT1
    adult list is ~4M entries — at that size swap the isin for a
    broadcast left-anti/semi join; the plan shape is the swap-in
    point). Everything is a narrow scan-side expression — zero
    shuffle, pipelines with the frontier scan, and Catalyst pushes the
    final filter into the source when the caller drops flagged rows.
    """
    df = with_host(urls, url_col)
    host = F.col("host")
    blocked = F.lit(False)
    if blocked_hosts:
        blocked = blocked | host.isin(*blocked_hosts)
    for s in blocked_suffixes:
        blocked = blocked | host.endswith("." + s) | (host == F.lit(s))
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit(""))
    for t in blocked_path_terms:
        blocked = blocked | (F.instr(F.lower(path), t.lower()) > 0)
    return df.withColumn("blocked", blocked)


def url_policy_filter(urls: DataFrame, **kwargs) -> DataFrame:
    """Keep only URLs that pass url_policy_flags."""
    return url_policy_flags(urls, **kwargs).filter(~F.col("blocked")).drop("blocked")


def recrawl_schedule(
    observations: DataFrame,
    as_of_epoch: int,
    k: int,
    host_col: str = "host",
    url_col: str = "url",
    ts_col: str = "ts",
) -> DataFrame:
    """Top-k recrawl candidates per host by staleness × change rate.

    The refresh-scheduling half the reference lacks entirely (Photon
    crawls once and exits; its `processed` set is never revisited —
    photon.py:91-100): given fetch observations (host, url, ts), score
    each URL by how stale it is times how often it historically changed
    — the classic freshness-driven recrawl policy (Cho & Garcia-Molina,
    "Effective Page Refresh Policies for Web Crawlers", TODS 2003) —
    and emit each host's k most urgent URLs. The seen set is
    append-only: a scheduled recrawl re-admits its URLs through store
    state (photon_spark/recrawl.py), not by deleting them from a seen
    filter.

    score = staleness_s · (n_obs − 1) · 10^6 div observed_span_s —
    integer arithmetic end to end (epoch seconds, integer div), so
    ranking is bit-identical across engines (no float ulp in ORDER BY);
    single-observation URLs (span 0, no change evidence) score 0 and
    only surface once changing URLs are exhausted. Ties break on url
    asc.

    Shape at scale: one map-side-combinable groupBy((host, url)) — the
    observation log (the big input) is touched exactly once — then a
    per-host top-k window over the far smaller one-row-per-URL frame.
    For a literal k ≤ 1000 Spark's partial WindowGroupLimit caps each
    host map-side before the host exchange, as in schedule_wave. Above
    that nothing caps it: each hot host is one window task, so a
    Zipf-hot host with 10^8 distinct URLs straggles (SCALE.md §1).
    """
    n = F.count(F.lit(1))
    last = F.max(F.unix_timestamp(F.col(ts_col)))
    first = F.min(F.unix_timestamp(F.col(ts_col)))
    g = observations.groupBy(host_col, url_col).agg(
        n.alias("n_obs"), last.alias("last_s"), first.alias("first_s")
    )
    span = F.col("last_s") - F.col("first_s")
    staleness = F.lit(int(as_of_epoch)) - F.col("last_s")
    score = F.when(
        span > 0,
        F.expr(f"(({int(as_of_epoch)} - last_s) * (n_obs - 1) * 1000000) div (last_s - first_s)"),
    ).otherwise(F.lit(0).cast("long"))
    w = Window.partitionBy(host_col).orderBy(
        F.col("score").desc(), F.col(url_col).asc()
    )
    return (
        g.withColumn("staleness_s", staleness)
        .withColumn("score", score)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "first_s")
        .withColumnRenamed("last_s", "last_seen_s")
    )


def recrawl_schedule_cold(
    hints: DataFrame,
    as_of_epoch: int,
    k: int,
    url_col: str = "url",
) -> DataFrame:
    """Cold-start recrawl ranking from sitemap hints alone — the
    bootstrap `recrawl_schedule` cannot provide: Cho & Garcia-Molina's
    policy needs ≥2 observations per URL before a change rate exists,
    but a sitemap's `<lastmod>`/`<changefreq>` (sitemaps.org) is the
    site's own declaration of exactly those two quantities, available
    BEFORE the first fetch.

    Input is `sources.sitemap.sitemap_url_hints` output
    (url, n_listings, lastmod_s, changefreq_s, priority_milli). Score =
    intervals-overdue in integer micro-units:

        score = max(0, (as_of − lastmod_s)) · 10^6 div changefreq_s

    (0 when lastmod or changefreq is absent — no freshness evidence).
    Per host, the top k by (score desc, priority_milli desc, url asc):
    overdue URLs first, the spec's <priority> breaking ties among the
    evidence-free rest. Integer arithmetic end to end, so the ranking
    is bit-identical across engines. Once a URL has real fetch
    history, `recrawl_schedule`'s observed change rate supersedes its
    hint (declared changefreq is advisory; observations are ground
    truth) — gate the union on n_obs ≥ 2.

    Shape at scale: the hints frame is one row per sitemap-listed URL
    (no observation log); one window over host partitions — capped
    map-side for a literal k ≤ 1000, else one window task per hot host,
    as in `recrawl_schedule`.
    """
    h = with_host(hints, url_col) if "host" not in hints.columns else hints
    score = (
        F.when(
            F.col("lastmod_s").isNotNull()
            & F.col("changefreq_s").isNotNull(),
            F.expr(
                f"(greatest(0L, {int(as_of_epoch)} - lastmod_s) * 1000000)"
                " div changefreq_s"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("score").desc(), F.col("priority_milli").desc(), F.col(url_col).asc()
    )
    return (
        h.withColumn("score", score)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("host", url_col, "score", "priority_milli")
    )


def recrawl_schedule_unified(
    observations: DataFrame,
    freshness: DataFrame | None,
    hints: DataFrame | None,
    as_of_epoch: int,
    k: int,
    url_col: str = "url",
    ts_col: str = "ts",
) -> DataFrame:
    """One recrawl ranking over ALL THREE freshness sources, in one
    comparable unit — intervals-overdue in integer micro-units
    (overdue_seconds · 10^6 div declared_or_observed_interval):

      observed  (n_obs ≥ 2)   — Cho & Garcia-Molina change rate:
                  (as_of − last) · (n_obs−1) · 10^6 div (last − first)
                  ≡ overdue · 10^6 div mean-observed-change-interval
      header    (freshness_s > 0) — RFC 9111 lifetime
                  (`sources.fetch_cond.http_freshness`):
                  max(0, as_of − stale_at) · 10^6 div freshness_s
      sitemap   — `<lastmod>/<changefreq>` (`sitemap_url_hints`):
                  max(0, as_of − lastmod) · 10^6 div changefreq
      none      — 0 (surfaces only when nothing else is due)

    Precedence observed > header > sitemap: measurements beat the
    origin's declarations beat the site map's advisory defaults; a
    header freshness_s of 0 (no-cache / no evidence) falls through
    rather than claiming infinite urgency. `src` records which source
    priced each URL. Per host, top k by (due desc, url asc).

    Shapes: the observation log is touched ONCE (map-side-combinable
    url agg); freshness/hints are one-row-per-URL frames, so the three
    sources consolidate by UNION + one url-keyed max-aggregate (join-
    free: each source fills its own columns and NULLs the others —
    cheaper than two full-outer joins and still exact because every
    source is url-unique by contract), then the per-host top-k window
    — capped map-side for a literal k ≤ 1000, else one window task per
    hot host, as in `recrawl_schedule`.
    ``freshness``: (url, stale_at_s, freshness_s); ``hints``:
    `sitemap_url_hints` output. Either may be None."""
    spark = observations.sparkSession
    as_of = int(as_of_epoch)
    g = (
        observations.groupBy(url_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max(F.unix_timestamp(F.col(ts_col))).alias("last_s"),
            F.min(F.unix_timestamp(F.col(ts_col))).alias("first_s"),
        )
    )
    if freshness is None:
        freshness = spark.createDataFrame(
            [], f"{url_col} string, stale_at_s long, freshness_s long"
        )
    if hints is None:
        hints = spark.createDataFrame(
            [],
            f"{url_col} string, n_listings long, lastmod_s long,"
            " changefreq_s long, priority_milli long",
        )
    _n = lambda: F.lit(None).cast("long")  # noqa: E731
    tagged = (
        g.select(
            url_col, "n_obs", "last_s", "first_s",
            _n().alias("_f_stale"), _n().alias("_f_life"),
            _n().alias("_h_lm"), _n().alias("_h_cf"),
        )
        .unionByName(
            freshness.select(
                url_col,
                _n().alias("n_obs"), _n().alias("last_s"),
                _n().alias("first_s"),
                F.col("stale_at_s").alias("_f_stale"),
                F.col("freshness_s").alias("_f_life"),
                _n().alias("_h_lm"), _n().alias("_h_cf"),
            )
        )
        .unionByName(
            hints.select(
                url_col,
                _n().alias("n_obs"), _n().alias("last_s"),
                _n().alias("first_s"),
                _n().alias("_f_stale"), _n().alias("_f_life"),
                F.col("lastmod_s").alias("_h_lm"),
                F.col("changefreq_s").alias("_h_cf"),
            )
        )
    )
    spine = tagged.groupBy(url_col).agg(
        *[
            F.max(c).alias(c)
            for c in (
                "n_obs", "last_s", "first_s",
                "_f_stale", "_f_life", "_h_lm", "_h_cf",
            )
        ]
    )
    obs_ok = (F.col("n_obs") >= 2) & (F.col("last_s") > F.col("first_s"))
    hdr_ok = F.col("_f_life").isNotNull() & (F.col("_f_life") > 0)
    map_ok = F.col("_h_lm").isNotNull() & F.col("_h_cf").isNotNull()
    due_obs = F.expr(
        f"(greatest(0L, {as_of} - last_s) * (n_obs - 1) * 1000000)"
        " div (last_s - first_s)"
    )
    due_hdr = F.expr(
        f"(greatest(0L, {as_of} - _f_stale) * 1000000) div _f_life"
    )
    due_map = F.expr(
        f"(greatest(0L, {as_of} - _h_lm) * 1000000) div _h_cf"
    )
    src = (
        F.when(obs_ok, F.lit("observed"))
        .when(hdr_ok, F.lit("header"))
        .when(map_ok, F.lit("sitemap"))
        .otherwise(F.lit("none"))
    )
    due = (
        F.when(obs_ok, due_obs)
        .when(hdr_ok, due_hdr)
        .when(map_ok, due_map)
        .otherwise(F.lit(0))
        .cast("long")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("due_micro").desc(), F.col(url_col).asc()
    )
    return (
        with_host(
            spine.withColumn("src", src).withColumn("due_micro", due),
            url_col,
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("host", url_col, "src", "due_micro")
    )


def adaptive_host_budgets(
    observations: DataFrame,
    base: int = 8,
    lo: int = 1,
    hi: int = 64,
    host_col: str = "host",
    wave_col: str = "wave",
    errors_col: str = "errors",
) -> DataFrame:
    """AIMD-shaped adaptive politeness: per-host wave budgets derived
    from observed fetch outcomes, feeding ``schedule_wave(host_budgets
    =...)`` exactly like the robots Crawl-delay budgets.

    The congestion-control shape (public TCP AIMD): errors cut the
    budget multiplicatively, clean waves grow it additively — and the
    additive credit is the CLEAN STREAK (waves since the host's most
    recent errored wave), not lifetime clean-wave count, so a host
    with a long clean history still collapses as soon as it starts
    failing. Closed form over the host's observation history — no
    sequential scan:

        budget(host) = clamp(base div 2^min(err_waves, 6)
                             + clean_streak, lo, hi)

    where err_waves counts the host's errored waves and clean_streak
    counts its clean waves AFTER the last errored one (all waves, if
    none errored). The halving is a dyadic-rational double (exact for
    base ≤ 2^52) floored to integer, so the DuckDB twin hash-matches.
    A never-errored host warms up one unit per clean wave toward
    ``hi``; a flapping host sits near ``lo`` no matter how good its
    past was.

    A wave's verdict is deterministic under per-fetch logs: multiple
    rows per (host, wave) collapse by MAX(errors) — one bad fetch
    marks the wave errored — never by an arbitrary keep.

    100 TB: the observation log is touched once, partial-aggregated
    map-side into one row per (host, wave) (≪ log), then two
    host-keyed aggs over that collapsed frame and a host-keyed join —
    all tiny next to the log scan; the result joins back into
    schedule_wave as a broadcast, the same zero-extra-exchange
    contract as host_budgets itself.
    """
    per_wave = (
        observations.select(host_col, wave_col, errors_col)
        .groupBy(host_col, wave_col)
        .agg(F.max(F.col(errors_col)).alias("_errors"))
    )
    # last errored wave via a host window (not a self-join): the agg
    # below reuses the window's host partitioning, so the whole
    # host-level computation costs one exchange after the per-wave agg
    w = Window.partitionBy(host_col)
    per_wave = per_wave.withColumn(
        "_last_err",
        F.max(F.when(F.col("_errors") > 0, F.col(wave_col))).over(w),
    )
    in_streak = (F.col("_errors") == 0) & (
        F.col("_last_err").isNull() | (F.col(wave_col) > F.col("_last_err"))
    )
    g = per_wave.groupBy(host_col).agg(
        F.sum(F.when(F.col("_errors") > 0, 1).otherwise(0)).alias("_err"),
        F.sum(F.when(in_streak, 1).otherwise(0)).alias("_streak"),
    )
    raw = (
        F.lit(base).cast("long")
        / F.pow(F.lit(2), F.least(F.col("_err"), F.lit(6)))
    ).cast("long") + F.col("_streak")
    return g.select(
        F.col(host_col).alias("host"),
        F.least(F.greatest(raw, F.lit(lo)), F.lit(hi))
        .cast("int")
        .alias("host_budget"),
    )


def discovery_saturation(
    discoveries: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Per-host crawl-coverage estimate from the link-discovery log —
    the "is this host exhausted?" planning signal a budget allocator
    needs (the reference crawls to a fixed level and stops,
    photon.py:91-100; it cannot say how much it left behind).

    Input: one row per DISCOVERY OBSERVATION (every time any page's
    extraction emits a URL — duplicates included, they are the
    evidence). Species-richness estimators from the public
    capture-recapture literature, on frequency-of-frequencies:

      n_obs, n_distinct, n_singletons (f1), n_doubletons (f2)
      gt_unseen_micro — Good-Turing unseen probability mass f1/N in
        micro-units: the chance the NEXT discovered link is a URL we
        have never seen. ≈0 → the host's link graph is saturated and
        further fetch budget is wasted there.
      chao1_milli — Chao1 lower-bound richness estimate in milli-URLs:
        D + f1²/(2·f2), bias-corrected f1(f1−1)/2 when f2 = 0; minus D
        it is the estimated count of URLs that EXIST but were never
        discovered.

    Integer micro/milli arithmetic end to end (cross-engine exact).
    Shape: two map-side-combinable aggregates — (host, url) counts,
    then per-host frequency rollup; the discovery log is touched once.
    """
    per_url = discoveries.groupBy(host_col, url_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_url.groupBy(host_col)
        .agg(
            F.sum("c").alias("n_obs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
        )
        .select(
            host_col,
            "n_obs",
            "n_distinct",
            F.col("f1").alias("n_singletons"),
            F.col("f2").alias("n_doubletons"),
            F.expr("(f1 * 1000000) div n_obs").alias("gt_unseen_micro"),
            (
                F.col("n_distinct") * 1000
                + F.when(
                    F.col("f2") > 0,
                    F.expr("(f1 * f1 * 1000) div (2 * f2)"),
                ).otherwise(F.expr("(f1 * (f1 - 1) * 1000) div 2"))
            ).alias("chao1_milli"),
        )
    )


def soft404_flags(
    pages: DataFrame,
    probes: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
) -> DataFrame:
    """Soft-404 detection by error-template probing (the public method
    of Bar-Yossef et al., "Sic Transit Gloria Telae", WWW 2004): fetch
    one deliberately non-existent URL per host, fingerprint the body —
    that is the host's error TEMPLATE — then flag every 200-status
    page on the host whose content fingerprint equals it. Soft 404s
    (error pages served with status 200) otherwise pollute the corpus
    AND the recrawl log: they look like real pages that "changed" every
    time the template's timestamp rotates. The reference trusts status
    codes alone (core/requester — non-2xx lands in `failed`).

    ``pages``: (url, fp[, …]) — fp is any stable content fingerprint
    (textstats.fingerprint md5, or winnowing for near-template drift).
    ``probes``: (host, probe_fp) — one probe row per host,
    dimension-sized by construction, so the join BROADCASTS and the
    page corpus never shuffles. Hosts without a probe are never
    flagged. Returns ``pages`` + host + is_soft404."""
    p = with_host(pages, url_col) if "host" not in pages.columns else pages
    pr = probes.select(
        F.col("host").alias("_p_host"), F.col("probe_fp").alias("_p_fp")
    )
    return (
        p.join(F.broadcast(pr), p["host"] == F.col("_p_host"), "left")
        .withColumn(
            "is_soft404",
            F.coalesce(F.col(fp_col) == F.col("_p_fp"), F.lit(False)),
        )
        .drop("_p_host", "_p_fp")
    )


def trap_flags(
    urls: DataFrame,
    max_depth: int = 12,
    max_params: int = 8,
    seg_repeat_limit: int = 3,
    url_col: str = "url",
    out_prefix: str = "",
) -> DataFrame:
    """Crawler-trap detection — the classic frontier-hygiene heuristics
    (public Heritrix/Nutch lineage) that keep an infinite URL space
    from eating the crawl budget:

    * ``seg_loop``: a path segment repeated >= seg_repeat_limit times
      in ONE url (``/gal/img/gal/img/gal/...``) — the signature of a
      relative-link cycle, the most common trap in the wild;
    * ``too_deep``: path depth > max_depth (calendar walks, generated
      directory towers);
    * ``param_blowup``: >= max_params query parameters (session-id /
      faceted-search explosion).

    ``is_trap`` ORs them. Everything is a narrow scan-side expression
    (parse_url + array HOFs — the per-URL repetition count is O(d^2)
    over a <=max_depth-segment array, constant work); zero shuffle,
    pipelines with the frontier scan, and dropping flagged rows pushes
    into the source like url_policy_filter. At 10^10 URLs this is the
    cheap gate that runs BEFORE the seen-set anti-join, shrinking the
    wave the expensive stages see.

    Output columns are appended to the input; ``out_prefix`` renames
    them when the input already carries one of these names (frontier
    rows commonly have their own ``depth``) — a collision raises
    rather than producing an ambiguous duplicate column.
    """
    names = [
        out_prefix + c
        for c in (
            "depth", "max_seg_repeat", "n_params",
            "seg_loop", "too_deep", "param_blowup", "is_trap",
        )
    ]
    clash = set(names) & set(urls.columns)
    if clash:
        raise ValueError(
            f"trap_flags output columns {sorted(clash)} already exist in"
            f" the input — pass out_prefix to rename them"
        )
    u = F.col(url_col)
    path = F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    depth = F.size(segs)
    max_rep = F.when(depth == 0, F.lit(0)).otherwise(
        F.array_max(
            F.transform(
                segs, lambda s: F.size(F.filter(segs, lambda x: x == s))
            )
        )
    )
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))
    )
    seg_loop = max_rep >= seg_repeat_limit
    too_deep = depth > max_depth
    param_blowup = n_params >= max_params
    return urls.select(
        "*",
        depth.cast("bigint").alias(names[0]),
        max_rep.cast("bigint").alias(names[1]),
        n_params.cast("bigint").alias(names[2]),
        seg_loop.alias(names[3]),
        too_deep.alias(names[4]),
        param_blowup.alias(names[5]),
        (seg_loop | too_deep | param_blowup).alias(names[6]),
    )


def politeness_spacing(
    fetches: DataFrame,
    interval_ms: int,
    host_col: str = "host",
    url_col: str = "url",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-host fetch-time shaping: assign each URL the earliest fetch
    time that keeps >= interval_ms between consecutive fetches of the
    same host — the crawl-delay semantics the reference approximates
    with one GLOBAL sleep in its fetch loop (core/requester.py:33
    time.sleep(delay) per request, no per-host isolation).

    fetch_ms obeys the recurrence fetch_i = max(ts_i, fetch_{i-1} +
    interval) over the host's URLs in (ts, url) order. The recurrence
    unrolls to the closed form

        fetch_i = i*d + max_{j<=i}(ts_j - j*d)

    so the whole shaper is ONE host-partitioned window (row_number +
    running max) — no sequential scan, no UDF, and the streaming twin
    (streaming/politeness.py) must reproduce it exactly (its parity
    test diffs the two). delay_ms = fetch_ms - ts_ms is the shaping
    cost; SUM(delay_ms) per host is the congestion signal
    adaptive_host_budgets consumes on the batch side.

    Scale: one shuffle keyed on host. A Zipf-hot host serializes its
    window task; unlike the budget cap this operator is order-exact,
    so the salt trick does not apply — shard a pathological host by
    bounding its wave membership FIRST (schedule_wave budget), which
    caps any window task at budget rows.
    """
    d = int(interval_ms)
    w_rn = Window.partitionBy(host_col).orderBy("ts_ms", url_col)
    w_max = (
        Window.partitionBy(host_col)
        .orderBy("_rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ts_ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    return (
        fetches.select(
            host_col, url_col, ts_ms.alias("ts_ms")
        )
        .withColumn("_rn", F.row_number().over(w_rn) - 1)
        .withColumn(
            "fetch_ms",
            F.max(F.col("ts_ms") - F.lit(d) * F.col("_rn")).over(w_max)
            + F.lit(d) * F.col("_rn"),
        )
        .select(
            host_col,
            url_col,
            "ts_ms",
            "fetch_ms",
            (F.col("fetch_ms") - F.col("ts_ms")).alias("delay_ms"),
        )
    )


def cms_sketch(
    df: DataFrame, key_col: str = "host", depth: int = 4, width: int = 2048
) -> DataFrame:
    """Count-min sketch build over a key column — the sub-linear
    heavy-hitter counter for streams/frontiers whose distinct-key set
    is itself too big to aggregate exactly (the HLL's counting sibling:
    HLL answers "how many distinct", CMS answers "how often is THIS
    one", both in O(sketch) space). Public Cormode & Muthukrishnan
    (2005) structure: depth rows of width counters; per row i the key
    increments cell (i, xxhash64(i, key) mod width); a point estimate
    is min_i over the key's cells and overestimates by at most
    eps*N (eps = e/width) with probability 1 - exp(-depth).

    Plan shape at 10^10 rows: the depth-way explode multiplies the
    scan, but partial aggregation collapses every partition to at most
    depth*width rows BEFORE the exchange — the shuffle is O(depth *
    width * partitions), independent of input size, and the finished
    sketch (depth*width rows) broadcasts for estimation.
    """
    e = df.select(F.col(key_col).cast("string").alias("_k")).select(
        "_k",
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("i"),
    )
    bucket = F.pmod(F.xxhash64(F.col("i"), F.col("_k")), F.lit(int(width)))
    return (
        e.select("i", bucket.alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str = "host",
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point estimates for `keys` from a cms_sketch: est = min over
    the key's depth cells (missing cell = 0). The sketch side is
    depth*width rows — always the broadcast side; the probe is one
    key-keyed aggregation. Estimates NEVER undercount (every cell the
    key hashes to holds at least its true count)."""
    e = keys.select(F.col(key_col).cast("string").alias("_k")).distinct().select(
        "_k",
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("i"),
    )
    bucket = F.pmod(F.xxhash64(F.col("i"), F.col("_k")), F.lit(int(width)))
    j = e.select("_k", "i", bucket.alias("bucket")).join(
        F.broadcast(sketch), ["i", "bucket"], "left"
    )
    return j.groupBy("_k").agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est")
    ).select(F.col("_k").alias(key_col), "est")


def opic_scores(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_state: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    Preda & Cobena, WWW 2003, public) over the host link graph: the
    incremental complement of :func:`host_rank`. PageRank needs a
    converged power iteration over the whole graph; OPIC maintains a
    conserved "cash" vector the crawl updates AS IT GOES — each round a
    node spends its cash (uniformly over its out-links; dangling nodes
    spend uniformly over every node, the virtual-page trick from the
    paper), the spend is banked into the node's history, and
    importance is estimated at any time as (history + cash) / total
    banked mass. The reference crawls once with no importance signal at
    all (photon.py:91-100 walks levels and exits), so this is engine
    surface, not parity.

    Declarative: `rounds` unrolled cash-flow steps — the step
    :func:`opic_update` runs once (:func:`_opic_step`) — each ONE
    host-keyed partial-agg shuffle (contributions) plus a 1-row
    dangling-mass aggregate that rides a crossJoin broadcast — NO
    driver action per round (the dangling total stays a lazy 1-row
    frame; only the node count is collected once, the same bounded
    scalar as host_rank).
    The state vector CARRIES the static out-degree (null = dangling),
    so the per-round dangling mass is a scan-filter aggregate over
    state — no join — and the contribution join needs no separate
    edges-with-degrees frame (measured: the old per-round ndeg join
    made opic ~3× host_rank's latency on the same graph; folding deg
    into state closes most of that gap). Cash is conserved at exactly
    1.0, so after R rounds the banked mass is R and
    score = (history + cash) / (R + 1); scores sum to 1.

    Returns (host, opic) floor-rounded at 1e-6 (the dialect-stable
    rounding shared with host_rank/trust_rank). `broadcast_state`
    gates the |hosts|-row cash/contribution broadcast hints as in
    :func:`host_rank` (pass False past ~10^8 hosts); the 1-row
    dangling-mass frame stays broadcast either way.
    """
    _b = _state_hint(broadcast_state)
    e, nodes = _host_graph(edges, src_col, dst_col)
    nodes = nodes.persist()
    n_hosts = nodes.count()  # bounded scalar; also materializes the cache
    e = e.persist()
    state = _opic_state(
        e, nodes, F.lit(1.0) / F.lit(float(n_hosts)), F.lit(0.0), _b
    )
    # each round's state is consumed by THREE subtrees (contribution
    # join, dangling aggregate, next-state join); persist the
    # |hosts|-row frame so the final action materializes it once per
    # round instead of re-deriving the whole unrolled lineage per
    # consumer — all released after the eager checkpoint below
    rounds_cached = [state.persist()]
    for _ in range(int(rounds)):
        state = _opic_step(e, state, n_hosts, _b)
        rounds_cached.append(state.persist())
    total = float(rounds) + 1.0
    out = _final_ckpt(
        state.select(
            "host",
            _round6((F.col("hist") + F.col("cash")) / F.lit(total)).alias("opic"),
        ),
        checkpoint_dir,
        "opic_scores",
    )
    nodes.unpersist()
    e.unpersist()
    for s in rounds_cached:
        s.unpersist()
    return out


def _opic_state(
    e: DataFrame, hosts: DataFrame, cash: Column, hist: Column, _b
) -> DataFrame:
    """OPIC state (host, deg, cash, hist) over ``hosts``: the static
    out-degree rides the state row (null = dangling), so the per-round
    dangling mass is a scan-filter aggregate, not a join."""
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    return hosts.join(
        _b(outdeg.withColumnRenamed("src", "host")), "host", "left"
    ).select("host", "deg", cash.alias("cash"), hist.alias("hist"))


def _opic_step(e: DataFrame, state: DataFrame, n: int, _b) -> DataFrame:
    """One OPIC cash-flow round over (host, deg, cash, hist): each host
    spends its cash over its out-links, dangling cash spreads uniformly
    over all ``n`` hosts, and the spent cash is banked into hist. ONE
    host-keyed partial-agg shuffle (contributions) plus the 1-row
    dangling total as a crossJoin broadcast — no driver action. Shared
    by :func:`opic_scores`' loop and :func:`opic_update`."""
    contrib = (
        e.join(_b(state), e["src"] == state["host"])
        .select(
            F.col("dst").alias("host"),
            (F.col("cash") / F.col("deg")).alias("c"),
        )
        .groupBy("host")
        .agg(F.sum("c").alias("c"))
    )
    dang = state.filter(F.col("deg").isNull()).agg(
        F.coalesce(F.sum("cash"), F.lit(0.0)).alias("d")
    )
    return (
        state.join(_b(contrib), "host", "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "host",
            "deg",
            (
                F.coalesce(F.col("c"), F.lit(0.0)) + F.col("d") / F.lit(float(n))
            ).alias("cash"),
            (F.col("hist") + F.col("cash")).alias("hist"),
        )
    )


def shark_relevance(
    frontier: DataFrame,
    terms: tuple,
    gamma: float = 0.5,
    delta: float = 0.5,
    url_col: str = "url",
    anchor_col: str = "anchor",
    parent_col: str = "parent_score",
) -> DataFrame:
    """Shark-search focused-crawl scoring (Hersovici et al., WWW 1998,
    public) for frontier URLs: a candidate's priority blends the
    relevance it INHERITS from the page that linked it with the
    relevance of the ANCHOR TEXT it was linked under —

        score = gamma * delta * parent_score + (1 - gamma) * anchor_sim

    where anchor_sim is the fraction of the query's terms present in
    the anchor's token set (the paper's neighborhood component,
    restricted to the anchor signal the frontier actually carries; the
    inherited component is the paper's delta-decayed parent score).
    The reference crawls breadth-first with no topic signal
    (photon.py:91-100); this is the focused-crawl policy a training-
    data pipeline uses to steer toward on-topic hosts without fetching
    off-topic subtrees.

    Map-only JVM expressions (split + array_contains per term — term
    lists are small by construction): ZERO shuffle, pipelines with the
    frontier scan, and composes with schedule_wave exactly like
    priority_score. Returns (url, anchor_sim, score) floor-rounded at
    1e-6 (dialect-stable; with dyadic gamma/delta and a power-of-two
    term count every intermediate is exactly representable anyway).
    """
    toks = F.split(F.lower(F.col(anchor_col)), "[^a-z0-9]+")
    matched = None
    for t in terms:
        hit = F.array_contains(toks, t.lower()).cast("int")
        matched = hit if matched is None else matched + hit
    sim = matched.cast("double") / F.lit(float(len(terms)))
    score = (
        F.lit(float(gamma) * float(delta)) * F.col(parent_col)
        + F.lit(1.0 - float(gamma)) * sim
    )
    return frontier.select(
        F.col(url_col).alias("url"),
        _round6(sim).alias("anchor_sim"),
        _round6(score).alias("score"),
    )


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "host",
    broadcast_state: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Relative spam mass (Gyongyi, Berkhin, Garcia-Molina & Pedersen,
    "Link Spam Detection Based on Mass Estimation", VLDB 2006, public):
    the fraction of a host's PageRank that does NOT flow from the
    trusted core —

        spam_mass = (pr - trust) / pr

    with pr = :func:`host_rank` and trust = :func:`trust_rank` run at
    the SAME damping and iteration count. Hosts whose authority is
    manufactured by link farms score near 1 (rank with no trusted
    provenance); hosts inside the trusted neighborhood score near 0,
    and seed hosts can go negative (trust concentrates on them) — the
    paper's demotion signal for frontier scheduling, composing three
    graph operators this module already ships.

    pr is strictly positive (every host receives (1-damping)/n base
    mass each round), so the division is total. Both inputs are the
    1e-6 floor-rounded outputs of their operators — identical doubles
    on any engine that matched them — so the quotient is bit-stable
    before its own final 1e-6 rounding. Cost on top of the two rank
    computations: ONE host-keyed join of two |hosts|-row frames.
    Returns (host, pr, trust, spam_mass). `broadcast_state` is passed
    through to both underlying rank computations (see
    :func:`host_rank`).
    """
    pr = host_rank(edges, iters=iters, damping=damping,
                   src_col=src_col, dst_col=dst_col,
                   broadcast_state=broadcast_state,
                   checkpoint_dir=checkpoint_dir)
    tr = trust_rank(edges, seeds, iters=iters, damping=damping,
                    src_col=src_col, dst_col=dst_col, seed_col=seed_col,
                    broadcast_state=broadcast_state,
                    checkpoint_dir=checkpoint_dir)
    j = pr.join(tr, "host")
    return j.select(
        "host",
        F.col("rank").alias("pr"),
        "trust",
        _round6((F.col("rank") - F.col("trust")) / F.col("rank")).alias(
            "spam_mass"
        ),
    )


def opic_init(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
    checkpoint_tag: str = "opic_state_init",
) -> DataFrame:
    """Uniform OPIC state (host, cash, hist) over a host graph's node
    set — the starting point for :func:`opic_update`. Cash sums to
    exactly n * (1/n); hist starts at 0. `checkpoint_dir` /
    `checkpoint_tag` park the state in reliable storage (see
    :func:`_final_ckpt`) — tag it like the updates (e.g. wave 0)."""
    # straight off the edges: no distinct edge set, so no extra shuffle
    nodes = _nodes(edges, src_col, dst_col)
    n = nodes.count()  # bounded scalar
    return _final_ckpt(
        nodes.select(
            "host",
            (F.lit(1.0) / F.lit(float(n))).alias("cash"),
            F.lit(0.0).alias("hist"),
        ),
        checkpoint_dir,
        checkpoint_tag,
    )


def opic_update(
    state: DataFrame,
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_state: bool = True,
    checkpoint_dir: str | None = None,
    checkpoint_tag: str = "opic_state",
) -> DataFrame:
    """ONE on-line OPIC step — the wave-by-wave usage Abiteboul et
    al.'s adaptive variant intends, where :func:`opic_scores` is the
    batch convenience: the crawl holds (host, cash, hist) state in its
    store, and after each wave feeds the CURRENT host graph (including
    newly discovered hosts) through one cash-distribution round.
    Hosts present in ``edges`` but not yet in ``state`` enter with
    zero cash and zero history (they receive this round), so total
    cash is conserved exactly across waves; after t updates the
    importance estimate is (hist + cash) / (t + 1), and feeding the
    same static graph t times reproduces opic_scores(rounds=t) —
    pytest-pinned.

    The round is the batch loop's own step (:func:`_opic_step`): ONE
    host-keyed partial-agg shuffle for contributions, the dangling
    total as a 1-row crossJoin broadcast, the state vector broadcast
    into the edge join. The
    returned frame is eagerly checkpointed so per-wave lineage stays
    O(1) across an arbitrarily long crawl (the same contract as the
    batch operator and dup_components). `broadcast_state` gates the
    |hosts|-row state/contribution broadcast hints as in
    :func:`host_rank`; the 1-row dangling total stays broadcast.

    `checkpoint_dir` parks the new state in reliable storage instead
    of localCheckpoint (see :func:`_final_ckpt`) — REQUIRED caveat:
    rotate `checkpoint_tag` per wave (e.g. ``f"opic_w{wave}"``). The
    returned frame is READ from ``dir/tag``, so writing the next
    update into the same tag would overwrite the parquet the input
    state is still being scanned from mid-job.
    """
    _b = _state_hint(broadcast_state)
    e, hosts = _host_graph(edges, src_col, dst_col)
    full = _opic_state(
        e,
        hosts.join(state, "host", "full"),
        F.coalesce(F.col("cash"), F.lit(0.0)),
        F.coalesce(F.col("hist"), F.lit(0.0)),
        _b,
    ).persist()
    n = full.count()  # bounded scalar; materializes the cache
    out = _opic_step(e, full, n, _b).drop("deg")
    out = _final_ckpt(out, checkpoint_dir, checkpoint_tag)
    full.unpersist()
    return out


def link_signals(
    edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
) -> DataFrame:
    """Per-target-host link-provenance signals: referring-domain
    diversity, nepotism, and reciprocity.

    The classic spam-demotion inputs (Davison 2000 "Recognizing
    nepotistic links"; the "count distinct referring domains, not raw
    in-links" rule every public ranking writeup states): a host whose
    in-links come from ONE registrable domain, or mostly from its own
    domain, or mostly from hosts it links straight back to, earned its
    degree cheaply. These complement the rank family (host_rank /
    trust_rank / spam_mass) with degree-provenance evidence that needs
    no iteration. The reference crawls one site per run and never sees
    cross-host links at all (photon.py:313-325 partitions into
    internal/external and only follows internal).

    Output (one row per target host with ≥1 external in-link):
      host, n_inlinks, n_ref_hosts, n_ref_domains,
      nepotism_ppm   — same-registrable-domain in-link fraction,
      reciprocity_ppm — fraction of distinct referring hosts this host
                        links back to (host-level mutual edge).

    Registrable domain is the last-two-labels approximation the whole
    engine uses (kernels.etld1 rationale; production swaps in a
    broadcast public-suffix table, same plan shape).

    Scale shape: the ONE corpus-scale stage is a map-side-combinable
    groupBy that collapses the edge log to distinct (src_host,
    dst_host) pairs — everything downstream (reciprocity self-join,
    per-host rollup) runs at host-pair dimension scale. Self-host
    edges (navigation) are excluded before the collapse. Integer ppm
    via floor ⇒ cross-engine exact.
    """
    dom = lambda c: F.array_join(  # noqa: E731
        F.slice(F.split(c, "\\."), -2, 2), "."
    )
    pairs = (
        edges.select(
            _host_of(F.col(src_col)).alias("src_host"),
            _host_of(F.col(dst_col)).alias("dst_host"),
        )
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
        .withColumn("src_dom", dom(F.col("src_host")))
        .withColumn("dst_dom", dom(F.col("dst_host")))
    )
    back = pairs.select(
        F.col("src_host").alias("dst_host"), F.col("dst_host").alias("src_host")
    )
    recip = (
        pairs.select("src_host", "dst_host")
        .join(back, ["src_host", "dst_host"], "left_semi")
        .groupBy("dst_host")
        .agg(F.count("*").alias("n_recip"))
    )
    per_host = pairs.groupBy("dst_host").agg(
        F.sum("n_links").alias("n_inlinks"),
        F.count("*").alias("n_ref_hosts"),
        F.countDistinct("src_dom").alias("n_ref_domains"),
        F.sum(
            F.when(F.col("src_dom") == F.col("dst_dom"), F.col("n_links")).otherwise(
                F.lit(0)
            )
        ).alias("n_nep"),
    )
    return (
        per_host.join(recip, "dst_host", "left")
        .select(
            F.col("dst_host").alias("host"),
            "n_inlinks",
            "n_ref_hosts",
            "n_ref_domains",
            F.floor(
                F.col("n_nep") * 1000000 / F.col("n_inlinks")
            ).cast("bigint").alias("nepotism_ppm"),
            F.floor(
                F.coalesce(F.col("n_recip"), F.lit(0))
                * 1000000
                / F.col("n_ref_hosts")
            ).cast("bigint").alias("reciprocity_ppm"),
        )
    )


def misra_gries(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Misra-Gries heavy hitters — the DETERMINISTIC-bound mergeable
    counterpart to cms_sketch (Misra & Gries 1982; mergeability per
    Agarwal et al. 2013 "Mergeable Summaries").

    Each partition folds its stream into ≤ k counters (add, then when
    the table exceeds k subtract the (k+1)-th largest count from all
    and drop non-positives — the array form of MG's decrement). The
    per-partition summaries (≤ P·k rows total, independent of input
    size — the same shuffle-collapse property as cms_sketch) are then
    merged with ONE more MG reduction: sum by key, subtract the
    (k+1)-th largest merged count, keep positives.

    Guarantees (vs CMS's probabilistic ones): estimates NEVER exceed
    the true count, undercount by at most N/(k+1) total, and every key
    with true frequency > N/(k+1) survives. Use MG when a hard
    deterministic bound is wanted; CMS when point estimates for ALL
    keys (not just survivors) are.

    The final reduction's rank window runs on the merged summary frame
    — bounded at P·k rows by construction, so the single-partition
    window is dimension-scale, not a corpus hazard.
    """
    import pandas as pd  # noqa: F401

    def summarize(batches):
        summary: dict = {}
        for pdf in batches:
            for key, c in pdf[col].value_counts().items():
                summary[key] = summary.get(key, 0) + int(c)
            if len(summary) > k:
                vals = sorted(summary.values(), reverse=True)
                dec = vals[k]
                summary = {kk: v - dec for kk, v in summary.items() if v > dec}
        if summary:
            yield pd.DataFrame(
                {col: list(summary), "c": list(summary.values())}
            )

    part = df.select(col).mapInPandas(summarize, schema=f"{col} string, c long")
    merged = part.groupBy(col).agg(F.sum("c").alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col(col).asc())
    ranked = merged.select(col, "c", F.row_number().over(w).alias("rk"))
    # always exactly one row (NULL dec when the merged summary already
    # fits in k counters) — a filter-then-cross would yield an EMPTY
    # frame in that case and wipe the result
    thresh = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == k + 1, F.col("c"))), F.lit(0)
        ).alias("dec")
    )
    return (
        ranked.filter(F.col("rk") <= k)
        .crossJoin(F.broadcast(thresh))
        .select(col, (F.col("c") - F.col("dec")).alias("est_count"))
        .filter(F.col("est_count") > 0)
    )


class _KLLCompactors:
    """Driver-free compactor-stack quantile summary — the KLL/MRL shape
    (Karnin, Lang & Liberty 2016 "Optimal Quantile Approximation in
    Streams"; fixed per-level capacity like Manku-Rajagopalan-Lindsay
    1998). Level h holds items of weight 2^h; a full level sorts, keeps
    every OTHER item (deterministic alternating start parity instead of
    KLL's coin flip — reproducible runs, same role), and promotes the
    kept half with doubled weight. ``k`` must be even: then each
    compaction preserves total weight EXACTLY, so the merged summary's
    total weight equals the true count and rank queries need no
    normalization."""

    def __init__(self, k: int):
        if k < 2 or k % 2:
            raise ValueError("k must be even and >= 2")
        self.k = k
        self.levels: list[list[float]] = [[]]
        self.flips: list[int] = [0]

    def add(self, v: float, level: int = 0) -> None:
        while len(self.levels) <= level:
            self.levels.append([])
            self.flips.append(0)
        self.levels[level].append(v)
        if len(self.levels[level]) >= self.k:
            self._compact(level)

    def add_many(self, arr) -> None:
        """Vectorized level-0 ingest — consumes a numpy array in the
        SAME k-sized windows the per-item path produces (compaction
        fires exactly when the buffer reaches k), so the summary is
        bit-identical to a per-item add() loop; only the Python-call
        count changes (one slice per window instead of one call per
        value — the difference between ~4M and ~40M values/s/core)."""
        buf = self.levels[0]
        k = self.k
        i, n = 0, len(arr)
        while i < n:
            take = min(k - len(buf), n - i)
            buf.extend(arr[i: i + take].tolist())
            i += take
            if len(buf) >= k:
                self._compact(0)
                buf = self.levels[0]

    def _compact(self, h: int) -> None:
        buf = sorted(self.levels[h])
        off = self.flips[h] % 2
        self.flips[h] += 1
        self.levels[h] = []
        for v in buf[off::2]:
            self.add(v, h + 1)
        # the discarded half's weight moved onto the promoted half
        # (k even ⇒ both halves have exactly k/2 items)

    def items(self):
        for h, buf in enumerate(self.levels):
            w = 1 << h
            for v in buf:
                yield v, w


def kll_quantiles(
    df: DataFrame,
    col: str,
    quantiles: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
    k: int = 256,
) -> DataFrame:
    """Mergeable approximate quantiles — the rank-query member of the
    sketch family (HLL counts distinct, CMS/MG count keys, KLL ranks
    values). Exact global quantiles need a full sort of the corpus;
    this is the 10^10-row path: each partition folds its stream into a
    ≤ levels·k compactor summary (mapInPandas, size independent of
    input), the bounded summaries merge level-wise in ONE
    single-partition task (never through the driver — same
    shuffle-collapse shape as cms_sketch/misra_gries), and the rank
    query runs as a window over the ≤ levels·k merged rows.

    Quantile rule (pinned for the oracle): for each q, the smallest
    value whose cumulative weight reaches ceil(q·N), ties on value
    broken by taking the value itself (duplicates collapse in the
    cumsum). With ``k`` even, compaction preserves total weight exactly
    (N = true row count); with ``k`` > the total row count the sketch
    never compacts and the answer is the EXACT order statistic — the
    oracled regime. In the compaction regime the deterministic
    alternating parity gives a reproducible summary whose rank error is
    pytest-bounded (≤ ~1.5% at k=256 on 100k adversarially-ordered
    rows, tests/test_pipeline_ops.py).

    Returns (q double, value double, n bigint).
    """
    partials = kll_partials(df.select(col), col, k)
    merged = kll_merge(partials, k)
    return kll_rank_query(merged, quantiles)


def kll_partials(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition compactor summaries → (v double, w long) rows,
    ≤ levels·k per partition regardless of input size."""
    import pandas as pd

    def summarize(batches):
        import numpy as np

        sk = _KLLCompactors(k)
        for pdf in batches:
            sk.add_many(pdf[col].dropna().to_numpy(dtype=np.float64))
        rows = list(sk.items())
        if rows:
            yield pd.DataFrame(rows, columns=["v", "w"])

    return df.select(col).mapInPandas(summarize, schema="v double, w long")


def kll_merge(partials: DataFrame, k: int) -> DataFrame:
    """Level-wise merge of (v, w) summaries into one summary. The
    inputs are bounded (P · levels · k rows), so the single-partition
    task is dimension-scale, not a corpus hazard — the same argument
    as misra_gries' final window. Weight-exact: total w is preserved."""
    import pandas as pd

    def merge(batches):
        sk = _KLLCompactors(k)
        for pdf in batches:
            for v, w in zip(pdf["v"].to_numpy(), pdf["w"].to_numpy()):
                level = int(w).bit_length() - 1
                sk.add(float(v), level)
        rows = list(sk.items())
        if rows:
            yield pd.DataFrame(rows, columns=["v", "w"])

    return partials.repartition(1).mapInPandas(merge, schema="v double, w long")


def kll_rank_query(
    merged: DataFrame, quantiles: tuple[float, ...]
) -> DataFrame:
    """Rank query over a bounded (v, w) summary: for each q the
    smallest v whose cumulative weight reaches ceil(q·N)."""
    qs = sorted(set(quantiles))
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError("quantiles must lie in (0, 1]")
    # Single-partition window by design: `merged` is a bounded summary
    # of at most levels·k rows, so Spark's "No Partition Defined for
    # Window operation" WindowExec warning is expected here.
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = merged.select("v", F.sum("w").over(w_cum).alias("cw"))
    total = merged.agg(F.sum("w").alias("n"))
    targets = merged.sparkSession.createDataFrame(
        [(q,) for q in qs], "q double"
    )
    return (
        targets.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(ranked),
            F.col("cw") >= F.ceil(F.col("q") * F.col("n")),
        )
        .groupBy("q", "n")
        .agg(F.min("v").alias("value"))
        .select("q", "value", F.col("n").cast("bigint").alias("n"))
    )


def ucb_host_allocation(
    log: DataFrame,
    host_col: str = "host",
    yield_col: str = "n_new",
    budget_hosts: int = 10,
    hosts: DataFrame | None = None,
) -> DataFrame:
    """UCB1 bandit allocation of the next wave's fetch budget across
    hosts (Auer et al. 2002): score = mean yield + sqrt(2·ln N / n).

    The explore/exploit complement to adaptive_host_budgets (AIMD
    reacts to errors; UCB1 seeks the hosts whose pages YIELD the most
    new links/intel per fetch while still sampling under-observed
    ones). ``log`` is the per-fetch outcome log (one row per pull with
    its integer yield); ``hosts`` optionally supplies the full host
    universe — never-pulled hosts get classic UCB1 first-pull priority
    (selected before any scored host, ordered by host for
    determinism).

    Exactness: the exploitation term is exact integer micro-units
    (total·10⁶ div n — integer division, no float sum); only the
    exploration bonus touches floats (ln/sqrt), quantized with the
    1e-6 floor-trick that absorbs cross-engine ulps (tfidf_topk
    precedent). Plan: ONE map-side-combinable host agg over the log +
    a 1-row total broadcast; the rank window runs on the per-host
    frame — dimension-scale by construction (same class as host_rank's
    output), not a corpus-width window.
    """
    per_host = log.groupBy(host_col).agg(
        F.count("*").alias("n_pulls"),
        F.sum(F.col(yield_col)).alias("total_yield"),
    )
    total = per_host.agg(F.sum("n_pulls").alias("n_total"))
    scored = per_host.crossJoin(F.broadcast(total)).select(
        host_col,
        "n_pulls",
        F.expr("total_yield * 1000000 div n_pulls").alias("mean_micro"),
        (
            F.expr("total_yield * 1000000 div n_pulls")
            + F.floor(
                F.sqrt(
                    F.lit(2.0)
                    * F.log(F.col("n_total").cast("double"))
                    / F.col("n_pulls").cast("double")
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint")
        ).alias("ucb_micro"),
    )
    if hosts is not None:
        universe = hosts.select(host_col).distinct()
        unpulled = universe.join(scored, host_col, "left_anti").select(
            F.col(host_col),
            F.lit(0).cast("bigint").alias("n_pulls"),
            F.lit(None).cast("bigint").alias("mean_micro"),
            F.lit(None).cast("bigint").alias("ucb_micro"),
        )
        scored = scored.unionByName(unpulled)
    w = Window.orderBy(
        (F.col("n_pulls") > 0).cast("int").asc(),
        F.coalesce(F.col("ucb_micro"), F.lit(0)).desc(),
        F.col(host_col).asc(),
    )
    return scored.select(
        host_col,
        "n_pulls",
        "mean_micro",
        "ucb_micro",
        (F.row_number().over(w) <= budget_hosts).alias("selected"),
    )


def host_triangles(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
    checkpoint_tag: str = "host_triangles",
) -> DataFrame:
    """Per-host triangle counts + local clustering coefficient over the
    undirected host link graph — the density signal behind link-farm /
    tightly-knit-community detection (a farm's hosts close triangles
    with each other far above organic rates; pairs with link_signals'
    degree-provenance and trust_rank's path evidence).

    Algorithm: degree-ordered edge orientation (Schank & Wagner 2005 —
    the standard distributed formulation): every undirected edge points
    from its lower-(degree, host) endpoint, so each triangle is counted
    exactly once at its minimum node and per-source out-degrees are
    O(√m), bounding the wedge self-join. Three dimension-scale steps:
    rank window over the node frame, wedge self-join on source rank,
    wedge-vs-edge equi-join. Per-host coefficient is exact integer ppm:
    2T·10⁶ div deg(deg−1).

    Output: one row per host — (host, degree, n_triangles, cc_ppm);
    degree-0/1 hosts report cc_ppm 0.
    """
    und = _undirected(edges, src_col, dst_col)
    deg = _degrees(und)
    w = Window.orderBy(F.col("degree").asc(), F.col("host").asc())
    nodes = deg.select(
        "host", "degree", F.row_number().over(w).alias("rk")
    ).persist()
    ru = nodes.select(F.col("host").alias("u"), F.col("rk").alias("rk_u"))
    rv = nodes.select(F.col("host").alias("v"), F.col("rk").alias("rk_v"))
    o = (
        und.join(ru, "u")
        .join(rv, "v")
        .select(
            F.least("rk_u", "rk_v").alias("a"),
            F.greatest("rk_u", "rk_v").alias("b"),
        )
    )
    w1 = o.select(F.col("a"), F.col("b").alias("b1"))
    w2 = o.select(F.col("a"), F.col("b").alias("b2"))
    wedges = w1.join(w2, "a").filter(F.col("b1") < F.col("b2"))
    closing = o.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    tri = wedges.join(closing, ["b1", "b2"])
    counts = (
        tri.select(F.explode(F.array("a", "b1", "b2")).alias("rk"))
        .groupBy("rk")
        .agg(F.count("*").alias("n_triangles"))
    )
    out = (
        nodes.join(counts, "rk", "left")
        .select(
            "host",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(F.col("degree") < 2, F.lit(0))
            .otherwise(
                F.expr(
                    "coalesce(n_triangles, 0) * 2000000"
                    " div (degree * (degree - 1))"
                )
            )
            .cast("bigint")
            .alias("cc_ppm"),
        )
    )
    # materialize (localCheckpoint by default, reliable store via
    # checkpoint_dir) so the node cache can be released immediately —
    # the host_rank convention (r2 ADVICE leak class)
    out = _final_ckpt(out, checkpoint_dir, checkpoint_tag)
    nodes.unpersist()
    return out


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
    checkpoint_tag: str = "kcore",
    max_rounds: int = 100,
) -> DataFrame:
    """k-core peeling over the undirected host graph: repeatedly drop
    hosts with degree < k; what survives is the k-core — the dense
    nucleus where every member keeps ≥ k in-core neighbors (the
    link-farm/community-density signal next to host_triangles: farms
    sit in deep cores because their whole value proposition is mutual
    linking; organic periphery peels away).

    ``rounds`` fixed → exactly that many peel steps (deterministic,
    SQL-unrollable — the host_rank oracle convention). ``rounds=None``
    → run to fixpoint (per-round edge-count scalar, the dup_components
    loop shape) with per-round lineage truncation via the
    checkpoint_dir convention.

    Per round: one map-side-combinable degree agg + two semi-joins.
    Output: (host, degree) of the surviving subgraph.
    """
    cur = _undirected(edges, src_col, dst_col)

    def peel(e: DataFrame) -> DataFrame:
        keep = _degrees(e).filter(F.col("degree") >= k).select("host")
        return e.join(
            keep.withColumnRenamed("host", "u"), "u", "left_semi"
        ).join(keep.withColumnRenamed("host", "v"), "v", "left_semi")

    if rounds is not None:
        # each round references its input ~4× (degree union twice + two
        # semi-joins); left lazy the plan tree grows ~4^rounds, so
        # materialize per round exactly like the convergence loop
        for i in range(rounds):
            cur = _final_ckpt(
                peel(cur), checkpoint_dir, f"{checkpoint_tag}-{i % 2}"
            )
        return _degrees(cur)

    cur = _final_ckpt(cur, checkpoint_dir, f"{checkpoint_tag}-0")
    n_prev = cur.count()
    for i in range(1, max_rounds + 1):
        nxt = _final_ckpt(peel(cur), checkpoint_dir, f"{checkpoint_tag}-{i % 2}")
        n_next = nxt.count()
        cur = nxt
        if n_next == n_prev:
            break
        n_prev = n_next
    return _degrees(cur)


def cocitation_pairs(
    edges: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    hot_linkers: int = 200,
    min_common: int = 2,
    checkpoint_dir: str | None = None,
    checkpoint_tag: str = "cocitation",
) -> DataFrame:
    """Co-citation similarity between hosts: pairs of TARGET hosts
    frequently linked by the SAME source hosts (Small 1973's co-citation
    measure on the web graph) — the in-link-overlap companion to
    mirror_host_pairs' content overlap: mirrors, sibling spam domains,
    and round-robin CDN hosts share in-linkers long before anyone
    compares their bodies.

    Same scale recipe as mirror_host_pairs (its join formulation
    measured 6× slower): ONE (src → sorted distinct-target set) agg
    collapses the corpus-scale edge log; source hosts linking more
    than ``hot_linkers`` targets are dropped BEFORE pair generation
    (directory/catalog pages co-cite everyone — pure noise, and the
    cap bounds fan-out at hot_linkers² per source); pairs are
    generated map-side by nested transform and counted; normalization
    is integer ppm over the capped graph's in-degrees.

    Output: (host_a, host_b, n_common, cocite_ppm) for pairs with
    ``min_common`` + shared linkers, host_a < host_b.
    """
    hp = (
        edges.select(
            _host_of(F.col(src_col)).alias("s"), _host_of(F.col(dst_col)).alias("d")
        )
        .filter(F.col("s") != F.col("d"))
        .groupBy("s")
        .agg(F.array_sort(F.collect_set("d")).alias("ds"))
        .filter(F.size("ds") <= hot_linkers)
        .persist()
    )
    indeg = hp.select(F.explode("ds").alias("host")).groupBy("host").agg(
        F.count("*").alias("n")
    )
    combos = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("host_a"), y.alias("host_b")),
            ),
        )
    )
    pairs = (
        hp.filter(F.size("ds") >= 2)
        .select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.host_a").alias("host_a"), F.col("p.host_b").alias("host_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    na = indeg.select(F.col("host").alias("host_a"), F.col("n").alias("n_a"))
    nb = indeg.select(F.col("host").alias("host_b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(na, "host_a")
        .join(nb, "host_b")
        .select(
            "host_a",
            "host_b",
            "n_common",
            F.expr(
                "n_common * 1000000 div (n_a + n_b - n_common)"
            ).alias("cocite_ppm"),
        )
    )
    out = _final_ckpt(out, checkpoint_dir, checkpoint_tag)
    hp.unpersist()
    return out


def latency_aware_delay(
    fetch_log: DataFrame,
    host_col: str = "host",
    latency_col: str = "latency_ms",
    multiplier: int = 3,
    min_delay_ms: int = 100,
    max_delay_ms: int = 10_000,
) -> DataFrame:
    """Adaptive politeness from OBSERVED server latency: per-host crawl
    delay = clamp(p95 latency × multiplier) — the "leave the server
    (multiplier−1)/multiplier idle" rule public crawler etiquette
    writeups state (and IRLbot-class adaptive politeness implements);
    robots Crawl-delay (kernels.robots_crawl_delay) is the site's own
    declaration, AIMD (adaptive_host_budgets) reacts to ERRORS — this
    fills the third case: a slow-but-healthy server that declares
    nothing. Output feeds schedule_wave(host_budgets=⌊window/delay⌋)
    exactly like the Crawl-delay path.

    One map-side-partial percentile aggregation per host (Spark's
    percentile agg — no global sort); exact-integer latencies under the
    same (n−1)·p interpolation as DuckDB's quantile_cont, 1e-6
    floor-rounded (length_percentile_gate precedent), then an integer
    floor×clamp — cross-engine exact end to end.
    """
    per = fetch_log.groupBy(host_col).agg(
        F.count("*").alias("n_obs"),
        _round6(F.percentile(latency_col, F.lit(0.50))).alias("p50_ms"),
        _round6(F.percentile(latency_col, F.lit(0.95))).alias("p95_ms"),
    )
    return per.select(
        host_col,
        "n_obs",
        "p50_ms",
        "p95_ms",
        F.least(
            F.greatest(
                F.floor(F.col("p95_ms") * multiplier).cast("bigint"),
                F.lit(min_delay_ms).cast("bigint"),
            ),
            F.lit(max_delay_ms).cast("bigint"),
        ).alias("delay_ms"),
    )


def politeness_audit(
    fetch_log: DataFrame,
    delays: DataFrame,
    host_col: str = "host",
    ts_col: str = "fetch_ms",
    url_col: str = "url",
    delay_col: str = "delay_ms",
) -> DataFrame:
    """Politeness COMPLIANCE audit over an executed fetch log: for each
    host, how many consecutive-fetch gaps violated its delay policy —
    the verification end of the politeness family (robots Crawl-delay /
    latency_aware_delay / AIMD set the policy, politeness_spacing
    shapes the schedule; this checks what actually ran, e.g. after
    retries/speculation reordered work on a real cluster).

    ONE lag() window per host over (ts, url) — a total order, so the
    audit is deterministic under equal timestamps — plus a broadcast
    join of the dimension-sized delay policy. A host's first fetch has
    no predecessor and is never a violation. Output: (host, n_fetches,
    n_violations, min_gap_ms) — min_gap NULL for single-fetch hosts.
    """
    w = Window.partitionBy(host_col).orderBy(
        F.col(ts_col).asc(), F.col(url_col).asc()
    )
    gaps = fetch_log.select(
        host_col,
        ts_col,
        url_col,
        (F.col(ts_col) - F.lag(ts_col).over(w)).alias("gap_ms"),
    )
    return (
        gaps.join(F.broadcast(delays.select(host_col, delay_col)), host_col)
        .groupBy(host_col)
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(
                F.when(F.col("gap_ms") < F.col(delay_col), 1).otherwise(0)
            ).alias("n_violations"),
            F.min("gap_ms").alias("min_gap_ms"),
        )
    )


def host_trap_ratio(
    pages: DataFrame,
    min_pages: int = 20,
    ratio_threshold_ppm: int = 5_000_000,
    url_col: str = "url",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Host-level URL-space-explosion detection — the BEHAVIORAL trap
    signal that complements trap_flags' per-URL syntax: a trap host
    serves far more distinct URLs than distinct content (calendar
    walks, session-id mints, faceted search), so the
    pages-per-distinct-fingerprint ratio blows up even when every
    individual URL looks clean. Flagged hosts get their frontier
    budget cut (the adaptive_host_budgets / ucb_host_allocation input)
    rather than their URLs pattern-filtered.

    Per host: n_pages, n_content (distinct fingerprint),
    ratio_ppm = n_pages·1e6 ÷ n_content (floored integer),
    mean_depth_micro (path-segment depth), and the flag
    ``is_trap = n_pages ≥ min_pages AND ratio_ppm ≥ threshold``.

    ONE host-keyed aggregation (count-distinct runs as the standard
    two-phase partial agg, no expand for a single distinct column);
    depth is a scan-side parse_url expression. Output is
    host-dimension scale. At 10^10 URLs the agg shuffles once on the
    politeness partition key the frontier already uses.
    """
    h = with_host(pages, url_col)
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit(""))
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != "")).cast(
        "bigint"
    )
    agg = h.select("host", F.col(fp_col).alias("_fp"), depth.alias("_d")).groupBy(
        "host"
    ).agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("_fp").alias("n_content"),
        F.sum("_d").alias("_sum_d"),
    )
    idiv = lambda a, b: ((a - a % b) / b).cast("bigint")  # noqa: E731
    return agg.select(
        "host",
        "n_pages",
        "n_content",
        idiv(F.col("n_pages") * 1000000, F.col("n_content")).alias("ratio_ppm"),
        idiv(F.col("_sum_d") * 1000000, F.col("n_pages")).alias(
            "mean_depth_micro"
        ),
        (
            (F.col("n_pages") >= min_pages)
            & (
                idiv(F.col("n_pages") * 1000000, F.col("n_content"))
                >= ratio_threshold_ppm
            )
        ).alias("is_trap"),
    )


def lpa_communities(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over the host graph — the cheap community detector beside the
    exact structures (components = connectivity, k-core = density,
    triangles = local clustering): mirror farms and link rings show up
    as tight communities long before they merge into one component.

    Deterministic variant: every node starts as its own label; each
    round every node adopts its neighbors' modal label with ties
    broken to the SMALLEST label (count desc, label asc) — no
    randomness, so the result is reproducible and oracle-checkable by
    unrolling rounds.

    Per round: one label join onto the adjacency + one
    (node, label)-keyed count agg (map-side combinable) + one
    node-keyed top-1 window — O(rounds) shuffles at edge grain, the
    same fixed-round cost model as kcore_peel/host_opic. Fixed small
    ``rounds`` keeps lineage linear; for high-diameter use, checkpoint
    between rounds like dup_components.
    """
    und = _undirected(edges, src_col, dst_col)
    adj = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        nbr_labels = adj.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "label")
        counted = nbr_labels.groupBy("node", "label").agg(
            F.count("*").alias("n")
        )
        labels = (
            counted.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "label")
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("host"), "label", "community_size"
    )
