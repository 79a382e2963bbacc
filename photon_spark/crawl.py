"""The crawl driver — level-synchronous BFS, each wave one batch job.

Replaces the reference's thread-pool loop (reference photon.py:315-330,
core/flash.py) with: per-wave dedup (Bloom + exact anti-join) →
exclusion filter → politeness schedule → fetch join against the pages
table → one Arrow extract pass → state merge → snapshot. The driver
loop carries only scalar counters; all data stays in DataFrames.

Dataflow per wave (SURVEY.md §3.1 Spark lifecycle):

    internal ∖ processed ── exclude ── schedule(host, budget)
        ── left join pages (fetch; miss ⇒ 'dummy', Q11)
        ── mapInPandas extract (T1,T3,T4,T5,T8,T9 — one Python pass)
        ── merge: internal/external/files/bad_intel/bad_scripts/…
        ── snapshot: store commit + load, or one tagged localCheckpoint

The state between waves lives in `plans/storage.WaveState`, shared with
`recrawl.run_recrawl`: it resumes from the store's manifest, takes each
wave's snapshot (one deduplicated frame per table either way), and
releases each wave's cached frames (links, scheduled, ext) once the
next snapshot has replaced them; an early return or an exception
releases everything the call cached.

Termination reproduces photon.py:318-324 exactly, including the Q25
secondary break and the 'dummy' sentinel in the processed count.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.config import DUMMY, INTELS, EngineConfig
from photon_spark.operators.extract import (
    body_expr,
    etld1_udf,
    extract_endpoints,
    extract_wave,
    luhn_valid,
    normalize_scripts_col,
)
from photon_spark.plans.frontier import UrlBloom, dedup_candidates
from photon_spark.plans.schedule import schedule_wave, with_host
from photon_spark.plans.storage import STATE_SCHEMAS, CrawlStore, WaveState
from photon_spark.session import jvm_empty, small_plans

DATASET_NAMES = (
    "files", "intel", "robots", "custom", "failed", "internal",
    "scripts", "external", "fuzzable", "endpoints", "keys",
)


def join_pages(wave: DataFrame, body: DataFrame) -> DataFrame:
    """The sandbox fetch (S1): left equi-join of a (url, level) wave
    against the pages table's (doc_id, body) projection; a miss is the
    'dummy' sentinel (Q11). The production twin is
    ``sources.fetch_http.fetch_stage``."""
    return wave.join(body, wave.url == body.doc_id, "left").select(
        wave.url,
        wave.level,
        F.coalesce(F.col("body"), F.lit(DUMMY)).alias("body"),
    )


def _internal_after_max(metrics: list[dict], default: float) -> float:
    """Upper bound on |internal| after the last recorded wave (``default``
    before any wave). A wave recorded without the bound keeps codegen."""
    if not metrics:
        return default
    return metrics[-1].get("internal_after_max", float("inf"))


@dataclass
class CrawlResult:
    """What run_crawl returns. The frames it reads stay cached for as
    long as the result is used: the last wave's snapshot (its
    localCheckpoint, for a crawl without a store), ``scripts``, the
    JS-pass ``endpoints`` under a ``fetcher``, and under ``keep_bodies``
    each wave's fetched frame (a localCheckpoint). Everything else the
    crawl cached is released before it returns."""

    datasets: dict[str, DataFrame]
    waves: DataFrame                    # (url, level)
    metrics: list[dict] = field(default_factory=list)
    processed_count: int = 0            # includes the 'dummy' sentinel
    # (url, body) of every page fetched during the crawl — populated
    # only under run_crawl(keep_bodies=True); lets --clone mirror the
    # bodies the crawl already fetched instead of re-fetching the whole
    # URL set over the network (ADVICE r4). Checkpointed while the wave
    # runs, so consuming it triggers no re-fetch.
    fetched_bodies: Optional[DataFrame] = None

    @property
    def results(self) -> DataFrame:
        """Single (dataset, value) table — the reference's output dir
        as one relation (SURVEY.md §1.2 K1)."""
        parts = []
        for name in DATASET_NAMES:
            df = self.datasets[name]
            parts.append(df.select(F.lit(name).alias("dataset"), F.col("value")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def to_sets(self, max_rows: int = 5_000_000) -> dict[str, set]:
        """Collect every dataset — test/CLI helper, not for big runs.

        One Spark action: the datasets are collected as one tagged
        union, not one collect each, planned interpreted when the crawl
        is small (``session.small_plans``).

        Guarded: a dataset larger than ``max_rows`` raises instead of
        OOMing the driver (use write_results_table for the scale path).
        The guard costs nothing extra — each dataset's ``limit(n+1)``
        collects at most one row beyond the bound.
        """
        names = list(self.datasets)
        if not names:
            return {}
        tagged = None
        for i, name in enumerate(names):
            part = (
                self.datasets[name]
                .limit(max_rows + 1)
                .select(F.lit(i).alias("_d"), F.col("value"))
            )
            tagged = part if tagged is None else tagged.unionAll(part)
        # Small crawls collect interpreted (session.small_plans), sized
        # by the bound on the final |internal|; the other datasets are
        # by-products of the same fetched pages.
        bound = _internal_after_max(self.metrics, self.processed_count)
        with small_plans(tagged.sparkSession, bound):
            collected = tagged.collect()
        out: dict[str, set] = {name: set() for name in names}
        rows = [0] * len(names)
        for d, value in collected:
            out[names[d]].add(value)
            rows[d] += 1
        for name, n in zip(names, rows):
            if n > max_rows:
                raise ValueError(
                    f"dataset {name!r} exceeds to_sets() driver-collect bound"
                    f" ({max_rows} rows); use sinks.write_results_table for"
                    f" large runs"
                )
        return out


def assemble_intel(bad_intel: DataFrame, external: DataFrame) -> DataFrame:
    """T12 intel assembly + T13 INTELS gate (reference photon.py:348-368).

    Two output shapes (reference photon.py:356 vs :362): scalar matches
    emit ``url:NAME:match`` (CREDIT_CARD gated on Luhn with Q8b failure
    modes); tuple matches (patterns with >1 capturing group) emit
    ``NAME:group`` per non-empty group — with tuple-typed CREDIT_CARD
    matches dropped entirely (Q8a: the reference's luhn(tuple) raises
    and returns False). Q9: the external-INTELS promotion only runs
    when bad_intel is non-empty (the reference nests that loop inside
    the bad_intel loop).
    """
    scalar = bad_intel.filter(~F.col("is_tuple")).withColumn(
        "match", F.col("parts")[0]
    )
    scalar = scalar.filter(
        (F.col("name") != "CREDIT_CARD") | luhn_valid(F.col("match"))
    ).select(
        F.concat_ws(":", F.col("url"), F.col("name"), F.col("match")).alias("value")
    )
    tuples = (
        bad_intel.filter(F.col("is_tuple") & (F.col("name") != "CREDIT_CARD"))  # Q8a
        .select(F.col("name"), F.explode("parts").alias("x"))
        .filter(F.col("x") != "")
        .select(F.concat_ws(":", F.col("name"), F.col("x")).alias("value"))
    )
    intel = scalar.unionByName(tuples)
    # Q9 gate, declaratively: the external-INTELS promotion joins a
    # 1-row existence probe of bad_intel instead of a driver-side
    # count() — empty bad_intel ⇒ empty gate ⇒ empty promotion, and
    # `intel` stays a fully lazy plan (no job fires at assembly time).
    gate = F.broadcast(bad_intel.limit(1).select(F.lit(1).alias("_g")))
    promoted = (
        external.filter(etld1_udf(F.col("url")).isin(list(INTELS)))
        .crossJoin(gate)
        .select(F.col("url").alias("value"))
    )
    return intel.unionByName(promoted).distinct()


def _urls(spark: SparkSession, urls, colname: str = "url") -> DataFrame:
    """Small in-line URL list as a pure-JVM plan (explode of a literal
    array — no Python-parallelize leg; see session.jvm_empty)."""
    urls = list(urls)
    if not urls:
        return jvm_empty(spark, f"{colname} string")
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(u) for u in urls])).alias(colname)
    )


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    main_url: str,
    cfg: EngineConfig | None = None,
    store: Optional[CrawlStore] = None,
    resume: bool = False,
    stop_after_wave: Optional[int] = None,
    use_bloom: bool = False,
    fetcher=None,
    host_ranks: Optional[DataFrame] = None,
    keep_bodies: bool = False,
) -> Optional[CrawlResult]:
    """Run a crawl over the ``pages`` span-document table.

    ``host_ranks``: optional (host, rank) authority frame from a
    previous crawl's `plans.schedule.host_rank` — with
    cfg.use_priority it boosts authoritative hosts in the per-host
    queue (broadcast join inside priority_score; no exchange).

    ``stop_after_wave`` simulates a crash for resume tests: state is
    committed to ``store``, everything the call cached is released,
    and the function returns None.
    ``use_bloom`` switches the per-wave dedup to the Bloom-prefiltered
    path: a bucket-sharded ``UrlBloom`` built over `processed` each
    wave (always exact via the anti-join backstop; worth it only once
    `processed` outgrows the plain anti-join's shuffle). Not built in
    waves that dedup against the store's bucketed seen base.
    ``fetcher``: optional replacement fetch stage — a callable
    (url, level) DataFrame → (url, level, body) DataFrame. The
    production HTTP stage is ``sources.fetch_http.fetch_stage``; the
    default is the sandbox pages-table join, ``join_pages``. ``pages``
    is still used for the zap (robots/sitemap) seed stage either way.
    """
    cfg = cfg or EngineConfig()
    if main_url.endswith("/"):
        main_url = main_url[:-1]

    with WaveState(spark, STATE_SCHEMAS, store, resume, cfg.compact_every) as ws:
        body = ws.keep(
            pages.select(F.col("doc_id"), body_expr().alias("body")).persist()
        )

        def fetch(wave_df: DataFrame) -> DataFrame:
            """The pages-table join (S1) unless a ``fetcher`` is swapped in
            — same interface, different body source."""
            if fetcher is not None:
                return fetcher(wave_df).select("url", "level", "body")
            return join_pages(wave_df, body)

        state, meta = ws.state, ws.meta
        metrics: list[dict] = list(meta.get("metrics", []))
        # wave_rows, the row count that decides the next small_plans scope:
        # on resume the bound on |internal| after the last recorded wave,
        # else the seed set (unknown under sitemap_recursive, whose leaves
        # stay a DataFrame).
        if ws.first_wave > 0:
            processed_count = meta["processed_count"]
            robots_urls = meta["robots_urls"]
            # stores written before the rules lost their host field hold
            # [netloc, prefix] pairs; the host is main_url's either way
            disallow_rules = [
                r[-1] if isinstance(r, list) else r
                for r in meta.get("disallow_rules", [])
            ]
            crawl_delay = meta.get("crawl_delay")
            wave_rows = _internal_after_max(metrics, processed_count)
        else:
            # ---- zap stage (S2/S3): robots.txt + sitemap.xml seeds.
            special = {
                r["doc_id"]: r["body"]
                for r in body.filter(
                    F.col("doc_id").isin(
                        [main_url + "/robots.txt", main_url + "/sitemap.xml"]
                    )
                ).collect()
            }
            from photon_spark import kernels as K

            robots_body = special.get(main_url + "/robots.txt", DUMMY)
            robots_urls = [main_url + p for p in K.robots_paths(robots_body)]
            if cfg.robots_agent is not None:
                # RFC 9309 group selection: gate + delay from the
                # most-specific User-agent group for this crawler
                group_rules, group_delay = K.robots_group_rules(
                    robots_body, cfg.robots_agent
                )
                disallow_rules = [
                    p for rule, p in group_rules if rule == "disallow" and p
                ]
                crawl_delay = group_delay
            else:
                disallow_rules = [
                    p for rule, p in K.robots_rules(robots_body) if rule == "disallow"
                ]
                crawl_delay = K.robots_crawl_delay(robots_body)
            sitemap_urls = K.sitemap_locs(special.get(main_url + "/sitemap.xml", DUMMY))

            internal0 = set(cfg.seeds) | {main_url} | set(robots_urls) | set(sitemap_urls)
            state["internal"] = _urls(spark, sorted(internal0))
            if cfg.sitemap_recursive:
                # opt-in beyond-reference seeding: walk <sitemapindex>
                # trees from the conventional root + robots Sitemap: lines;
                # the leaf set stays a DataFrame (sitemap trees can carry
                # 10^7 URLs — never collect them into the driver seed set)
                from photon_spark.sources.sitemap import (
                    discover_sitemap_roots,
                    sitemap_tree_locs,
                )

                roots = discover_sitemap_roots(body, main_url)
                leaves = (
                    sitemap_tree_locs(body, roots)
                    .select("url")
                    .distinct()
                )
                state["internal"] = (
                    state["internal"]
                    .unionByName(leaves)
                    .dropDuplicates(["url"])
                )
            if cfg.exclude:
                state["internal"] = state["internal"].filter(
                    ~F.col("url").rlike(cfg.exclude)
                )  # photon.py:312
            processed_count = 1  # the 'dummy' sentinel (Q11)
            wave_rows = float("inf") if cfg.sitemap_recursive else len(internal0)

        # Constant across waves: build the robots-disallow relation once,
        # JVM-only (explode of a literal array — no Python leaf). Its host,
        # like the Crawl-delay row's below, is with_host of the root URL:
        # the expression robots_gate and schedule_wave match on (a root with
        # a port keeps no port in that key).
        root = spark.range(1).select(F.lit(main_url).alias("url"))
        disallows = None
        if cfg.respect_robots and disallow_rules:
            disallows = with_host(root).select(
                "host",
                F.explode(F.array(*[F.lit(p) for p in disallow_rules])).alias("prefix"),
            )

        # Constant across waves: robots.txt Crawl-delay → per-wave budget
        # cap for the crawled host (opt-in; the reference never reads the
        # line). floor(window / delay) fetches fit politely in one wave's
        # fetch window; built JVM-only like `disallows` and broadcast into
        # the schedule (one row per crawled host — no exchange).
        host_budgets = None
        if cfg.respect_robots and cfg.crawl_delay_window and crawl_delay:
            delay_budget = max(1, int(cfg.crawl_delay_window // crawl_delay))
            if cfg.per_host_budget is not None:
                delay_budget = min(delay_budget, cfg.per_host_budget)
            host_budgets = with_host(root).select(
                "host", F.lit(delay_budget).alias("host_budget")
            )

        def gate_links(links: DataFrame) -> DataFrame:
            """Post-dedup wave filters: exclusion regex (photon.py:317) +
            robots disallow gate — pure expressions."""
            if cfg.exclude:
                links = links.filter(~F.col("url").rlike(cfg.exclude))
            if disallows is not None:
                from photon_spark.plans.schedule import robots_gate

                links = robots_gate(links, disallows)
            return links

        def trap_filtered(internal: DataFrame) -> DataFrame:
            """Opt-in trap gate: shrink the candidate set BEFORE the
            seen-set anti-join (the cheap scan-side heuristics run first,
            the expensive dedup sees only survivors). The `internal`
            DATASET keeps every discovered link — reference parity; traps
            are merely never scheduled for fetch."""
            if cfg.trap_gate is None:
                return internal
            from photon_spark.plans.schedule import trap_flags

            md, mp, sr = cfg.trap_gate
            return (
                trap_flags(internal, max_depth=md, max_params=mp, seg_repeat_limit=sr)
                .filter(~F.col("is_trap"))
                .select(*internal.columns)
            )

        kept_bodies: list[DataFrame] = []

        for level in range(ws.first_wave, cfg.crawl_level):
            t0 = time.time()

            # Each wave plans and runs its actions interpreted while it is
            # small (session.small_plans): Janino compiles would cost more
            # CPU than the rows they speed up. Every scope is sized by an
            # upper bound on the |internal| it reads, known before it opens:
            # the previous wave's internal_after_max up to the count action,
            # this wave's |internal| up to the lineage collect, and this
            # wave's internal_after_max from there on.
            with small_plans(spark, wave_rows):
                candidates = trap_filtered(state["internal"])
                seen_parts = (
                    store.processed_parts(spark)
                    if store is not None and store.bucket_seen > 0
                    else None
                )
                if seen_parts is not None:
                    # Store-backed bucketed rung: the compacted seen base reads
                    # pre-partitioned off bucket files (no exchange on the
                    # |seen| side) and the small post-compaction delta tail is
                    # broadcast — per-wave dedup shuffles only the wave.
                    from photon_spark.plans.frontier import dedup_candidates_parts

                    links = dedup_candidates_parts(
                        candidates, seen_parts[0], seen_parts[1], "url"
                    )
                else:
                    bloom = None
                    if use_bloom and processed_count > 1:
                        # processed_count bounds |processed| exactly, so the
                        # bloom keeps its fpp at any crawl size
                        bloom = UrlBloom.build(
                            state["processed"], "url", processed_count, 0.01
                        )
                    links = dedup_candidates(candidates, state["processed"], "url", bloom)
                links = ws.hold(gate_links(links))
                # ONE driver action for both loop-control counts (|internal| for
                # the Q25 break, |links| for termination + partition sizing) — a
                # tagged union instead of two jobs per wave. links materializes
                # into its persisted cache inside this same job.
                counted = state["internal"].select(F.lit("internal").alias("k")).unionAll(
                    links.select(F.lit("links").alias("k"))
                )
                if ws.first_wave > 0 and level == ws.first_wave:
                    # A fresh start's zap collect fills body's cache; a resumed
                    # call fills it here, so the first fetch join is planned
                    # against its measured size, not the pages table's estimate.
                    counted = counted.unionAll(body.select(F.lit("body").alias("k")))
                wave_counts = {
                    r["k"]: r["n"]
                    for r in counted
                    .groupBy("k")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            internal_count = wave_counts.get("internal", 0)
            n = wave_counts.get("links", 0)
            wave_rows = internal_count  # links ⊆ internal, so n <= internal_count
            if n == 0:
                break
            if internal_count <= processed_count and internal_count > 2 + len(cfg.seeds):
                break  # Q25

            with small_plans(spark, wave_rows):
                # Partition count scales with the wave: cfg.shuffle_partitions
                # is the ceiling (the cluster-width knob), but a small wave gets
                # few partitions — task + Python-worker spin-up would otherwise
                # dominate tiny waves (the explicit repartition below is exempt
                # from AQE coalescing, so we size it ourselves).
                wave_parts = max(1, min(cfg.shuffle_partitions, -(-n // cfg.urls_per_partition)))
                wave = links.withColumn("level", F.lit(level))
                if cfg.use_priority:
                    from photon_spark.plans.schedule import priority_score

                    wave = priority_score(wave, host_ranks=host_ranks)
                scheduled = ws.hold(
                    schedule_wave(
                        wave,
                        budget=cfg.per_host_budget,
                        partitions=wave_parts,
                        salts=cfg.host_salts if wave_parts > 1 else 1,
                        host_budgets=host_budgets,
                    ).select("url", "level")
                )
                fetched = fetch(scheduled)
                # The wave's bodies feed extra consumers: the --clone mirror
                # (the result's fetched_bodies) and/or the directive parse.
                # The ext lineage collect below materializes them, so no later
                # read re-runs the fetch stage. Kept bodies are a lazy
                # localCheckpoint, whose lineage no released snapshot is under.
                if keep_bodies:
                    fetched = ws.keep(fetched.localCheckpoint(eager=False))
                    kept_bodies.append(fetched)
                elif cfg.nofollow_gate:
                    fetched = ws.hold(fetched)
                ext = extract_wave(fetched, cfg, main_url)
                if cfg.nofollow_gate:
                    from photon_spark.operators.extract import html_directives

                    nf = html_directives(fetched).select("url", "nofollow")
                    blank = F.array().cast("array<string>")
                    gated = F.coalesce(F.col("nofollow"), F.lit(False))
                    ext = ext.join(nf, "url", "left")
                    for c in ("internal_new", "external_new", "file_links"):
                        ext = ext.withColumn(
                            c, F.when(gated, blank).otherwise(F.col(c))
                        )
                    ext = ext.drop("nofollow")
                ext = ws.hold(ext)

                # The per-partition lineage collect doubles as (a) ext's cache
                # materialization (the snapshot reads it next) and (b) the
                # scheduled-count action: extract emits exactly one row per
                # scheduled URL, so Σ part counts == |scheduled| — no separate
                # scheduled.count() job. Budget-capped URLs are deferred, not
                # dropped: they stay out of `processed`, remain in `internal`,
                # and re-candidate next wave. (Fusing this collect into the
                # checkpoint as an extra leg was measured SLOWER: without the
                # eager materialization the checkpoint's concurrent stages
                # duplicate the extract compute — see BENCH/BASELINE.md.)
                # The same job sums the wave's new internal links: |internal|
                # after the wave is at most internal_count plus that sum.
                lineage = (
                    ext.groupBy(F.spark_partition_id().alias("pid"))
                    .agg(
                        F.count(F.lit(1)).alias("count"),
                        F.sum(F.size("internal_new")).alias("links"),
                    )
                    .collect()
                )
                part_counts = [(r["pid"], r["count"]) for r in lineage]
                n_sched = sum(c for _, c in part_counts)
            internal_after_max = internal_count + sum(r["links"] or 0 for r in lineage)
            wave_rows = internal_after_max

            with small_plans(spark, wave_rows):
                def exploded(col: str, out: str = "value") -> DataFrame:
                    return ext.select(F.explode(col).alias(out))

                # ---- this wave's rows per table, deduplicated: the snapshot
                # takes only these (a store appends them, an in-memory
                # snapshot unions them onto the last checkpoint; never a
                # full-state rewrite); the scheduled URLs are distinct
                # already. files side-effect is gated on the processed check
                # (utils.py:40-46): anti-join against processed as of wave start.
                # Wave 0's delta also carries the seed state.
                new = {
                    "internal": exploded("internal_new", "url"),
                    "external": exploded("external_new", "url"),
                    "files": exploded("file_links").join(
                        state["processed"], F.col("value") == F.col("url"), "left_anti"
                    ),
                    "bad_intel": ext.select("url", F.explode("intel").alias("i"))
                    .select("url", "i.name", "i.parts", "i.is_tuple"),
                    "bad_scripts": exploded("script_srcs"),
                    "custom": exploded("custom"),
                    "keys": exploded("keys"),
                }
                delta = {k: df.distinct() for k, df in new.items()}
                delta["processed"] = scheduled.select("url")
                delta["waves"] = scheduled.select("url", "level")
                if level == 0:
                    delta["internal"] = delta["internal"].unionByName(state["internal"])
                processed_count += n_sched
                state = ws.snapshot(
                    level,
                    delta,
                    {
                        "processed_count": processed_count,
                        "robots_urls": robots_urls,
                        "disallow_rules": disallow_rules,
                        "crawl_delay": crawl_delay,
                        "metrics": metrics,
                    },
                )

            elapsed = time.time() - t0
            metrics.append(
                {
                    "wave": level,
                    "internal_before": internal_count,
                    "internal_after_max": internal_after_max,
                    "urls_candidates": n,
                    "urls_scheduled": n_sched,
                    "elapsed_s": round(elapsed, 4),
                    "urls_per_s": round(n_sched / elapsed, 2) if elapsed > 0 else None,
                    "partitions": part_counts,
                }
            )

            if stop_after_wave is not None and level >= stop_after_wave:
                return None

        # ------------------------------------------------------------------
        # Post-loop stages (photon.py:332-368), all skipped under only_urls.
        empty_vals = jvm_empty(spark, "value string")
        scripts = empty_vals
        endpoints = empty_vals
        fuzzable = empty_vals
        intel = empty_vals
        if not cfg.only_urls:
            # sized by the bound on the final |internal|: the last wave's
            # internal_after_max, or the counted |internal| after a break
            with small_plans(spark, wave_rows):
                scripts = ws.keep(
                    state["bad_scripts"]
                    .select(normalize_scripts_col(F.col("value"), main_url).alias("value"))
                    .filter(F.col("value").isNotNull())
                    .distinct()
                    .persist()
                )
                sfetched = fetch(scripts.select(F.col("value").alias("url"), F.lit(-1).alias("level")))
                endpoints = (
                    extract_endpoints(sfetched)
                    .select(F.explode("endpoints").alias("value"))
                    .distinct()
                )
                if fetcher is not None:
                    # endpoints is consumed by multiple downstream actions
                    # (txt writer, counts, exports); without the cache each
                    # action replays the JS second-pass FETCH — a second
                    # network hit per script URL per action. Only under a real
                    # fetcher: the sandbox pages-join recompute is cheap and
                    # the unconditional persist measurably slowed the crawl
                    # loop (~1s/run, r5 A/B probe).
                    endpoints = ws.keep(endpoints.persist())
                # counted on the RDD: no aggregation exchange, one job
                # fewer than scripts.count()
                processed_count += scripts._jdf.rdd().count()

            fuzzable = (
                state["internal"].filter(F.col("url").contains("="))
                .select(F.col("url").alias("value"))
            )

            intel = assemble_intel(state["bad_intel"], state["external"])

        # every snapshot table is deduplicated already
        datasets = {
            "files": state["files"],
            "intel": intel,
            "robots": _urls(spark, robots_urls, "value"),
            "custom": state["custom"],
            "failed": empty_vals,  # Q5: unreachable on the html path
            "internal": state["internal"].select(F.col("url").alias("value")),
            "scripts": scripts,
            "external": state["external"].select(F.col("url").alias("value")),
            "fuzzable": fuzzable,
            "endpoints": endpoints,
            "keys": state["keys"],
        }
        ws.hand_over(scripts, endpoints, *kept_bodies)
        fetched_bodies = None
        if kept_bodies:
            fetched_bodies = reduce(
                DataFrame.unionByName, [f.select("url", "body") for f in kept_bodies]
            )
        return CrawlResult(
            datasets=datasets,
            waves=state["waves"],
            metrics=metrics,
            processed_count=processed_count,
            fetched_bodies=fetched_bodies,
        )
