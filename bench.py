"""Benchmark harness — prints ONE JSON line (driver contract).

Headline queries from the registry at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], plus the north-rule metric: frontier
throughput (URLs scheduled+deduped/sec) on a synthetic Zipf-skewed
frontier, and a full fixture-site crawl.

Scaling protocol (north rule, run separately — see
scripts/bench_scaling.py): same frontier job at local[8] vs local[32],
efficiency = (T8/T32)·(8/32) reported in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "topk_per_group",
    "window_tumbling_counts",
    "j1_seen_antijoin",
    "t1_token_extract",
    "t12_luhn_gate",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_jaccard_verify",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "embed_centroids",
    "session_windows",
    "rollup_lineitem_counts",
    "q4_order_priority",
    "lang_id_stopword",
    "quality_score",
    "unigram_logprob",
    "source_quality_gate",
    "mix_token_budget",
    "quality_classifier",
    "url_blocklist_filter",
    "length_percentile_gate",
    "gopher_repetition",
    "c4_line_clean",
    "c4_span_dedup",
    "token_count_bpe",
    "fingerprint_winnow",
    "ann_ivf_topk",
    "multimodal_binary_stats",
    "frontier_dedup_schedule",
    "f4_priority_scoring",
    "pii_redact",
    "stratified_sample_lang",
    "gopher_quality",
    "decontam_hits",
    "pack_shards_twophase",
    "recrawl_schedule",
    "url_canonicalize_ext",
    "semantic_dedup",
    "spans_reassemble",
    "adaptive_budgets",
    "temperature_mix",
    "robots_rfc_gate",
    "dsir_select",
    "interleave_span_stats",
    "media_ref_dedup",
    "anchor_text_topk",
    "media_header_stats",
    "phash_hamming_pairs",
    "audio_constellation_match",
    "video_neardup_closed_form",
    "boilerplate_strip_hostlines",
    "ann_sq8_rerank",
    "trap_detect_flags",
    "media_caption_pairs",
    "span_template_classes",
    "mm_pack_budget",
    "politeness_spacing",
    "q7_volume_shipping",
    "q10_returned_items",
    "q19_disjunctive_revenue",
    "weighted_sample_docs",
    "bpe_pair_counts",
    "cms_host_heavy_hitters",
    "kll_event_quantiles",  # r4 sketch rank-query member; r5: exact-k oracled config
    "bm25_retrieval_topk",
    "crawl_snapshot_diff",
    "chunk_passages_rag",
    "seqpack_chunks",
    "substr_dup_spans",
    "text_normalize_stats",
    "bpe_train_merges",
    "range_join_counts",
    "hits_host_scores",
    "sample_k_per_group",
    "dedup_incremental_pairs",
    "bigram_logprob",
    "sitemap_tree_locs",
    "keyword_scan_counts",
    "compression_ratio_stats",
    "retry_backoff_schedule",
    "q12_late_shipment_priority",
    "q14_promo_revenue_ratio",
    "q18_large_volume_customers",
    "q22_dormant_rich_customers",
    "q15_top_supplier",
    "q8_market_share",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q13_order_distribution",
    "q16_supplier_cnt",
    "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    "mirror_host_pairs",
    "url_param_significance",
    "host_trustrank",
    "host_opic",
    "shark_relevance_scores",
    "host_spam_mass",
    "dust_rules_mined",
    "url_dust_canonicalize",
    "host_opic_incremental",
    "pipeline_retention_stats",
    "recrawl_revalidate_state",
    "recrawl_revalidate_observations",
    "sitemap_url_hints",
    "recrawl_cold_schedule",
    "cdc_chunk_dedup",
    "surt_cdx_index",
    "canonical_rewrite",
    "http_freshness_lifetime",
    "soft404_flags",
    "redirect_resolution",
    "html_directive_flags",
    "recrawl_unified",
    "hreflang_confirmed_pairs",
    "discovery_saturation",
    "link_diversity_signals",
    "main_content_extract",
    "phrase_query_index",
    "bitext_sentence_pairs",
    "mg_host_heavy_hitters",
    "ucb_host_budget",
    "decontam_fuzzy_hits",
    "kwic_snippets_term",
    "host_triangle_cc",
    "sorted_neighborhood_pairs",
    "kcore_peel_3rounds",
    "cocitation_host_pairs",
    "latency_aware_delay",
    "curriculum_tiers",
    "politeness_audit",
    "web_hierarchy_rollup",
    "lang_consistency_filter",
    "content_novelty_wave",
    "pipeline_content_tiers",
    "readability_scores",
    "char_entropy_gate",
    "stopword_discovery",
    "zipf_slope_corpus",
    "intradoc_line_dedup",
    "mad_outlier_gate",
    "host_trap_ratio",
    "script_detect_route",
    "mojibake_gate",
    "hard_negative_pairs",
    "pipeline_ppl_mix",
    "lpa_communities_3r",
]

FRONTIER_URLS = int(os.environ.get("BENCH_FRONTIER_URLS", "1000000"))


def bench_frontier(
    spark, n_urls: int, reps: int = 5, include_bloom: bool = True
) -> dict:
    """North-rule metric: URLs canonicalized+deduped+scheduled per
    second — one full frontier wave on a Zipf-skewed synthetic frontier
    with non-canonical URL variants.

    The wave = vectorized canonicalization (Arrow/pandas) → exact
    anti-join dedup vs seen → salted per-host politeness cap. One
    untimed warmup run absorbs JIT/codegen/Python-worker spin-up — a
    crawl is a long-running job; waves after the first run warm. The
    Bloom-prefiltered dedup (the 10^10-frontier path for when `seen`
    fits neither broadcast nor memory) is timed separately as
    `bloom_sec`; at sandbox SF it is expected to lose to the plain
    join — it exists for the regime where the exact join's shuffle is
    the bottleneck.
    """
    from fixtures.gen import frontier_df
    from photon_spark.plans.frontier import (
        UrlBloom,
        canonicalize_urls,
        dedup_candidates,
    )
    from photon_spark.plans.schedule import schedule_wave

    cand, seen = frontier_df(spark, n_urls)
    cand = cand.persist()
    seen = seen.persist()
    n_cand = cand.count()
    n_seen = seen.count()
    parallelism = spark.sparkContext.defaultParallelism

    budget = int(os.environ.get("BENCH_HOST_BUDGET", "1000"))

    def run_wave(bloom=None) -> int:
        canon = canonicalize_urls(cand.select("url"))
        fresh = dedup_candidates(canon, seen, bloom=bloom)
        return schedule_wave(
            # salting factor IS the cluster-width knob: the hot host's
            # URLs spread over `salts` output partitions, so it must
            # grow with the executor count or the skewed host's fetch
            # partition straggles at high parallelism
            fresh, budget=budget, partitions=parallelism,
            salts=max(8, parallelism)
        ).count()

    n_out = run_wave()  # warmup (untimed)
    times = []
    for _ in range(reps):
        # reclaim prior reps' shuffle files before timing (the sandbox
        # shares one JVM; steady-state per-wave cost is the metric)
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        n_out = run_wave()
        times.append(time.time() - t0)
    elapsed = min(times)

    out = {
        "urls_in": n_cand,
        "seen": n_seen,
        "scheduled": n_out,
        "sec": round(elapsed, 3),
        "urls_per_s": round(n_cand / elapsed, 1),
    }
    if include_bloom:
        t0 = time.time()
        bloom = UrlBloom.build(seen, "url", expected=n_seen, fpp=0.01)
        run_wave(bloom=bloom)
        bloom_elapsed = time.time() - t0
        out["bloom_sec"] = round(bloom_elapsed, 3)
        out["bloom_urls_per_s"] = round(n_cand / bloom_elapsed, 1)

    cand.unpersist()
    seen.unpersist()
    return out


def bench_crawl(spark) -> dict:
    """Full fixture-site crawl end-to-end (wave-loop overhead metric).
    cold = first run (codegen + Python-worker spin-up); sec = warm
    steady state, consistent with the frontier protocol."""
    from fixtures.gen import ROOT, pages_df
    from photon_spark.crawl import run_crawl

    pages = pages_df(spark)
    t0 = time.time()
    res = run_crawl(spark, pages, ROOT)
    n = res.results.count()
    cold = time.time() - t0
    elapsed = float("inf")
    for _ in range(2):  # min-of-2 warm runs (wave-loop timing is noisy)
        t0 = time.time()
        res = run_crawl(spark, pages, ROOT)
        n = res.results.count()
        elapsed = min(elapsed, time.time() - t0)
    return {"result_rows": n, "sec": round(elapsed, 3), "cold_sec": round(cold, 3)}


def bench_big_crawl(spark, n_pages: int = 11111) -> dict:
    """Full wave-driver throughput on the parametric fanout-10 site:
    pages fetched+extracted+deduped+scheduled per second across 5 BFS
    waves (warm steady state)."""
    from fixtures.gen import BIG_ROOT, big_site_df
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    pages = big_site_df(spark, n_pages).persist()
    pages.count()
    cfg = EngineConfig(crawl_level=6, only_urls=True, shuffle_partitions=32)
    run_crawl(spark, pages, BIG_ROOT, cfg=cfg).waves.count()  # warmup
    elapsed = float("inf")
    for _ in range(2):  # min-of-2 warm runs
        t0 = time.time()
        res = run_crawl(spark, pages, BIG_ROOT, cfg=cfg)
        n = res.waves.count()
        elapsed = min(elapsed, time.time() - t0)
    pages.unpersist()
    return {
        "pages": n,
        "waves": len(res.metrics),
        "sec": round(elapsed, 3),
        "pages_per_s": round(n / elapsed, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_start = os.getloadavg()

    from pyspark.sql import functions as F

    from photon_spark.queries import Q
    from photon_spark.session import get_spark

    spark = get_spark(cores=cores, shuffle_partitions=cores, app_name="bench")

    # JVM/Arrow/Python-worker warmup (not counted): one tiny pandas-UDF
    # pass spins up the Arrow workers the measured queries reuse
    from photon_spark.operators.extract import luhn_valid

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(256).select(F.col("id").cast("string").alias("s")).filter(
        luhn_valid(F.col("s"))
    ).count()

    queries: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn, _ = Q[name]
        # one untimed warmup (codegen, broadcast build, file listing)
        # + min of 3 timed runs: the min is the steady-state cost — a
        # long-running crawl's regime — and three samples damp the
        # sandbox's load-dependent noise (r4: builder/driver readings
        # diverged ~25% under min-of-2-with-cold-first)
        fn(spark, sf_dir).count()
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        queries[name] = round(best, 3)
        total += best

    # ann_ivf_topk's REGISTRY entry is the full-probe (≡ brute force)
    # oracled configuration since r4; the approximate scale path
    # (n_probe=4, the number earlier rounds reported under
    # "ann_ivf_topk") keeps its own series here.
    from photon_spark.operators import similarity

    # read hoisted out of the timed loop (r4 verdict: timing the file
    # listing inflated this series' floor ~1-2s); the series measures
    # the IVF pipeline, not spark.read
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()

    def ivf_probe4():
        similarity.ivf_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=16, n_probe=4
        ).count()

    ivf_probe4()  # warmup
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        ivf_probe4()
        best = min(best, time.time() - t0)
    emb.unpersist()
    queries["ann_ivf_probe4"] = round(best, 3)
    total += best

    # KLL compaction regime (k=256 « n — real compactions): the
    # registry entry moved to the covering-k oracled config in r5, so
    # the approximate scale path keeps its own series here (the
    # ann_ivf_probe4 precedent).
    from photon_spark.plans.schedule import kll_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").persist()
    ev.count()

    def kll_compact():
        kll_quantiles(ev.select("value"), "value", k=256).count()

    kll_compact()  # warmup
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        kll_compact()
        best = min(best, time.time() - t0)
    ev.unpersist()
    queries["kll_event_compact256"] = round(best, 3)
    total += best

    frontier = bench_frontier(spark, FRONTIER_URLS)
    crawl = bench_crawl(spark)
    big = bench_big_crawl(spark)
    total += frontier["sec"] + crawl["sec"] + big["sec"]
    queries["frontier_throughput"] = frontier["sec"]
    queries["fixture_crawl"] = crawl["sec"]
    queries["big_crawl_11k_pages"] = big["sec"]

    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "frontier_urls_per_s": frontier["urls_per_s"],
                "frontier_detail": frontier,
                "crawl_pages_per_s": big["pages_per_s"],
                "big_crawl_detail": big,
                "cores": cores,
                # ambient machine load bracketing the run — a reading
                # taken under competing load is identifiable as such
                # (r4: builder/driver suite readings diverged 25%)
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
