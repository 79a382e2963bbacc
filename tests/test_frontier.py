"""Frontier dedup (Bloom + anti-join), scheduler, storage/resume tests."""

from __future__ import annotations

import re

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from photon_spark.plans.frontier import UrlBloom, dedup_candidates
from photon_spark.plans.schedule import schedule_wave, with_host


def test_bloom_no_false_negatives(spark):
    seen = spark.range(5000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    bloom = UrlBloom.build(seen, "url", expected=5000, fpp=0.01)
    hashes = np.array(
        [r["h"] for r in seen.select(F.xxhash64("url").alias("h")).collect()],
        dtype=np.int64,
    )
    assert bloom.might_contain(hashes).all()


def test_bloom_fpp_bound(spark):
    seen = spark.range(5000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    bloom = UrlBloom.build(seen, "url", expected=5000, fpp=0.01)
    fresh = spark.range(5000, 25000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    hashes = np.array(
        [r["h"] for r in fresh.select(F.xxhash64("url").alias("h")).collect()],
        dtype=np.int64,
    )
    fp_rate = bloom.might_contain(hashes).mean()
    assert fp_rate < 0.03, fp_rate


def test_dedup_exact_with_and_without_bloom(spark):
    cand = spark.range(1000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    seen = spark.range(0, 1000, 2).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    plain = {r["url"] for r in dedup_candidates(cand, seen).collect()}
    bloom = UrlBloom.build(seen, "url", expected=500, fpp=0.01)
    with_bloom = {r["url"] for r in dedup_candidates(cand, seen, bloom=bloom).collect()}
    want = {f"http://h/{i}" for i in range(1, 1000, 2)}
    assert plain == want
    assert with_bloom == want          # bloom path must stay EXACT


def test_politeness_budget_caps_per_host(spark):
    rows = [(f"http://h{i % 3}.test/p{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, "url string")
    capped = schedule_wave(df, budget=4, partitions=4)
    counts = (
        with_host(capped.select("url"))
        .groupBy("host")
        .count()
        .collect()
    )
    assert all(r["count"] <= 4 for r in counts)
    assert sum(r["count"] for r in counts) == 12
    # deterministic: lexicographically-first URLs win the tie-break
    got = sorted(r["url"] for r in capped.collect() if r["url"].startswith("http://h0"))
    want = sorted(f"http://h0.test/p{i}" for i in range(30) if i % 3 == 0)[:4]
    assert got == want


def test_schedule_wave_plan_one_window_partial_limit(spark):
    """One host window, and Spark's map-side partial WindowGroupLimit
    below the host exchange caps every host before the shuffle. Two
    hash exchanges: the host exchange and the (host, salt) output
    repartition. If Spark stops inserting the partial limit (it does
    so only for a literal cap <= windowGroupLimitThreshold, and only
    over a child with no maxRows bound at or below the cap), a hot
    host's whole candidate set reaches one window task again; this
    test then fails."""
    src = (
        spark.range(0, 5000, numPartitions=4)
        .filter(F.col("id") >= 0)
        .select(
            F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                     F.lit(".test/p"), F.col("id").cast("string")).alias("url")
        )
    )
    plan = (
        schedule_wave(src, budget=1000, partitions=4, salts=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    windows = [ln for ln in lines if ln.lstrip("+- :").startswith("Window [")]
    assert len(windows) == 1, plan
    exchanges = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(" in ln]
    assert len(exchanges) == 2, plan
    host_exchange = next(
        i for i in exchanges if "ENSURE_REQUIREMENTS" in lines[i]
    )
    partial = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    ]
    assert len(partial) == 1 and partial[0] > host_exchange, plan
    # no constant sort key when there is no score column
    assert not re.search(r"[\[ ]0 ASC", plan), plan


def test_host_partition_locality(spark):
    rows = [(f"http://h{i % 5}.test/p{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "url string")
    parts = (
        schedule_wave(df, partitions=8)
        .withColumn("pid", F.spark_partition_id())
    )
    # each host maps to exactly one partition (politeness locality)
    per_host = (
        with_host(parts.select("url", "pid"))
        .groupBy("host")
        .agg(F.countDistinct("pid").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_host)


@pytest.mark.slow
def test_resume_from_snapshot(spark, fixture_pages, tmp_path):
    """Kill after wave 0, resume, final state identical to a full run."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    cfg = EngineConfig(crawl_level=2)
    full = run_crawl(spark, fixture_pages, ROOT, cfg)

    store = CrawlStore(str(tmp_path / "crawlstate"))
    killed = run_crawl(
        spark, fixture_pages, ROOT, cfg, store=store, stop_after_wave=0
    )
    assert killed is None
    resumed = run_crawl(spark, fixture_pages, ROOT, cfg, store=store, resume=True)

    assert resumed.to_sets() == full.to_sets()
    full_waves = {(r["url"], r["level"]) for r in full.waves.collect()}
    res_waves = {(r["url"], r["level"]) for r in resumed.waves.collect()}
    assert full_waves == res_waves
    assert resumed.processed_count == full.processed_count


def test_robots_gate(spark):
    """A plain prefix Disallow is a host-scoped prefix gate; a trailing
    $ anchors a pattern without * at the end."""
    from photon_spark.plans.schedule import robots_gate_rfc

    wave = spark.createDataFrame(
        [
            ("http://a.test/private/x",),
            ("http://a.test/privateer",),   # prefix match → gated too
            ("http://a.test/public/x",),
            ("http://b.test/private/x",),   # other host → kept
            ("http://a.test/",),
            ("http://a.test/a.php",),       # anchored → gated
            ("http://a.test/a.php?x=1",),   # longer than the anchor → kept
        ],
        "url string",
    )
    rules = [("a.test", "/private", False), ("a.test", "/a.php$", False)]
    kept = {r["url"] for r in robots_gate_rfc(wave, rules).collect()}
    assert kept == {
        "http://a.test/public/x",
        "http://b.test/private/x",
        "http://a.test/",
        "http://a.test/a.php?x=1",
    }


@pytest.mark.slow
def test_crawl_respect_robots(spark):
    """respect_robots=True keeps /private out of the fetched set while
    the default crawl (reference parity) fetches it."""
    from fixtures.gen import ROOT, pages_df
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    pages = pages_df(spark)
    default = run_crawl(spark, pages, ROOT)
    gated = run_crawl(
        spark, pages, ROOT, cfg=EngineConfig(respect_robots=True)
    )
    default_fetched = {r["url"] for r in default.waves.collect()}
    gated_fetched = {r["url"] for r in gated.waves.collect()}
    assert ROOT + "/private" in default_fetched
    assert ROOT + "/private" not in gated_fetched
    # gating only removes disallowed paths
    assert default_fetched - gated_fetched == {ROOT + "/private"}


@pytest.mark.slow
def test_store_commits_are_deltas(spark, fixture_pages, tmp_path):
    """Each wave commit holds only that wave's new rows (append-only
    snapshots), and load(w) is snapshot-as-of semantics."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    store = CrawlStore(str(tmp_path / "delta_store"))
    res = run_crawl(spark, fixture_pages, ROOT, cfg=EngineConfig(), store=store)
    total_internal = res.datasets["internal"].count()

    w0 = spark.read.parquet(store._delta_dir(0, "internal")).count()
    w1 = spark.read.parquet(store._delta_dir(1, "internal")).count()
    # wave 1's delta is strictly smaller than the accumulated state
    assert w1 < total_internal
    # snapshot-as-of monotonicity and final equality
    s0 = store.load(spark, 0)["internal"].count()
    s1 = store.load(spark, 1)["internal"].count()
    assert s0 == w0  # wave-0 delta includes the seeds
    assert s0 < s1 <= total_internal
    assert s1 == total_internal


@pytest.mark.slow
def test_store_compact_expire(spark, fixture_pages, tmp_path):
    """Iceberg-style maintenance: compact() rewrites the snapshot into
    a consolidated base without changing any table's contents; pre-base
    time travel works until expire(), then raises; resume from a
    compacted store still matches a plain full run."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    def table_sets(state):
        freeze = lambda v: tuple(v) if isinstance(v, list) else v  # noqa: E731
        return {
            k: {tuple(freeze(v) for v in r) for r in df.collect()}
            for k, df in state.items()
        }

    store = CrawlStore(str(tmp_path / "compact_store"))
    run_crawl(spark, fixture_pages, ROOT, cfg=EngineConfig(), store=store)
    last, _ = store.latest()
    assert last >= 1  # need >1 wave for compaction to merge anything
    before = table_sets(store.load(spark, last))
    s0_internal = table_sets(store.load(spark, 0))["internal"]

    base_dir = store.compact(spark)
    assert (tmp_path / "compact_store" / base_dir).is_dir()
    # snapshot identical through the base
    assert table_sets(store.load(spark, last)) == before
    # pre-base time travel still served from on-disk deltas
    assert table_sets(store.load(spark, 0))["internal"] == s0_internal

    removed = store.expire()
    assert removed > 0
    with pytest.raises(ValueError, match="expired"):
        store.load(spark, 0)
    # latest snapshot unaffected by expiry
    assert table_sets(store.load(spark, last)) == before

    # second compaction generation replaces the first cleanly — but the
    # superseded base stays on disk (a reader of the old manifest must
    # not lose its files) until expire() collects it
    base2 = store.compact(spark)
    assert base2 != base_dir
    assert (tmp_path / "compact_store" / base_dir).exists()
    assert table_sets(store.load(spark, last)) == before
    assert store.expire() > 0
    assert not (tmp_path / "compact_store" / base_dir).exists()
    assert table_sets(store.load(spark, last)) == before


@pytest.mark.slow
def test_crawl_with_auto_compaction(spark, fixture_pages, tmp_path):
    """compact_every=1 (compact+expire after every committed wave) must
    not change the crawl's final datasets, wave membership, or counts —
    and a resume across a compaction boundary stays exact."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    cfg = EngineConfig(crawl_level=2, compact_every=1)
    full = run_crawl(spark, fixture_pages, ROOT, cfg=EngineConfig(crawl_level=2))

    store = CrawlStore(str(tmp_path / "auto_compact"))
    compacted = run_crawl(spark, fixture_pages, ROOT, cfg, store=store)
    assert compacted.to_sets() == full.to_sets()
    assert compacted.processed_count == full.processed_count

    # crash after wave 0 (already compacted+expired) → resume → identical
    store2 = CrawlStore(str(tmp_path / "auto_compact_resume"))
    assert (
        run_crawl(
            spark, fixture_pages, ROOT, cfg, store=store2, stop_after_wave=0
        )
        is None
    )
    resumed = run_crawl(spark, fixture_pages, ROOT, cfg, store=store2, resume=True)
    assert resumed.to_sets() == full.to_sets()
    assert resumed.processed_count == full.processed_count


@pytest.mark.slow
def test_sharded_bloom_zero_loss_10m(spark):
    """The 10^10 story's bucketed variant: per-bucket bloom shards over
    bucket(N, xxhash64(url)) must stay EXACT (no lost URLs) at 10^7
    seen keys — sharded result ≡ plain anti-join result."""
    seen = spark.range(10_000_000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    # candidates: half seen, half brand-new
    cand = spark.range(9_900_000, 10_100_000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    sharded = UrlBloom.build(
        seen, "url", expected=10_000_000, fpp=0.01, n_buckets=16
    )
    got = {
        r["url"] for r in dedup_candidates(cand, seen, bloom=sharded).collect()
    }
    want = {f"http://h/{i}" for i in range(10_000_000, 10_100_000)}
    assert got == want


def test_sharded_bloom_routes_by_bucket(spark):
    """Every key probes exactly its own shard: membership via the
    sharded filter equals membership via a per-bucket single filter."""
    import numpy as np

    from photon_spark.plans.frontier import _bucket_of

    seen = spark.range(20_000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url")
    )
    sharded = UrlBloom.build(seen, "url", expected=20_000, fpp=0.01, n_buckets=4)
    hashes = np.array(
        [r["h"] for r in seen.select(F.xxhash64("url").alias("h")).collect()],
        dtype=np.int64,
    )
    assert sharded.might_contain(hashes).all()  # no false negatives
    # shards partition the key space: each key's bucket has its bits
    buckets = _bucket_of(hashes.view(np.uint64), 4)
    assert set(np.unique(buckets)) <= set(sharded.shards.keys())


@pytest.mark.slow
def test_store_fresh_start_resets_previous_lineage(spark, fixture_pages, tmp_path):
    """A fresh (resume=False) crawl into a reused store root must NOT
    union the previous run's deltas into its snapshots (r1 ADVICE:
    commit merged the old _waves_index unconditionally)."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    cfg = EngineConfig(crawl_level=2)
    store = CrawlStore(str(tmp_path / "reused"))

    # first run, with an extra seed that pollutes state
    polluted = EngineConfig(crawl_level=2, seeds=("http://stale.example/x",))
    run_crawl(spark, fixture_pages, ROOT, polluted, store=store)

    # fresh run into the SAME root: stale seed must not reappear
    fresh = run_crawl(spark, fixture_pages, ROOT, cfg, store=store)
    assert "http://stale.example/x" not in fresh.to_sets()["internal"]

    # and the store's reloaded snapshot agrees with the fresh run
    wave, _meta = store.latest()
    loaded = store.load(spark, wave)
    urls = {r["url"] for r in loaded["internal"].collect()}
    assert "http://stale.example/x" not in urls


def test_canonicalize_jvm_equals_pandas(spark):
    """The JVM-expression canonicalizer must match the Arrow/pandas twin
    byte-for-byte on adversarial URL shapes."""
    from photon_spark.plans.frontier import (
        canonicalize_urls,
        canonicalize_urls_pandas,
    )

    urls = [
        "HTTP://Example.COM:80/Path/To?q=1#frag",
        "https://Host:443/",
        "https://host:4433/keep-port",
        "http://host:8080/p?q=1#z",
        "ftp://Files.Test/pkg",
        "a+b-c.x://WeIrD:443/Y#f",
        "http://h/path#a#b",
        "no scheme here # frag",
        "relative/path.html",
        "//protocol-relative.test/x",
        "http://host/?#",
        "http://host:80",
        "https://host:443#only-frag",
        "",
        # the parse guard's boundaries: no url, a scheme that starts
        # with a digit, an empty host, an upper-case default port
        None,
        "1http://x/",
        "http://",
        "HTTP://A:80",
    ]
    # other columns keep their values and places around the url
    df = spark.createDataFrame(
        [(i, u, "t") for i, u in enumerate(urls)], "id int, url string, tag string"
    )
    out = canonicalize_urls(df)
    assert out.columns == ["id", "url", "tag"]
    rows = out.collect()
    assert [(r["id"], r["tag"]) for r in rows] == [(i, "t") for i in range(len(urls))]
    jvm = [r["url"] for r in rows]
    pd_ = [r["url"] for r in canonicalize_urls_pandas(df).collect()]
    assert jvm == pd_, list(zip(urls, jvm, pd_))
    assert jvm[-4:] == [None, "1http://x/", "http://", "http://a"]


def test_canonicalize_plan_extracts_each_group_once(spark):
    """Each regex group is evaluated once per URL: the optimized plan
    holds exactly 3 regexp_extract calls (one per group) and no RLIKE
    parse guard."""
    from photon_spark.plans.frontier import canonicalize_urls

    df = spark.range(10).select(F.col("id").cast("string").alias("url"))
    plan = canonicalize_urls(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract(") == 3, plan
    assert "RLIKE" not in plan, plan


def test_host_rank_power_iteration(spark):
    """host_rank ≡ hand-computed PageRank on a 4-node graph (2 rounds,
    damping .75, no dangling redistribution): node 3 collects from
    1,2,4; node 4 gets only the teleport term."""
    from photon_spark.plans.schedule import host_rank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)], "src long, dst long"
    )
    got = {r["host"]: r["rank"] for r in host_rank(edges, iters=2, damping=0.75).collect()}
    assert got == {1: 0.460938, 2: 0.15625, 3: 0.320313, 4: 0.0625}


def test_priority_scoring_orders_budget_selection(spark):
    """F4 producer: with use_priority, fuzzable + shallow URLs win the
    per-host budget slots; without, selection is url-asc (Q12)."""
    from photon_spark.plans.schedule import priority_score, schedule_wave

    urls = [
        "http://h.test/deep/a/b/c/page",   # score 0  (4 slashes)
        "http://h.test/z",                 # score 2  (1 slash)
        "http://h.test/search?q=1",        # score 6  (fuzz + shallow)
        "http://h.test/a/b",               # score 1
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    scored = {r["url"]: r["score"] for r in priority_score(df).collect()}
    assert scored["http://h.test/search?q=1"] == 6
    assert scored["http://h.test/z"] == 2
    assert scored["http://h.test/a/b"] == 1
    assert scored["http://h.test/deep/a/b/c/page"] == 0

    top2 = {
        r["url"]
        for r in schedule_wave(priority_score(df), budget=2, salts=1).collect()
    }
    assert top2 == {"http://h.test/search?q=1", "http://h.test/z"}

    # unscored: plain url-asc tie-break picks different rows
    plain2 = {r["url"] for r in schedule_wave(df, budget=2, salts=1).collect()}
    assert plain2 == {"http://h.test/a/b", "http://h.test/deep/a/b/c/page"}


def test_canonicalize_parity_random_corpus(spark):
    """JVM ≡ pandas canonicalization over a seeded adversarial corpus:
    random schemes/hosts/ports/paths/fragments/unicode — 300 strings."""
    import random
    import string

    from photon_spark.plans.frontier import (
        canonicalize_urls,
        canonicalize_urls_pandas,
    )

    rng = random.Random(42)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp", "a+b-c.x", "x9"]
    hosts = ["Example.COM", "h0.test", "ümlaut.test", "127.0.0.1", "[::1]",
             "host:80", "Host:443", "host:8080", ""]
    paths = ["", "/", "/A/B?q=1&r=2", "/p#frag", "/#", "/%20 space", "/日本語"]
    urls = []
    for _ in range(300):
        kind = rng.random()
        if kind < 0.7:
            urls.append(
                rng.choice(schemes) + "://" + rng.choice(hosts) + rng.choice(paths)
            )
        elif kind < 0.85:  # no scheme at all
            urls.append(
                "".join(rng.choice(string.printable[:94]) for _ in range(rng.randint(0, 30)))
                .replace("\n", "").replace("\r", "")
            )
        else:  # fragment-heavy garbage
            urls.append("x#y#" + rng.choice(hosts) + "#" + rng.choice(paths))
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    jvm = [r["url"] for r in canonicalize_urls(df).collect()]
    pd_ = [r["url"] for r in canonicalize_urls_pandas(df).collect()]
    mismatches = [(u, a, b) for u, a, b in zip(urls, jvm, pd_) if a != b]
    assert not mismatches, mismatches[:5]


@pytest.mark.slow
def test_crawl_with_bucketed_seen_store(spark, fixture_pages, tmp_path):
    """bucket_seen>0: compact() writes the `processed` base BUCKETED on
    url and the wave loop dedups against (bucketed base ∪ broadcast
    delta tail). Result must be identical to the plain crawl, a resume
    across the compaction boundary stays exact, the bucketed table
    re-registers from the manifest in a fresh catalog, and the
    anti-join plan reads the seen side off bucket files with exactly
    one (candidate-side) hash exchange."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.bucketing import exchange_count, scan_is_bucketed
    from photon_spark.plans.frontier import dedup_candidates_parts
    from photon_spark.plans.storage import CrawlStore

    cfg = EngineConfig(crawl_level=3, compact_every=1)
    full = run_crawl(spark, fixture_pages, ROOT, cfg=EngineConfig(crawl_level=3))

    store = CrawlStore(str(tmp_path / "bucketed_seen"), bucket_seen=8)
    got = run_crawl(spark, fixture_pages, ROOT, cfg, store=store)
    assert got.to_sets() == full.to_sets()
    assert got.processed_count == full.processed_count

    # crash + resume across the bucketed-compaction boundary
    store2 = CrawlStore(str(tmp_path / "bucketed_seen_resume"), bucket_seen=8)
    assert (
        run_crawl(
            spark, fixture_pages, ROOT, cfg, store=store2, stop_after_wave=0
        )
        is None
    )
    resumed = run_crawl(spark, fixture_pages, ROOT, cfg, store=store2, resume=True)
    assert resumed.to_sets() == full.to_sets()
    assert resumed.processed_count == full.processed_count

    # fresh-catalog re-registration: drop the session catalog entry (what
    # a new JVM looks like), then processed_parts must recreate it from
    # the manifest and produce the exact seen set.
    last, meta = store.latest()
    bp = meta["_base"]["bucketed_processed"]
    spark.sql(f"DROP TABLE IF EXISTS {bp['table']}")
    base, delta = store.processed_parts(spark)
    seen_urls = set()
    for df in (base, delta):
        if df is not None:
            seen_urls |= {r["url"] for r in df.collect()}
    want_seen = {r["url"] for r in store.load(spark, last)["processed"].collect()}
    assert seen_urls == want_seen

    cand = spark.createDataFrame(
        [(u,) for u in sorted(want_seen)[:3]] + [("http://brand.new/x",)], "url string"
    )
    # At fixture scale AQE broadcasts the tiny base (fine); pin the
    # big-|seen| plan shape — bucketed scan, ONE candidate-side
    # exchange, delta still broadcast via its explicit hint — by
    # disabling the size-based broadcast path.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_candidates_parts(cand, base, delta)
        assert {r["url"] for r in out.collect()} == {"http://brand.new/x"}
        assert scan_is_bucketed(out)
        assert exchange_count(out) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_schedule_wave_per_host_budget_override(spark):
    """host_budgets caps a listed host at its own budget; unlisted
    hosts keep the scalar budget (or stay uncapped when it's None).
    Salting the output repartition must not change the row set."""
    rows = [(f"http://h{i % 3}.test/p{i:02d}",) for i in range(30)]
    df = spark.createDataFrame(rows, "url string")
    hb = spark.createDataFrame([("h0.test", 2)], "host string, host_budget int")

    got = schedule_wave(df, budget=4, host_budgets=hb)
    counts = {
        r["host"]: r["count"]
        for r in with_host(got.select("url")).groupBy("host").count().collect()
    }
    assert counts == {"h0.test": 2, "h1.test": 4, "h2.test": 4}
    # deterministic pick: lexicographically-first URLs of the capped host
    h0 = sorted(r["url"] for r in got.collect() if "h0" in r["url"])
    assert h0 == ["http://h0.test/p00", "http://h0.test/p03"]

    # salted repartition ≡ unsalted under per-host budgets
    salted = {
        r["url"] for r in schedule_wave(df, budget=4, host_budgets=hb, salts=4).collect()
    }
    assert salted == {r["url"] for r in got.collect()}

    # scalar budget None: only the listed host is capped
    only_listed = schedule_wave(df, budget=None, host_budgets=hb)
    counts = {
        r["host"]: r["count"]
        for r in with_host(only_listed.select("url")).groupBy("host").count().collect()
    }
    assert counts == {"h0.test": 2, "h1.test": 10, "h2.test": 10}


@pytest.mark.slow
def test_crawl_delay_politeness(spark, tmp_path):
    """Opt-in Crawl-delay: with window 60s and 'Crawl-delay: 30' in
    robots.txt the crawled host schedules ≤2 URLs per wave; without the
    knob the same crawl schedules full waves — and the capped crawl
    still converges to the identical final datasets (deferred, not
    dropped), including across a store resume."""
    from fixtures.gen import PAGES_SCHEMA, ROOT, page_bodies, _spanify
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    bodies = dict(page_bodies())
    bodies[ROOT + "/robots.txt"] = (
        "User-agent: *\nCrawl-delay: 30\n" + bodies[ROOT + "/robots.txt"]
    )
    pages = spark.createDataFrame(
        [{"doc_id": u, "spans": _spanify(u, b)} for u, b in sorted(bodies.items())],
        PAGES_SCHEMA,
    )

    base = run_crawl(spark, pages, ROOT, cfg=EngineConfig(crawl_level=2))

    cfg = EngineConfig(
        crawl_level=30, respect_robots=True, crawl_delay_window=60.0
    )
    capped = run_crawl(spark, pages, ROOT, cfg=cfg)

    def max_main_host_per_wave(res):
        # the cap binds the robots host only; other (sub)domains the
        # scope classifier admits are not Crawl-delay'd by this robots
        per = (
            with_host(res.waves.select("url", "level"))
            .filter(F.col("host") == "h0.fixture.test")
            .groupBy("level")
            .count()
            .collect()
        )
        return max(r["count"] for r in per)

    assert max_main_host_per_wave(base) > 2
    assert max_main_host_per_wave(capped) <= 2
    # robots gating drops /priv-prefixed URLs; compare against the
    # same-gated uncapped crawl: deferral must not lose pages
    gated = run_crawl(
        spark, pages, ROOT,
        cfg=EngineConfig(crawl_level=30, respect_robots=True),
    )
    assert capped.to_sets() == gated.to_sets()

    # resume keeps the cap (crawl_delay rides the store meta)
    store = CrawlStore(str(tmp_path / "delay_store"))
    assert (
        run_crawl(spark, pages, ROOT, cfg=cfg, store=store, stop_after_wave=1)
        is None
    )
    resumed = run_crawl(spark, pages, ROOT, cfg=cfg, store=store, resume=True)
    assert max_main_host_per_wave(resumed) <= 2
    assert resumed.to_sets() == gated.to_sets()


def test_recrawl_schedule_staleness_times_change_rate(spark):
    """Hand-computed freshness scores: staleness·(n_obs−1)·10^6 div
    span, integer-exact; top-k per host; single-observation URLs score
    0 but still surface when the host has budget left."""
    from photon_spark.plans.schedule import recrawl_schedule

    def ts(s):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    rows = (
        [("A", "u1", ts(t)) for t in (0, 100, 200)]
        + [("A", "u2", ts(0))]
        + [("A", "u3", ts(0)), ("A", "u3", ts(180))]
        + [("B", "u4", ts(500))]
    )
    obs = spark.createDataFrame(rows, "host string, url string, ts timestamp")
    got = {
        (r["host"], r["url"]): (r["n_obs"], r["staleness_s"], r["score"])
        for r in recrawl_schedule(obs, as_of_epoch=1000, k=2).collect()
    }
    assert got == {
        ("A", "u1"): (3, 800, (800 * 2 * 1_000_000) // 200),   # 8_000_000
        ("A", "u3"): (2, 820, (820 * 1 * 1_000_000) // 180),   # 4_555_555
        ("B", "u4"): (1, 500, 0),
    }
    # k=1 keeps only the most urgent per host
    top1 = {r["url"] for r in recrawl_schedule(obs, as_of_epoch=1000, k=1).collect()}
    assert top1 == {"u1", "u4"}


def test_priority_score_authority_boost(spark):
    """host_rank output feeds priority: a host at a× the uniform rank
    gets floor(a)−1 extra points (capped); unranked hosts boost 0; the
    URL-shape components are unchanged; schedule_wave then prefers the
    authoritative host's URLs under a global budget window."""
    from photon_spark.plans.schedule import priority_score

    ranks = spark.createDataFrame(
        # 4 hosts; uniform rank would be 0.25. hub = 2.4x uniform → +1,
        # mega = 8x uniform → floor(2.0)-1 = 1? no: 0.5*4=2.0 → +1;
        # authority capped at max_authority_boost
        [("hub.test", 0.15), ("mega.test", 0.60), ("low.test", 0.05),
         ("other.test", 0.20)],
        "host string, rank double",
    )
    urls = spark.createDataFrame(
        [("http://mega.test/a",), ("http://hub.test/a",),
         ("http://low.test/a",), ("http://new.test/a",)],
        "url string",
    )
    got = {
        r["url"]: r["score"]
        for r in priority_score(urls, host_ranks=ranks).collect()
    }
    # all URLs share shape score 2 (one path segment, no '=')
    assert got == {
        "http://mega.test/a": 2 + 1,   # 0.60*4=2.4 → floor−1 = 1
        "http://hub.test/a": 2 + 0,    # 0.15*4=0.6 → floor−1 → clamp 0
        "http://low.test/a": 2 + 0,
        "http://new.test/a": 2 + 0,    # unranked
    }
    # cap respected for an extreme authority
    ranks2 = spark.createDataFrame(
        [("mega.test", 0.97), ("a.test", 0.01), ("b.test", 0.01),
         ("c.test", 0.01)],
        "host string, rank double",
    )
    got2 = {
        r["url"]: r["score"]
        for r in priority_score(urls, host_ranks=ranks2).collect()
    }
    assert got2["http://mega.test/a"] == 2 + 2  # 0.97*4=3.88 → floor−1=2
    got3 = {
        r["url"]: r["score"]
        for r in priority_score(urls, host_ranks=ranks2,
                                max_authority_boost=1).collect()
    }
    assert got3["http://mega.test/a"] == 2 + 1  # capped


@pytest.mark.slow
def test_crawl_with_authority_priority(spark, fixture_pages):
    """run_crawl(host_ranks=...) + use_priority: the crawl completes
    with the identical final datasets (priority reorders within a
    wave's budget window, never changes reachability when uncapped)."""
    from fixtures.gen import ROOT
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    ranks = spark.createDataFrame(
        [("h0.fixture.test", 0.7), ("h1.fixture.test", 0.1),
         ("x.test", 0.1), ("y.test", 0.1)],
        "host string, rank double",
    )
    base = run_crawl(spark, fixture_pages, ROOT, cfg=EngineConfig(crawl_level=2))
    boosted = run_crawl(
        spark, fixture_pages, ROOT,
        cfg=EngineConfig(crawl_level=2, use_priority=True),
        host_ranks=ranks,
    )
    assert boosted.to_sets() == base.to_sets()


def test_canonicalize_ext_query_normalization(spark):
    """Extended canonicalization (production dedup knob, NOT the
    reference-parity path): tracking params stripped by full anchored
    name, survivors sorted, empty tokens and empty '?' dropped, and the
    base canonicalize (case/port/fragment) still applied. URLs without
    a query and non-parsing URLs pass through the base behavior."""
    from photon_spark.plans.frontier import canonicalize_urls_ext

    cases = [
        # (input, expected)
        ("HTTP://Host.Test:80/p?b=2&utm_source=x&a=1#f", "http://host.test/p?a=1&b=2"),
        ("https://h.test:443/p?utm_campaign=c&fbclid=1&gclid=2", "https://h.test/p"),
        ("http://h.test/p?z=1&&y=2&", "http://h.test/p?y=2&z=1"),
        ("http://h.test/p", "http://h.test/p"),
        ("http://h.test/p?", "http://h.test/p"),
        # utm_ prefix only matches the FULL name (anchored): a param
        # merely containing 'utm_' mid-name survives
        ("http://h.test/p?xutm_source=1", "http://h.test/p?xutm_source=1"),
        # value-less tracker and value-less survivor
        ("http://h.test/p?fbclid&flag", "http://h.test/p?flag"),
        # non-parsing URL: fragment-strip fallback; query normalization
        # is purely syntactic so it applies here too
        ("not a url?b=2&a=1#frag", "not a url?a=1&b=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["url"] for r in canonicalize_urls_ext(df).collect()]
    assert got == [w for _, w in cases]


def test_adaptive_host_budgets_aimd(spark):
    """AIMD budgets: clean waves grow additively from base, error waves
    halve multiplicatively, clamped to [lo, hi]; the output feeds
    schedule_wave(host_budgets=...) and the cap is enforced per host."""
    from photon_spark.plans.schedule import adaptive_host_budgets, schedule_wave

    obs = spark.createDataFrame(
        # hA: 3 clean waves -> streak 3 -> 8 + 3 = 11
        [("hA", 0, 0), ("hA", 1, 0), ("hA", 2, 0)]
        # hB: 2 error waves then 1 clean -> 8 div 4 + streak 1 = 3
        + [("hB", 0, 2), ("hB", 1, 1), ("hB", 2, 0)]
        # hC: errors every wave, deep halving + streak 0 floors at lo=1
        + [("hC", w, 1) for w in range(8)]
        # hD: LONG clean history then errors — the streak (not lifetime
        # clean count) is the additive term, so the budget collapses:
        # 8 div 2 + streak 0 = 4
        + [("hD", w, 0) for w in range(56)]
        + [("hD", 56, 3)]
        # hE: early error, then recovery -> 8 div 2 + streak 4 = 8
        + [("hE", 0, 1)]
        + [("hE", w, 0) for w in range(1, 5)]
        # hF: per-fetch log rows — one bad fetch among many clean rows
        # in the SAME wave marks the wave errored (deterministic MAX,
        # not an arbitrary dropDuplicates keep): 8 div 2 + streak 1 = 5
        + [("hF", 0, 0)] * 9
        + [("hF", 0, 2), ("hF", 1, 0)],
        "host string, wave int, errors int",
    )
    budgets = {
        r["host"]: r["host_budget"]
        for r in adaptive_host_budgets(obs, base=8, lo=1, hi=64).collect()
    }
    assert budgets == {"hA": 11, "hB": 3, "hC": 1, "hD": 4, "hE": 8, "hF": 5}

    wave = spark.createDataFrame(
        [(f"http://h{h}.test/p/{i}",) for h in ("A", "B", "C") for i in range(20)],
        "url string",
    )
    bdf = spark.createDataFrame(
        [(f"h{h}.test", b) for h, b in (("A", 11), ("B", 3), ("C", 1))],
        "host string, host_budget int",
    )
    out = schedule_wave(wave, budget=100, host_budgets=bdf)
    from pyspark.sql import functions as SF

    got = {
        r["host"]: r["n"]
        for r in out.groupBy("host").agg(SF.count("*").alias("n")).collect()
    }
    assert got == {"hA.test": 11, "hB.test": 3, "hC.test": 1}


def test_robots_gate_rfc_semantics(spark):
    """RFC 9309 matching: * wildcards, $ anchors, longest-match wins,
    Allow beats Disallow on equal length, unlisted hosts default-allow."""
    from photon_spark.plans.schedule import robots_gate_rfc

    rules = [
        ("a.test", "/p/1*", False),
        ("a.test", "/p/12*", True),      # longer -> overrides the block
        ("a.test", "/q/*x$", False),     # anchor
        ("b.test", "/p/33*", False),
        ("b.test", "/p/*3*", True),      # same length as above: Allow wins tie
    ]
    urls = [
        "http://a.test/p/10",    # blocked by /p/1*
        "http://a.test/p/123",   # re-allowed by /p/12*
        "http://a.test/q/ax",    # blocked by anchor
        "http://a.test/q/axe",   # NOT blocked ($ anchors at end)
        "http://a.test/other",   # no rule -> allow
        "http://b.test/p/33",    # tie: both len-8 rules match -> Allow wins
        "http://c.test/p/10",    # unlisted host -> allow
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    kept = {r["url"] for r in robots_gate_rfc(df, rules).collect()}
    assert kept == {
        "http://a.test/p/123",
        "http://a.test/q/axe",
        "http://a.test/other",
        "http://b.test/p/33",
        "http://c.test/p/10",
    }
    # empty rule set: everything passes
    assert robots_gate_rfc(df, []).count() == len(urls)


_PATH_CHARS = "ab/.+()[?|\\^#"
_URL_PATH = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*(/.*)?$")


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_robots_gate_rfc_is_prefix_gate_for_plain_disallows(spark, data):
    """Disallow-only rules with no * and no trailing $ keep exactly the
    URLs for which no rule has the URL's host key and a prefix of its
    path: the plain prefix gate, with regex metacharacters in paths and
    rules, and hosts with and without ports. The host key is a host
    column the wave already carries, or with_host's, which is the real
    host also for URLs Java's URI parser rejects (a '[', '|', '\\' or
    '^' in the path)."""
    from photon_spark.plans.schedule import robots_gate_rfc

    hosts = ["a.test", "b.test"]
    paths = st.text(_PATH_CHARS, max_size=8).map(lambda p: "/" + p)
    parts = data.draw(st.lists(
        st.tuples(st.sampled_from(hosts), st.sampled_from(["", ":8080"]), paths),
        min_size=1, max_size=10,
    ))
    urls = sorted({f"http://{h}{port}{p}" for h, port, p in parts})
    host_of = {f"http://{h}{port}{p}": h for h, port, p in parts}
    prefix = st.one_of(
        paths.map(lambda p: p[:3]),
        st.sampled_from([p for _, _, p in parts]).flatmap(
            lambda p: st.integers(1, len(p)).map(lambda n: p[:n])
        ),
    )
    rules = data.draw(st.lists(
        st.tuples(st.sampled_from(hosts), prefix, st.just(False)), max_size=4
    ))

    def expected(key):
        return {
            u for u in urls
            if not any(
                h == key[u] and (_URL_PATH.match(u).group(1) or "").startswith(p)
                for h, p, _ in rules
            )
        }

    df = spark.createDataFrame([(u, host_of[u]) for u in urls], "url string, host string")
    kept = {r["url"] for r in robots_gate_rfc(df, rules).collect()}
    assert kept == expected(host_of)

    bare = df.select("url")
    assert {r["url"]: r["host"] for r in with_host(bare).collect()} == host_of
    kept = {r["url"] for r in robots_gate_rfc(bare, rules).collect()}
    assert kept == expected(host_of)


def test_trap_flags_heuristics_and_edges(spark):
    """Each trap heuristic fires independently at its exact boundary
    and the degenerate URL shapes (no path, bare root, no query)
    parse to zeros rather than nulls. URLs Java's URI parser rejects
    ('|', '^', '[' anywhere in them) are flagged from their real path
    and query: a trap with a '|' stays a trap."""
    from photon_spark.plans.schedule import trap_flags

    urls = [
        "http://h.test/gal/img/gal/img/gal/p1",   # seg 'gal' x3 == limit
        "http://h.test/gal/img/gal/x",            # x2: near-miss, benign
        "http://h.test/" + "/".join(f"s{i}" for i in range(13)),  # depth 13
        "http://h.test/doc?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8",      # 8 params
        "http://h.test/doc?a=1&b=2&c=3&d=4&e=5&f=6&g=7",          # 7: benign
        "http://h.test",                          # no path at all
        "http://h.test/",                         # bare root
        "http://h.test/doc/9?ref=1",              # benign tail shape
        "http://h.test/gal/gal/gal/a|b",          # seg loop, '|'
        "http://h.test/x^y?a=1&b=2|3&c&d&e&f&g&h#f",  # 8 params, '^' '|'
        "http://h.test/x[y",                      # benign, '['
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: (
            r["depth"], r["max_seg_repeat"], r["n_params"],
            r["seg_loop"], r["too_deep"], r["param_blowup"], r["is_trap"],
        )
        for r in trap_flags(df, max_depth=12, max_params=8).collect()
    }
    assert got[urls[0]] == (6, 3, 0, True, False, False, True)
    assert got[urls[1]] == (4, 2, 0, False, False, False, False)
    assert got[urls[2]] == (13, 1, 0, False, True, False, True)
    assert got[urls[3]][2:] == (8, False, False, True, True)
    assert got[urls[4]] == (1, 1, 7, False, False, False, False)
    assert got[urls[5]] == (0, 0, 0, False, False, False, False)
    assert got[urls[6]] == (0, 0, 0, False, False, False, False)
    assert got[urls[7]] == (2, 1, 1, False, False, False, False)
    assert got[urls[8]] == (4, 3, 0, True, False, False, True)
    assert got[urls[9]] == (1, 1, 8, False, False, True, True)
    assert got[urls[10]] == (1, 1, 0, False, False, False, False)


@pytest.mark.slow
def test_crawl_trap_gate_skips_fetch_keeps_dataset(spark):
    """cfg.trap_gate drops trap-shaped candidates BEFORE scheduling
    (they are never fetched) while the `internal` dataset still
    records the discovered links (reference parity); the default
    crawl fetches them."""
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    root = "http://t.test"
    trap = "http://t.test/gal/img/gal/img/gal/p1"
    ok = "http://t.test/ok.html"

    def page(url, body):
        return {
            "doc_id": url,
            "spans": [
                {"kind": "text", "text": body, "media_ref": "", "offset": 0}
            ],
        }

    pages = spark.createDataFrame(
        [
            # one anchor per line (Q2: the reference regex keeps only
            # the LAST href on a physical line)
            page(root, f'<a href="{trap}">T</a>\n<a href="{ok}">O</a>'),
            page(trap, "<html>trap depths</html>"),
            page(ok, "<html>fine</html>"),
        ],
        schema=(
            "doc_id string, spans array<struct<"
            "kind:string,text:string,media_ref:string,offset:int>>"
        ),
    )
    default = run_crawl(spark, pages, root)
    gated = run_crawl(
        spark, pages, root, cfg=EngineConfig(trap_gate=(12, 8, 3))
    )
    default_fetched = {r["url"] for r in default.waves.collect()}
    gated_fetched = {r["url"] for r in gated.waves.collect()}
    assert trap in default_fetched
    assert trap not in gated_fetched
    assert ok in gated_fetched
    assert default_fetched - gated_fetched == {trap}
    # the discovered-links dataset is untouched by the gate
    assert (
        default.datasets["internal"].count()
        == gated.datasets["internal"].count()
    )


def test_snapshot_diff_statuses(spark):
    """Hand case covering all four outcomes: added (new only),
    removed (old only — wins even when the content also differs,
    by CASE order), changed (hash drift), unchanged (EXCLUDED)."""
    from photon_spark.plans.frontier import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")],
        "url string, content_hash string",
    )
    new = spark.createDataFrame(
        [("u2", "h2"), ("u3", "h3x"), ("u4", "h4")],
        "url string, content_hash string",
    )
    got = {
        r["url"]: (r["status"], r["old_hash"], r["new_hash"])
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        "u1": ("removed", "h1", None),
        "u3": ("changed", "h3", "h3x"),
        "u4": ("added", None, "h4"),
    }


@pytest.mark.slow
def test_crawl_robots_agent_group_selection(spark):
    """robots_agent picks the crawler's own User-agent group for
    gating: a /private Disallow living in a DIFFERENT bot's group does
    not gate us, while our group's rule does. Mini-site with a grouped
    robots.txt."""
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    host = "http://grp.test"
    robots = (
        "User-agent: otherbot\nDisallow: /mine\n\n"
        "User-agent: photonbot\nDisallow: /private\n\n"
        "User-agent: *\nDisallow: /both\n"
    )
    body = (
        "<html>\n"
        f"<a href={host}/mine.html>m</a>\n"
        f"<a href={host}/private.html>p</a>\n"
        f"<a href={host}/both.html>b</a>\n"
        "</html>"
    )
    rows = [
        (host, body),
        (host + "/robots.txt", robots),
        (host + "/mine.html", "<html>m</html>"),
        (host + "/private.html", "<html>p</html>"),
        (host + "/both.html", "<html>b</html>"),
    ]
    pages = spark.createDataFrame(
        [
            (d, [{"kind": "text", "text": b, "media_ref": "", "offset": 0}])
            for d, b in rows
        ],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>",
    )
    # all-lines parse (reference shape): every Disallow gates
    allres = run_crawl(
        spark, pages, host, cfg=EngineConfig(respect_robots=True)
    )
    fetched_all = {r["url"] for r in allres.waves.collect()}
    assert host + "/mine.html" not in fetched_all
    assert host + "/private.html" not in fetched_all
    assert host + "/both.html" not in fetched_all

    # our group only: otherbot's /mine rule and the * group don't gate
    ours = run_crawl(
        spark,
        pages,
        host,
        cfg=EngineConfig(respect_robots=True, robots_agent="photonbot"),
    )
    fetched = {r["url"] for r in ours.waves.collect()}
    assert host + "/mine.html" in fetched
    assert host + "/both.html" in fetched
    assert host + "/private.html" not in fetched

    # unknown agent: falls back to the * group
    anon = run_crawl(
        spark,
        pages,
        host,
        cfg=EngineConfig(respect_robots=True, robots_agent="mysterybot"),
    )
    fetched_anon = {r["url"] for r in anon.waves.collect()}
    assert fetched_anon and host + "/both.html" not in fetched_anon
    assert host + "/mine.html" in fetched_anon
    assert host + "/private.html" in fetched_anon


@pytest.mark.slow
@pytest.mark.parametrize("root", ["http://h.test", "http://h.test:8080"])
def test_crawl_robots_bind_root_with_port(spark, tmp_path, root):
    """Disallow and Crawl-delay bind the crawled host whether or not the
    root URL carries a port: the rules and the Crawl-delay row take
    their host from with_host's key of the root URL, the key
    robots_gate_rfc and schedule_wave match on, so the
    fetched paths and the per-wave cap are the same for both roots,
    fresh and across a store resume."""
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    robots = "User-agent: *\nDisallow: /private\nCrawl-delay: 30\n"
    paths = ["/public/a", "/public/b", "/public/c", "/private/a", "/public/d"]
    body = "<html>\n" + "".join(f'<a href="{p}">x</a>\n' for p in paths) + "</html>"
    rows = [(root, body), (root + "/robots.txt", robots)] + [
        (root + p, "<html>leaf</html>") for p in paths + ["/private"]
    ]
    pages = spark.createDataFrame(
        [
            (d, [{"kind": "text", "text": b, "media_ref": "", "offset": 0}])
            for d, b in rows
        ],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>",
    )
    cfg = EngineConfig(crawl_level=10, respect_robots=True, crawl_delay_window=60.0)

    def fetched_and_per_wave(res):
        waves = [(r["level"], r["url"][len(root):]) for r in res.waves.collect()]
        per_wave = [
            sum(1 for lv, _ in waves if lv == level)
            for level in sorted({lv for lv, _ in waves})
        ]
        return sorted(path for _, path in waves), per_wave

    # Disallow gates /private and /private/a; floor(60 / 30) = 2 per wave
    want = (["", "/public/a", "/public/b", "/public/c", "/public/d"], [1, 2, 2])
    assert fetched_and_per_wave(run_crawl(spark, pages, root, cfg=cfg)) == want

    store = CrawlStore(str(tmp_path / "robots_store"))
    assert (
        run_crawl(spark, pages, root, cfg=cfg, store=store, stop_after_wave=0)
        is None
    )
    resumed = run_crawl(spark, pages, root, cfg=cfg, store=store, resume=True)
    assert fetched_and_per_wave(resumed) == want


def _mini_site(spark, root, robots, paths):
    """Pages table of a root linking to each of ``paths``, one leaf page
    per path, and ``robots`` as its robots.txt."""
    body = "<html>\n" + "".join(f'<a href="{p}">x</a>\n' for p in paths) + "</html>"
    rows = [(root, body), (root + "/robots.txt", robots)] + [
        (root + p, "<html>leaf</html>") for p in paths
    ]
    return spark.createDataFrame(
        [
            (d, [{"kind": "text", "text": b, "media_ref": "", "offset": 0}])
            for d, b in rows
        ],
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>",
    )


def _fetched(res, root):
    return sorted(r["url"][len(root):] for r in res.waves.collect())


def test_crawl_robots_empty_rules_gate_nothing(spark):
    """An empty Disallow allows everything (RFC 9309 §2.2.2), and an
    empty Allow is no Disallow: an allow-all robots.txt gives the
    ungated crawl's waves, and beside a real rule gates only it."""
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    root = "http://allow.test"
    paths = ["/p1", "/p2", "/p3"]
    pages = _mini_site(spark, root, "User-agent: *\nDisallow: \n", paths)
    ungated = run_crawl(spark, pages, root)
    gated = run_crawl(spark, pages, root, cfg=EngineConfig(respect_robots=True))
    waves = {(r["url"], r["level"]) for r in ungated.waves.collect()}
    assert len(waves) == 4
    assert {(r["url"], r["level"]) for r in gated.waves.collect()} == waves

    pages = _mini_site(spark, root, "User-agent: *\nAllow: \nDisallow: /p2\n", paths)
    gated = run_crawl(spark, pages, root, cfg=EngineConfig(respect_robots=True))
    assert _fetched(gated, root) == ["", "/p1", "/p3"]


def test_crawl_robots_gates_urls_java_rejects(spark):
    """A link Java's URI parser rejects ('|' in its path or query) keys
    on its real host, so a Disallow of its host gates it: the gate does
    not fail open on it, and the link beside it is still fetched."""
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl

    root = "http://pipe.test"
    paths = ["/private/a|b", "/private?x=a|b", "/pub|x"]
    pages = _mini_site(spark, root, "User-agent: *\nDisallow: /private\n", paths)
    # ungated, the robots.txt seed /private is fetched too (core/zap.py)
    assert _fetched(run_crawl(spark, pages, root), root) == sorted(["", "/private", *paths])
    gated = run_crawl(spark, pages, root, cfg=EngineConfig(respect_robots=True))
    assert _fetched(gated, root) == ["", "/pub|x"]


def test_crawl_robots_agent_rfc_rules(spark, tmp_path):
    """Under robots_agent the chosen group's Allow and Disallow rules
    gate with RFC 9309 matching: a longer Allow re-opens a disallowed
    prefix, and a * pattern with a $ anchor gates only the exact path.
    Another bot's group gates nothing. A store crawl stopped after wave
    0 resumes to the same waves."""
    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore

    root = "http://agent.test"
    robots = (
        "User-agent: otherbot\nDisallow: /public\n\n"
        "User-agent: photonbot\n"
        "Disallow: /private\nAllow: /private/ok\nDisallow: /*.php$\n"
    )
    paths = ["/public", "/private/ok", "/private/x", "/a.php", "/a.php?x=1"]
    pages = _mini_site(spark, root, robots, paths)
    cfg = EngineConfig(respect_robots=True, robots_agent="photonbot")
    res = run_crawl(spark, pages, root, cfg=cfg)
    assert _fetched(res, root) == ["", "/a.php?x=1", "/private/ok", "/public"]

    store = CrawlStore(str(tmp_path / "agent_store"))
    assert run_crawl(spark, pages, root, cfg=cfg, store=store, stop_after_wave=0) is None
    resumed = run_crawl(spark, pages, root, cfg=cfg, store=store, resume=True)
    waves = {(r["url"], r["level"]) for r in res.waves.collect()}
    assert {(r["url"], r["level"]) for r in resumed.waves.collect()} == waves


# ---------------------------------------------------------------------------
# param_significance — learned URL-parameter folding


def test_param_significance_hand_built(spark):
    from photon_spark.plans.frontier import param_significance

    rows = [
        # sid: two evidence groups, value varies, content never does
        ("http://a.test/x?page=1&sid=7", "fpA1"),
        ("http://a.test/x?page=1&sid=8", "fpA1"),
        ("http://a.test/x?page=2&sid=7", "fpA2"),
        ("http://a.test/x?sid=9&page=2", "fpA2"),  # order must not matter
        # page: same groups read the other way -> content follows it
        # ref: only ONE multi-value group -> insufficient evidence
        ("http://a.test/y?ref=1", "fpY"),
        ("http://a.test/y?ref=2", "fpY"),
        # no query string -> contributes nothing
        ("http://a.test/plain", "fpP"),
        # other host: same param name, content DOES change -> per-host
        ("http://b.test/x?page=1&sid=1", "fpB1"),
        ("http://b.test/x?page=1&sid=2", "fpB2"),
    ]
    df = spark.createDataFrame(rows, "url string, fp string")
    out = {(r.host, r.param): r for r in param_significance(df).collect()}

    a_sid = out[("a.test", "sid")]
    assert (a_sid.multi_groups, a_sid.clean_groups, a_sid.irrelevant) == (2, 2, True)
    a_page = out[("a.test", "page")]
    assert a_page.irrelevant is False and a_page.clean_groups == 0
    a_ref = out[("a.test", "ref")]
    # clean but below min_groups evidence
    assert (a_ref.multi_groups, a_ref.irrelevant) == (1, False)
    b_sid = out[("b.test", "sid")]
    assert b_sid.irrelevant is False  # same name, different host verdict
    assert ("a.test", "plain") not in out


def test_canonicalize_idempotent_random_corpus(spark):
    """Canonicalization must be IDEMPOTENT: canon(canon(u)) == canon(u)
    for both the reference-contract canonicalizer and the extended
    (tracking-strip + param-sort) one. This is a seen-set safety
    invariant — a URL re-queued after canonicalization (resume,
    recrawl, cross-wave union) must map to the SAME dedup key, or the
    frontier re-crawls what it already fetched. Same seeded
    adversarial corpus style as the JVM≡pandas parity test, plus
    query-string shapes the parity corpus doesn't stress."""
    import random
    import string

    from photon_spark.plans.frontier import (
        canonicalize_urls,
        canonicalize_urls_ext,
    )

    rng = random.Random(4242)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp", "a+b-c.x", "x9"]
    hosts = ["Example.COM", "h0.test", "ümlaut.test", "127.0.0.1", "[::1]",
             "host:80", "Host:443", "host:8080", ""]
    paths = ["", "/", "/A/B", "/p#frag", "/#", "/%20 space", "/日本語"]
    queries = ["", "?", "?b=2&a=1", "?utm_source=x&q=1", "?fbclid=abc",
               "?a=1&a=1&", "?&&", "?q=%26&p=a%3Db", "?utm_=&gclid"]
    urls = []
    for _ in range(400):
        kind = rng.random()
        if kind < 0.7:
            urls.append(
                rng.choice(schemes) + "://" + rng.choice(hosts)
                + rng.choice(paths) + rng.choice(queries)
            )
        elif kind < 0.85:  # no scheme at all
            urls.append(
                "".join(rng.choice(string.printable[:94]) for _ in range(rng.randint(0, 30)))
                .replace("\n", "").replace("\r", "")
            )
        else:  # fragment/query-heavy garbage
            urls.append("x#y?" + rng.choice(hosts) + "#" + rng.choice(queries))
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    for fn in (canonicalize_urls, canonicalize_urls_ext):
        once = [r["url"] for r in fn(df).collect()]
        twice = [r["url"] for r in fn(fn(df)).collect()]
        bad = [(u, a, b) for u, a, b in zip(urls, once, twice) if a != b]
        assert not bad, (fn.__name__, bad[:5])
