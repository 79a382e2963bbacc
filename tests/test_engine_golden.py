"""Golden end-to-end tests: the Spark engine vs the pure-Python oracle.

The primary correctness gate (SURVEY.md §5.2(1)): for the same fixture
site + config, every dataset must be set-equal, wave membership equal
per URL, and emitted span sequences byte-equal.
"""

from __future__ import annotations

import pytest

from fixtures.gen import PAGES_SCHEMA, ROOT, _spanify, page_bodies, pages_df
from oracle.photon_oracle import crawl as oracle_crawl
from photon_spark.config import EngineConfig
from photon_spark.crawl import run_crawl


def assert_match(engine_result, oracle_result):
    got = engine_result.to_sets()
    want = {k: set(map(str, v)) for k, v in oracle_result.datasets.items()}
    for name in want:
        assert got[name] == want[name], (
            f"dataset {name!r} mismatch:\n"
            f"  engine-only: {sorted(got[name] - want[name])[:10]}\n"
            f"  oracle-only: {sorted(want[name] - got[name])[:10]}"
        )
    got_waves = {
        r["url"]: r["level"] for r in engine_result.waves.collect()
    }
    assert got_waves == oracle_result.waves
    assert engine_result.processed_count == len(oracle_result.processed)


@pytest.mark.parametrize("level", [1, 2, 4])
def test_golden_crawl_levels(spark, fixture_pages, level):
    cfg = EngineConfig(crawl_level=level)
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(page_bodies(), ROOT, crawl_level=level)
    assert_match(eng, ora)


def test_golden_only_urls(spark, fixture_pages):
    cfg = EngineConfig(only_urls=True)
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(page_bodies(), ROOT, only_urls=True)
    assert_match(eng, ora)


def test_golden_exclude(spark, fixture_pages):
    cfg = EngineConfig(exclude=r"/d\d")
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(page_bodies(), ROOT, exclude=r"/d\d")
    assert_match(eng, ora)


def test_golden_custom_regex_and_keys(spark, fixture_pages):
    cfg = EngineConfig(custom_regex=r"pan \d{16}", extract_keys=True)
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(
        page_bodies(), ROOT, custom_regex=r"pan \d{16}", extract_keys=True
    )
    assert_match(eng, ora)


def test_golden_corrected_entropy_mode(spark, fixture_pages):
    cfg = EngineConfig(extract_keys=True, faithful_py3=False)
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(
        page_bodies(), ROOT, extract_keys=True, faithful_py3=False
    )
    assert_match(eng, ora)


def test_golden_seeds(spark, fixture_pages):
    seeds = ("http://h0.fixture.test/a2.html",)
    cfg = EngineConfig(seeds=seeds)
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(page_bodies(), ROOT, seeds=seeds)
    assert_match(eng, ora)


def test_golden_trailing_slash_root(spark, fixture_pages):
    eng = run_crawl(spark, fixture_pages, ROOT + "/")
    ora = oracle_crawl(page_bodies(), ROOT)
    assert_match(eng, ora)


def test_bloom_path_identical(spark, fixture_pages):
    eng = run_crawl(spark, fixture_pages, ROOT, use_bloom=True)
    ora = oracle_crawl(page_bodies(), ROOT)
    assert_match(eng, ora)


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["sharded"])
def test_alternate_seen_filters_identical(spark, fixture_pages, kind, monkeypatch):
    """The seen filter run_crawl(use_bloom=True) builds is the
    bucket-sharded UrlBloom; it must yield the byte-identical crawl —
    the anti-join backstop keeps it exact."""
    from photon_spark.plans.frontier import UrlBloom

    built = []
    build = UrlBloom.build.__func__

    def recording_build(cls, *args, **kwargs):
        bloom = build(cls, *args, **kwargs)
        built.append(bloom)
        return bloom

    monkeypatch.setattr(UrlBloom, "build", classmethod(recording_build))
    eng = run_crawl(spark, fixture_pages, ROOT, use_bloom=True)
    ora = oracle_crawl(page_bodies(), ROOT)
    assert_match(eng, ora)
    assert built and all(b.n_buckets > 1 for b in built)


def test_bloom_path_resume_identical(spark, fixture_pages, tmp_path, monkeypatch):
    """Bloom path over a store: crash after wave 0, resume with the
    bloom rebuilt over the RELOADED `processed` — the result equals an
    uninterrupted plain crawl."""
    from photon_spark.plans.frontier import UrlBloom
    from photon_spark.plans.storage import CrawlStore

    builds = []
    build = UrlBloom.build

    def counting_build(*args, **kwargs):
        builds.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(UrlBloom, "build", counting_build)
    full = run_crawl(spark, fixture_pages, ROOT)
    store = CrawlStore(str(tmp_path / "bloom_store"))
    assert (
        run_crawl(
            spark, fixture_pages, ROOT, store=store, stop_after_wave=0,
            use_bloom=True,
        )
        is None
    )
    resumed = run_crawl(
        spark, fixture_pages, ROOT, store=store, resume=True, use_bloom=True
    )
    assert builds  # the resumed waves really took the bloom path
    assert resumed.to_sets() == full.to_sets()
    assert resumed.processed_count == full.processed_count


def test_bloom_sized_to_processed(spark, fixture_pages, monkeypatch):
    """Each wave's bloom is sized by processed_count: never below the
    set it is built over (so its fpp holds), never above what the
    crawl ever processes (no fixed 1M-key bitmap for a small crawl)."""
    from photon_spark.plans.frontier import UrlBloom

    sized = []
    build = UrlBloom.build.__func__

    def recording_build(cls, df, col, expected, *args, **kwargs):
        sized.append((df.count(), expected))
        return build(cls, df, col, expected, *args, **kwargs)

    monkeypatch.setattr(UrlBloom, "build", classmethod(recording_build))
    eng = run_crawl(spark, fixture_pages, ROOT, use_bloom=True)
    assert sized
    for n, expected in sized:
        assert n <= expected <= eng.processed_count


def test_span_sequences_byte_equal(spark, fixture_pages):
    """input_hint invariant: span sequences of every emitted (fetched)
    document equal the source (kind, text, media_ref, order)."""
    eng = run_crawl(spark, fixture_pages, ROOT)
    fetched_urls = {r["url"] for r in eng.waves.collect()}
    emitted = (
        fixture_pages.filter(fixture_pages.doc_id.isin(list(fetched_urls)))
        .collect()
    )
    src = {r["doc_id"]: r["spans"] for r in pages_df(spark.sparkSession if hasattr(spark, 'sparkSession') else spark).collect()}
    assert len(emitted) > 0
    for row in emitted:
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in src[row["doc_id"]]]
        assert got == want, row["doc_id"]


def test_golden_invalid_custom_regex_suppressed(spark, fixture_pages):
    """Q18: an unparseable -r regex is silently suppressed (the
    reference swallows re.error in its thread pool) — crawl output is
    identical to a run with no custom regex at all."""
    cfg = EngineConfig(custom_regex=r"([unclosed")
    eng = run_crawl(spark, fixture_pages, ROOT, cfg)
    ora = oracle_crawl(page_bodies(), ROOT)
    assert eng.datasets["custom"].count() == 0
    assert_match(eng, ora)


def test_empty_pages_table(spark):
    """An empty web: every fetch misses ('dummy' body, Q11). The crawl
    terminates after the level budget with the seed URL as the only
    internal member and every extraction dataset empty."""
    from fixtures.gen import pages_df

    empty = pages_df(spark).limit(0)
    res = run_crawl(spark, empty, ROOT)
    sets = res.to_sets()
    assert sets["internal"] == {ROOT}
    for name in ("files", "scripts", "external", "fuzzable", "endpoints",
                 "bad_intel", "custom", "keys"):
        assert sets.get(name, set()) == set(), name


def _site_df(spark, bodies):
    return spark.createDataFrame(
        [{"doc_id": u, "spans": _spanify(u, b)} for u, b in sorted(bodies.items())],
        schema=PAGES_SCHEMA,
    )


def test_bracketed_external_link_matches_oracle(spark):
    """An external link urlparse rejects (an unclosed '[': "Invalid IPv6
    URL") has no registered domain, as the reference's try/except around
    get_tld gives (photon.py:362-368, Q9): the intel assembly keeps
    going, and the crawl matches the oracle."""
    root = "http://bracket.test"
    bodies = {root: "<html>\n<a href=http://[x/>x</a>\nmail alice@example.com\n</html>"}
    eng = run_crawl(spark, _site_df(spark, bodies), root)
    ora = oracle_crawl(bodies, root)
    assert "http://[x/" in ora.datasets["external"]
    assert_match(eng, ora)


@pytest.mark.parametrize("cfg", [EngineConfig(), EngineConfig(trap_gate=(12, 8, 3))])
def test_unparseable_internal_links_match_oracle(spark, cfg):
    """Internal links Java's URI parser rejects ('[', '^', '|') are
    scheduled under their real host and pass the trap gate by their
    real path, not an error that aborts the crawl (parse_url raises on
    them under ANSI mode)."""
    root = "http://pipe.test"
    links = ["/x[y", "/q^r", "/a|b", "/ok"]
    bodies = {
        root: "<html>\n" + "".join(f'<a href="{p}">x</a>\n' for p in links) + "</html>",
        root + "/ok": "<html>ok</html>",
    }
    eng = run_crawl(spark, _site_df(spark, bodies), root, cfg=cfg)
    ora = oracle_crawl(bodies, root)
    assert {root + p for p in links} <= set(ora.waves)
    assert_match(eng, ora)
