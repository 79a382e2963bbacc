"""S1 production fetch stage: the mapInPandas HTTP fetcher driven by a
fixture-backed fake transport must reproduce the join-fetch crawl
EXACTLY, plus unit semantics (content-type gate, failure sentinel,
deterministic UA rotation)."""

from __future__ import annotations

import pytest

from fixtures.gen import ROOT, page_bodies, pages_df
from photon_spark.config import DUMMY
from photon_spark.crawl import run_crawl
from photon_spark.sources.fetch_http import fetch_stage


def _fake_transport_factory():
    bodies = page_bodies()  # closure-shipped to executors

    def make():
        def do(url, headers, timeout):
            assert headers.get("User-Agent")  # UA always set
            if url in bodies:
                return 200, "text/html; charset=utf-8", bodies[url], {}
            raise ConnectionError(url)

        return do

    return make


def test_fetch_stage_semantics(spark):
    wave = spark.createDataFrame(
        [(ROOT, 0), (ROOT + "/nope", 0)], "url string, level int"
    )
    rows = {
        r["url"]: r
        for r in fetch_stage(wave, transport_factory=_fake_transport_factory()).collect()
    }
    assert rows[ROOT]["status"] == 200
    assert "<html" in rows[ROOT]["body"]
    # failure → sentinel body (Q5/Q6/Q11 mapping)
    assert rows[ROOT + "/nope"]["body"] == DUMMY
    assert rows[ROOT + "/nope"]["status"] == 0


def test_fetch_headers_and_cookie_reach_transport(spark):
    """Reference -c/--cookie (photon.py:60) and custom header dict
    (core/utils.py:124-137 → requester.py:37): injected headers must
    REPLACE the default set and the cookie must ride every request."""
    import json

    def factory():
        def do(url, headers, t):
            # echo the headers through the body — the worker runs in a
            # separate process, so a closure dict would not be visible
            return 200, "text/html", json.dumps(dict(headers)), {}

        return do

    wave = spark.createDataFrame([("http://x.test/a", 0)], "url string, level int")
    rows = fetch_stage(
        wave,
        transport_factory=factory,
        headers={"X-Api": "k1", "User-Agent": "custom-ua"},
        cookie="sid=abc123",
    ).collect()
    h = json.loads(rows[0]["body"])
    assert h["X-Api"] == "k1"
    assert h["User-Agent"] == "custom-ua"  # custom dict replaces rotation
    assert h["Cookie"] == "sid=abc123"
    assert "Accept-Language" not in h  # defaults replaced wholesale

    # verbatim semantics (requester.py:37 `headers or {...}`): a custom
    # dict WITHOUT a UA is sent as-is — no UA injected
    rows2 = fetch_stage(
        wave, transport_factory=factory, headers={"X-Only": "v"}
    ).collect()
    h2 = json.loads(rows2[0]["body"])
    assert h2 == {"X-Only": "v"}


def test_fetch_ua_rotation_deterministic(spark):
    """UA choice is crc32-keyed (process-independent) — same URL, same
    UA, on every call and in any worker."""
    import zlib

    from photon_spark.sources.fetch_http import DEFAULT_USER_AGENTS, pick_user_agent

    url = "http://x.test/page?q=1"
    want = DEFAULT_USER_AGENTS[zlib.crc32(url.encode()) % len(DEFAULT_USER_AGENTS)]
    assert pick_user_agent(url, DEFAULT_USER_AGENTS) == want


def test_fetch_stage_content_type_gate(spark):
    def factory():
        def do(url, headers, t):
            if url.endswith("bin"):
                return 200, "application/octet-stream", "BINARY", {}
            return 200, "text/plain", "PLAIN", {}

        return do

    wave = spark.createDataFrame(
        [("http://x.test/a.bin", 0), ("http://x.test/a.txt", 0)],
        "url string, level int",
    )
    rows = {r["url"]: r["body"] for r in fetch_stage(wave, transport_factory=lambda: factory()).collect()}
    assert rows["http://x.test/a.bin"] == DUMMY
    assert rows["http://x.test/a.txt"] == "PLAIN"


def test_fetch_stage_plain_wave_records_response_validators(spark):
    """A plain (url, level) wave's rows carry the response's ETag /
    Last-Modified (header names matched case-insensitively) — the
    validators a later recrawl wave sends back."""

    def factory():
        def do(url, headers, t):
            if url.endswith("/v"):
                return 200, "text/html", "V", {
                    "etag": '"e1"', "Last-Modified": "Tue, 01 Jan 2026 00:00:00 GMT"
                }
            return 200, "text/html", "N", {}

        return do

    wave = spark.createDataFrame(
        [("http://x.test/v", 0), ("http://x.test/none", 0)], "url string, level int"
    )
    rows = {
        r["url"]: (r["status"], r["body"], r["etag"], r["last_modified"], r["not_modified"])
        for r in fetch_stage(wave, transport_factory=factory).collect()
    }
    assert rows == {
        "http://x.test/v": (200, "V", '"e1"', "Tue, 01 Jan 2026 00:00:00 GMT", False),
        "http://x.test/none": (200, "N", None, None, False),
    }


def _redirect_site():
    """Single-hop fake site: /r1→/r2→/r3→/final (3 redirects, legal),
    /a→/b→/c→/d→/deep (4 redirects, over budget), /rel redirects with a
    RELATIVE Location, /dead redirects into a connection failure."""

    def hop(url, headers, timeout):
        chains = {
            "http://x.test/r1": (301, "http://x.test/r2"),
            "http://x.test/r2": (302, "http://x.test/r3"),
            "http://x.test/r3": (307, "http://x.test/final"),
            "http://x.test/a": (301, "http://x.test/b"),
            "http://x.test/b": (301, "http://x.test/c"),
            "http://x.test/c": (301, "http://x.test/d"),
            "http://x.test/d": (301, "http://x.test/deep"),
            "http://x.test/rel": (303, "sub/page"),
            "http://x.test/dead": (301, "http://x.test/gone"),
        }
        if url in chains:
            status, loc = chains[url]
            return status, "text/html", "", {"Location": loc}
        if url == "http://x.test/gone":
            raise ConnectionError(url)
        if url == "http://x.test/noloc":
            return 301, "text/html", "NO-LOCATION-BODY", {}
        return 200, "text/html", f"BODY:{url}", {}

    return hop


def test_with_redirects_follows_up_to_three():
    """≤3 hops followed to the final body; the 4th redirect raises —
    requests.Session(max_redirects=3) parity (requester.py:8-9)."""
    import pytest

    from photon_spark.sources.fetch_http import TooManyRedirects, with_redirects

    t = with_redirects(_redirect_site())
    assert t("http://x.test/r1", {}, 1.0) == (
        200, "text/html", "BODY:http://x.test/final", {}
    )
    with pytest.raises(TooManyRedirects):
        t("http://x.test/a", {}, 1.0)
    # relative Location resolves against the current URL (RFC 9110)
    assert t("http://x.test/rel", {}, 1.0)[2] == "BODY:http://x.test/sub/page"
    # 30x without Location is a final response, not a hop
    assert t("http://x.test/noloc", {}, 1.0) == (
        301, "text/html", "NO-LOCATION-BODY", {}
    )


def test_fetch_stage_redirect_and_error_paths(spark):
    """Through the full Arrow stage: a legal chain lands the final
    body under the ORIGINAL url (the row identity the wave loop marks
    processed — intermediate hops are never marked); an over-budget
    chain and a mid-chain transport failure both collapse to the
    'dummy' sentinel, the reference's swallow-everything path (Q6)."""
    from photon_spark.sources.fetch_http import with_redirects

    def factory():
        return with_redirects(_redirect_site())

    wave = spark.createDataFrame(
        [
            ("http://x.test/r1", 0),   # 3 redirects: legal
            ("http://x.test/a", 0),    # 4 redirects: over budget
            ("http://x.test/dead", 0), # redirect into a dead host
        ],
        "url string, level int",
    )
    rows = {
        r["url"]: r
        for r in fetch_stage(wave, transport_factory=factory).collect()
    }
    # final body, keyed by the ORIGINAL scheduled url
    assert rows["http://x.test/r1"]["body"] == "BODY:http://x.test/final"
    assert rows["http://x.test/r1"]["status"] == 200
    assert "http://x.test/final" not in rows  # hop urls are not rows
    # TooManyRedirects → sentinel (status 0, failure mapping)
    assert rows["http://x.test/a"]["body"] == DUMMY
    assert rows["http://x.test/a"]["status"] == 0
    # mid-chain ConnectionError → sentinel
    assert rows["http://x.test/dead"]["body"] == DUMMY
    assert rows["http://x.test/dead"]["status"] == 0


@pytest.mark.slow
def test_http_crawl_equals_join_crawl(spark):
    """Full crawl through the HTTP stage == full crawl through the
    pages-table join, dataset for dataset."""
    pages = pages_df(spark)
    factory = _fake_transport_factory()

    def http_fetcher(wave_df):
        return fetch_stage(wave_df, transport_factory=factory)

    a = run_crawl(spark, pages, ROOT)
    b = run_crawl(spark, pages, ROOT, fetcher=http_fetcher)
    sa, sb = a.to_sets(), b.to_sets()
    assert sa == sb
    wa = {(r["url"], r["level"]) for r in a.waves.collect()}
    wb = {(r["url"], r["level"]) for r in b.waves.collect()}
    assert wa == wb
