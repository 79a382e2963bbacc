"""S1 production fetch path, socket-level end-to-end (VERDICT r3 item 6).

Spins a real loopback ``http.server`` serving the fixture site (URLs
rewritten to 127.0.0.1:port) and drives the full crawl through
``requests_transport`` — real sockets, real `requests` session
semantics: UA rotation reaching the wire, redirect cap 3
(reference core/requester.py:8-9), content-type gate
(requester.py:58-70, Q11), failure → 'dummy' sentinel (Q5/Q6).

The earlier test_fetch_http.py covers the injectable-transport half;
this closes the production half: the bytes leave the process.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from fixtures.gen import PAGES_SCHEMA, ROOT, _spanify, page_bodies
from oracle.photon_oracle import crawl as oracle_crawl
from photon_spark.config import DUMMY
from photon_spark.crawl import run_crawl
from photon_spark.sources.fetch_http import (
    DEFAULT_USER_AGENTS,
    fetch_stage,
    requests_transport,
)


class _FixtureHandler(BaseHTTPRequestHandler):
    """Serves the rewritten fixture site plus redirect/content-type
    probe paths. Class attributes are populated by the fixture below;
    requests arrive from Spark's worker processes, the server thread
    lives in the test process, so `seen_headers` is visible to asserts.
    """

    bodies: dict[str, str] = {}
    seen_headers: dict[str, dict] = {}
    lock = threading.Lock()

    def log_message(self, *a):  # silence per-request stderr noise
        pass

    def do_GET(self):  # noqa: N802 (http.server API)
        path = self.path
        with self.lock:
            self.seen_headers[path] = dict(self.headers)
        # redirect chain: /redir/<n> hops to <n+1> until /redir/final
        if path.startswith("/redir/"):
            tail = path.rsplit("/", 1)[1]
            if tail == "final":
                body = b"<html>landed</html>"
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                n = int(tail)
                nxt = "final" if n >= self.chain_len else str(n + 1)
                self.send_response(302)
                self.send_header("Location", f"/redir/{nxt}")
                self.send_header("Content-Length", "0")
                self.end_headers()
            return
        if path == "/binary":
            body = b"\x89PNG not text"
            self.send_response(200)
            self.send_header("Content-Type", "application/octet-stream")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        if path in self.bodies:
            body = self.bodies[path].encode("utf-8")
            ctype = (
                "text/plain" if path.endswith("robots.txt") else "text/html"
            )
            self.send_response(200)
            self.send_header("Content-Type", f"{ctype}; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        self.send_response(404)
        self.send_header("Content-Length", "0")
        self.end_headers()

    chain_len = 3  # /redir/1 → 2 → 3 → final: exactly 3 hops


@pytest.fixture(scope="module")
def site():
    """(local_root, bodies_local) with a live loopback server.

    Every fixture URL and every in-body absolute reference is rewritten
    from the synthetic host to 127.0.0.1:port, so extracted links
    resolve back to the server. The fixture's *.js / sitemap pages are
    served as text/html: the content-type gate is probed separately
    (/binary) so the site crawl stays comparable to the oracle, which
    has no per-type gate in its table-driven network.
    """
    server = ThreadingHTTPServer(("127.0.0.1", 0), _FixtureHandler)
    port = server.server_address[1]
    local_root = f"http://127.0.0.1:{port}"
    paths: dict[str, str] = {}
    bodies_local: dict[str, str] = {}
    for url, body in page_bodies().items():
        body = body.replace(ROOT, local_root)
        local_url = url.replace(ROOT, local_root)
        path = local_url[len(local_root):] or "/"
        paths[path] = body
        bodies_local[local_url] = body
    # HTTP cannot distinguish the empty path from '/': a link that
    # resolves to `root + '/'` serves the root page on the wire, while
    # the oracle's exact-string network would call it absent. Give the
    # oracle the same alias the socket already has (reference Photon
    # over a real network behaves like the wire, not like the dict).
    bodies_local[local_root + "/"] = paths["/"]
    _FixtureHandler.bodies = paths
    _FixtureHandler.seen_headers = {}
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield local_root, bodies_local
    finally:
        server.shutdown()
        t.join(timeout=5)


def _pages_df(spark, bodies: dict[str, str]):
    rows = [
        {"doc_id": url, "spans": _spanify(url, body)}
        for url, body in sorted(bodies.items())
    ]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def test_crawl_over_real_sockets_matches_oracle(spark, site):
    """Full crawl through requests_transport over the wire equals the
    pure-Python oracle run on the same (rewritten) site."""
    local_root, bodies_local = site
    res = run_crawl(
        spark,
        _pages_df(spark, bodies_local),
        local_root,
        fetcher=lambda wave: fetch_stage(
            wave, transport_factory=requests_transport
        ),
    )
    got = res.to_sets()
    want = oracle_crawl(bodies_local, local_root, crawl_level=2).datasets
    for name in ("internal", "external", "scripts", "files", "intel",
                 "robots", "fuzzable", "endpoints"):
        assert got[name] == want[name], name
    # the wire really was used: the server saw the root request with a
    # UA from the rotation pool and the default header set
    seen = _FixtureHandler.seen_headers
    assert "/" in seen
    assert seen["/"]["User-Agent"] in DEFAULT_USER_AGENTS
    assert seen["/"].get("Accept-Encoding") == "gzip"


def test_redirect_cap_and_content_type_gate_on_wire(spark, site):
    """3 redirects are followed (reference SESSION.max_redirects=3); a
    4-hop chain aborts → sentinel; non-text content types → sentinel
    with real status (Q11); 404 keeps its body-less sentinel too."""
    local_root, _ = site
    _FixtureHandler.chain_len = 3
    wave = spark.createDataFrame(
        [
            (f"{local_root}/redir/1", 0),       # 3 hops → lands
            (f"{local_root}/binary", 0),        # gate → dummy, status 200
            (f"{local_root}/absent-page", 0),   # 404, not text → dummy
        ],
        "url string, level int",
    )
    rows = {
        r["url"]: r
        for r in fetch_stage(
            wave, transport_factory=requests_transport
        ).collect()
    }
    assert rows[f"{local_root}/redir/1"]["status"] == 200
    assert "landed" in rows[f"{local_root}/redir/1"]["body"]
    assert rows[f"{local_root}/binary"]["status"] == 200
    assert rows[f"{local_root}/binary"]["body"] == DUMMY
    assert rows[f"{local_root}/absent-page"]["status"] == 404
    assert rows[f"{local_root}/absent-page"]["body"] == DUMMY

    # 4-hop chain: requests raises TooManyRedirects inside the
    # transport → fetch_stage maps it to (0, dummy), where the
    # reference lands via its swallowed exception (Q6)
    _FixtureHandler.chain_len = 4
    try:
        wave4 = spark.createDataFrame(
            [(f"{local_root}/redir/1", 0)], "url string, level int"
        )
        r4 = fetch_stage(
            wave4, transport_factory=requests_transport
        ).collect()[0]
        assert r4["status"] == 0 and r4["body"] == DUMMY
    finally:
        _FixtureHandler.chain_len = 3


class _ProxyHandler(BaseHTTPRequestHandler):
    """Minimal HTTP forward proxy: a proxied GET arrives with an
    ABSOLUTE request-URI (RFC 9112 §3.2.2) — recording it proves the
    request really went through the proxy, and serving from a canned
    map means the 'origin' host needs no DNS at all."""

    bodies: dict[str, str] = {}
    etags: dict[str, str] = {}  # absolute URI -> ETag the origin serves
    seen_uris: list[str] = []
    seen_headers: dict[str, dict] = {}
    lock = threading.Lock()

    def log_message(self, *a):
        pass

    def do_GET(self):  # noqa: N802
        with self.lock:
            self.seen_uris.append(self.path)
            self.seen_headers[self.path] = dict(self.headers)
        etag = self.etags.get(self.path)
        if etag is not None and self.headers.get("If-None-Match") == etag:
            self.send_response(304)
            self.send_header("ETag", etag)
            self.end_headers()
            return
        body = self.bodies.get(self.path)
        if body is None:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        data = body.encode("utf-8")
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        if etag is not None:
            self.send_header("ETag", etag)
        self.end_headers()
        self.wfile.write(data)


def test_proxy_plumbing_on_wire(spark):
    """T15 (reference core/utils.py:165-180 + requester.py:55): the
    production transport routes through the configured proxy — the
    proxy sees the absolute request-URI for a host that resolves
    nowhere, which only works if requests actually used it."""
    from photon_spark.sources.fetch_http import parse_proxy, pick_proxy

    _ProxyHandler.bodies = {
        "http://phantom.fixture.test/p1": "<html>via proxy 1</html>",
        "http://phantom.fixture.test/p2": "<html>via proxy 2</html>",
    }
    _ProxyHandler.seen_uris = []
    server = ThreadingHTTPServer(("127.0.0.1", 0), _ProxyHandler)
    pport = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        proxies = parse_proxy(f"127.0.0.1:{pport}")
        assert proxies == [
            {"http": f"127.0.0.1:{pport}", "https": f"127.0.0.1:{pport}"}
        ]
        wave = spark.createDataFrame(
            [
                ("http://phantom.fixture.test/p1", 0),
                ("http://phantom.fixture.test/p2", 0),
            ],
            "url string, level int",
        )
        rows = {
            r["url"]: r
            for r in fetch_stage(
                wave,
                transport_factory=lambda: requests_transport(proxies=proxies),
            ).collect()
        }
        assert "via proxy 1" in rows["http://phantom.fixture.test/p1"]["body"]
        assert "via proxy 2" in rows["http://phantom.fixture.test/p2"]["body"]
        assert set(_ProxyHandler.seen_uris) == set(_ProxyHandler.bodies)
    finally:
        server.shutdown()
    # deterministic rotation: crc32(url) picks a stable pool member
    pool = [{"http": "a:1"}, {"http": "b:2"}, {"http": "c:3"}]
    picks = [pick_proxy(f"http://x.test/{i}", pool) for i in range(50)]
    assert picks == [pick_proxy(f"http://x.test/{i}", pool) for i in range(50)]
    assert len({id(p) for p in picks}) > 1  # the pool actually rotates
    assert pick_proxy("http://x.test/", None) is None


def test_revalidation_wave_through_proxy(spark):
    """A recrawl wave (stored ETag attached) goes through the same
    production stage as the crawl, so --proxy reaches it: the proxy
    sees the absolute URI with If-None-Match, and its 304 comes back
    as a not-modified row; a row without a validator is a plain GET
    whose response ETag is recorded."""
    from photon_spark.sources.fetch_http import parse_proxy

    cached = "http://phantom.fixture.test/cached"
    fresh = "http://phantom.fixture.test/fresh"
    _ProxyHandler.bodies = {cached: "<html>c</html>", fresh: "<html>f</html>"}
    _ProxyHandler.etags = {cached: '"c1"', fresh: '"f1"'}
    _ProxyHandler.seen_uris = []
    _ProxyHandler.seen_headers = {}
    server = ThreadingHTTPServer(("127.0.0.1", 0), _ProxyHandler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        wave = spark.createDataFrame(
            [(cached, 1, '"c1"', None), (fresh, 1, None, None)],
            "url string, level int, etag string, last_modified string",
        )
        rows = {
            r["url"]: r
            for r in fetch_stage(
                wave,
                proxies=parse_proxy(f"127.0.0.1:{server.server_address[1]}"),
            ).collect()
        }
    finally:
        _ProxyHandler.etags = {}
        server.shutdown()
        server.server_close()
    assert _ProxyHandler.seen_headers[cached].get("If-None-Match") == '"c1"'
    assert "If-None-Match" not in _ProxyHandler.seen_headers[fresh]
    c, f = rows[cached], rows[fresh]
    assert (c["status"], c["body"], c["etag"], c["not_modified"]) == (
        304, "", '"c1"', True
    )
    assert (f["status"], f["etag"], f["not_modified"]) == (200, '"f1"', False)
    assert "<html>f</html>" in f["body"]


def test_cookie_rides_to_the_wire(spark, site):
    """Reference -c/--cookie (photon.py:60, requester.py:50): the
    configured cookie must arrive in the socket-level request."""
    local_root, _ = site
    wave = spark.createDataFrame(
        [(f"{local_root}/a.html", 0)], "url string, level int"
    )
    fetch_stage(
        wave,
        transport_factory=requests_transport,
        cookie="sid=e2e-cookie",
    ).collect()
    assert (
        _FixtureHandler.seen_headers["/a.html"].get("Cookie")
        == "sid=e2e-cookie"
    )


def test_is_good_proxy_liveness_probe_on_wire():
    """T15 completion (reference core/utils.py:197-205 +
    photon.py:126-136): a live loopback proxy passes the probe, a
    closed port fails it, and vet_proxies keeps exactly the live ones
    in order. Uses the real requests path — bytes leave the process."""
    import socket

    from photon_spark.sources.fetch_http import is_good_proxy, vet_proxies

    _ProxyHandler.bodies = {"http://example.com/": "<html>probe ok</html>"}
    _ProxyHandler.seen_uris = []
    server = ThreadingHTTPServer(("127.0.0.1", 0), _ProxyHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        live = f"127.0.0.1:{server.server_address[1]}"
        # grab a port that is closed (bind+close, nothing listening)
        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        dead_port = s.getsockname()[1]
        s.close()
        dead = f"127.0.0.1:{dead_port}"

        live_p = {"http": f"http://{live}", "https": f"http://{live}"}
        dead_p = {"http": f"http://{dead}", "https": f"http://{dead}"}

        assert is_good_proxy(live_p, probe_url="http://example.com/") is True
        assert is_good_proxy(dead_p, probe_url="http://example.com/") is False
        assert vet_proxies([dead_p, live_p]) == [live_p]
        # the probe really went through the proxy: absolute-URI seen
        assert "http://example.com/" in _ProxyHandler.seen_uris
    finally:
        server.shutdown()
        server.server_close()


def test_is_good_proxy_injected_probe():
    """The injectable-transport half: any raise — timeout or not —
    means dead (the reference's two except arms both return False)."""
    from photon_spark.sources.fetch_http import is_good_proxy

    seen = []

    def ok_probe(url, pip, t):
        seen.append((url, pip, t))

    def boom(url, pip, t):
        raise ConnectionError("refused")

    p = {"http": "http://10.0.0.1:8080", "https": "http://10.0.0.1:8080"}
    assert is_good_proxy(p, probe=ok_probe, timeout=1.5) is True
    assert seen == [("http://example.com", p, 1.5)]
    assert is_good_proxy(p, probe=boom) is False
