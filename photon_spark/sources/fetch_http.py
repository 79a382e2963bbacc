"""S1 production fetch stage — per-partition HTTP GET over Arrow
batches (the stage the sandbox's pages-table join stands in for).

Reproduces the reference requester's observable semantics
(reference core/requester.py:11-72):

* per-request politeness delay before EVERY request (requester.py:33;
  Q26: a single global delay, applied here within each partition —
  partitions are host-keyed by schedule_wave, so this is per-host
  pacing with cross-host parallelism, a strict superset).
* default header set (Host / User-Agent / Accept / Accept-Language /
  Accept-Encoding / DNT / Connection) mirroring requester.py:37-45;
  a caller-supplied headers dict REPLACES the defaults wholesale,
  exactly like `headers or {...}` at requester.py:37 (the reference's
  interactive --headers editor, core/utils.py:124-137, builds that
  dict; here it's a plain parameter).
* cookie support (reference -c/--cookie, photon.py:60): attached to
  every request alongside the headers, as requester.py:50 does via
  `cookies=cook`. We carry it as a Cookie header so any transport
  sees it.
* user-agent rotation (requester.py:40; the reference uses
  random.choice — we rotate deterministically by crc32(url) so runs
  are reproducible regardless of PYTHONHASHSEED; Python's builtin
  hash() is siphash-salted per process and must not be used here).
* content-type gate: body only for text/html or text/plain, else the
  'dummy' sentinel (requester.py:58-70, Q11).
* any transport failure ⇒ 'dummy' (the reference swallows exceptions
  in flash, Q6; and its 404 check never fires, Q5 — `failed` stays
  empty, so errors map to the sentinel body here too).
* session reuse: one transport per partition (requester.py:8 SESSION —
  TCP connection reuse per executor task).
* conditional revalidation (engine addition; the reference never
  revisits a URL): a wave row carrying a stored ``etag`` /
  ``last_modified`` sends ``If-None-Match`` / ``If-Modified-Since``,
  and a 304 answer to such a request is the not-modified row
  ``fetch_cond.apply_revalidation`` merges (RFC 9110 §13).

``transport(url, headers: dict, timeout) -> (status, content_type,
text, response_headers)`` is injectable: tests drive the stage with a
fixture-backed fake (no network needed); production uses
`requests_transport`. The default header set carries the rotated
'User-Agent'; a custom dict is sent VERBATIM (reference semantics),
plus 'Cookie' on either when one is configured.
"""

from __future__ import annotations

import time
import zlib
from typing import Callable, Iterator, Mapping, Tuple
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photon_spark.config import DUMMY

# (url, headers, timeout) -> (status, content_type, text, response_headers)
Transport = Callable[
    [str, Mapping[str, str], float], Tuple[int, str, str, Mapping[str, str]]
]

# etag/last_modified: the RESPONSE validators (null when the origin
# sent none), except on a 304 row, which echoes the validators that
# were SENT — they still name the stored representation (RFC 9110
# §13.1.2); its body is empty (the merge keeps the stored one).
FETCH_SCHEMA = (
    "url string, level int, status int, body string, "
    "etag string, last_modified string, not_modified boolean"
)

DEFAULT_USER_AGENTS = (
    # public UA strings, same rotation role as the reference's
    # core/user-agents.txt pool (photon.py:199-203)
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15",
)


def pick_user_agent(url: str, user_agents: tuple[str, ...]) -> str:
    """Deterministic stand-in for requester.py:40 random.choice —
    crc32 is stable across processes/hosts (unlike builtin hash)."""
    return user_agents[zlib.crc32(url.encode("utf-8", "ignore")) % len(user_agents)]


def build_headers(
    url: str,
    user_agents: tuple[str, ...],
    custom_headers: Mapping[str, str] | None,
    cookie: str | None,
) -> dict[str, str]:
    """Per-request header dict with requester.py:37-45 semantics:
    custom headers replace the default set entirely — VERBATIM, no UA
    injected if the caller omitted one (`final_headers = headers or
    {...}` uses the dict as-is); cookie rides on top of either."""
    if custom_headers:
        headers = dict(custom_headers)
    else:
        headers = {
            "Host": urlparse(url).netloc,
            "User-Agent": pick_user_agent(url, user_agents),
            "Accept": "text/html,application/xhtml+xml,application/xml;"
            "q=0.9,*/*;q=0.8",
            "Accept-Language": "en-US,en;q=0.5",
            "Accept-Encoding": "gzip",
            "DNT": "1",
            "Connection": "close",
        }
    if cookie:
        headers["Cookie"] = cookie
    return headers


_PROXY_IP_RE = (
    r"((http|socks5):\/\/.)?(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}):(\d{1,5})"
)
_PROXY_DOMAIN_RE = (
    r"((http|socks5):\/\/.)?[-a-zA-Z0-9@:%._\+~#=]{2,256}\.[a-z]{2,6}:(\d{1,5})"
)


def parse_proxy(value: str) -> list[dict]:
    """T15 — the reference's --proxy argparse type (core/utils.py
    proxy_type:165-180 + is_proxy_list:148-162): IP:PORT or DOMAIN:PORT
    (optionally http:// or socks5://-prefixed), or a FILE of such lines
    (non-matching lines are reported and skipped). Each proxy becomes
    the requests-style ``{"http": p, "https": p}`` dict. Invalid input
    raises ValueError (the CLI maps it to an argparse error, exactly
    where ArgumentTypeError lands in the reference)."""
    import os
    import re

    if re.match(_PROXY_IP_RE, value) or re.match(_PROXY_DOMAIN_RE, value):
        return [{"http": value, "https": value}]
    if os.path.isfile(value):
        proxies = []
        with open(value) as f:
            for line in f:
                line = line.strip()
                if re.match(_PROXY_IP_RE, line) or re.match(
                    _PROXY_DOMAIN_RE, line
                ):
                    proxies.append({"http": line, "https": line})
                elif line:
                    print("%s ignored" % line)
        if proxies:
            return proxies
    raise ValueError("Proxy should follow IP:PORT or DOMAIN:PORT format")


def pick_proxy(url: str, proxies: list[dict] | None) -> dict | None:
    """Deterministic stand-in for requester.py:55 random.choice over
    the proxy pool — crc32(url), same convention as pick_user_agent
    (reproducible runs; builtin hash is siphash-salted)."""
    if not proxies:
        return None
    return proxies[zlib.crc32(url.encode("utf-8", "ignore")) % len(proxies)]


def is_good_proxy(
    proxy: dict,
    probe=None,
    probe_url: str = "http://example.com",
    timeout: float = 3.0,
) -> bool:
    """T15 liveness probe — the reference's is_good_proxy
    (core/utils.py:197-205): one GET through the proxy; ANY exception
    (connect timeout included) means dead. ``probe`` is the injectable
    transport half — ``probe(url, proxies_dict, timeout)`` returning
    anything / raising — so tests (and offline sandboxes) never touch
    the network; the default builds the requests call the reference
    makes."""
    if probe is None:
        def probe(url, pip, t):  # pragma: no cover - live network path
            import requests

            requests.get(url, proxies=pip, timeout=t)
    try:
        probe(probe_url, proxy, timeout)
    except Exception:
        return False
    return True


def vet_proxies(proxies: list[dict], probe=None, timeout: float = 3.0) -> list[dict]:
    """The reference's startup vetting loop (photon.py:126-136): keep
    the proxies that answer the probe, preserving order. Driver-side
    and bounded by the pool size (a proxy POOL is operator config, not
    data — never worth a Spark job)."""
    return [p for p in proxies if is_good_proxy(p, probe=probe, timeout=timeout)]


def requests_transport(proxies: list[dict] | None = None) -> Transport:
    """Production transport: persistent requests.Session per partition
    (connection reuse), ≤3 redirects like the reference
    (requester.py:8-9), optional per-request proxy rotation
    (requester.py:55 `proxies=random.choice(proxies)` — deterministic
    here, see pick_proxy). Imported lazily — absent/offline
    environments use an injected transport instead."""
    import requests  # deferred: not needed in the sandbox

    session = requests.Session()
    session.max_redirects = 3

    def do(url: str, headers: Mapping[str, str], timeout: float):
        resp = session.get(
            url,
            headers=dict(headers),
            timeout=timeout,
            proxies=pick_proxy(url, proxies),
        )
        return (
            resp.status_code,
            resp.headers.get("Content-Type", ""),
            resp.text,
            resp.headers,
        )

    return do


class TooManyRedirects(Exception):
    """Raised when a redirect chain exceeds the hop budget — the
    engine-side twin of requests.TooManyRedirects. fetch_stage's broad
    except maps it to the 'dummy' sentinel, exactly where the reference
    lands: SESSION.max_redirects=3 (requester.py:8-9) makes requests
    raise, and the reference's fetcher swallows it (Q6)."""


REDIRECT_STATUSES = frozenset({301, 302, 303, 307, 308})


def _header(headers: Mapping[str, str], name: str) -> str | None:
    """Case-insensitive response-header lookup (field names are
    case-insensitive, RFC 9110 §5.1; fakes return plain dicts)."""
    name = name.lower()
    return next((v for k, v in headers.items() if k.lower() == name), None)


def with_redirects(single_hop: Transport, max_redirects: int = 3) -> Transport:
    """Redirect-following wrapper over a SINGLE-HOP transport — the
    testable twin of the redirect handling `requests` performs inside
    `requests_transport` (session.max_redirects=3, requester.py:8-9).

    ``single_hop`` is a Transport that fetches exactly one response;
    this wrapper follows 301/302/303/307/308 hops to the response's
    ``Location`` header (relative Locations resolved against the
    current URL, per RFC 9110) up to `max_redirects`, then
    raises TooManyRedirects — matching requests: three redirects are
    followed, a fourth aborts the request. A 30x response WITHOUT a
    Location header is returned as-is (requests treats it as a final
    response). Headers are re-sent unchanged on every hop (requests
    keeps the original header set across same-scheme redirects).

    The ORIGINAL url — not the final hop — remains the row's identity
    downstream: the wave loop marks the scheduled URL processed
    (photon.py pops+marks the frontier URL; intermediate hop URLs are
    never marked), so redirect targets rediscovered later are fetched
    on their own merits.
    """
    from urllib.parse import urljoin

    def do(url: str, headers: Mapping[str, str], timeout: float):
        current = url
        for _ in range(max_redirects + 1):
            resp = single_hop(current, headers, timeout)
            location = _header(resp[3], "Location")
            if resp[0] in REDIRECT_STATUSES and location:
                current = urljoin(current, location)
                continue
            return resp
        raise TooManyRedirects(f"exceeded {max_redirects} redirects for {url}")

    return do


def fetch_stage(
    wave: DataFrame,
    transport_factory: Callable[[], Transport] | None = None,
    delay: float = 0.0,
    timeout: float = 6.0,
    user_agents: tuple[str, ...] = DEFAULT_USER_AGENTS,
    headers: Mapping[str, str] | None = None,
    cookie: str | None = None,
    proxies: list[dict] | None = None,
) -> DataFrame:
    """(url, level[, etag, last_modified]) wave → FETCH_SCHEMA rows;
    body is the 'dummy' sentinel for non-text responses and failures
    (status 0). Run AFTER schedule_wave so partitions are host-local
    (politeness + connection reuse). `headers` replaces the default
    header set (reference requester.py:37); `cookie` maps the
    reference -c flag; `proxies` maps --proxy (T15) and only applies
    to the default production transport — an injected transport owns
    its own plumbing.

    Rows with a stored validator also send `If-None-Match` and/or
    `If-Modified-Since`; a 304 answer to them is a not_modified row.
    Rows without validators (or a wave without the columns) are plain
    GETs, so a mixed wave (fresh URLs + revisits) needs no split."""
    factory = transport_factory or (
        (lambda: requests_transport(proxies=proxies))
        if proxies
        else requests_transport
    )
    custom = dict(headers) if headers else None
    validators = [
        F.col(c) if c in wave.columns else F.lit(None).cast("string").alias(c)
        for c in ("etag", "last_modified")
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = factory()  # one session per partition (task)
        for pdf in batches:
            out = {c: [] for c in ("status", "body", "etag", "last_modified",
                                   "not_modified")}
            for url, etag, lm in zip(pdf["url"], pdf["etag"], pdf["last_modified"]):
                if delay:
                    time.sleep(delay)  # requester.py:33 — before EVERY request
                hdrs = build_headers(url, user_agents, custom, cookie)
                etag, lm = etag or None, lm or None  # '' is no validator
                if etag:
                    hdrs["If-None-Match"] = etag
                if lm:
                    hdrs["If-Modified-Since"] = lm
                try:
                    status, ctype, text, resp = transport(url, hdrs, timeout)
                except Exception:
                    status, ctype, text, resp = 0, "", "", {}
                not_modified = status == 304 and bool(etag or lm)
                if not_modified:
                    body = ""
                else:
                    ctype = (ctype or "").lower()
                    ok = "text/html" in ctype or "text/plain" in ctype
                    body = text if ok else DUMMY
                    etag = _header(resp, "ETag")
                    lm = _header(resp, "Last-Modified")
                out["status"].append(status)
                out["body"].append(body)
                out["etag"].append(etag)
                out["last_modified"].append(lm)
                out["not_modified"].append(not_modified)
            yield pd.DataFrame({"url": pdf["url"], "level": pdf["level"], **out})

    return wave.select("url", "level", *validators).mapInPandas(
        run, schema=FETCH_SCHEMA
    )
