"""Scalar semantic kernels — the single place each reference quirk lives.

Every function here is pure Python over plain strings, shared by BOTH
the golden oracle (oracle/photon_oracle.py) and the engine's
Arrow-vectorized pandas UDFs (photon_spark/operators/extract.py), so
the semantics contract (SURVEY.md §2.4 Q1-Q26) is encoded exactly once.

Reference citations are inline; nothing here is copied code — each
function re-derives the observable behavior of the cited lines.
"""

from __future__ import annotations

import math
import re
from urllib.parse import urlparse

from photon_spark import regexes as rx
from photon_spark.config import BAD_TYPES

# ---------------------------------------------------------------------------
# Document views


def reassemble_text(spans: list) -> str:
    """Page body = concat of text spans ordered by offset (FIXTURES.md §1).

    ``spans`` is a list of dicts/Rows with kind/text/media_ref/offset.
    Media spans contribute nothing to the body view.
    """
    texts = sorted(
        (s for s in spans if s["kind"] == "text"), key=lambda s: s["offset"]
    )
    return "".join(s["text"] for s in texts)


def strip_tags(body: str) -> str:
    """Intel view: drop <script> blocks, then all tags.

    Reference photon.py:211-212 (Q13: DOTALL hoisted, Q14: intel runs on
    this view while link/JS extraction runs on the raw body).
    """
    res = rx.SCRIPT_BLOCK.sub("", body)
    return rx.ANY_TAG.sub("", res)


# ---------------------------------------------------------------------------
# T1 / T5 / T7 / T8 / T9 — flat-map extractors over one body


def find_links(body: str) -> list[str]:
    """Anchor hrefs, cleaned. Reference photon.py:244-247.

    Q1: group 2 with ALL quotes removed then fragment dropped.
    Q2: at most one (the last) href per physical line.
    """
    out = []
    for groups in rx.HREF.findall(body):
        link = groups[1].replace("'", "").replace('"', "").split("#")[0]
        out.append(link)
    return out


def find_script_srcs(body: str) -> list[str]:
    """Raw script srcs ("bad_scripts"). Reference photon.py:220-227."""
    out = []
    for groups in rx.SCRIPT_SRC.findall(body):
        out.append(groups[2].replace("'", "").replace('"', ""))
    return out


def find_endpoints(js_body: str) -> list[str]:
    """Quoted endpoints in JS. Reference photon.py:290-302."""
    out = []
    for g in rx.JS_ENDPOINT.findall(js_body):
        m = g[0] + g[1]  # one side is always empty
        if not rx.ENDPOINT_JUNK.search(m) and m != "/":
            out.append(m)
    return out


def find_intel(body: str) -> list[tuple[object, str]]:
    """All intel matches over the tag-stripped view.

    Returns [(match, NAME)]; match is a str, or a tuple when the
    pattern has >1 capturing group (re.findall contract). Reference
    photon.py:208-217.
    """
    res = strip_tags(body)
    out = []
    for pattern, name in rx.INTEL_PATTERNS:
        for m in pattern.findall(res):
            out.append((m, name))
    return out


def shannon_entropy_bytes(s: str) -> float:
    """Corrected byte-histogram entropy (what reference utils.py:101-109
    intended; on Python 3 the reference raises TypeError instead — Q6)."""
    data = s.encode("utf-8")
    n = len(data)
    ent = 0.0
    counts: dict[int, int] = {}
    for b in data:
        counts[b] = counts.get(b, 0) + 1
    for c in counts.values():
        p = c / n
        ent -= p * math.log(p, 2)
    return ent


def find_keys(body: str, url: str, faithful_py3: bool = True) -> list[str]:
    """High-entropy tokens, formatted '<url>: <token>'.

    Reference photon.py:282-287. Q6: on Python 3 the reference's
    entropy() raises and the result is always empty — ``faithful_py3``
    reproduces that; False enables the corrected behavior.
    """
    if faithful_py3:
        return []
    out = []
    for m in rx.HIGH_ENTROPY_TOKEN.findall(body):
        if shannon_entropy_bytes(m) >= 4:
            out.append(url + ": " + m)
    return out


def find_custom(body: str, pattern: str) -> list:
    """User-regex matches. Reference core/utils.py:15-23 (Q18: errors
    suppress silently; matches may be tuples if the pattern groups)."""
    try:
        return list(re.findall(pattern, body))
    except re.error:
        return []


# ---------------------------------------------------------------------------
# T2 — crawlability / file classification


def is_file_link(link: str) -> bool:
    """BAD_TYPES suffix match WITHOUT a dot (Q4). Reference utils.py:43."""
    return link.endswith(BAD_TYPES)


def is_skippable_link(link: str) -> bool:
    """In-page anchors and javascript: pseudo-links (Q3).
    Reference utils.py:41-42."""
    return link.startswith("#") or link.startswith("javascript:")


# ---------------------------------------------------------------------------
# T3 — URL resolution + scope classification


def remove_file_segment(url: str) -> str:
    """Strip the last path segment — with the reference's replace-ALL
    quirk (Q10): 'http://a.com/c/c' → 'http://a.com'.
    Reference photon.py:229-237."""
    if url.count("/") > 2:
        seg = re.search(r"/[^/]*?$", url).group()
        if seg != "/":
            return url.replace(seg, "")
        return url
    return url


def classify_link(
    link: str, page_url: str, main_url: str, host: str, schema: str
) -> tuple[str, str] | None:
    """Resolve one cleaned link against its page → (url, scope).

    scope ∈ {'internal', 'external'}. Reference photon.py:250-275.
    Returns None never (every crawlable link lands somewhere); callers
    must pre-filter with is_skippable_link/is_file_link.
    """
    if link[:4] == "http":
        if link.startswith(main_url):
            return link, "internal"
        return link, "external"
    if link[:2] == "//":
        # reference photon.py:257-263: netloc prefix test against host
        parts = link.split("/")
        netloc = parts[2] if len(parts) > 2 else ""
        if netloc.startswith(host):
            return schema + "://" + link, "internal"
        return link, "external"
    if link[:1] == "/":
        return remove_file_segment(page_url) + link, "internal"
    usable = remove_file_segment(page_url)
    if usable.endswith("/"):
        return usable + link, "internal"
    # (reference rechecks link.startswith('/') here — unreachable after
    # the '/'-branch above; preserved shape, photon.py:272-273)
    return usable + "/" + link, "internal"


def normalize_script(src: str, main_url: str) -> str | None:
    """bad_scripts → scripts normalization (T6). Reference
    photon.py:333-339. Q20: protocol-relative '//x' srcs drop (None)."""
    if src.startswith(main_url):
        return src
    if src.startswith("/") and not src.startswith("//"):
        return main_url + src
    if not src.startswith("http") and not src.startswith("//"):
        return main_url + "/" + src
    return None


# ---------------------------------------------------------------------------
# T12 / T13 — intel assembly helpers


def luhn(purported: object) -> bool:
    """Luhn check with the reference's exact failure modes (Q8).

    Non-str input is str()-ed (a tuple therefore contains '(' and
    fails int() → False); separators (spaces/dashes) fail int() →
    False. Reference core/utils.py:182-194.
    """
    odd_lookup = (0, 2, 4, 6, 8, 1, 3, 5, 7, 9)
    if not isinstance(purported, str):
        purported = str(purported)
    try:
        evens = sum(int(p) for p in purported[-1::-2])
        odds = sum(odd_lookup[int(p)] for p in purported[-2::-2])
        return (evens + odds) % 10 == 0
    except ValueError:
        return False


def etld1(url: str) -> str | None:
    """Approximate eTLD+1: last two labels of the netloc.

    The reference uses `tld.get_tld(url, fix_protocol=True)`
    (core/utils.py:140-145); for the fixture/test universe (\\*.test,
    \\*.com single-suffix domains) last-two-labels is equivalent.
    fix_protocol prepends a scheme when the url has none — which turns
    protocol-relative '//x' into 'https:////x' with an EMPTY netloc, so
    those raise in the reference and are swallowed (photon.py:367-368).
    Raising cases return None here.
    """
    if not url.startswith(("http://", "https://", "ftp://")):
        url = "https://" + url  # tld fix_protocol behavior
    try:
        netloc = urlparse(url).netloc
    except ValueError:  # e.g. an unclosed '[' (Invalid IPv6 URL)
        return None
    labels = netloc.split(".")
    if len(labels) < 2 or not labels[-1] or not labels[-2]:
        return None
    return ".".join(labels[-2:])


# ---------------------------------------------------------------------------
# S2 / S3 — robots.txt, sitemap.xml


def robots_paths(body: str) -> list[str]:
    """Allow/Disallow paths, wildcards skipped. Reference core/zap.py:24-42.
    The '<body' gate (fancy-404 detection, zap.py:27) is applied here."""
    if "<body" in body:
        return []
    out = []
    for groups in rx.ROBOTS_RULE.findall(body):
        path = "".join(groups)  # one side is always empty
        if "*" not in path:
            out.append(path)
    return out


def robots_rules(body: str) -> tuple[list[tuple[str, str]], float | None]:
    """(rules, crawl_delay): every Allow/Disallow line of the file as a
    (rule, path) pair, rule ∈ {'allow','disallow'}, wildcards skipped,
    and the first Crawl-delay value in seconds (or None). Same '<body'
    gate as robots_paths. The reference only SEEDS from robots.txt
    (zap.py:38-42 — both Allow and Disallow paths become crawl
    candidates) and never reads Crawl-delay; this view powers the
    engine's opt-in `respect_robots` gate and Crawl-delay budget
    (north-star capability, off by default for reference parity). A
    rule is labelled by the alternative that matched, so an empty
    ``Allow: `` stays an allow."""
    if "<body" in body:
        return [], None
    rules = [
        ("allow" if m.lastindex == 1 else "disallow", m.group(m.lastindex))
        for m in rx.ROBOTS_RULE.finditer(body)
    ]
    m = rx.ROBOTS_CRAWL_DELAY.search(body)
    return [r for r in rules if "*" not in r[1]], float(m.group(1)) if m else None


def sitemap_locs(body: str) -> list[str]:
    """<loc> entries. Reference core/zap.py:45-57, core/utils.py:112-115."""
    if "<body" in body:
        return []
    return rx.SITEMAP_LOC.findall(body)


def robots_group_rules(
    body: str, agent: str
) -> tuple[list[tuple[str, str]], float | None]:
    """RFC 9309 §2.2.1 user-agent group selection (beyond-reference:
    zap.py:29 reads every Allow/Disallow line regardless of which
    User-agent group owns it). Returns (rules, crawl_delay) for the
    group(s) that apply to `agent`:

    * lines are grouped under the preceding run of User-agent lines;
      rules before any User-agent line belong to no group (ignored);
    * a group matches when its UA token is a case-insensitive prefix
      of the crawler's product token; specificity = token length;
    * the group(s) at the HIGHEST specificity win and merge (RFC:
      multiple groups naming the same agent combine); '*' groups
      (specificity 0) apply only when no named group matches.

    Same '<body' fancy-404 gate as the other robots parsers.
    """
    if "<body" in body:
        return [], None
    agent_l = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, str]], float | None]] = []
    cur_uas: list[str] = []
    cur_rules: list[tuple[str, str]] = []
    cur_delay: float | None = None
    in_header = False  # collecting consecutive User-agent lines

    def flush():
        nonlocal cur_uas, cur_rules, cur_delay
        if cur_uas:
            groups.append((cur_uas, cur_rules, cur_delay))
        cur_uas, cur_rules, cur_delay = [], [], None

    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_header:
                flush()
                in_header = True
            cur_uas.append(value.lower())
        else:
            in_header = False
            if field in ("allow", "disallow"):
                cur_rules.append((field, value))
            elif field == "crawl-delay":
                try:
                    cur_delay = float(value)
                except ValueError:
                    pass
    flush()

    def specificity(uas: list[str]) -> int:
        best = -1
        for ua in uas:
            if ua == "*":
                best = max(best, 0)
            elif ua and agent_l.startswith(ua):
                best = max(best, len(ua))
        return best

    scored = [(specificity(uas), rules, delay) for uas, rules, delay in groups]
    named = [s for s in scored if s[0] > 0]
    pick = named if named else [s for s in scored if s[0] == 0]
    if not pick:
        return [], None
    top = max(s[0] for s in pick)
    rules: list[tuple[str, str]] = []
    delay: float | None = None
    for s, r, d in pick:
        if s == top:
            rules.extend(r)
            if d is not None and (delay is None or d < delay):
                delay = d
    return rules, delay


def robots_sitemaps(body: str) -> list[str]:
    """Sitemap: URLs declared in robots.txt (sitemaps.org extension —
    beyond-reference; zap.py hardcodes root+'/sitemap.xml'). Same
    '<body' fancy-404 gate as robots_paths."""
    if "<body" in body:
        return []
    return rx.ROBOTS_SITEMAP.findall(body)

