"""Unit tests for the semantic kernels — one named test per §2.4 quirk."""

from __future__ import annotations

from photon_spark import kernels as K
from photon_spark.config import INTELS


def test_q1_quote_and_fragment_cleanup():
    body = '<a href="/q\'uote.html#sec">x</a>\n'
    assert K.find_links(body) == ["/quote.html"]


def test_q2_last_anchor_per_line():
    body = '<a href="/x1.html">a</a> <a href="/x2.html">b</a>\n'
    assert K.find_links(body) == ["/x2.html"]
    two_lines = '<a href="/x1.html">a</a>\n<a href="/x2.html">b</a>\n'
    assert K.find_links(two_lines) == ["/x1.html", "/x2.html"]


def test_q2_applies_to_scripts_too():
    body = '<script src="/a.js"></script> <script src="/b.js"></script>\n'
    assert K.find_script_srcs(body) == ["/b.js"]


def test_q3_anchor_and_js_links_skipped():
    assert K.is_skippable_link("#top")
    assert K.is_skippable_link("javascript:void(0)")
    assert not K.is_skippable_link("/page")


def test_q4_extension_match_without_dot():
    assert K.is_file_link("/mapjs")          # ends with 'js', no dot
    assert K.is_file_link("/logo.png")
    assert not K.is_file_link("/page.html")


def test_q6_faithful_py3_keys_empty():
    body = "token aB3xK9mQzR7pW2vY8tL5 here"
    assert K.find_keys(body, "u", faithful_py3=True) == []
    corrected = K.find_keys(body, "u", faithful_py3=False)
    assert corrected == ["u: aB3xK9mQzR7pW2vY8tL5"]
    low = "token aaaaaaaaaaaaaaaaaaaa here"
    assert K.find_keys(low, "u", faithful_py3=False) == []


def test_q8a_luhn_on_tuple_is_false():
    assert not K.luhn(("4111111111111111", ""))


def test_q8b_luhn_separators_fail():
    assert K.luhn("4111111111111111")
    assert not K.luhn("4111 1111 1111 1111")
    assert not K.luhn("4111-1111-1111-1111")
    assert not K.luhn("1234567812345678")


def test_q10_remove_file_replaces_all_occurrences():
    assert K.remove_file_segment("http://a.test/c/c") == "http://a.test"
    assert K.remove_file_segment("http://a.test/dir/c.html") == "http://a.test/dir"
    assert K.remove_file_segment("http://a.test") == "http://a.test"
    # trailing slash: last segment is '/', kept as-is
    assert K.remove_file_segment("http://a.test/dir/") == "http://a.test/dir/"


def test_q14_intel_runs_on_tag_stripped_view():
    body = '<p>a@b.co</p>\n<script>var x = "hidden@c.co";</script>\n'
    names = {(m, n) for m, n in K.find_intel(body)}
    assert ("a@b.co", "EMAIL") in names
    assert all("hidden" not in str(m) for m, _ in names)


def test_q20_protocol_relative_scripts_dropped():
    main = "http://h.test"
    assert K.normalize_script("//cdn.test/x.js", main) is None
    assert K.normalize_script("/a.js", main) == "http://h.test/a.js"
    assert K.normalize_script("b.js", main) == "http://h.test/b.js"
    assert K.normalize_script("http://h.test/c.js", main) == "http://h.test/c.js"


def test_q27_fragment_only_link_resolves_to_dir_slash():
    # '#frag' → '' after cleanup → relative branch → dir + '/' + ''
    url, scope = K.classify_link("", "http://h.test/d/p.html", "http://h.test", "h.test", "http:")
    assert (url, scope) == ("http://h.test/d/", "internal")


def test_q28_inscope_protocol_relative_gets_garbled_schema():
    # reference photon.py:260: schema('http:') + '://' + '//x' = 'http:://' + '//x'
    url, scope = K.classify_link(
        "//h.test/p.html", "http://h.test", "http://h.test", "h.test", "http:"
    )
    assert scope == "internal"
    assert url == "http:://" + "//h.test/p.html"


def test_scope_classification():
    args = ("http://h.test/page.html", "http://h.test", "h.test", "http:")
    assert K.classify_link("http://h.test/a", *args) == ("http://h.test/a", "internal")
    assert K.classify_link("http://other.test/a", *args) == ("http://other.test/a", "external")
    assert K.classify_link("//other.test/a", *args) == ("//other.test/a", "external")
    assert K.classify_link("/abs", *args) == ("http://h.test/abs", "internal")
    assert K.classify_link("rel.html", *args) == ("http://h.test/rel.html", "internal")


def test_etld1_matches_reference_tld_behavior():
    assert K.etld1("https://github.com/s0md3v") == "github.com"
    assert K.etld1("http://a.b.fixture.test/x") == "fixture.test"
    assert K.etld1("//cdn.test/x") is None      # fix_protocol garbles '//'
    assert K.etld1("nodots") is None
    assert K.etld1("facebook.com/p") == "facebook.com"  # fix_protocol path
    assert K.etld1("https://github.com/x") in INTELS
    assert K.etld1("http://[x/") is None  # urlparse: Invalid IPv6 URL


def test_robots_and_sitemap_parsing():
    robots = "User-agent: *\nAllow: /pub\nDisallow: /priv\nDisallow: /t/*\n"
    assert K.robots_paths(robots) == ["/pub", "/priv"]
    assert K.robots_paths("<html><body>404" + robots) == []   # fancy-404 gate
    sm = "<urlset><loc>http://a/1</loc><loc>http://a/2</loc></urlset>"
    assert K.sitemap_locs(sm) == ["http://a/1", "http://a/2"]
    assert K.sitemap_locs("<body>" + sm) == []


def test_endpoint_junk_filter():
    js = 'a("/api/x"); b("http://h/y"); c("/"); d("{z}"); e("/t<v>");\n'
    assert K.find_endpoints(js) == ["/api/x", "http://h/y"]


def test_span_reassembly_roundtrip():
    spans = [
        {"kind": "media", "text": "", "media_ref": "m.png", "offset": 1},
        {"kind": "text", "text": "world", "media_ref": "", "offset": 2},
        {"kind": "text", "text": "hello ", "media_ref": "", "offset": 0},
    ]
    assert K.reassemble_text(spans) == "hello world"


def test_robots_crawl_delay_parsing():
    assert K.robots_rules("User-agent: *\nCrawl-delay: 10\n")[1] == 10.0
    assert K.robots_rules("crawl-delay:   2.5\nDisallow: /x\n")[1] == 2.5
    # first value wins; later lines ignored
    assert K.robots_rules("Crawl-delay: 3\nCrawl-delay: 9\n")[1] == 3.0
    # fancy-404 gate (same as robots_paths)
    assert K.robots_rules("<html><body>Crawl-delay: 10")[1] is None
    assert K.robots_rules("User-agent: *\nDisallow: /\n")[1] is None


def test_robots_rules_label_empty_values_by_their_line():
    """An empty ``Allow: `` is an allow, not a disallow; both empty
    rules keep their '' path (the crawl drops them, RFC 9309 §2.2.2),
    and robots_paths still seeds the root from them."""
    assert K.robots_rules("User-agent: *\nDisallow: \n") == ([("disallow", "")], None)
    body = "Allow: \nDisallow: /p2\nDisallow: /a*\nAllow: /x\n"
    assert K.robots_rules(body)[0] == [
        ("allow", ""), ("disallow", "/p2"), ("allow", "/x"),
    ]
    assert K.robots_paths(body) == ["", "/p2", "/x"]


def test_robots_group_rules_rfc9309():
    from photon_spark.kernels import robots_group_rules

    body = (
        "Disallow: /orphan\n"            # before any group: ignored
        "User-agent: *\n"
        "Disallow: /all\n"
        "Crawl-delay: 5\n"
        "\n"
        "User-agent: photonbot\n"
        "User-agent: otherbot\n"         # shared header run
        "Disallow: /photon\n"
        "Allow: /photon/public\n"
        "Crawl-delay: 2\n"
        "\n"
        "User-Agent: photonbot\n"        # same agent again: merges
        "Disallow: /extra\n"
        "\n"
        "User-agent: photon\n"           # shorter prefix: less specific
        "Disallow: /short\n"
    )
    rules, delay = robots_group_rules(body, "PhotonBot/1.2")
    assert ("disallow", "/photon") in rules
    assert ("allow", "/photon/public") in rules
    assert ("disallow", "/extra") in rules          # same-agent merge
    assert ("disallow", "/short") not in rules      # outspecified
    assert ("disallow", "/all") not in rules        # * loses to named
    assert ("disallow", "/orphan") not in rules     # groupless line
    assert delay == 2.0

    # unknown agent falls back to the * group
    rules, delay = robots_group_rules(body, "mystery/9")
    assert rules == [("disallow", "/all")]
    assert delay == 5.0

    # no * group and no match -> nothing applies
    rules, delay = robots_group_rules(
        "User-agent: onlybot\nDisallow: /x\n", "mystery/9"
    )
    assert rules == [] and delay is None

    # fancy-404 gate
    assert robots_group_rules("<html><body>404", "photonbot") == ([], None)
