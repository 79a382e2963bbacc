"""Engine configuration.

Constants mirror the reference's semantics contract:
* ``BAD_TYPES``: file extensions treated as non-crawlable files,
  matched WITHOUT a leading dot (reference core/config.py:12-27,
  core/utils.py:43 — quirk Q4 in SURVEY.md §2.4).
* ``INTELS``: external domains promoted to intel (reference
  core/config.py:5-10).
"""

from __future__ import annotations

from dataclasses import dataclass

# Reference core/config.py:12-27. Tuple order preserved; matching is a
# plain suffix test with NO leading dot (quirk Q4: '/mapjs' is a "file").
BAD_TYPES: tuple[str, ...] = (
    "bmp", "css", "csv", "docx", "ico", "jpeg", "jpg",
    "js", "json", "pdf", "png", "svg", "xls", "xml",
)

# Reference core/config.py:5-10.
INTELS: tuple[str, ...] = (
    "facebook.com",
    "github.com",
    "instagram.com",
    "youtube.com",
)

# The reference marks a never-fetched sentinel URL as processed
# (photon.py:158) and returns this literal body on failed fetches
# (core/requester.py:58,67,70) — quirk Q11.
DUMMY = "dummy"


@dataclass
class EngineConfig:
    """Tunables for a crawl run.

    Defaults reproduce the reference's defaults (photon.py:121-144)
    and its *observed Python-3 behavior* (SURVEY.md §2.4):

    * ``faithful_py3=True``: secret-key extraction yields the empty
      set, because the reference's entropy() raises TypeError on
      Python 3 and the thread pool swallows it (Q6). Set False for
      the corrected byte-histogram entropy the code intended.
    * ``per_host_budget=None``: no per-host cap — degenerates to the
      reference's global-delay politeness (Q26).
    """

    crawl_level: int = 2          # photon.py:142
    only_urls: bool = False       # photon.py:144
    extract_keys: bool = False    # --keys, photon.py:124
    custom_regex: str | None = None    # -r, photon.py:61
    exclude: str | None = None         # --exclude, photon.py:77
    seeds: tuple[str, ...] = ()        # -s, photon.py:72-73
    faithful_py3: bool = True
    per_host_budget: int | None = None
    # Opt-in robots.txt gating with RFC 9309 matching (plans/schedule.
    # robots_gate_rfc: $ anchors, longest match wins) over the file's
    # non-empty Disallow lines without a * (north-star capability;
    # the reference only SEEDS from robots.txt — default preserves parity).
    respect_robots: bool = False
    # Opt-in robots.txt Crawl-delay politeness (requires
    # respect_robots): the crawled host's per-wave budget becomes
    # min(per_host_budget, floor(crawl_delay_window / Crawl-delay)) —
    # i.e. how many politely-spaced fetches fit in one wave's fetch
    # window of this many seconds. None = ignore Crawl-delay (the
    # reference never reads the line; parity default).
    crawl_delay_window: float | None = None
    # Opt-in RFC 9309 §2.2.1 user-agent group selection for the robots
    # rules (kernels.robots_group_rules): when set (e.g. 'photonbot'),
    # the gate's Allow and Disallow rules and Crawl-delay come from the
    # most-specific matching User-agent group instead of every line in
    # the file (whose Allow lines, perhaps another bot's, un-gate nothing).
    # None = reference-faithful all-lines parse (zap.py:29).
    robots_agent: str | None = None
    # Opt-in crawler-trap gate (plans/schedule.trap_flags): drop
    # candidate links whose URL shape signals an infinite space
    # (repeated path segment, depth cap, query-param explosion)
    # BEFORE the seen-set anti-join. Default off — the fixture
    # reference crawls a finite site and the goldens pin its exact
    # URL set. Value = (max_depth, max_params, seg_repeat_limit).
    trap_gate: tuple | None = None
    # Opt-in recursive sitemap resolution (sources/sitemap): seed the
    # frontier from <sitemapindex> trees and robots.txt Sitemap: lines
    # instead of only the flat root sitemap. Default off — the
    # reference reads root+'/sitemap.xml' alone (core/zap.py:45-57)
    # and the goldens pin that seed set. On a flat-sitemap site the
    # recursive walk returns the same locs, so enabling it there is a
    # no-op (pytest-pinned).
    sitemap_recursive: bool = False
    # Opt-in F4 priority scoring (plans/schedule.priority_score): ranks
    # each host's queue fuzzable/shallow-first before the politeness
    # cap. Default off — the reference has no ordering, and goldens pin
    # budget-selection to the unscored (url asc) tie-break.
    use_priority: bool = False
    # Opt-in meta-robots nofollow gate (operators/extract.
    # html_directives): links extracted from a page whose markup
    # declares nofollow (or 'none') never enter the internal/external/
    # files deltas — the REP's HTML half. Default off: the reference
    # follows every page's links unconditionally, and the goldens pin
    # that link universe. noindex is surfaced by the same operator but
    # applied sink-side by callers (it gates OUTPUT, not the frontier).
    nofollow_gate: bool = False
    # Spark-side knobs (scale levers, not semantics):
    shuffle_partitions: int = 32   # ceiling; waves scale down to size
    urls_per_partition: int = 500  # target wave-partition granularity,
                                   # the JS pass's included
    host_salts: int = 8           # fetch partitions a hot host spreads over
    # Store maintenance cadence: every K committed waves, rewrite the
    # accumulated deltas into one consolidated base and expire the
    # superseded delta dirs (CrawlStore.compact/expire). 0 = never.
    # Bounds load()'s file count at deep crawl levels — a 10^4-wave
    # crawl without it reads 10^4 small delta dirs per table.
    compact_every: int = 0
