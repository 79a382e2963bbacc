"""Frontier dedup — Bloom-filter pre-check + exact anti-join backstop.

The reference's seen-set is ``url not in processed`` + ``internal -
processed`` (reference core/utils.py:40, photon.py:317). At 10^10-URL
scale the exact anti-join shuffles both sides; the Bloom pre-filter
splits candidates into definitely-new (bloom-negative — no shuffle at
all) and maybe-seen (bloom-positive — only these join). With a 1% fpp
only ~1% of genuinely-new URLs pay the join; false negatives are
impossible, so the result is EXACT (north_rule: bloom/cuckoo seen set
with an exact backstop — SURVEY.md §2.3 J1).

The filter is one numpy bitmap per hash bucket ``bucket(N, xxhash64)``
(SURVEY.md §7 hard parts), built distributed (per-partition partial
bitmaps via mapInPandas, OR-reduced on the driver) over JVM-computed
xxhash64 keys, then broadcast back. No JVM BloomFilter object crosses
the Python boundary — the format is ours, deterministic, and
vectorized on both build and probe.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _positions(h: np.ndarray, k: int, m: int) -> Iterator[np.ndarray]:
    """k bit positions per key via double hashing of the 64-bit key."""
    h = h.astype(np.uint64)
    h1 = h
    h2 = (h ^ (h >> np.uint64(33))) * _MIX | np.uint64(1)  # odd => full cycle
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def _bucket_of(hu: np.ndarray, n_buckets: int) -> np.ndarray:
    """bucket(N, url_hash): nonneg modulo of the uint64 key — identical
    on build and probe, engine-independent."""
    return (hu % np.uint64(n_buckets)).astype(np.int64)


class UrlBloom:
    """Immutable bloom filter over xxhash64(url), sharded per bucket.

    One bitmap per bucket(N, xxhash64(url)), each sized for
    |seen|/N keys, so no single bitmap exceeds an agg buffer /
    broadcast chunk, and a probe touches exactly ONE shard's cache
    lines (keys route by the same bucket function on both sides).
    ``n_buckets=1`` is the plain single bitmap. False negatives are
    impossible per shard ⇒ the exact anti-join backstop keeps the
    result exact.

    Sandbox shape: all shards ride one broadcast (sum of shard sizes ==
    the single-bitmap size, so this prototypes routing, not memory
    relief). At cluster scale the same build emits shards as rows
    (bucket, bits) to storage; the probe side repartitions by bucket
    and each task mmaps only its bucket's shard — executor-resident
    memory drops from |bloom| to |bloom|/N. The build streams Arrow
    batches into per-bucket partial bitmaps, so no bucket's membership
    ever materializes as rows.
    """

    def __init__(self, n_buckets: int, shards: dict[int, np.ndarray], k: int):
        self.n_buckets = n_buckets
        self.shards = shards  # bucket -> uint8 bitmap (missing = empty)
        self.k = k

    @staticmethod
    def params(expected: int, fpp: float) -> tuple[int, int]:
        m = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 63) // 64 * 64
        k = max(1, round(m / max(1, expected) * math.log(2)))
        return m, k

    @classmethod
    def build(
        cls,
        df: DataFrame,
        col: str,
        expected: int,
        fpp: float,
        n_buckets: int = 8,
    ) -> "UrlBloom":
        """Distributed build: per-partition, per-bucket partial bitmaps,
        OR-reduced on the driver."""
        m, k = cls.params(max(64, expected // n_buckets), fpp)
        nbytes = m // 8

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: dict[int, np.ndarray] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                hu = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
                buckets = _bucket_of(hu, n_buckets)
                for b in np.unique(buckets):
                    bits = acc.setdefault(int(b), np.zeros(nbytes, dtype=np.uint8))
                    hb = hu[buckets == b]
                    for pos in _positions(hb, k, m):
                        np.bitwise_or.at(
                            bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
                        )
            for b, bits in acc.items():
                yield pd.DataFrame({"bucket": [b], "bits": [bits.tobytes()]})

        hashes = df.select(F.xxhash64(F.col(col)).alias("h"))
        # Few fat partials beat many: each partial is up to m/8 bytes per
        # bucket on the driver regardless of row count, and Python-worker
        # spin-up is per-partition. 8 partials keeps the build parallel
        # enough locally while bounding collect size.
        nparts = hashes.rdd.getNumPartitions()
        if nparts > 8:
            hashes = hashes.coalesce(8)
        parts = hashes.mapInPandas(partial, schema="bucket int, bits binary").collect()
        shards: dict[int, np.ndarray] = {}
        for row in parts:
            b = int(row["bucket"])
            if b in shards:
                shards[b] = shards[b] | np.frombuffer(row["bits"], dtype=np.uint8)
            else:
                shards[b] = np.frombuffer(row["bits"], dtype=np.uint8).copy()
        return cls(n_buckets, shards, k)

    def might_contain(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership over int64 xxhash64 keys."""
        out = np.zeros(h.size, dtype=bool)
        hu = h.astype(np.int64).view(np.uint64)
        buckets = _bucket_of(hu, self.n_buckets)
        for b in np.unique(buckets):
            bits = self.shards.get(int(b))
            if bits is None:
                continue  # empty shard: definitely new
            mask = buckets == b
            hit = np.ones(int(mask.sum()), dtype=bool)
            for pos in _positions(hu[mask], self.k, bits.size * 8):
                hit &= (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
            out[mask] = hit
        return out


_URL_PARTS = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://([^/?#]*)([^#]*)"


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Vectorized URL canonicalization before any dedup (SURVEY.md §4
    item 1): lowercase scheme+host, strip the fragment (the Q1 cleanup
    contract), drop the scheme's default port.

    Pure JVM expressions (regexp_extract / lower / concat) — stays
    inside whole-stage codegen with the downstream hash+anti-join, no
    Arrow round-trip at all. `canonicalize_urls_pandas` is the
    Arrow-batched twin (kept as the parity reference and the shape to
    extend when canonicalization ever needs real Python, e.g. IDNA).

    URLs that don't parse as scheme://host... fall back to fragment
    stripping only (still a stable dedup key).

    Each regex group is extracted once per URL, into a helper column
    of a first projection: `CollapseProject` does not inline a
    non-cheap expression its consumer references more than once, so
    the optimized plan holds 3 `regexp_extract` calls, where inlined
    groups would give 9. The scheme group is non-empty exactly when
    `_URL_PARTS` matches, so ``scheme != ''`` is the parse test (NULL
    for a NULL url, which falls through to the NULL fragment strip).
    """
    url = F.col(url_col)
    parts = {
        "__canon_scheme": F.lower(F.regexp_extract(url, _URL_PARTS, 1)),
        "__canon_host": F.lower(F.regexp_extract(url, _URL_PARTS, 2)),
        "__canon_rest": F.regexp_extract(url, _URL_PARTS, 3),
    }
    scheme, host, rest = (F.col(c) for c in parts)
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, ":80$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, ":443$", ""),
    ).otherwise(host)
    canon = F.concat(scheme, F.lit("://"), host, rest)
    return (
        df.withColumns(parts)
        .withColumn(
            url_col,
            F.when(scheme != "", canon).otherwise(F.split(url, "#").getItem(0)),
        )
        .drop(*parts)
    )


#: query params that never change the resource — session/campaign
#: trackers (public lists: Google Analytics utm_*, Facebook fbclid,
#: Google Ads gclid, Microsoft msclkid, Mailchimp mc_eid, Instagram
#: igshid). A param matches only by FULL name (anchored), with or
#: without a value.
_TRACKING_PARAM = (
    r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid)(=.*)?$"
)


def canonicalize_urls_ext(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Extended canonicalization for frontier dedup QUALITY beyond the
    reference's fragment-strip contract (Q1): `canonicalize_urls`
    (lowercase scheme/host, default-port drop, fragment strip) plus
    query-string normalization — strip tracking params
    (:data:`_TRACKING_PARAM`), sort the survivors so param order stops
    mattering, drop empty tokens and a now-empty ``?``.

    At web scale this is the single biggest exact-dedup win after
    fragment stripping: the same document reached via a newsletter
    (utm_*), a social share (fbclid) and a plain link collapses to ONE
    frontier row instead of three fetches. NOT applied on the
    reference-parity path (the reference keeps query strings verbatim,
    photon.py:91 — golden tests pin that); this is the opt-in
    production knob.

    Pure JVM expressions (split / filter / array_sort / array_join) —
    narrow, stays in whole-stage codegen with the downstream hash.
    """
    df = canonicalize_urls(df, url_col)
    url = F.col(url_col)
    qpos = F.instr(url, "?")
    pre = F.substring_index(url, "?", 1)
    query = F.expr(f"substr(`{url_col}`, instr(`{url_col}`, '?') + 1)")
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return df.withColumn(
        url_col,
        F.when((qpos == 0) | (qs == ""), pre).otherwise(
            F.concat(pre, F.lit("?"), qs)
        ),
    )


def surt_key(url: "F.Column | str") -> "F.Column":
    """SURT (Sort-friendly URI Reordering Transform — the public
    convention of webarchive-commons/pywb/OpenWayback) key expression:

        http://WWW.Example.COM:80/Path?b=2&a=1
          →  com,example)/path?a=1&b=2

    Pinned definition (ours; SURT has dialects): scheme dropped, host
    lowercased with ONE leading 'www.' stripped and its dot-labels
    reversed comma-joined, path lowercased, fragment dropped, query
    params lexicographically sorted (kept, not stripped — tracking-param
    removal is `canonicalize_urls_ext`'s job, a different contract).

    Why reversed-host keys matter at archive scale: every capture of a
    registrable domain (and all its subdomains) becomes one
    CONTIGUOUS key range, so a range-partitioned/range-sorted CDX
    index answers both exact-URL and whole-domain lookups with a
    bounded scan instead of a full-index filter. Pure JVM
    split/reverse/sort HOFs — codegen, zero Python."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(
        F.coalesce(F.parse_url(u, F.lit("HOST")), F.lit(""))
    )
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.coalesce(F.parse_url(u, F.lit("PATH")), F.lit("")))
    q = F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit(""))
    qs = F.array_join(
        F.array_sort(F.filter(F.split(q, "&"), lambda x: x != "")), "&"
    )
    return F.when(
        qs == "", F.concat(rev, F.lit(")"), path)
    ).otherwise(F.concat(rev, F.lit(")"), path, F.lit("?"), qs))


# <link rel=canonical> — both attribute orders (rel first / href
# first); value ends at quote, '>' or whitespace
_CANON_REL_HREF = (
    "(?i)<link[^>]*rel=[\"']?canonical[\"']?[^>]*href=[\"']?([^\"' >]+)"
)
_CANON_HREF_REL = (
    "(?i)<link[^>]*href=[\"']?([^\"' >]+)[\"']?[^>]*rel=[\"']?canonical"
)


def canonical_targets(
    pages: DataFrame, url_col: str = "url", body_col: str = "body"
) -> DataFrame:
    """(url, canonical_url) for pages that declare
    ``<link rel="canonical">`` — the dedup signal the web itself
    publishes (the public rel=canonical convention, RFC 6596; every
    production crawler honors it, the reference extracts links only).

    Both attribute orders are matched; root-relative hrefs resolve
    against the page's scheme+host; CROSS-HOST canonicals are dropped
    (the conservative hijack guard: a page can claim any URL as its
    canonical, and honoring a foreign host's claim lets one compromised
    page alias-out a competitor — same-host claims can only merge that
    host's own URLs). Self-canonicals are dropped (no-op rewrites).
    Map-only JVM regexp work, dimension-sized output (one row per
    declaring page).

    Hosts are extracted with regexp (port-stripped, lowercased), NOT
    `parse_url`: ParseUrl is a CodegenFallback expression — one
    occurrence drops the whole projection to interpreted mode and
    disables codegen subexpression elimination in a tree where href
    appears inside resolved inside same_host (measured ~25% faster
    after the swap on 10^5 pages — 0.47s warm on a persisted input —
    and it keeps the stage inside WholeStageCodegen)."""
    u = F.col(url_col)
    href = F.coalesce(
        F.nullif(F.regexp_extract(F.col(body_col), _CANON_REL_HREF, 1), F.lit("")),
        F.nullif(F.regexp_extract(F.col(body_col), _CANON_HREF_REL, 1), F.lit("")),
    )
    host_of = lambda c: F.lower(  # noqa: E731
        F.regexp_replace(
            F.regexp_extract(
                c, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1
            ),
            ":[0-9]+$",
            "",
        )
    )
    origin = F.concat(
        F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)", 1)),
        F.lit("://"),
        host_of(u),
    )
    resolved = F.when(href.startswith("/"), F.concat(origin, href)).otherwise(
        href
    )
    same_host = host_of(resolved) == host_of(u)
    return (
        pages.select(u.alias("url"), resolved.alias("canonical_url"))
        .filter(F.col("canonical_url").isNotNull())
        .filter(same_host)
        .filter(F.col("canonical_url") != F.col("url"))
    )


def apply_canonical(
    df: DataFrame, targets: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Rewrite URLs to their declared canonical — ONE broadcast map
    join (the apply_dust_rules shape): the targets frame is
    dimension-sized next to a frontier, so the fact side never
    shuffles. One hop only (a canonical chain a→b→c rewrites a→b;
    run twice to close chains — real crawlers cap chain-following at
    one hop too, and loops make the fixpoint undefined)."""
    t = targets.select(
        F.col("url").alias("_c_url"),
        F.col("canonical_url").alias("_c_to"),
    )
    out = df.join(
        F.broadcast(t), df[url_col] == F.col("_c_url"), "left"
    ).withColumn(url_col, F.coalesce(F.col("_c_to"), F.col(url_col)))
    return out.drop("_c_url", "_c_to")


def resolve_redirects(
    edges: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Resolve every redirect chain to its final target by POINTER
    DOUBLING — ceil(log2(max_hops)) self-join rounds instead of
    max_hops sequential ones (the same shortcut dup_components uses
    for label chains). The crawl records (src, dst) per 3xx hop; the
    frontier must enqueue FINAL targets or every hop of a chain is
    fetched, deduped and stored as if it were a page (the reference
    lets `requests` chase up to 3 hops invisibly, core/requester.py:8-9
    — the chain itself is never data there).

    Each src keeps ONE outgoing edge (HTTP Location is single-valued;
    duplicate observations resolve to min(dst) for determinism).
    Returns one row per redirect SOURCE:

      src, final_url, hops, resolved —
      resolved=false marks chains that did not terminate within
      max_hops: redirect LOOPS (a→b→a) and deeper-than-cap chains,
      both of which a crawler drops (browsers cap around 20; the
      reference at 3). Unresolved rows carry NULL final_url/hops —
      there is no fetch target, and NULL is engine-independent where
      the doubling walk's intermediate position would not be.

    Per round: one left self-join on the pointer table + localCheckpoint
    (O(1) lineage); the pointer table is one row per redirect source —
    dimension-scale next to the page corpus even at 10^10 URLs (redirect
    sources are a small fraction of fetches)."""
    ptr = (
        edges.groupBy(F.col("src"))
        .agg(F.min("dst").alias("nxt"))
        .withColumn("hops", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    rounds = max(1, int(math.ceil(math.log2(max(2, max_hops)))))
    for _ in range(rounds):
        lut = ptr.select(
            F.col("src").alias("_l_src"),
            F.col("nxt").alias("_l_nxt"),
            F.col("hops").alias("_l_hops"),
        )
        ptr = (
            ptr.join(lut, ptr["nxt"] == F.col("_l_src"), "left")
            .select(
                "src",
                F.coalesce(F.col("_l_nxt"), F.col("nxt")).alias("nxt"),
                # a terminal nxt (no outgoing edge) stops accumulating
                (
                    F.col("hops")
                    + F.coalesce(F.col("_l_hops"), F.lit(0))
                ).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
    # terminal = the final pointer has no outgoing edge of its own;
    # rows whose nxt still has one are mid-cycle or deeper than
    # 2^rounds >= max_hops (every terminal chain of length <= max_hops
    # has reached its terminal by now, with hops = exact length)
    term = ptr.select(F.col("src").alias("_t_src"))
    out = ptr.join(
        term, ptr["nxt"] == F.col("_t_src"), "left_anti"
    ).withColumn("resolved", F.col("hops") <= max_hops)
    cyc = ptr.join(term, ptr["nxt"] == F.col("_t_src"), "left_semi").withColumn(
        "resolved", F.lit(False)
    )
    ok = F.col("resolved")
    return out.unionByName(cyc).select(
        "src",
        F.when(ok, F.col("nxt")).alias("final_url"),
        F.when(ok, F.col("hops")).alias("hops"),
        "resolved",
    )


def canonicalize_urls_pandas(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Arrow-batched pandas twin of `canonicalize_urls` — identical
    output (pytest-pinned parity); the template for canonicalization
    steps that genuinely need Python."""

    @F.pandas_udf("string")
    def _canon(s: pd.Series) -> pd.Series:
        ext = s.str.extract(
            r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.\-]*)://(?P<host>[^/?#]*)(?P<rest>[^#]*)"
        )
        scheme = ext["scheme"].str.lower()
        host = ext["host"].str.lower()
        host = host.mask(
            (scheme == "http") & host.str.endswith(":80"),
            host.str.replace(r":80$", "", regex=True),
        )
        host = host.mask(
            (scheme == "https") & host.str.endswith(":443"),
            host.str.replace(r":443$", "", regex=True),
        )
        out = scheme + "://" + host + ext["rest"].fillna("")
        return out.where(ext["scheme"].notna(), s.str.split("#").str[0])

    return df.withColumn(url_col, _canon(F.col(url_col)))


def param_significance(
    fetched: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
    min_groups: int = 2,
) -> DataFrame:
    """LEARN which query params are content-irrelevant per host, from
    observed (url, content-fingerprint) pairs — the evidence-driven
    complement of :func:`canonicalize_urls_ext`'s static tracking-param
    list. Real crawls meet site-specific session/sort/ref params no
    public list names; the classic fix (search engines' "URL parameter
    handling") is to mine them from fetch history.

    Decision rule, per (host, param): consider every evidence group of
    fetched URLs identical except for that param's VALUE (group key =
    the URL with this param token removed and the rest sorted). The
    param is ``irrelevant`` iff at least ``min_groups`` groups have ≥2
    distinct values (enough evidence) and EVERY such group has exactly
    one distinct content fingerprint (the value never changed the
    content). Presence-vs-absence is deliberately not evidence: a URL
    without the param would join every param's groups and a single
    404-vs-200 difference would poison unrelated params.

    Pure JVM expressions: explode each URL's param tokens, rebuild the
    stripped group key with array ops, then TWO map-side-combinable
    aggregations — (host, param, group) then (host, param). Evidence
    volume is Σ params-per-URL rows; nothing wider ever materializes,
    and the output is dimension-sized (hosts × param names). Feed rows
    with ``irrelevant`` into the canonicalizer's strip list to fold the
    frontier before dedup.

    Output: (host, param, multi_groups, clean_groups, irrelevant).
    URLs without a query string contribute nothing.
    """
    url = F.col(url_col)
    pre = F.substring_index(url, "?", 1)
    query = F.expr(f"substr(`{url_col}`, instr(`{url_col}`, '?') + 1)")
    params = F.when(
        F.instr(url, "?") > 0,
        F.filter(F.split(query, "&"), lambda t: t != ""),
    ).otherwise(F.array().cast("array<string>"))
    host = F.lower(
        F.substring_index(F.substring_index(pre, "://", -1), "/", 1)
    )
    rows = fetched.select(
        host.alias("host"),
        pre.alias("pre"),
        F.col(fp_col).alias("fp"),
        params.alias("params"),
    )
    tok = rows.select(
        "host", "pre", "fp", "params", F.explode("params").alias("tok")
    )
    stripped = F.concat(
        F.col("pre"),
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(F.col("params"), lambda t: t != F.col("tok"))
            ),
            "&",
        ),
    )
    ev = tok.select(
        "host",
        F.substring_index(F.col("tok"), "=", 1).alias("param"),
        F.col("tok").alias("val"),
        "fp",
        stripped.alias("stripped"),
    )
    grp = ev.groupBy("host", "param", "stripped").agg(
        F.countDistinct("val").alias("n_vals"),
        F.countDistinct("fp").alias("n_fps"),
    )
    dec = grp.groupBy("host", "param").agg(
        F.sum(F.when(F.col("n_vals") >= 2, 1).otherwise(0)).alias(
            "multi_groups"
        ),
        F.sum(
            F.when((F.col("n_vals") >= 2) & (F.col("n_fps") == 1), 1).otherwise(
                0
            )
        ).alias("clean_groups"),
    )
    return dec.select(
        "host",
        "param",
        "multi_groups",
        "clean_groups",
        (
            (F.col("multi_groups") >= min_groups)
            & (F.col("clean_groups") == F.col("multi_groups"))
        ).alias("irrelevant"),
    )


def dedup_candidates(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    bloom: UrlBloom | None = None,
    hold: Callable | None = None,
) -> DataFrame:
    """candidates ∖ seen, exactly.

    Both paths produce the identical exact result:
    * default — shuffled left_anti; AQE broadcasts `seen` if small
      enough. The measured winner at sandbox scale (BENCH/BASELINE.md
      §"Seen-filter strategy ladder").
    * ``bloom`` built over ``seen`` — bloom-negative rows skip the
      shuffle entirely; only bloom-positive rows (true dups + ~fpp of
      the new) pay the exact anti-join. The 10^10-frontier path, where
      `seen` fits neither broadcast nor memory. ``hold``, if given,
      caches the frame both branches read (else a localCheckpoint
      does) and takes the filter's broadcast too, to release both
      once the result is no longer read.

    A store-backed crawl with a bucketed `processed` base uses
    `dedup_candidates_parts` instead.
    """
    if bloom is None:
        return candidates.join(seen, url_col, "left_anti")

    bloom_bc = candidates.sparkSession.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bloom_bc.value.might_contain(h.to_numpy(dtype=np.int64)))

    with_flag = candidates.withColumn(
        "_maybe", maybe_seen(F.xxhash64(F.col(url_col)))
    )
    # Both union branches read the flagged frame; cache it (through the
    # caller's hold, else a localCheckpoint) so the upstream
    # (canonicalization + bloom probe) computes exactly once instead of
    # once per branch per downstream stage.
    if hold is None:
        with_flag = with_flag.localCheckpoint(eager=False)
    else:
        hold(bloom_bc)
        with_flag = hold(with_flag)
    definitely_new = with_flag.filter(~F.col("_maybe")).drop("_maybe")
    needs_check = with_flag.filter(F.col("_maybe")).drop("_maybe")
    return definitely_new.unionByName(needs_check.join(seen, url_col, "left_anti"))


def dedup_candidates_parts(
    candidates: DataFrame,
    seen_base: DataFrame,
    seen_delta: DataFrame | None,
    url_col: str = "url",
) -> DataFrame:
    """candidates ∖ (seen_base ∪ seen_delta), exactly — the split-seen
    rung of the dedup ladder for a store-backed crawl.

    ``seen_base`` is the compacted bulk of the seen set read off a
    table BUCKETED on ``url_col`` (CrawlStore.processed_parts): the
    anti-join's seen side comes pre-partitioned+sorted off bucket
    files, so ONLY the candidate side shuffles — |seen| (the 10^10
    term) is never re-exchanged per wave. ``seen_delta`` is the small
    post-compaction tail (≤ compact_every waves of newly processed
    URLs); it is broadcast, so the second anti-join adds no exchange
    at all. Net per-wave cost: one hash exchange of |wave| rows,
    independent of |seen|.

    The reference holds this set as one in-memory Python set
    (photon.py:91-100, core/requester.py:31) — the base/delta split is
    what that becomes when the set outgrows a single machine but the
    per-wave additions stay small.
    """
    out = candidates.join(seen_base, url_col, "left_anti")
    if seen_delta is not None:
        out = out.join(F.broadcast(seen_delta), url_col, "left_anti")
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Crawl-to-crawl change detection: diff two (url, content_hash)
    snapshots into (url, status, old_hash, new_hash) with status in
    {'added', 'removed', 'changed'} — the observation stream
    `plans/schedule.recrawl_schedule` scores change rates from, and
    the maintenance report every production recrawl loop runs.
    Unchanged URLs (the overwhelmingly dominant case at web scale)
    are filtered out INSIDE the join projection so they never reach
    the output.

    Plan shape at 10^10 URLs: ONE full-outer sort-merge join keyed on
    url. When both snapshots live in the bucketed store
    (CrawlStore(bucket_seen=N) writes `processed` bucketed+sorted on
    url), both sides read pre-partitioned off bucket files and the
    join plans with ZERO exchange — the same property
    dedup_candidates_parts exploits. Hash comparison is a narrow
    expression; no state beyond the join.
    """
    o = old.select(
        F.col(url_col).alias("_u"), F.col(hash_col).alias("old_hash")
    )
    n = new.select(
        F.col(url_col).alias("_u"), F.col(hash_col).alias("new_hash")
    )
    j = o.join(n, "_u", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        j.select(
            F.col("_u").alias(url_col),
            status.alias("status"),
            "old_hash",
            "new_hash",
        )
        .filter(F.col("status").isNotNull())
    )


def dust_rules(
    fetched: DataFrame,
    min_support: int = 2,
    max_group: int = 32,
    url_col: str = "url",
    fp_col: str = "fp",
) -> DataFrame:
    """DUST rule mining — "Do Not Crawl in the DUST: Different URLs
    with Similar Text" (Bar-Yossef, Keidar & Schonfeld, WWW 2007,
    public): learn per-host PATH-SEGMENT substitution rules from
    duplicate-content fetch evidence, the path-level complement of
    :func:`param_significance` (which learns QUERY-parameter
    irrelevance from the same (url, fingerprint) evidence). A rule
    (host, seg_a, seg_b, support) says "on this host, swapping path
    segment seg_a for seg_b yields the same content" — mined when ≥
    ``min_support`` same-content URL pairs differ in EXACTLY that one
    '/'-segment. The canonicalizer then rewrites toward the
    lexicographically smaller segment before the seen-filter, so
    mirror paths (/a/… vs /b/…), print views (…/x vs …/print) and
    path-embedded session ids (/s/sid7/… vs /s/canon/…) stop
    multiplying the frontier. The reference canonicalizes nothing —
    every alias is a fresh crawl (core/utils.py regex extraction
    feeds raw URLs straight into the level sets).

    Dataflow (all JVM-side, no UDF):
      1. parse (host, fp, path), dedup — one narrow projection off the
         fetch log plus one dropDuplicates keyed on the triple.
      2. ONE groupBy((host, fp)) with a sorted collect_set of paths —
         the duplicate-evidence groups; groups larger than
         ``max_group`` paths are degenerate (calendars, infinite
         listings) and are dropped BEFORE pair generation — the same
         two-stage bound as minhash_lsh_pairs' max_bucket, so fan-out
         is capped at max_group² per group, never materialized
         unbounded.
      3. pair combinations map-side from the sorted array (nested
         transform, no self-join); per pair, zip the '/'-split
         segment arrays and keep pairs with equal length and EXACTLY
         one differing position.
      4. normalize the differing segments (least/greatest) and count
         support per (host, seg_a, seg_b) — one dimension-sized agg.

    At 10^10 scale the fetch log is touched once; both shuffles key on
    dimension-sized frames (evidence groups, then rules). Output:
    (host, seg_a, seg_b, support) with support ≥ ``min_support``.
    """
    t = fetched.select(
        F.parse_url(F.col(url_col), F.lit("HOST")).alias("host"),
        F.col(fp_col).alias("fp"),
        F.parse_url(F.col(url_col), F.lit("PATH")).alias("path"),
    ).dropDuplicates(["host", "fp", "path"])
    g = (
        t.groupBy("host", "fp")
        .agg(F.array_sort(F.collect_set("path")).alias("ps"))
        .filter((F.size("ps") >= 2) & (F.size("ps") <= int(max_group)))
    )
    combos = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = g.select("host", F.explode(combos).alias("p")).select(
        "host",
        F.split(F.col("p.pa"), "/").alias("sa"),
        F.split(F.col("p.pb"), "/").alias("sb"),
    )
    diffs = F.filter(
        F.zip_with(
            F.col("sa"),
            F.col("sb"),
            lambda x, y: F.struct(x.alias("u"), y.alias("v")),
        ),
        lambda s: s["u"] != s["v"],
    )
    d = (
        pairs.withColumn("diffs", diffs)
        .filter(
            (F.size("sa") == F.size("sb")) & (F.size("diffs") == 1)
        )
        .select(
            "host",
            F.least(F.col("diffs")[0]["u"], F.col("diffs")[0]["v"]).alias(
                "seg_a"
            ),
            F.greatest(F.col("diffs")[0]["u"], F.col("diffs")[0]["v"]).alias(
                "seg_b"
            ),
        )
    )
    return (
        d.groupBy("host", "seg_a", "seg_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= int(min_support))
    )


def apply_dust_rules(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Apply mined :func:`dust_rules` to frontier URLs: rewrite every
    path segment that matches a rule's seg_b to its seg_a, yielding a
    canonical label under which DUST aliases collide in the seen
    filter. Rules are normalized (seg_a < seg_b lexically), so the
    rewrite direction is arbitrary-but-consistent — the point is a
    stable canonical form for dedup, not a "preferred" URL; a
    conflicting pair of rules for the same (host, seg_b) collapses to
    the smallest seg_a (deterministic MIN), so application is
    order-free.

    Shape at scale: rules are dimension-sized by construction (mined
    with a support floor over hosts × segment vocabulary), so they
    compact to ONE map column per host (map_from_entries) and ride a
    BROADCAST left join onto the frontier; the rewrite itself is a
    map-only transform over the split path (element_at per segment —
    JVM expressions, no UDF). The frontier scan stays the only big
    input and is touched once, with zero added shuffles on it.

    Returns (url, canonical_url); feed canonical_url to the seen
    filter / dedup exactly like canonicalize_urls' output.
    """
    rm = (
        rules.groupBy("host", "seg_b")
        .agg(F.min("seg_a").alias("seg_a"))
        .groupBy("host")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("seg_b"), F.col("seg_a")))
            ).alias("rmap")
        )
    )
    parsed = urls.select(
        F.col(url_col).alias("url"),
        F.parse_url(F.col(url_col), F.lit("HOST")).alias("host"),
        F.parse_url(F.col(url_col), F.lit("PATH")).alias("path"),
        F.parse_url(F.col(url_col), F.lit("QUERY")).alias("query"),
    )
    j = parsed.join(F.broadcast(rm), "host", "left")
    segs = F.split(F.col("path"), "/")
    new_path = F.when(
        F.col("rmap").isNull(), F.col("path")
    ).otherwise(
        F.array_join(
            F.transform(
                segs,
                lambda s: F.coalesce(F.element_at(F.col("rmap"), s), s),
            ),
            "/",
        )
    )
    canonical = F.concat(
        F.lit("http://"),
        F.col("host"),
        new_path,
        F.when(
            F.col("query").isNotNull(), F.concat(F.lit("?"), F.col("query"))
        ).otherwise(F.lit("")),
    )
    return j.select("url", canonical.alias("canonical_url"))
