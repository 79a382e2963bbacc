"""Seeded input generators, one per workload.

Every generator is a pure function of the seed: the same seed gives the
same inputs, and two seeds give different sites (or frontiers) of the
same shape. Names are derived with BLAKE2b keyed by the seed; choices
come from ``random.Random(seed)`` or ``numpy.random.default_rng(seed)``.
The engine only ever sees what these functions return.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass

import numpy as np

# Link-free filler vocabulary: lowercase words only, so the padding can
# never match a link, script, intel or key pattern.
_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi aliquip ex ea "
    "commodo consequat duis aute irure in reprehenderit voluptate velit "
    "esse cillum fugiat nulla pariatur excepteur sint occaecat cupidatat "
    "non proident sunt culpa qui officia deserunt mollit anim id est laborum"
).split()


def _name(seed: int, i: int) -> str:
    """Seed-keyed page name; 16 hex digits, unique per (seed, i) in
    practice (the generators assert uniqueness)."""
    h = hashlib.blake2b(str(i).encode(), digest_size=8, key=str(seed).encode())
    return "n" + h.hexdigest()


def _filler(rng: random.Random, n_bytes: int) -> str:
    """Roughly ``n_bytes`` of link-free paragraphs, ~80-byte lines."""
    lines, size = [], 0
    while size < n_bytes:
        line = "<p>" + " ".join(rng.choice(_WORDS) for _ in range(12)) + "</p>"
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


def _tree_pages(root: str, seed: int, n_pages: int, fanout: int) -> tuple[list[str], list[list[int]]]:
    """URLs and child lists of a BFS tree site: page i links to pages
    i*fanout+1 .. i*fanout+fanout. Page 0 is the root; every other page
    lives under /p/, so the directory-relative hrefs that Photon's link
    resolution maps back onto /p/ work from any page."""
    names = [_name(seed, i) for i in range(n_pages)]
    if len(set(names)) != n_pages:
        raise ValueError("page-name collision; pick another seed")
    urls = [root] + [f"{root}/p/{names[i]}" for i in range(1, n_pages)]
    children = [
        [c for c in range(i * fanout + 1, i * fanout + fanout + 1) if c < n_pages]
        for i in range(n_pages)
    ]
    return urls, children


def _child_links(i: int, kids: list[int], seed: int) -> str:
    prefix = "p/" if i == 0 else ""
    return "".join(f'<a href="{prefix}{_name(seed, c)}">c</a>\n' for c in kids)


# ---------------------------------------------------------------------------
# crawl_resume_http: snippet-rich tree site.


@dataclass(frozen=True)
class Snippets:
    intel: tuple[str, ...]
    scripts: tuple[str, ...]
    files: tuple[str, ...]
    external: tuple[str, ...]
    fuzzable: tuple[str, ...]


_HREF = re.compile(r'<a href="?([^"\s>]+)"?>')


def snippet_families() -> Snippets:
    """Classify the fixture site's single-line snippets into families:
    intel paragraphs, script tags, file links, external links and
    fuzzable (query-string) links. Internal page links are left out:
    the generated tree supplies those."""
    from fixtures.gen import HOST, page_bodies
    from photon_spark import kernels as K

    intel, scripts, files, external, fuzzable = set(), set(), set(), set(), set()
    for body in page_bodies().values():
        for line in body.splitlines():
            line = line.strip()
            if line.startswith("<script src"):
                scripts.add(line)
            elif line.startswith("<p>") and "<a " not in line:
                intel.add(line)
            elif line.startswith("<a ") and line.count("<a ") == 1:
                m = _HREF.match(line)
                if not m:
                    continue
                href = m.group(1)
                if K.is_file_link(href):
                    files.add(line)
                elif href.startswith(("http", "//")) and HOST not in href:
                    external.add(line)
                elif "=" in href:
                    fuzzable.add(line)
    return Snippets(*(tuple(sorted(s)) for s in (intel, scripts, files, external, fuzzable)))


def intel_site(seed: int, root: str, fanout: int = 4, depth: int = 2,
               page_bytes: int = 5000) -> dict[str, str]:
    """url -> body for a complete ``fanout``-ary tree of ``depth`` + 1
    levels (one BFS wave per level) served under ``root``.

    Each page carries its child links plus a seed-chosen mix of the
    fixture's intel, script, file and external snippet families, padded
    with link-free filler to about ``page_bytes``. The root page also
    carries a few fuzzable links with seed-chosen query values: unserved
    pages that the first wave after the root fetches alongside the
    root's children, so they add no wave. The fixture's JS files are
    served under ``root`` so the post-loop script pass finds endpoints.
    """
    from fixtures.gen import ROOT, page_bodies

    rng = random.Random(seed)
    fam = snippet_families()
    n_pages = (fanout ** (depth + 1) - 1) // (fanout - 1)
    urls, children = _tree_pages(root, seed, n_pages, fanout)
    site: dict[str, str] = {}
    for i, url in enumerate(urls):
        parts = ["<html><body>\n", _child_links(i, children[i], seed)]
        parts += [s + "\n" for s in rng.sample(fam.intel, rng.randint(2, 6))]
        parts += [s + "\n" for s in rng.sample(fam.scripts, rng.randint(0, 2))]
        parts += [s + "\n" for s in rng.sample(fam.files, rng.randint(0, 2))]
        parts += [s + "\n" for s in rng.sample(fam.external, rng.randint(0, 2))]
        if i == 0:
            for q in rng.sample(range(1, 9), 3):
                parts.append(rng.choice(fam.fuzzable).replace("=1", "=%d" % q, 1) + "\n")
        head = "".join(parts)
        site[url] = head + _filler(rng, page_bytes - len(head)) + "</body></html>\n"
    for url, body in page_bodies().items():
        if url.startswith(ROOT) and url.endswith(".js"):
            site[root + url[len(ROOT):]] = body
    return site


# ---------------------------------------------------------------------------
# frontier_wave: Zipf-skewed candidate frontier against a seen set.


def frontier_frames(spark, seed: int, n_urls: int = 500_000, n_hosts: int = 1000,
                    seen_fraction: float = 0.3, zipf_s: float = 1.2, partitions: int = 4):
    """(candidates, seen) for the frontier_wave workload, built from
    ``spark.range`` with seeded hash expressions (no driver-side rows).

    Candidate ``j`` gets a distinct path id (an odd-multiplier bijection
    mod 2**32 with a seed-drawn offset), a Zipf-skewed host rank, and
    one of four spellings: canonical, upper-case scheme and host,
    trailing ``#frag``, or explicit ``:80``. About ``seen_fraction`` of
    the candidates, chosen by hash, are also in the seen set, spelled
    canonically. Columns: candidates (url, pid, rank, seen), seen (url).
    """
    from pyspark.sql import functions as F

    offset = random.Random(seed).randrange(2**32)

    def unit(salt: int):
        return F.pmod(F.xxhash64("id", F.lit(seed), F.lit(salt)), F.lit(1 << 30)) / float(1 << 30)

    base = spark.range(0, n_urls, numPartitions=partitions).select(
        ((F.col("id") * 2654435761 + offset) % (1 << 32)).alias("pid"),
        F.least(
            F.lit(n_hosts - 1), F.floor(n_hosts * F.pow(unit(0), zipf_s * 2.5))
        ).cast("int").alias("rank"),
        F.floor(unit(1) * 4).cast("int").alias("variant"),
        (unit(2) < seen_fraction).alias("seen"),
    )
    host = F.concat(F.lit("h"), F.col("rank"), F.lit(".bench.test"))
    path = F.concat(F.lit("/p/"), F.col("pid"))
    variant = F.col("variant")
    url = (
        F.when(variant == 1, F.concat(F.lit("HTTP://"), F.upper(host), path))
        .when(variant == 2, F.concat(F.lit("http://"), host, path, F.lit("#frag")))
        .when(variant == 3, F.concat(F.lit("http://"), host, F.lit(":80"), path))
        .otherwise(F.concat(F.lit("http://"), host, path))
    )
    cand = base.select(url.alias("url"), "pid", "rank", "seen")
    seen = base.filter("seen").select(F.concat(F.lit("http://"), host, path).alias("url"))
    return cand, seen


def frontier_reference(pid: np.ndarray, rank: np.ndarray, seen: np.ndarray,
                       budget: int) -> dict[str, tuple[int, int, int]]:
    """Exact expected schedule: host -> (count, sum of ids, xor of ids)
    over the URLs the wave must schedule — each host's unseen canonical
    URLs, capped at ``budget`` in ascending URL order (the schedule's
    tie-break). Computed with plain Python/NumPy from the generated
    columns, not with the engine."""
    fresh = ~seen
    order = np.argsort(rank[fresh], kind="stable")
    ids = pid[fresh][order]
    ranks = rank[fresh][order]
    bounds = np.flatnonzero(np.diff(ranks)) + 1
    out: dict[str, tuple[int, int, int]] = {}
    for chunk_ids, chunk_ranks in zip(np.split(ids, bounds), np.split(ranks, bounds)):
        if not len(chunk_ids):
            continue
        # same host: URL order is the decimal string order of the id
        kept = sorted(chunk_ids.tolist(), key=str)[:budget]
        xor = 0
        for k in kept:
            xor ^= k
        out[host_name(int(chunk_ranks[0]))] = (len(kept), sum(kept), xor)
    return out


def host_name(rank: int) -> str:
    return f"h{rank}.bench.test"
