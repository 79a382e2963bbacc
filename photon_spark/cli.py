"""spark-submit entrypoint mirroring Photon's CLI surface.

In-scope options map 1:1 to the reference's argparse (photon.py:57-99):
-u/--url, -l/--level, -s/--seeds, -r/--regex, --exclude, --only-urls,
--keys, -e/--export, -o/--output, --stdout, -c/--cookie,
--user-agent (comma pool, photon.py:199-200), --header (the
non-interactive twin of the reference's --headers editor), and
--seeds-file (the wayback-as-seeds adapter: the reference's --wayback
feeds archive.org CDX results in as extra seeds — load the same list
from a file; sources/wayback.py pins the CDX query construction), and
-d/--delay and --timeout (photon.py:121-122, applied by the --http
fetch stage; the reference has no short form of --timeout). Out of
scope (network or interactive plumbing, SURVEY.md §7 M5): --dns,
--update, -t/--threads (replaced by Spark parallelism + per-host
budget; -t stays unbound, so a reference invocation with it fails
loudly instead of setting something else).

The sandbox "web" is a parquet table of interleaved span documents
(--pages); in production the fetch join is swapped for the HTTP
mapInPandas stage (SURVEY.md §2.1 S1) and this same entrypoint runs
under `spark-submit --py-files photon_spark.zip`:

    spark-submit --py-files photon_spark.zip photon_spark/cli.py \
        -u http://h0.fixture.test --pages pages.parquet -o out/

Extra engine knobs: --partitions (ceiling), --budget (per-host
politeness cap), --salts (host-skew salting), --store (resumable
snapshot dir), --resume.
"""

from __future__ import annotations

import argparse
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="photon-spark", description="PySpark-native Photon-capability crawler"
    )
    p.add_argument("-u", "--url", required=True, help="root URL (reference -u)")
    p.add_argument("--pages", required=True, help="parquet span-document table (the sandbox web)")
    p.add_argument("-l", "--level", type=int, default=2, help="crawl depth (reference -l, default 2)")
    p.add_argument("-s", "--seeds", nargs="*", default=[], help="additional seed URLs")
    p.add_argument("--seeds-file", default=None,
                   help="file of extra seed URLs, one per line (the wayback-as-seeds "
                        "adapter: feed it a CDX dump — reference --wayback)")
    p.add_argument("--wayback", action="store_true",
                   help="fetch archive.org CDX URLs for the target host as extra "
                        "seeds (reference --wayback; needs network)")
    p.add_argument("--clone", action="store_true",
                   help="mirror fetched pages to <output>/mirror with the "
                        "reference's --clone path layout (corrected mode: the "
                        "reference's writer is broken on Py3 and disables "
                        "extraction, Q7 — this one composes)")
    p.add_argument("-c", "--cookie", default=None, help="cookie string (reference -c)")
    p.add_argument("--header", action="append", default=[], metavar="'Name: value'",
                   help="custom request header, repeatable; replaces the default "
                        "header set like the reference's --headers editor")
    p.add_argument("--headers-edit", action="store_true",
                   help="open $EDITOR to type request headers interactively "
                        "(reference --headers prompt, core/prompt.py); parsed "
                        "like --header lines and merged after them")
    p.add_argument("--user-agent", default=None,
                   help="comma-separated user-agent pool (reference --user-agent)")
    p.add_argument("--proxy", default=None, metavar="IP:PORT|DOMAIN:PORT|FILE",
                   help="proxy (or file of proxies, one per line) rotated "
                        "per-request on the --http path (reference --proxy, "
                        "core/utils.py proxy_type)")
    p.add_argument("--vet-proxies", action="store_true",
                   help="probe each proxy before the crawl and drop dead "
                        "ones (reference photon.py:126-136 is_good_proxy; "
                        "opt-in: needs live internet)")
    p.add_argument("-d", "--delay", type=float, default=0.0,
                   help="seconds to sleep before every HTTP request "
                        "(reference -d, default 0; --http only)")
    p.add_argument("--timeout", type=float, default=6.0,
                   help="HTTP request timeout in seconds; a request that "
                        "takes longer yields no body (reference --timeout, "
                        "default 6; --http only)")
    p.add_argument("--http", action="store_true",
                   help="fetch via live HTTP (mapInPandas requests stage) instead of "
                        "the --pages table join")
    p.add_argument("-r", "--regex", default=None, help="custom regex (reference -r)")
    p.add_argument("--exclude", default=None, help="exclude URLs matching this regex")
    p.add_argument("--only-urls", action="store_true", help="skip intel/JS stages")
    p.add_argument("--keys", action="store_true", help="extract secret keys (corrected-entropy mode)")
    p.add_argument("-o", "--output", default="photon_spark_out", help="output directory")
    p.add_argument("-e", "--export", choices=["json", "csv"], default=None)
    p.add_argument("--stdout", dest="stdout_set", default=None, help="print one dataset to stdout")
    p.add_argument("--parquet-results", action="store_true",
                   help="write the single partitioned results table instead of .txt files")
    # Spark-side knobs
    p.add_argument("--cores", type=int, default=None, help="local[<cores>] (default: env/4)")
    p.add_argument("--partitions", type=int, default=32, help="shuffle-partition ceiling")
    p.add_argument("--budget", type=int, default=None, help="per-host politeness budget/wave")
    p.add_argument("--salts", type=int, default=8, help="fetch partitions a hot host spreads over")
    p.add_argument("--respect-robots", action="store_true",
                   help="gate fetches on robots.txt Disallow rules")
    p.add_argument("--robots-agent", default=None, metavar="NAME",
                   help="RFC 9309 user-agent group selection for the "
                        "robots gate (implies rules from NAME's group)")
    p.add_argument("--sitemap-recursive", action="store_true",
                   help="seed from <sitemapindex> trees + robots Sitemap: lines")
    p.add_argument("--store", default=None, help="snapshot dir (resumable state)")
    p.add_argument("--resume", action="store_true", help="resume from --store's latest wave")
    return p


def parse_headers(pairs: list[str]) -> dict[str, str] | None:
    """'Name: value' strings → header dict (the non-interactive twin of
    the reference's extract_headers, core/utils.py:124-137: same
    'name: value' line shape, trailing comma stripped)."""
    out = {}
    for raw in pairs:
        name, _, value = raw.partition(":")
        name, value = name.strip(), value.strip()
        if name and value:
            out[name] = value[:-1] if value.endswith(",") else value
    return out or None


def prompt_headers(default: str | None = None, editor: str | None = None) -> str:
    """T14 — the reference's interactive headers prompt
    (core/prompt.py:6-22): open a temp file (pre-filled with
    ``default``) in the user's editor, return the stripped content.
    Differences from the reference, both deliberate: $EDITOR is
    honored (the reference hardcodes nano) and the child runs via
    subprocess instead of fork+execvp — same observable contract
    (blocks until the editor exits, then reads the file back)."""
    import os
    import subprocess
    import tempfile

    editor = editor or os.environ.get("EDITOR", "nano")
    with tempfile.NamedTemporaryFile(mode="r+", suffix=".txt") as tmp:
        if default:
            tmp.write(default)
            tmp.flush()
        subprocess.call([editor, tmp.name])
        # Re-open by PATH: editors that save via rename (vim with
        # backupcopy=auto) replace the inode, leaving the original fd
        # pointing at the pre-edit content (ADVICE r4).
        with open(tmp.name, encoding="utf-8") as edited:
            return edited.read().strip()


def make_http_fetcher(
    headers: dict[str, str] | None = None,
    cookie: str | None = None,
    user_agents: tuple[str, ...] | None = None,
    transport_factory=None,
    delay: float = 0.0,
    timeout: float = 6.0,
    proxies: list[dict] | None = None,
):
    """Fetcher for run_crawl(..., fetcher=...) backed by the production
    HTTP stage, with the CLI's header/cookie/UA/proxy plumbing applied.
    `transport_factory` is injectable for tests (no network here)."""
    from photon_spark.sources.fetch_http import DEFAULT_USER_AGENTS, fetch_stage

    def fetcher(wave_df):
        return fetch_stage(
            wave_df,
            transport_factory=transport_factory,
            delay=delay,
            timeout=timeout,
            user_agents=user_agents or DEFAULT_USER_AGENTS,
            headers=headers,
            cookie=cookie,
            proxies=proxies,
        )

    return fetcher


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)

    from photon_spark.config import EngineConfig
    from photon_spark.crawl import run_crawl
    from photon_spark.plans.storage import CrawlStore
    from photon_spark.session import get_spark
    from photon_spark.sinks import export, write_results_table, write_txt

    own_session = spark is None
    if own_session:
        spark = get_spark(cores=args.cores, shuffle_partitions=args.partitions,
                          app_name="photon-spark-cli")
    pages = spark.read.parquet(args.pages)
    seeds = tuple(args.seeds)
    if args.seeds_file:
        from photon_spark.sources.wayback import load_seeds_file

        seeds = seeds + load_seeds_file(args.seeds_file)
    if args.wayback:
        from urllib.parse import urlparse

        from photon_spark.sources.wayback import fetch_wayback_seeds

        seeds = seeds + fetch_wayback_seeds(urlparse(args.url).netloc)
    cfg = EngineConfig(
        crawl_level=args.level,
        only_urls=args.only_urls,
        extract_keys=args.keys,
        faithful_py3=not args.keys,  # --keys implies the corrected-entropy fork (Q6)
        custom_regex=args.regex,
        exclude=args.exclude,
        seeds=seeds,
        per_host_budget=args.budget,
        shuffle_partitions=args.partitions,
        host_salts=args.salts,
        respect_robots=args.respect_robots or args.robots_agent is not None,
        robots_agent=args.robots_agent,
        sitemap_recursive=args.sitemap_recursive,
    )
    fetcher = None
    if not args.http and (
        args.header or args.cookie or args.user_agent or args.proxy
        or args.headers_edit
    ):
        # these flags only reach the wire through the HTTP fetch stage;
        # the --pages table join has no transport to apply them to
        print(
            "warning: --header/--headers-edit/--cookie/--user-agent/--proxy "
            "have no effect without --http (the --pages path reads a parquet "
            "table, not the wire)",
            file=sys.stderr,
        )
    if args.http:
        uas = (
            tuple(a.strip() for a in args.user_agent.split(",") if a.strip())
            if args.user_agent
            else None
        )  # photon.py:199-200: comma-separated pool
        header_lines = list(args.header)
        if args.headers_edit:
            # reference photon.py:168-174: prompt, then extract_headers
            header_lines += prompt_headers().splitlines()
        proxies = None
        if args.proxy:
            from photon_spark.sources.fetch_http import parse_proxy

            try:
                proxies = parse_proxy(args.proxy)
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            if args.vet_proxies:
                # reference photon.py:126-136 startup vetting; opt-in
                # here because the probe needs live internet (the one
                # documented T15 divergence, SURVEY §2.3)
                from photon_spark.sources.fetch_http import vet_proxies

                print("testing proxies, can take a while...",
                      file=sys.stderr)
                good = vet_proxies(proxies)
                for p in proxies:
                    if p not in good:
                        print(f"proxy {p['http']} doesn't seem to work "
                              "or timedout", file=sys.stderr)
                if not good:
                    print("error: no working proxies", file=sys.stderr)
                    return 2
                proxies = good
        fetcher = make_http_fetcher(
            headers=parse_headers(header_lines), cookie=args.cookie,
            user_agents=uas, proxies=proxies, delay=args.delay,
            timeout=args.timeout,
        )
    store = CrawlStore(args.store) if args.store else None
    result = run_crawl(
        spark, pages, args.url, cfg=cfg, store=store, resume=args.resume,
        fetcher=fetcher,
        # --clone over HTTP reuses the bodies the crawl fetched instead
        # of a second full network pass (ADVICE r4)
        keep_bodies=bool(args.clone and fetcher is not None),
    )

    if args.parquet_results:
        write_results_table(result, args.output)
    else:
        write_txt(result, args.output)
    if args.clone:
        # K3 corrected mode: mirror every fetched page (Q7 — the
        # reference's --clone is broken on Py3 AND disables extraction;
        # here it composes with everything else). Bodies come from the
        # same source the crawl used: the HTTP stage when --http, else
        # the pages-table join.
        from pyspark.sql import functions as F

        from photon_spark.config import DUMMY
        from photon_spark.sinks import write_mirror

        waves = result.waves.select("url", "level")
        if fetcher is not None:
            # Bodies fetched during the crawl are kept cached on
            # result.fetched_bodies — no second network pass. Waves
            # not covered there (e.g. --resume continuing a store from
            # an earlier process) are re-fetched, but routed through
            # schedule_wave first: fetch_stage documents host-
            # partitioning + politeness as its precondition.
            kept = result.fetched_bodies
            missing = waves
            if kept is not None:
                # a failed crawl-time fetch left no body (DUMMY): drop
                # those rows so their URLs land in `missing` and get
                # one retry. An empty body is an answer (e.g. a 404
                # page), not a failure, and is not fetched again.
                kept = kept.filter(
                    F.col("body").isNotNull() & (F.col("body") != DUMMY)
                )
                missing = waves.join(
                    kept.select("url"), "url", "left_anti"
                )
            from photon_spark.plans.schedule import schedule_wave

            refetched = fetcher(
                schedule_wave(
                    missing,
                    budget=cfg.per_host_budget,
                    partitions=cfg.shuffle_partitions,
                ).select("url", "level")
            ).select("url", "body")
            fetched = (
                kept.unionByName(refetched) if kept is not None
                else refetched
            )
        else:
            from photon_spark.crawl import body_expr, join_pages

            fetched = join_pages(
                waves, pages.select(F.col("doc_id"), body_expr().alias("body"))
            ).select("url", "body")
        write_mirror(fetched, os.path.join(args.output, "mirror"))
    if args.export:
        export(result, args.output, args.export)
    if args.stdout_set:
        for v in sorted(result.to_sets().get(args.stdout_set, ())):
            print(v)

    # one Spark job for the whole summary, not one count per dataset
    counts = dict(result.results.groupBy("dataset").count().collect())
    print(
        "datasets: "
        + ", ".join(f"{k}={n}" for k, n in sorted(counts.items()) if n),
        file=sys.stderr,
    )
    for m in result.metrics:
        print(f"wave {m['wave']}: scheduled={m['urls_scheduled']} "
              f"({m['urls_per_s']}/s)", file=sys.stderr)
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
