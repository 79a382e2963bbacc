"""CLI surface: the spark-submit entrypoint end-to-end on the fixture
site — outputs must equal the golden oracle's datasets (K1 writer
semantics: non-empty datasets only, sorted, trailing newline)."""

from __future__ import annotations

import pytest

import json
import os

from fixtures.gen import ROOT, pages_df
from oracle.photon_oracle import crawl as oracle_crawl
from fixtures.gen import page_bodies


def test_cli_end_to_end(spark, tmp_path):
    from photon_spark.cli import main

    pages_path = str(tmp_path / "pages.parquet")
    pages_df(spark).write.parquet(pages_path)
    out_dir = str(tmp_path / "out")

    rc = main(
        [
            "-u", ROOT,
            "--pages", pages_path,
            "-o", out_dir,
            "--export", "json",
            "--partitions", "4",
            "--salts", "1",
        ],
        spark=spark,
    )
    assert rc == 0

    golden = oracle_crawl(page_bodies(), ROOT, crawl_level=2).datasets

    # K1: exactly the non-empty datasets exist as .txt
    txt_files = {f[:-4] for f in os.listdir(out_dir) if f.endswith(".txt")}
    assert txt_files == {k for k, v in golden.items() if v}

    for name in txt_files:
        with open(os.path.join(out_dir, f"{name}.txt")) as f:
            content = f.read()
        assert content.endswith("\n")
        # K1 writes one VALUE per line; values that themselves contain
        # newlines (multi-line B64/YARA intel — reference behavior too)
        # occupy several physical lines, so compare line-sets
        want_lines = {ln for v in golden[name] for ln in v.splitlines()}
        assert set(content.splitlines()) == want_lines

    # K2: exported.json has every dataset key with sorted values
    with open(os.path.join(out_dir, "exported.json")) as f:
        exported = json.load(f)
    for name, vals in golden.items():
        assert set(exported[name]) == vals


def test_parse_headers_and_cdx_query():
    """Header parsing matches the reference's extract_headers shape
    (trailing comma stripped); the wayback CDX query string is pinned
    to plugins/wayback.py:10-16 construction."""
    import datetime

    from photon_spark.cli import parse_headers
    from photon_spark.sources.wayback import cdx_query_url

    assert parse_headers(["X-Api: k1,", "Accept: text/html"]) == {
        "X-Api": "k1",
        "Accept": "text/html",
    }
    assert parse_headers([]) is None

    url = cdx_query_url("example.com", "host", today=datetime.date(2026, 8, 17))
    assert url == (
        "http://web.archive.org/cdx/search?url=example.com&matchType=host"
        "&collapse=urlkey&fl=original&filter=mimetype:text/html"
        "&filter=statuscode:200&output=json&from=2026172&to=2026178"
    )


def test_parse_proxy_reference_shapes(tmp_path):
    """T15 --proxy parsing (reference core/utils.py proxy_type:165-180,
    is_proxy_list:148-162): IP:PORT, DOMAIN:PORT, scheme-prefixed,
    file-of-proxies with non-matching lines skipped, invalid raises."""
    import pytest

    from photon_spark.sources.fetch_http import parse_proxy

    assert parse_proxy("10.0.0.1:8080") == [
        {"http": "10.0.0.1:8080", "https": "10.0.0.1:8080"}
    ]
    assert parse_proxy("proxy.example.com:3128") == [
        {"http": "proxy.example.com:3128", "https": "proxy.example.com:3128"}
    ]
    assert parse_proxy("http://10.0.0.1:8080")[0]["http"] == "http://10.0.0.1:8080"
    assert parse_proxy("socks5://proxy.example.org:1080")[0]["https"] == (
        "socks5://proxy.example.org:1080"
    )
    pf = tmp_path / "proxies.txt"
    pf.write_text("10.1.1.1:3128\nnot a proxy\nsocks5://p.example.io:1080\n")
    got = parse_proxy(str(pf))
    assert [p["http"] for p in got] == ["10.1.1.1:3128", "socks5://p.example.io:1080"]
    with pytest.raises(ValueError):
        parse_proxy("no-port-here")


def test_prompt_headers_editor(tmp_path, monkeypatch):
    """T14 interactive headers prompt (reference core/prompt.py:6-22):
    the editor writes into the temp file, prompt_headers returns the
    stripped content, and the composition with parse_headers yields the
    header dict the reference's extract_headers would."""
    from photon_spark.cli import parse_headers, prompt_headers

    editor = tmp_path / "fake_editor.sh"
    editor.write_text(
        "#!/bin/sh\nprintf 'X-Api: key1,\\nAccept: text/html\\n' >> \"$1\"\n"
    )
    editor.chmod(0o755)

    got = prompt_headers(editor=str(editor))
    assert parse_headers(got.splitlines()) == {
        "X-Api": "key1",
        "Accept": "text/html",
    }
    # $EDITOR is honored when no explicit editor is passed
    monkeypatch.setenv("EDITOR", str(editor))
    assert "X-Api" in prompt_headers()
    # the default pre-fill seeds the buffer (reference prompt(default=...))
    assert prompt_headers(default="Base: v", editor=str(editor)).startswith(
        "Base: v"
    )


def test_fetch_wayback_seeds_parses_cdx(monkeypatch):
    """Production S4: the canned CDX payload (header row + one URL per
    row, reference plugins/wayback.py:16-22) parses into the seeds the
    reference's time_machine would return, and the transport receives
    the pinned query URL."""
    import datetime

    from photon_spark.sources.wayback import cdx_query_url, fetch_wayback_seeds

    asked = []

    def canned(url: str) -> str:
        asked.append(url)
        return (
            '[["original"],'
            '["http://example.com/a"],'
            '["http://example.com/b?q=1"]]'
        )

    today = datetime.date(2026, 8, 17)
    seeds = fetch_wayback_seeds("example.com", transport=canned, today=today)
    assert seeds == ("http://example.com/a", "http://example.com/b?q=1")
    assert asked == [cdx_query_url("example.com", today=today)]
    # header-only payload (no captures in window) → empty seed tuple
    assert fetch_wayback_seeds("x.org", transport=lambda u: '[["original"]]') == ()


@pytest.mark.slow
def test_cli_wayback_flag_merges_seeds(spark, tmp_path, monkeypatch):
    """--wayback fetches CDX seeds for the target host and merges them
    like -s/--seeds-file (reference photon.py --wayback path)."""
    from photon_spark import cli as cli_mod
    from photon_spark.sources import wayback as wb

    monkeypatch.setattr(
        wb,
        "fetch_wayback_seeds",
        lambda host, transport=None, mode="host", today=None: (
            ("http://h0.fixture.test/d2.html",) if host == "h0.fixture.test" else ()
        ),
    )
    pages_path = str(tmp_path / "pages_wb.parquet")
    pages_df(spark).write.parquet(pages_path)
    out_dir = str(tmp_path / "out_wb")
    rc = cli_mod.main(
        ["-u", ROOT, "--pages", pages_path, "-o", out_dir, "--wayback",
         "--partitions", "4", "--salts", "1"],
        spark=spark,
    )
    assert rc == 0
    golden = oracle_crawl(
        page_bodies(), ROOT, crawl_level=2,
        seeds=("http://h0.fixture.test/d2.html",),
    ).datasets
    with open(os.path.join(out_dir, "internal.txt")) as f:
        got = set(f.read().splitlines())
    assert got == {ln for v in golden["internal"] for ln in v.splitlines()}


def test_cli_seeds_file_and_http_fetcher(spark, tmp_path):
    """--seeds-file merges extra seeds (wayback-as-seeds shape) and
    --http swaps the fetch stage; crawl results equal the oracle with
    the same seed set."""
    from photon_spark.cli import main

    pages_path = str(tmp_path / "pages.parquet")
    pages_df(spark).write.parquet(pages_path)
    out_dir = str(tmp_path / "out2")
    seeds_file = tmp_path / "wayback_seeds.txt"
    seeds_file.write_text("# archived urls\nhttp://h0.fixture.test/d2.html\n\n")

    rc = main(
        [
            "-u", ROOT,
            "--pages", pages_path,
            "-o", out_dir,
            "--seeds-file", str(seeds_file),
            "--partitions", "4",
            "--salts", "1",
        ],
        spark=spark,
    )
    assert rc == 0
    golden = oracle_crawl(
        page_bodies(), ROOT, crawl_level=2, seeds=("http://h0.fixture.test/d2.html",)
    ).datasets
    with open(os.path.join(out_dir, "internal.txt")) as f:
        got = set(f.read().splitlines())
    assert got == {ln for v in golden["internal"] for ln in v.splitlines()}


def test_make_http_fetcher_plumbs_headers(spark):
    """make_http_fetcher threads CLI header/cookie/UA config into the
    HTTP stage (transport sees them)."""
    import json as _json

    from photon_spark.cli import make_http_fetcher

    def factory():
        def do(url, headers, t):
            return 200, "text/html", _json.dumps(dict(headers))

        return do

    fetcher = make_http_fetcher(
        headers={"X-Tok": "abc"}, cookie="c=1", transport_factory=factory
    )
    wave = spark.createDataFrame([("http://x.test/", 0)], "url string, level int")
    body = fetcher(wave).collect()[0]["body"]
    h = _json.loads(body)
    assert h["X-Tok"] == "abc" and h["Cookie"] == "c=1"


@pytest.mark.slow
def test_cli_csv_export(spark, tmp_path):
    """K2 CSV shape (reference plugins/exporter.py:16-24): one row per
    dataset, row = [name] + values."""
    import csv

    from photon_spark.cli import main

    pages_path = str(tmp_path / "pages_csv.parquet")
    pages_df(spark).write.parquet(pages_path)
    out_dir = str(tmp_path / "out_csv")
    rc = main(
        ["-u", ROOT, "--pages", pages_path, "-o", out_dir,
         "--export", "csv", "--partitions", "4", "--salts", "1"],
        spark=spark,
    )
    assert rc == 0
    golden = oracle_crawl(page_bodies(), ROOT, crawl_level=2).datasets
    with open(os.path.join(out_dir, "exported.csv"), newline="") as f:
        rows = {r[0]: r[1:] for r in csv.reader(f) if r}
    for name, vals in golden.items():
        assert set(rows.get(name, [])) == vals, name


@pytest.mark.slow
def test_cli_warns_transport_flags_without_http(spark, tmp_path, capsys):
    """--header/--cookie/--user-agent without --http never reach a wire;
    the CLI must say so instead of silently ignoring them (r2 ADVICE)."""
    from photon_spark.cli import main

    pages_path = str(tmp_path / "pages_warn.parquet")
    pages_df(spark).write.parquet(pages_path)
    rc = main(
        ["-u", ROOT, "--pages", pages_path, "-o", str(tmp_path / "out_warn"),
         "--header", "X-Probe: 1", "--partitions", "4", "--salts", "1"],
        spark=spark,
    )
    assert rc == 0
    err = capsys.readouterr().err
    assert "no effect without" in err and "--http" in err
    # with --http (and a fake transport-free run we can't do here), the
    # pure --pages path must NOT warn
    capsys.readouterr()
    rc = main(
        ["-u", ROOT, "--pages", pages_path, "-o", str(tmp_path / "out_warn2"),
         "--partitions", "4", "--salts", "1"],
        spark=spark,
    )
    assert rc == 0
    assert "no effect without" not in capsys.readouterr().err


@pytest.mark.slow
def test_spark_submit_pyfiles_deployment(spark, tmp_path):
    """The north-rule deployment path: `spark-submit --py-files
    photon_spark.zip cli.py ...` in a FRESH JVM (no repo on
    sys.path — the zip is the only code shipped) reproduces the
    golden dataset counts."""
    import subprocess
    import sys
    import zipfile

    pages_path = str(tmp_path / "pages_submit.parquet")
    pages_df(spark).write.parquet(pages_path)
    zpath = str(tmp_path / "photon_spark.zip")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(os.path.join(repo, "photon_spark")):
            if "__pycache__" in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, repo))

    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zpath,
            os.path.join(repo, "photon_spark", "cli.py"),
            "-u", ROOT, "--pages", pages_path,
            "-o", str(tmp_path / "out_submit"), "--partitions", "4",
        ],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    counts_line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("datasets: ")
    )
    golden = oracle_crawl(page_bodies(), ROOT, crawl_level=2).datasets
    want = ", ".join(
        f"{k}={len(v)}" for k, v in sorted(golden.items()) if v
    )
    assert counts_line == f"datasets: {want}"


def test_cli_clone_http_fetches_each_url_once(spark, tmp_path, monkeypatch):
    """--clone with --http must reuse the bodies fetched during the
    crawl (ADVICE r4: it previously re-fetched every crawled URL in a
    second full network pass that also bypassed schedule_wave). The
    transport logs every fetch to a file (visible across Python worker
    processes); after a --clone run each crawled URL appears exactly
    once and the mirror holds the fetched bodies."""
    import photon_spark.cli as cli_mod
    from photon_spark.sinks import mirror_relpath

    log = tmp_path / "fetch_log.txt"
    log.write_text("")
    logpath = str(log)

    real_make = cli_mod.make_http_fetcher

    def factory():
        from fixtures.gen import page_bodies as _pb

        bodies = _pb()

        def do(url, headers, t):
            with open(logpath, "a") as f:
                f.write(url + "\n")
            # like a real server, '/' and '' resolve to the same page
            # (ROOT and ROOT+'/' share one mirror path — last-write-
            # wins must be content-identical, as on a live site)
            b = bodies.get(url)
            if b is None and url.endswith("/"):
                b = bodies.get(url.rstrip("/"))
            if b is None:
                return 404, "text/html", ""
            return 200, "text/html", b

        return do

    monkeypatch.setattr(
        cli_mod,
        "make_http_fetcher",
        lambda **kw: real_make(**{**kw, "transport_factory": factory}),
    )

    pages_path = str(tmp_path / "pages_clone.parquet")
    pages_df(spark).write.parquet(pages_path)
    out_dir = str(tmp_path / "out_clone")
    rc = cli_mod.main(
        [
            "-u", ROOT,
            "--pages", pages_path,
            "-o", out_dir,
            "--http",
            "--clone",
            "--partitions", "4",
            "--salts", "1",
        ],
        spark=spark,
    )
    assert rc == 0

    fetched = open(logpath).read().splitlines()
    dupes = {u for u in fetched if fetched.count(u) > 1}
    assert not dupes, f"re-fetched during --clone: {sorted(dupes)}"

    bodies = page_bodies()
    root_mirror = os.path.join(out_dir, "mirror", mirror_relpath(ROOT))
    assert os.path.isfile(root_mirror)
    with open(root_mirror, encoding="utf-8") as f:
        assert f.read() == bodies[ROOT]


def test_cli_clone_http_retries_failed_fetch(spark, tmp_path, monkeypatch):
    """--clone retries a page whose crawl-time fetch failed (ADVICE:
    the reused crawl bodies include the failure's 'dummy' body, which
    used to hide the URL from the re-fetch pass, so the page silently
    vanished from the mirror). The injected transport raises on the
    first fetch of one page and serves it afterwards."""
    import photon_spark.cli as cli_mod
    from photon_spark.sinks import mirror_relpath

    bodies = page_bodies()
    crawled = oracle_crawl(bodies, ROOT, crawl_level=2).waves
    target = sorted(u for u in crawled if u != ROOT and u in bodies)[0]
    log = tmp_path / "fetch_log.txt"
    log.write_text("")
    logpath, marker = str(log), str(tmp_path / "failed_once")
    real_make = cli_mod.make_http_fetcher

    def factory():
        from fixtures.gen import page_bodies as _pb

        pages = _pb()

        def do(url, headers, t):
            with open(logpath, "a") as f:
                f.write(url + "\n")
            if url == target and not os.path.exists(marker):
                open(marker, "w").close()  # visible across Python workers
                raise ConnectionError("transient failure")
            b = pages.get(url)
            if b is None and url.endswith("/"):
                b = pages.get(url.rstrip("/"))
            if b is None:
                return 404, "text/html", ""
            return 200, "text/html", b

        return do

    monkeypatch.setattr(
        cli_mod,
        "make_http_fetcher",
        lambda **kw: real_make(**{**kw, "transport_factory": factory}),
    )
    pages_path = str(tmp_path / "pages_retry.parquet")
    pages_df(spark).write.parquet(pages_path)
    out_dir = str(tmp_path / "out_retry")
    rc = cli_mod.main(
        [
            "-u", ROOT,
            "--pages", pages_path,
            "-o", out_dir,
            "--http",
            "--clone",
            "--partitions", "4",
            "--salts", "1",
        ],
        spark=spark,
    )
    assert rc == 0
    assert os.path.exists(marker)
    assert open(logpath).read().splitlines().count(target) == 2
    with open(os.path.join(out_dir, "mirror", mirror_relpath(target)),
              encoding="utf-8") as f:
        assert f.read() == bodies[target]


def test_cli_timeout_drops_hung_page(spark, tmp_path, monkeypatch):
    """--timeout and -d/--delay reach the HTTP fetch stage
    (reference photon.py:121-122). Over a loopback server, a page that
    answers only after --timeout yields no body — its outlink is never
    discovered — and the crawl still completes and writes its output."""
    import threading
    import time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    import photon_spark.cli as cli_mod
    from fixtures.gen import PAGES_SCHEMA, _spanify

    site = {
        "/": '<a href="/a.html">a</a>\n<a href="/slow.html">s</a>',
        "/a.html": '<a href="/b.html">b</a>',
        "/slow.html": '<a href="/only-from-slow.html">x</a>',
    }
    hang_s = 3.0

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path == "/slow.html":
                time.sleep(hang_s)
            body = site.get(self.path)
            try:
                if body is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                data = body.encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
            except OSError:
                pass  # the client gave up on the hung page

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    root = f"http://127.0.0.1:{server.server_address[1]}"
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()

    seen = {}
    real_make = cli_mod.make_http_fetcher

    def recording_make(**kw):
        seen.update(kw)
        return real_make(**kw)

    monkeypatch.setattr(cli_mod, "make_http_fetcher", recording_make)
    pages_path = str(tmp_path / "pages_hang.parquet")
    bodies = {(root + p).rstrip("/"): b for p, b in site.items()}
    spark.createDataFrame(
        [{"doc_id": u, "spans": _spanify(u, b)} for u, b in bodies.items()],
        schema=PAGES_SCHEMA,
    ).write.parquet(pages_path)
    out_dir = str(tmp_path / "out_hang")
    try:
        rc = cli_mod.main(
            ["-u", root, "--pages", pages_path, "-o", out_dir, "--http",
             "--timeout", "0.5", "-d", "0.01", "--partitions", "2", "--salts", "1"],
            spark=spark,
        )
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=5)
    assert not thread.is_alive()
    assert rc == 0
    assert seen["timeout"] == 0.5 and seen["delay"] == 0.01
    # the crawl equals the oracle's over the site without the hung page
    del bodies[root + "/slow.html"]
    want = oracle_crawl(bodies, root, crawl_level=2).datasets["internal"]
    assert root + "/only-from-slow.html" not in want
    with open(os.path.join(out_dir, "internal.txt")) as f:
        assert set(f.read().splitlines()) == want


def test_cli_t_is_not_timeout():
    """The reference's -t is --threads; its timeout has only the long
    flag. -t stays unbound, so a reference invocation fails loudly."""
    from photon_spark.cli import build_parser

    args = ["-u", "http://h0.fixture.test", "--pages", "p.parquet"]
    assert build_parser().parse_args(args + ["--timeout", "0.5"]).timeout == 0.5
    with pytest.raises(SystemExit):
        build_parser().parse_args(args + ["-t", "10"])
