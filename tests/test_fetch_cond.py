"""Conditional-GET revalidation (sources/fetch_http.fetch_stage with
validators attached, sources/fetch_cond.apply_revalidation) — the
fetch-side half of the recrawl loop.

The reference never revisits a URL (photon.py:91-100 pops the frontier
into `processed` permanently), so these semantics are engine additions;
the contract under test is RFC 9110 §13 validator plumbing plus the
merge table documented on apply_revalidation. Transports are fakes
(sandbox has no network); header-visibility assertions echo the header
dict through the body because the mapInPandas worker is a separate
process (same trick as test_fetch_http)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from photon_spark.config import DUMMY
from photon_spark.plans.schedule import recrawl_schedule
from photon_spark.sources.fetch_cond import apply_revalidation
from photon_spark.sources.fetch_http import fetch_stage

ETAG = '"v1-abc"'
LM = "Tue, 01 Jan 2026 00:00:00 GMT"


def _echo_transport_factory():
    """200 text/html whose body is the received header dict as JSON."""

    def do(url, headers, timeout):
        return 200, "text/html", json.dumps(dict(headers)), {}

    return do


def _validating_transport_factory():
    """Origin that honors validators: /cached answers 304 when the
    stored ETag is presented, /changed always answers 200 with fresh
    validators, /gone raises, /img is a non-text 2xx."""

    def do(url, headers, timeout):
        if url.endswith("/cached"):
            if headers.get("If-None-Match") == ETAG:
                return 304, "", "", {"ETag": ETAG}
            return 200, "text/html", "cached-body", {"ETag": ETAG}
        if url.endswith("/changed"):
            return (
                200,
                "text/html",
                "new-body",
                {"ETag": '"v2-def"', "Last-Modified": "Wed, 02 Jan 2026 00:00:00 GMT"},
            )
        if url.endswith("/img"):
            return 200, "image/png", "\x89PNG", {}
        raise ConnectionError(url)

    return do


def test_validators_ride_only_when_stored(spark):
    wave = spark.createDataFrame(
        [
            ("http://h.test/a", 1, ETAG, LM),
            ("http://h.test/b", 1, None, None),
        ],
        "url string, level int, etag string, last_modified string",
    )
    rows = {
        r["url"]: json.loads(r["body"])
        for r in fetch_stage(
            wave, transport_factory=_echo_transport_factory
        ).collect()
    }
    sent_a = rows["http://h.test/a"]
    assert sent_a["If-None-Match"] == ETAG
    assert sent_a["If-Modified-Since"] == LM
    assert sent_a["User-Agent"]  # regular header set still present
    sent_b = rows["http://h.test/b"]
    assert "If-None-Match" not in sent_b and "If-Modified-Since" not in sent_b


def test_missing_validator_columns_are_synthesized(spark):
    # a plain (url, level) wave — fresh URLs mixed into a revalidation
    # pass — needs no split and no schema surgery by the caller
    wave = spark.createDataFrame([("http://h.test/b", 0)], "url string, level int")
    [row] = fetch_stage(
        wave, transport_factory=_echo_transport_factory
    ).collect()
    assert row["status"] == 200 and row["not_modified"] is False
    assert "If-None-Match" not in json.loads(row["body"])


def test_response_semantics_304_200_failure_nontext(spark):
    wave = spark.createDataFrame(
        [
            ("http://h.test/cached", 1, ETAG, LM),
            ("http://h.test/changed", 1, '"old"', None),
            ("http://h.test/gone", 1, None, None),
            ("http://h.test/img", 1, None, None),
        ],
        "url string, level int, etag string, last_modified string",
    )
    rows = {
        r["url"]: r
        for r in fetch_stage(
            wave, transport_factory=_validating_transport_factory
        ).collect()
    }
    c = rows["http://h.test/cached"]
    # 304: empty body, not_modified, and the SENT validators echoed back
    assert (c["status"], c["body"], c["not_modified"]) == (304, "", True)
    assert (c["etag"], c["last_modified"]) == (ETAG, LM)
    ch = rows["http://h.test/changed"]
    # 2xx: new body + RESPONSE validators
    assert (ch["status"], ch["body"], ch["not_modified"]) == (200, "new-body", False)
    assert ch["etag"] == '"v2-def"'
    assert ch["last_modified"] == "Wed, 02 Jan 2026 00:00:00 GMT"
    g = rows["http://h.test/gone"]
    # failure: fetch_stage's swallow-to-sentinel mapping (status 0 + DUMMY)
    assert (g["status"], g["body"], g["not_modified"]) == (0, DUMMY, False)
    # non-text 2xx: content-type gate → DUMMY (reference requester.py gate)
    assert rows["http://h.test/img"]["body"] == DUMMY


def test_apply_revalidation_merge_table(spark):
    """All five merge rows of the docstring table, exactly."""
    prev = spark.createDataFrame(
        [
            ("u/cached", "old-c", ETAG, LM, 3),
            ("u/changed", "old-ch", '"old"', None, 2),
            ("u/gone", "old-g", None, None, 1),
            ("u/untouched", "old-u", None, None, 4),
        ],
        "url string, body string, etag string, last_modified string, fetched_wave int",
    )
    fetched = spark.createDataFrame(
        [
            ("u/cached", 1, 304, "", ETAG, LM, True),
            ("u/changed", 1, 200, "new-ch", '"v2"', "lm2", False),
            ("u/gone", 1, 0, "", None, None, False),
            ("u/fresh", 1, 200, "fresh-body", '"vf"', None, False),
        ],
        "url string, level int, status int, body string, "
        "etag string, last_modified string, not_modified boolean",
    )
    state, obs = apply_revalidation(prev, fetched, wave=7)
    s = {r["url"]: r for r in state.collect()}
    assert len(s) == 5
    # 304 → stored body + validators kept, checked stamped, fetch wave kept
    assert (s["u/cached"]["body"], s["u/cached"]["etag"]) == ("old-c", ETAG)
    assert (s["u/cached"]["fetched_wave"], s["u/cached"]["checked_wave"]) == (3, 7)
    # 2xx → new body + response validators, both waves stamped
    assert (s["u/changed"]["body"], s["u/changed"]["etag"]) == ("new-ch", '"v2"')
    assert (s["u/changed"]["fetched_wave"], s["u/changed"]["checked_wave"]) == (7, 7)
    # failure → everything stored kept, NOT marked checked
    assert (s["u/gone"]["body"], s["u/gone"]["fetched_wave"]) == ("old-g", 1)
    assert s["u/gone"]["checked_wave"] is None
    # fresh insert
    assert (s["u/fresh"]["body"], s["u/fresh"]["fetched_wave"]) == ("fresh-body", 7)
    # untouched carry-over
    assert (s["u/untouched"]["body"], s["u/untouched"]["fetched_wave"]) == ("old-u", 4)
    # observations: changed ∈ {0,1}, failures and carry-overs absent
    o = {(r["url"]): (r["wave"], r["changed"]) for r in obs.collect()}
    assert o == {"u/cached": (7, 0), "u/changed": (7, 1), "u/fresh": (7, 1)}


def test_recrawl_loop_composition(spark):
    """Policy → attach validators → conditional fetch → merge: one
    full turn of the loop the module docstring sketches, on a corpus
    where only the historically-changing URL is scheduled."""
    obs_log = spark.createDataFrame(
        [
            ("h.test", "http://h.test/changed", "2026-01-01 00:00:00"),
            ("h.test", "http://h.test/changed", "2026-01-02 00:00:00"),
            ("h.test", "http://h.test/cached", "2026-01-01 00:00:00"),
        ],
        "host string, url string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    # as-of 2026-01-03 UTC — strictly after the log's last observation,
    # so the changing URL has positive staleness x change-rate
    wave = recrawl_schedule(obs_log, as_of_epoch=1_767_398_400, k=1).select(
        "url", F.lit(1).alias("level")
    )
    assert [r["url"] for r in wave.collect()] == ["http://h.test/changed"]
    prev = spark.createDataFrame(
        [
            ("http://h.test/changed", "old", '"old"', None, 0),
            ("http://h.test/cached", "old-c", ETAG, LM, 0),
        ],
        "url string, body string, etag string, last_modified string, fetched_wave int",
    )
    attached = wave.join(
        prev.select("url", "etag", "last_modified"), "url", "left"
    )
    fetched = fetch_stage(
        attached, transport_factory=_validating_transport_factory
    )
    state, obs = apply_revalidation(prev, fetched, wave=1)
    s = {r["url"]: r for r in state.collect()}
    assert s["http://h.test/changed"]["body"] == "new-body"
    assert s["http://h.test/cached"]["body"] == "old-c"  # unscheduled, untouched
    assert [(r["url"], r["changed"]) for r in obs.collect()] == [
        ("http://h.test/changed", 1)
    ]
