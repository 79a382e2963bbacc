"""Multi-wave recrawl driver (photon_spark/recrawl.py) — the freshness
loop the reference lacks entirely (photon.py:91-100 crawls once and
never revisits): fresh-first scheduling, Cho&Garcia-Molina change-rate
revisits with a least-recently-checked backstop, conditional-GET
bandwidth saving, upsert (merge-on-read) state persistence, resume.

Origins are deterministic wave-aware fakes (sandbox has no network):
the per-wave version vector decides each URL's current ETag, and the
fake honors If-None-Match exactly like an RFC 9110 origin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from photon_spark.plans.storage import CrawlStore
from photon_spark.recrawl import (
    RECRAWL_SCHEMAS,
    recrawl_store,
    run_recrawl,
)


def _origin(versions, fail=()):
    """versions: url -> tuple of version ints indexed by wave (last
    entry carries forward). fail: set of (url, wave) that raise."""

    def for_wave(w):
        def do(url, headers, timeout):
            if (url, w) in fail:
                raise IOError("synthetic transport failure")
            vs = versions[url]
            v = vs[min(w, len(vs) - 1)]
            etag = f'"{url}-v{v}"'
            if headers.get("If-None-Match") == etag:
                return 304, "", "", {}
            return 200, "text/html", f"body|{url}|v{v}", {"ETag": etag}

        return do

    return for_wave


def _universe(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


A_CHANGER = "http://a.test/c0"
A_S1 = "http://a.test/s1"
A_S2 = "http://a.test/s2"
B_S1 = "http://b.test/s1"
URLS = (A_CHANGER, A_S1, A_S2, B_S1)
# changer bumps its version every wave; statics stay at v0
VERSIONS = {
    A_CHANGER: (0, 1, 2, 3, 4, 5),
    A_S1: (0,),
    A_S2: (0,),
    B_S1: (0,),
}


@pytest.mark.slow
def test_fresh_first_then_policy_revisits(spark):
    res = run_recrawl(
        spark,
        _universe(spark, URLS),
        _origin(VERSIONS),
        n_waves=5,
        k=2,
    )
    state = {r["url"]: r for r in res.state.collect()}
    # every universe URL ends up fetched
    assert set(state) == set(URLS)
    # the changer's stored body is its latest fetched version, and it
    # was revisited often: its change history beats every static's
    changer = state[A_CHANGER]
    assert changer["body"].startswith(f"body|{A_CHANGER}|v")
    obs = res.observations.collect()
    changes = {}
    checks = {}
    for r in obs:
        checks[r["url"]] = checks.get(r["url"], 0) + 1
        changes[r["url"]] = changes.get(r["url"], 0) + r["changed"]
    # statics: exactly one change observation (first sighting)
    for u in (A_S1, A_S2, B_S1):
        assert changes[u] == 1
    # changer: first sighting + at least two observed re-changes
    assert changes[A_CHANGER] >= 3
    # changer is checked at least as often as any static on its host
    assert checks[A_CHANGER] >= max(checks[A_S1], checks[A_S2])
    # stored version matches the origin at the changer's last check:
    last_check = max(r["wave"] for r in obs if r["url"] == A_CHANGER)
    v = VERSIONS[A_CHANGER][min(last_check, len(VERSIONS[A_CHANGER]) - 1)]
    assert changer["body"] == f"body|{A_CHANGER}|v{v}"
    assert changer["etag"] == f'"{A_CHANGER}-v{v}"'


@pytest.mark.slow
def test_politeness_budget_per_wave(spark):
    # 6 URLs on one host, k=2 -> no wave schedules more than 2
    urls = tuple(f"http://one.test/p{i}" for i in range(6))
    res = run_recrawl(
        spark,
        _universe(spark, urls),
        _origin({u: (0,) for u in urls}),
        n_waves=4,
        k=2,
    )
    for m in res.metrics:
        assert m["scheduled"] <= 2
    # fresh-first: all six get fetched within ceil(6/2)=3 waves
    assert {r["url"] for r in res.state.collect()} == set(urls)
    assert sum(m["n_modified"] for m in res.metrics[:3]) == 6


def test_304_bandwidth_accounting(spark):
    res = run_recrawl(
        spark,
        _universe(spark, (A_S1, A_S2)),
        _origin(VERSIONS),
        n_waves=3,
        k=2,
    )
    # wave 0: both fresh 200; waves 1-2: both revalidate to 304
    assert res.metrics[0]["n_modified"] == 2
    assert res.metrics[0]["n_unchanged"] == 0
    for m in res.metrics[1:]:
        assert m["n_unchanged"] == m["scheduled"]
        assert m["n_modified"] == 0


@pytest.mark.slow
def test_no_starvation_of_stale_statics(spark):
    # one host, 3 statics + 1 every-wave changer, k=2: the changer may
    # take a slot every wave, but the least-recently-checked backstop
    # must rotate the statics through the second slot.
    res = run_recrawl(
        spark,
        _universe(spark, (A_CHANGER, A_S1, A_S2, "http://a.test/s3")),
        _origin({**VERSIONS, "http://a.test/s3": (0,)}),
        n_waves=6,
        k=2,
    )
    checks = {}
    for r in res.observations.collect():
        checks[r["url"]] = checks.get(r["url"], 0) + 1
    # every static gets rechecked at least once after its first fetch
    for u in (A_S1, A_S2, "http://a.test/s3"):
        assert checks[u] >= 2, f"{u} starved: {checks}"


def test_failed_fetch_keeps_state_and_retries(spark):
    fail = {(A_S1, 0), (A_S2, 1)}
    res = run_recrawl(
        spark,
        _universe(spark, (A_S1, A_S2)),
        _origin(VERSIONS, fail=fail),
        n_waves=3,
        k=2,
    )
    state = {r["url"]: r for r in res.state.collect()}
    # A_S1's first fetch failed -> retried as fresh, landed at wave 1+
    assert state[A_S1]["fetched_wave"] >= 1
    # A_S2 fetched at wave 0; its wave-1 revalidation failed -> stored
    # body kept (stale beats lost), no observation row for the failure
    assert state[A_S2]["body"] == f"body|{A_S2}|v0"
    w1_fail = [m for m in res.metrics if m["wave"] == 1]
    assert w1_fail and w1_fail[0]["n_failed"] >= 1
    obs = [(r["url"], r["wave"]) for r in res.observations.collect()]
    assert (A_S1, 0) not in obs  # failures observe nothing


@pytest.mark.slow
def test_store_resume_identity(spark, tmp_path):
    origin = _origin(VERSIONS)
    uni = _universe(spark, URLS)
    straight = run_recrawl(
        spark, uni, origin, n_waves=4, k=2,
        store=recrawl_store(str(tmp_path / "s1")),
    )
    crashed = run_recrawl(
        spark, uni, origin, n_waves=4, k=2,
        store=recrawl_store(str(tmp_path / "s2")),
        stop_after_wave=1,
    )
    assert crashed is None
    resumed = run_recrawl(
        spark, uni, origin, n_waves=4, k=2,
        store=recrawl_store(str(tmp_path / "s2")),
        resume=True,
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(resumed.state) == key(straight.state)
    assert key(resumed.observations) == key(straight.observations)


def test_upsert_store_last_writer_wins(spark, tmp_path):
    st = recrawl_store(str(tmp_path / "up"))
    sch = RECRAWL_SCHEMAS["state"]

    def delta(rows):
        return spark.createDataFrame(rows, sch)

    r = lambda u, body, w: (u, body, f'"{body}"', None, w, w)  # noqa: E731
    st.commit(0, {"state": delta([r("u/a", "a0", 0), r("u/b", "b0", 0)])}, {})
    st.commit(1, {"state": delta([r("u/a", "a1", 1)])}, {})
    st.commit(2, {"state": delta([r("u/b", "b2", 2), r("u/c", "c2", 2)])}, {})
    latest = {x["url"]: x["body"] for x in st.load(spark, 2)["state"].collect()}
    assert latest == {"u/a": "a1", "u/b": "b2", "u/c": "c2"}
    # time travel: as-of wave 1 sees a1 but the old b0, and no c
    asof1 = {x["url"]: x["body"] for x in st.load(spark, 1)["state"].collect()}
    assert asof1 == {"u/a": "a1", "u/b": "b0"}
    # compaction preserves last-wins resolution, then expire drops
    # pre-base time travel
    st.compact(spark)
    after = {x["url"]: x["body"] for x in st.load(spark, 2)["state"].collect()}
    assert after == latest
    st.commit(3, {"state": delta([r("u/a", "a3", 3)])}, {})
    final = {x["url"]: x["body"] for x in st.load(spark, 3)["state"].collect()}
    assert final == {"u/a": "a3", "u/b": "b2", "u/c": "c2"}
    st.expire()
    with pytest.raises(ValueError):
        st.load(spark, 1)


def test_upsert_delta_internal_dup_is_rejected(spark, tmp_path):
    # contract: one row per key per wave delta — the store raises on a
    # same-wave key collision instead of resolving it arbitrarily
    st = recrawl_store(str(tmp_path / "dup"))
    sch = RECRAWL_SCHEMAS["state"]
    rows = [("u/a", "x", None, None, 0, 0), ("u/a", "y", None, None, 0, 0)]
    st.commit(0, {"state": spark.createDataFrame(rows, sch)}, {})
    with pytest.raises(Exception):
        st.load(spark, 0)["state"].collect()


def test_memory_recrawl_equals_store_recrawl(spark, tmp_path):
    """The in-memory snapshot returns what the store's load() returns,
    row for row."""
    uni = _universe(spark, URLS)
    memory = run_recrawl(spark, uni, _origin(VERSIONS), n_waves=4, k=2)
    stored = run_recrawl(
        spark, uni, _origin(VERSIONS), n_waves=4, k=2,
        store=recrawl_store(str(tmp_path / "s")),
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(memory.state) == key(stored.state)
    assert key(memory.observations) == key(stored.observations)


def test_memory_recrawl_job_count(spark):
    """Job-count guard for the in-memory recrawl: one tagged snapshot
    job per wave. Untraced counts, every AQE query stage included; the
    cache is cleared first, as an identical earlier plan would let a
    call skip its jobs."""
    from tests.test_storage_jobs import _jobs

    uni = _universe(spark, URLS)
    jobs = {}
    for n in (2, 4):
        spark.catalog.clearCache()
        _, jobs[n] = _jobs(
            spark, lambda: run_recrawl(spark, uni, _origin(VERSIONS), n_waves=n, k=2)
        )
    assert jobs[2] <= 19 and jobs[4] <= 43, jobs
