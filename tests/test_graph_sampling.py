"""Units for hits_scores (vs a pure-Python HITS) and
sample_k_per_group (cardinality, determinism, partition invariance)."""

from __future__ import annotations

import pytest

import hashlib
import random

from photon_spark.operators import sampling
from photon_spark.plans.schedule import hits_scores


def _ref_hits(edges, iters):
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: 1 for n in nodes}
    auth = {n: 0 for n in nodes}
    for _ in range(iters):
        auth = {n: 0 for n in nodes}
        for u, v in edges:
            auth[v] += hub[u]
        hub = {n: 0 for n in nodes}
        for u, v in edges:
            hub[u] += auth[v]
    return auth, hub


def test_hits_matches_reference(spark):
    rng = random.Random(7)
    edges = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(200)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["host"]: (r["auth_score"], r["hub_score"])
        for r in hits_scores(df, iters=3).collect()
    }
    auth, hub = _ref_hits(edges, 3)
    assert got == {n: (auth[n], hub[n]) for n in auth}
    assert max(a for a, _ in got.values()) > 0


def test_hits_dangling_nodes(spark):
    # sink (no out-edges) and source (no in-edges) must appear with 0s
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src int, dst int"
    )
    got = {
        r["host"]: (r["auth_score"], r["hub_score"])
        for r in hits_scores(df, iters=2).collect()
    }
    auth, hub = _ref_hits([(1, 2), (2, 3), (1, 3)], 2)
    assert got == {n: (auth[n], hub[n]) for n in auth}
    assert got[3][1] == 0  # pure sink: zero hub
    assert got[1][0] == 0  # pure source: zero authority


def test_sample_k_per_group_exact_and_stable(spark):
    rows = [(i, f"g{i % 5}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sampling.sample_k_per_group(df, "grp", k=9, key_col="doc_id")
    got = sorted((r["grp"], r["doc_id"]) for r in out.collect())
    # exact cardinality per group
    from collections import Counter

    assert Counter(g for g, _ in got) == {f"g{i}": 9 for i in range(5)}
    # matches the pure-Python selection rule
    want = []
    for g in range(5):
        members = [i for i in range(300) if i % 5 == g]
        members.sort(
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
        want.extend((f"g{g}", i) for i in members[:9])
    assert got == sorted(want)
    # partition invariance
    again = sorted(
        (r["grp"], r["doc_id"])
        for r in sampling.sample_k_per_group(
            df.repartition(13), "grp", k=9, key_col="doc_id"
        ).collect()
    )
    assert again == got


def test_sample_k_small_groups_keep_all(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, grp string"
    )
    assert sampling.sample_k_per_group(df, "grp", k=10).count() == 3


def test_retry_backoff_schedule_cases(spark):
    from photon_spark.plans.schedule import retry_backoff_schedule

    rows = [
        # u1: one failure at wave 2 -> retry at 2 + 2^1 = 4
        ("u1", 2, False),
        # u2: failed then succeeded -> excluded
        ("u2", 0, False), ("u2", 1, True),
        # u3: three failures, last at wave 5 -> 5 + 2^3 = 13
        ("u3", 1, False), ("u3", 3, False), ("u3", 5, False),
        # u4: four failures -> dropped (max_retries=4)
        ("u4", 0, False), ("u4", 1, False), ("u4", 2, False), ("u4", 3, False),
        # u5: five failures with cap: 2^5=32 capped at 16 (max_retries=9)
        ("u5", 0, False), ("u5", 1, False), ("u5", 2, False),
        ("u5", 3, False), ("u5", 7, False),
        # u6: success only -> excluded
        ("u6", 0, True),
    ]
    df = spark.createDataFrame(rows, "url string, wave int, ok boolean")
    got = {
        r["url"]: (r["n_failures"], r["next_wave"])
        for r in retry_backoff_schedule(df).collect()
    }
    assert got == {"u1": (1, 4), "u3": (3, 13)}
    wide = {
        r["url"]: (r["n_failures"], r["next_wave"])
        for r in retry_backoff_schedule(df, max_retries=9).collect()
    }
    assert wide["u5"] == (5, 7 + 16)  # backoff capped
    assert "u2" not in wide and "u6" not in wide


def test_edge_guards(spark):
    import pytest as _pt

    from photon_spark.plans.schedule import hits_scores
    from photon_spark.sources.sitemap import sitemap_tree_locs

    e = spark.createDataFrame([(1, 2)], "src int, dst int")
    with _pt.raises(ValueError):
        hits_scores(e, iters=0)
    p = spark.createDataFrame([("a", "b")], "doc_id string, body string")
    with _pt.raises(ValueError):
        sitemap_tree_locs(p, ["a"], max_depth=0)


# ---------------------------------------------------------------------------
# trust_rank — seed-personalized authority


@pytest.mark.slow
def test_trustrank_demotes_unreachable_farm(spark):
    from photon_spark.plans.schedule import trust_rank

    # trusted component: seed -> good1 -> good2 -> seed
    # link farm: farm1 <-> farm2 (only cite each other, no seed path)
    # bridge: good2 -> farm1 lets SOME trust leak into farm1
    edges = spark.createDataFrame(
        [
            ("seed", "good1"),
            ("good1", "good2"),
            ("good2", "seed"),
            ("good2", "farm1"),
            ("farm1", "farm2"),
            ("farm2", "farm1"),
            ("farm2", "farm3"),  # farm3: reachable only via the farm
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("seed",)], "host string")
    t = {r.host: r.trust for r in trust_rank(edges, seeds, iters=8).collect()}
    # the seed keeps the most trust; every host holds some (all are
    # seed-reachable here), and trust decays with distance INTO the
    # farm (farm3 sits behind two extra damped hops)
    assert t["seed"] == max(t.values())
    assert all(v > 0 for v in t.values())
    assert t["farm3"] < t["farm1"]
    # cut the bridge: the farm becomes seed-unreachable -> exactly 0
    cut = edges.filter("NOT (src = 'good2' AND dst = 'farm1')")
    t2 = {r.host: r.trust for r in trust_rank(cut, seeds, iters=8).collect()}
    assert t2["farm1"] == 0.0 and t2["farm2"] == 0.0 and t2["farm3"] == 0.0
    assert t2["good1"] > 0


def test_trustrank_isolated_component_exactly_zero(spark):
    from photon_spark.plans.schedule import trust_rank

    edges = spark.createDataFrame(
        [("s", "a"), ("x", "y"), ("y", "x")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("s",)], "host string")
    t = {r.host: r.trust for r in trust_rank(edges, seeds, iters=4).collect()}
    assert t["x"] == 0.0 and t["y"] == 0.0  # no seed path -> exactly 0
    assert t["a"] > 0

    # empty seed set: defined, all-zero
    none = spark.createDataFrame([], "host string")
    t0 = {r.host: r.trust for r in trust_rank(edges, none).collect()}
    assert set(t0.values()) == {0.0}


@pytest.mark.parametrize("damping", [0.85, 0.75])
def test_host_rank_is_trust_rank_seeded_everywhere(spark, damping):
    """host_rank is the uniform-teleport case of trust_rank's power
    iteration: seeding every node gives the same rows, rank == trust,
    dangling hosts included."""
    from photon_spark.plans.schedule import host_rank, trust_rank

    rng = random.Random(5)
    edges = [(rng.randint(0, 60), rng.randint(0, 70)) for _ in range(400)]
    e = spark.createDataFrame(edges, "src int, dst int")
    every = e.selectExpr("src AS host").union(e.selectExpr("dst AS host"))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(host_rank(e, iters=4, damping=damping)) == rows(
        trust_rank(e, every, iters=4, damping=damping)
    )


# ---------------------------------------------------------------------------
# broadcast_state=False — the >10^8-host escape hatch


@pytest.mark.slow
def test_broadcast_state_off_parity(spark):
    """The five iterative graph operators must return IDENTICAL rows
    with broadcast_state=False (no hints; AQE picks the join strategy
    from runtime sizes — the mode for host dimensions too big to
    broadcast). Hints only change the physical plan, never the result;
    this pins that contract so the flag stays safe to flip at scale.

    hits is integer-exact so dict equality is exact; the float-scored
    operators are floor-rounded at 1e-6 inside the operator, far above
    join-order ulp wobble, so exact equality holds there too.
    """
    from photon_spark.plans.schedule import (
        host_rank,
        hits_scores,
        opic_init,
        opic_scores,
        opic_update,
        trust_rank,
    )

    rng = random.Random(11)
    edges = [(rng.randint(0, 40), rng.randint(0, 50)) for _ in range(300)]
    e = spark.createDataFrame(edges, "src int, dst int")
    seeds = spark.createDataFrame([(3,), (7,)], "host int")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(host_rank(e, iters=3, broadcast_state=False)) == rows(
        host_rank(e, iters=3)
    )
    assert rows(trust_rank(e, seeds, iters=3, broadcast_state=False)) == rows(
        trust_rank(e, seeds, iters=3)
    )
    assert rows(hits_scores(e, iters=2, broadcast_state=False)) == rows(
        hits_scores(e, iters=2)
    )
    assert rows(opic_scores(e, rounds=2, broadcast_state=False)) == rows(
        opic_scores(e, rounds=2)
    )
    st = opic_init(e)
    assert rows(opic_update(st, e, broadcast_state=False)) == rows(
        opic_update(st, e)
    )


@pytest.mark.slow
def test_reliable_checkpoint_dir_parity(spark, tmp_path):
    """checkpoint_dir swaps the final localCheckpoint for a reliable
    parquet round-trip (the dup_components convention): identical rows,
    and the frame survives lineage recompute because it READS from the
    written path. opic_update rotates tags so wave N+1 never overwrites
    the parquet wave N is scanned from."""
    from photon_spark.plans.schedule import (
        hits_scores,
        host_rank,
        opic_init,
        opic_update,
        spam_mass,
        trust_rank,
    )

    rng = random.Random(13)
    edges = [(rng.randint(0, 25), rng.randint(0, 30)) for _ in range(150)]
    e = spark.createDataFrame(edges, "src int, dst int")
    seeds = spark.createDataFrame([(2,), (5,)], "host int")
    d = str(tmp_path / "ckpt")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(host_rank(e, iters=2, checkpoint_dir=d)) == rows(
        host_rank(e, iters=2)
    )
    assert rows(trust_rank(e, seeds, iters=2, checkpoint_dir=d)) == rows(
        trust_rank(e, seeds, iters=2)
    )
    assert rows(hits_scores(e, iters=2, checkpoint_dir=d)) == rows(
        hits_scores(e, iters=2)
    )
    assert rows(
        spam_mass(e, seeds, iters=2, checkpoint_dir=d)
    ) == rows(spam_mass(e, seeds, iters=2))

    # incremental chain with rotated tags: two reliable waves must
    # reproduce the localCheckpoint chain exactly
    st_l = opic_update(opic_init(e), e)
    st_r = opic_init(e, checkpoint_dir=d, checkpoint_tag="opic_w0")
    st_r = opic_update(st_r, e, checkpoint_dir=d, checkpoint_tag="opic_w1")
    assert rows(st_r) == rows(st_l)
    st_l2 = opic_update(st_l, e)
    st_r2 = opic_update(st_r, e, checkpoint_dir=d, checkpoint_tag="opic_w2")
    assert rows(st_r2) == rows(st_l2)

    import os

    names = set(os.listdir(d))
    assert {"host_rank", "trust_rank", "hits_scores",
            "opic_w0", "opic_w1", "opic_w2"} <= names
