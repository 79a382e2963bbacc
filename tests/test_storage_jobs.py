"""Spark job counts of the CrawlStore operations.

The store's per-wave cost at crawl scale is fixed per-job overhead, not
data work, so the job counts are the regression surface: a commit is
one tagged write, reads are schema-pinned (no footer-inference job),
and compaction takes the non-empty tables from the manifest instead of
probing each one. Jobs are counted with the status tracker under a job
group set around the call.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from photon_spark.plans.storage import STATE_SCHEMAS, CrawlStore

_group_ids = itertools.count()


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"store-jobs-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _urls(spark, prefix, n):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url")
    )


def _crawl_deltas(spark, wave):
    """One shuffle-free delta per state table, in the shapes a crawl
    wave commits."""
    urls = _urls(spark, f"http://h/w{wave}/", 20)

    def values(n):
        return _urls(spark, f"http://h/w{wave}/v", n).select(
            F.col("url").alias("value")
        )

    return {
        "internal": urls,
        "processed": urls,
        "external": _urls(spark, f"http://ext/w{wave}/", 5),
        "files": values(3),
        "bad_intel": _urls(spark, f"http://h/w{wave}/", 4).select(
            "url",
            F.lit("EMAIL").alias("name"),
            F.array(F.lit("a@b.c")).alias("parts"),
            F.lit(False).alias("is_tuple"),
        ),
        "bad_scripts": values(2),
        "custom": values(2),
        "keys": values(2),
        "waves": urls.select("url", F.lit(wave).alias("level")),
    }


def _snapshot(spark, store, wave):
    return {
        name: sorted(repr(r) for r in df.collect())
        for name, df in store.load(spark, wave).items()
    }


def _store(spark, root, waves, **kw):
    store = CrawlStore(root, **kw)
    for w in range(waves):
        store.commit(w, _crawl_deltas(spark, w), {"wave": w})
    return store


def test_commit_is_one_write_job(spark, tmp_path):
    store = CrawlStore(str(tmp_path / "s"))
    deltas = _crawl_deltas(spark, 0)
    _, jobs = _jobs(spark, lambda: store.commit(0, deltas, {}))
    assert jobs <= 2, jobs  # the write, plus any AQE map stage
    wave, meta = store.latest()
    assert sorted(meta["_waves_index"]["0"]) == sorted(STATE_SCHEMAS)


def test_empty_table_lands_no_dir(spark, tmp_path):
    store = CrawlStore(str(tmp_path / "s"))
    store.commit(
        0,
        {"internal": _urls(spark, "http://a/", 3), "external": _urls(spark, "x", 0)},
        {},
    )
    assert store.latest()[1]["_waves_index"]["0"] == ["internal"]
    assert store.load(spark, 0)["external"].count() == 0


@pytest.mark.parametrize("bucket_seen", [0, 4])
def test_reads_run_no_jobs(spark, tmp_path, bucket_seen):
    store = _store(spark, str(tmp_path / "s"), 2, bucket_seen=bucket_seen)
    store.compact(spark)
    store.commit(2, _crawl_deltas(spark, 2), {})
    _, jobs = _jobs(spark, lambda: store.load(spark, 2))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: store.load_table(spark, 2, "processed"))
    assert jobs == 0
    parts, jobs = _jobs(spark, lambda: store.processed_parts(spark))
    assert jobs == 0
    assert (parts is not None) == (bucket_seen > 0)


@pytest.mark.parametrize("bucket_seen", [0, 4])
def test_compact_job_count(spark, tmp_path, bucket_seen):
    store = _store(spark, str(tmp_path / "s"), 2, bucket_seen=bucket_seen)
    before = _snapshot(spark, store, 1)
    _, jobs = _jobs(spark, lambda: store.compact(spark))
    assert jobs <= 8, jobs
    assert store.expire() > 0
    assert _snapshot(spark, store, 1) == before


def test_expire_removes_wave_dirs(spark, tmp_path):
    import os

    store = _store(spark, str(tmp_path / "s"), 2)
    store.compact(spark)
    assert store.expire() == 2 * len(STATE_SCHEMAS)
    assert not [d for d in os.listdir(store.root) if d.startswith("wave=")]


def test_schemas_must_agree_on_shared_column_types(tmp_path):
    with pytest.raises(ValueError, match="'url'"):
        CrawlStore(
            str(tmp_path / "s"),
            schemas={"a": "url string", "b": "url int, n int"},
        )
    # same name, same type: one shared column
    CrawlStore(str(tmp_path / "t"), schemas={"a": "url string", "b": "url STRING"})
    # a name Spark would percent-escape in the partition dir
    with pytest.raises(ValueError, match="'a:b'"):
        CrawlStore(str(tmp_path / "u"), schemas={"a:b": "url string"})


def test_older_layout_manifest_is_refused(tmp_path):
    import json

    store = CrawlStore(str(tmp_path / "s"))
    with open(store._manifest_path(), "w") as f:
        json.dump({"latest_wave": 0, "meta": {"_waves_index": {"0": ["internal"]}}}, f)
    with pytest.raises(ValueError, match="pre-tagged layout"):
        store.latest()
    store.reset()
    assert store.latest() is None
