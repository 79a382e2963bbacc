"""Structured Streaming paths: tumbling-window aggregation, the
applyInPandasWithState sessionizer, the foreachBatch wave scheduler
and state maintainers — each run as a real readStream query and
checked against its batch equivalent (which is DuckDB-oracle-checked)
— and crashes inside the maintainers' state swaps."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import pytest

# The readStream twins are end-to-end micro-batch runs (slow); the
# crash-point tests of the state swaps call process_batch directly and
# stay in the per-change gate.


@pytest.mark.slow
def test_streaming_tumbling_counts_match_batch(spark, tmp_path):
    sf = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf}/events.parquet")
    schema = batch.schema

    # the file stream source requires a DIRECTORY to watch
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{sf}/events.parquet")

    stream = (
        spark.readStream.schema(schema)
        .parquet(str(stream_dir))
        # parquet stores TIMESTAMP_NTZ; event-time watermarks need LTZ
        # (session TZ is pinned UTC so the cast is a no-op in value)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
        )
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["w_start"], r["event_type"], r["n"])
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    want = {
        (r["w_start"], r["event_type"], r["n"])
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


@pytest.mark.slow
def test_sessionize_stateful_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions must equal
    the batch gaps-and-islands sessions minus each user's final
    (still-open-in-state) session."""
    from photon_spark.streaming.sessionize import sessionize

    sf = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf}/events.parquet")
    schema = batch.schema

    stream_dir = tmp_path / "ev_stream"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{sf}/events.parquet")

    stream = spark.readStream.schema(schema).parquet(str(stream_dir))
    q = (
        sessionize(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["user_id"], str(r["s_start"]), r["n"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }

    # batch twin: same break rule (gap >= 30 min), drop the last
    # session per user (still open in streaming state, never emitted)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    brk = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            >= 30 * 60,
            1,
        )
        .otherwise(0)
    )
    sess = (
        batch.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("brk", brk)
        .withColumn("sid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.count("*").alias("n"))
    )
    last_sid = sess.groupBy("user_id").agg(F.max("sid").alias("sid"))
    closed = sess.join(last_sid, ["user_id", "sid"], "left_anti")
    want = {
        (r["user_id"], str(r["s_start"]), r["n"]) for r in closed.collect()
    }
    assert got == want
    assert len(got) > 100


@pytest.mark.slow
def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode tumbling agg with a 30-min watermark: an event
    arriving after its window is finalized must be dropped, and windows
    are emitted exactly once when the watermark passes their end."""
    import datetime as dt

    stream_dir = tmp_path / "late_stream"
    stream_dir.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, *hm), v) for hm, v in rows],
            "ts timestamp, v int",
        ).coalesce(1).write.parquet(str(stream_dir / name))

    write_batch("b0", [((10, 0), 1), ((10, 10), 1), ((10, 59), 1), ((11, 30), 1)])

    stream = (
        spark.readStream.schema("ts timestamp, v int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/*")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("w_start"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one LATE event into the already-finalized 10:00 window
        # (watermark is 11:00 after batch 1) + one event advancing the
        # watermark past 12:00 so the 11:00 window finalizes.
        write_batch("b1", [((10, 20), 1), ((13, 0), 1)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["w_start"], r["n"])
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # 10:00 window: 3 events — the late 10:20 arrival is dropped;
    # 11:00 window: the 11:30 event only.
    assert ("10:00", 3) in got
    assert ("11:00", 1) in got
    assert ("10:00", 4) not in got


@pytest.mark.slow
def test_sessionize_event_time_timeout_flushes_open_sessions(spark, tmp_path):
    """With a watermark, open sessions flush once event time passes
    last+gap — no later same-user event needed."""
    import datetime as dt

    from photon_spark.streaming.sessionize import sessionize

    stream_dir = tmp_path / "toev"
    stream_dir.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(
            [(u, dt.datetime(2024, 1, 1, *hm)) for u, hm in rows],
            "user_id long, ts timestamp",
        ).coalesce(1).write.parquet(str(stream_dir / name))

    # user 1: two events 10:00/10:05 (one session); user 2: 10:20
    write_batch("b0", [(1, (10, 0)), (1, (10, 5)), (2, (10, 20))])

    stream = spark.readStream.schema("user_id long, ts timestamp").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(stream_dir) + "/*")
    q = (
        sessionize(stream, gap_minutes=30, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("to_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt_to"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past everyone's last+gap with an
        # unrelated user's event
        write_batch("b1", [(99, (14, 0))])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["user_id"], str(r["s_start"]), str(r["s_end"]), r["n"])
        for r in spark.sql("SELECT * FROM to_sessions").collect()
    }
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2) in got
    assert (2, "2024-01-01 10:20:00", "2024-01-01 10:20:00", 1) in got
    # user 99's session is still open (watermark hasn't passed it)
    assert not any(u == 99 for u, *_ in got)


@pytest.mark.slow
def test_sessionize_large_group_out_of_order_chunks(spark, tmp_path):
    """Regression (r1 ADVICE): applyInPandasWithState splits one
    group's micro-batch rows into ~2048-row Arrow chunks, and chunk
    order is not time order. A >6000-event user arriving in REVERSED
    time order must still fold into exact session boundaries (the fold
    must sort the whole iterator, not each chunk)."""
    import datetime as dt

    import pandas as pd

    from photon_spark.streaming.sessionize import sessionize

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for s in range(3):  # 3 sessions, 2 h apart, 2000 1-second events each
        start = base + dt.timedelta(hours=2 * s)
        for i in range(2000):
            rows.append((1, start + dt.timedelta(seconds=i)))
    rows.reverse()  # adversarial arrival order
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])

    src = tmp_path / "big_group_stream"
    src.mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "batch0"))

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        str(src / "batch0")
    )
    q = (
        sessionize(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("big_group_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["s_start"], r["s_end"], r["n"])
        for r in spark.sql("SELECT * FROM big_group_sessions").collect()
    )
    # sessions 0 and 1 are CLOSED by later events; session 2 stays open
    want = [
        (
            base + dt.timedelta(hours=2 * s),
            base + dt.timedelta(hours=2 * s, seconds=1999),
            2000,
        )
        for s in range(2)
    ]
    assert got == want


@pytest.mark.slow
def test_streaming_dedup_first_arrival_only(spark, tmp_path):
    """Streaming exact dedup: duplicates across micro-batches are
    dropped; surviving fingerprint set equals the batch distinct."""
    import pandas as pd

    from photon_spark.streaming.dedup_stream import dedup_stream

    src = tmp_path / "docs_stream"
    src.mkdir()
    b0 = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["aa", "bb", "aa"]})
    b1 = pd.DataFrame({"doc_id": [4, 5, 6], "text": ["bb", "cc", "aa"]})
    b0.to_parquet(str(src / "b0.parquet"))  # single flat files: the
    # file-stream source watches the directory itself

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch arrives: all three rows are dups of seen
        # fingerprints except 'cc'
        b1.to_parquet(str(src / "b1.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("SELECT doc_id, text FROM dedup_out").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["aa", "bb", "cc"]          # one survivor per fingerprint
    ids = {r["text"]: r["doc_id"] for r in rows}
    assert ids["cc"] == 5                       # and it's the FIRST arrival
    assert ids["aa"] in (1, 3) and ids["bb"] == 2


@pytest.mark.slow
def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """The training-data scrub pass (redact_pii + stratified keep) runs
    UNCHANGED on a stream: pure column expressions need no stateful
    operator, so streaming output ≡ the DuckDB-oracled batch result.
    This is the 100-TB ingest shape — filter/redact documents as crawl
    waves land, before they ever hit the corpus store."""
    from photon_spark.operators.sampling import stratified_sample
    from photon_spark.operators.textstats import redact_pii

    sf = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf}/documents.parquet")
    schema = batch.schema

    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    (stream_dir / "documents.parquet").symlink_to(f"{sf}/documents.parquet")
    stream = spark.readStream.schema(schema).parquet(str(stream_dir))

    def scrub(df):
        kept = stratified_sample(df, "lang", {"en": 0.5}, default_rate=1.0)
        return redact_pii(kept).select("doc_id", "n_emails", F.md5("redacted").alias("m"))

    q = (
        scrub(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("scrub_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in spark.sql("SELECT * FROM scrub_out").collect()}
    want = {tuple(r) for r in scrub(batch).collect()}
    assert got == want
    assert 0 < len(got) < batch.count()  # the 'en' stratum was thinned


@pytest.mark.slow
def test_streaming_store_backed_scheduler(spark, tmp_path):
    """StoreBackedScheduler: the stream's seen-state is a CrawlStore.
    Three micro-batches with cross-batch repeats; compact_every=2 with
    bucket_seen>0 so batch 2 dedups on the bucketed base + broadcast
    tail plan. Exactly-once output, store waves = batch ids, and the
    store's processed snapshot == everything ever scheduled."""
    from photon_spark.plans.storage import CrawlStore
    from photon_spark.streaming.wave_stream import StoreBackedScheduler

    in_dir = tmp_path / "urls_in"
    in_dir.mkdir()
    mk = lambda i: f"http://h{i % 5}.test/p/{i}"
    batches = [
        [(mk(i),) for i in range(100)],
        # 50 repeats (as fragments -> same canonical) + 50 new
        [(mk(i) + "#frag",) for i in range(50)]
        + [(mk(i),) for i in range(100, 150)],
        # all repeats + 25 new
        [(mk(i),) for i in range(150)] + [(mk(i),) for i in range(150, 175)],
    ]
    for n, rows in enumerate(batches):
        spark.createDataFrame(rows, "url string").coalesce(1).write.parquet(
            str(in_dir / f"b{n}")
        )

    store = CrawlStore(str(tmp_path / "stream_store"), bucket_seen=4)
    sched = StoreBackedScheduler(
        store,
        out_dir=str(tmp_path / "out"),
        budget=1000,
        partitions=2,
        salts=2,
        compact_every=2,
    )
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir) + "/*")
    )
    q = sched.start(stream, checkpoint_dir=str(tmp_path / "ckpt_store"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    want = {mk(i) for i in range(175)}
    assert {r["url"] for r in out.collect()} == want
    assert out.count() == 175  # no double-scheduling across batches
    # store committed one wave per micro-batch and compacted at wave 1
    latest = store.latest()
    assert latest is not None and latest[0] == 2
    assert latest[1]["_base"]["wave"] == 1
    assert store.processed_parts(spark) is not None  # bucketed base live
    seen = store.load(spark, 2)["processed"]
    assert {r["url"] for r in seen.collect()} == want


@pytest.mark.slow
def test_streaming_store_replay_is_idempotent(spark, tmp_path):
    """foreachBatch redelivery: re-running an already-committed batch
    id must change neither the sink nor the store (exactly-once), and
    replaying the LAST batch after a simulated crash-before-commit
    converges to the same state."""
    from photon_spark.plans.storage import CrawlStore
    from photon_spark.streaming.wave_stream import StoreBackedScheduler

    store = CrawlStore(str(tmp_path / "replay_store"))
    sched = StoreBackedScheduler(
        store, out_dir=str(tmp_path / "out"), budget=1000, partitions=2
    )
    b0 = spark.createDataFrame(
        [(f"http://h.test/p/{i}",) for i in range(40)], "url string"
    )
    b1 = spark.createDataFrame(
        [(f"http://h.test/p/{i}",) for i in range(20, 60)], "url string"
    )
    sched.process_batch(b0, 0)
    sched.process_batch(b1, 1)

    def state():
        out = spark.read.parquet(str(tmp_path / "out"))
        rows = sorted(
            (r["url"], r["batch_id"]) for r in out.collect()
        )
        return rows, store.latest()

    before = state()
    assert len(before[0]) == 60 and before[1][0] == 1
    # replay both batches (redelivery after a recovered failure)
    sched.process_batch(b0, 0)
    sched.process_batch(b1, 1)
    assert state() == before
    # crash-before-commit on a NEW batch: sink partition written, then
    # the replay overwrites it and commits — still exactly-once
    b2 = spark.createDataFrame(
        [(f"http://h.test/p/{i}",) for i in range(50, 70)], "url string"
    )
    b2.withColumn("junk", F.lit(1)).drop("junk").write.mode("overwrite").parquet(
        str(tmp_path / "out" / "batch_id=2")
    )  # torn sink write from the failed attempt
    sched.process_batch(b2, 2)
    rows, latest = state()
    assert latest[0] == 2
    assert len(rows) == 70  # 60 + 10 genuinely new from b2
    assert len({u for u, _ in rows}) == 70


@pytest.mark.slow
def test_streaming_store_checkpoint_resume(spark, tmp_path):
    """Stop the stream, add more input, restart from the SAME
    checkpoint: Spark redelivers nothing, batch ids continue, and the
    cross-restart seen-state (the store) still dedups repeats."""
    from photon_spark.plans.storage import CrawlStore
    from photon_spark.streaming.wave_stream import StoreBackedScheduler

    in_dir = tmp_path / "urls_in"
    in_dir.mkdir()
    spark.createDataFrame(
        [(f"http://h.test/p/{i}",) for i in range(50)], "url string"
    ).coalesce(1).write.parquet(str(in_dir / "b0"))

    store = CrawlStore(str(tmp_path / "resume_store"))
    sched = StoreBackedScheduler(
        store, out_dir=str(tmp_path / "out"), budget=1000, partitions=2
    )

    def run():
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(in_dir) + "/*")
        )
        q = sched.start(stream, checkpoint_dir=str(tmp_path / "ckpt_resume"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    # second leg: 30 repeats + 30 new, delivered after a restart
    spark.createDataFrame(
        [(f"http://h.test/p/{i}",) for i in range(20, 80)], "url string"
    ).coalesce(1).write.parquet(str(in_dir / "b1"))
    run()

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 80
    assert {r["url"] for r in out.collect()} == {
        f"http://h.test/p/{i}" for i in range(80)
    }
    assert store.latest()[0] == 1  # batch ids continued from checkpoint


@pytest.mark.slow
def test_streaming_store_canonical_ext_knob(spark, tmp_path):
    """canonical_ext=True: tracking params and param order collapse to
    one canonical frontier row before the seen-dedup."""
    from photon_spark.plans.storage import CrawlStore
    from photon_spark.streaming.wave_stream import StoreBackedScheduler

    store = CrawlStore(str(tmp_path / "ext_store"))
    sched = StoreBackedScheduler(
        store, out_dir=str(tmp_path / "out"), budget=1000,
        partitions=2, canonical_ext=True,
    )
    b0 = spark.createDataFrame(
        [
            ("http://h.test/p?utm_source=mail&a=1",),
            ("http://h.test/p?a=1&fbclid=x",),
            ("http://h.test/p?a=1",),
            ("http://h.test/q?b=2&a=1",),
            ("http://h.test/q?a=1&b=2#frag",),
        ],
        "url string",
    )
    sched.process_batch(b0, 0)
    out = {r["url"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out == {"http://h.test/p?a=1", "http://h.test/q?a=1&b=2"}


@pytest.mark.slow
def test_streaming_store_batch_to_stream_resume(spark, tmp_path):
    """A store with pre-existing BATCH-run waves 0..2 then serves a
    stream: micro-batch ids 0..1 must NOT be read as replays of those
    wave ids (stream waves are offset past them), and the stream dedups
    against everything the batch run already processed."""
    from photon_spark.plans.storage import CrawlStore
    from photon_spark.streaming.wave_stream import StoreBackedScheduler

    store = CrawlStore(str(tmp_path / "b2s_store"))
    # batch-run lineage: waves 0..2 processed urls 0..29
    for w in range(3):
        delta = spark.createDataFrame(
            [(f"http://h.test/p/{i}",) for i in range(w * 10, w * 10 + 10)],
            "url string",
        )
        store.commit(w, {"processed": delta}, {"mode": "batch"})

    sched = StoreBackedScheduler(
        store, out_dir=str(tmp_path / "out"), budget=1000, partitions=2
    )
    # stream leg: batch 0 = 20 repeats of the batch run + 10 new,
    # batch 1 = repeats of batch 0's new + 10 more new
    sched.process_batch(
        spark.createDataFrame(
            [(f"http://h.test/p/{i}",) for i in range(10, 40)], "url string"
        ),
        0,
    )
    sched.process_batch(
        spark.createDataFrame(
            [(f"http://h.test/p/{i}",) for i in range(30, 50)], "url string"
        ),
        1,
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    got = {(r["url"], r["batch_id"]) for r in out.collect()}
    want = {(f"http://h.test/p/{i}", 0) for i in range(30, 40)} | {
        (f"http://h.test/p/{i}", 1) for i in range(40, 50)
    }
    assert got == want  # batch-run urls deduped; nothing skipped
    latest = store.latest()
    assert latest[0] == 4  # stream waves 3 and 4, past the batch lineage
    assert latest[1]["_stream_base"] == 3
    seen = store.load(spark, 4)["processed"]
    assert seen.count() == 50  # full unified seen set
    # replay of stream batch 1 (wave 4) after its commit: skipped
    sched.process_batch(
        spark.createDataFrame([("http://h.test/p/999",)], "url string"), 1
    )
    assert store.latest()[0] == 4
    assert spark.read.parquet(str(tmp_path / "out")).count() == 20


@pytest.mark.slow
def test_politeness_spacing_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState per-host fetch shaper: on in-order input
    the streamed fetch assignments must be row-identical to the batch
    closed-form window (plans/schedule.politeness_spacing — the
    DuckDB-oracled twin). Two time-split files + maxFilesPerTrigger=1
    force >= 2 micro-batches, so host state (last fetch slot) provably
    carries across batches."""
    from photon_spark.plans.schedule import politeness_spacing
    from photon_spark.streaming.politeness import politeness_spacing_stream

    sf = "/root/testdata/sf0.001"
    cand = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select(
            F.concat(F.lit("h"), (F.col("user_id") % 7).cast("string")).alias("host"),
            F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("url"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .persist()
    )
    cut = cand.selectExpr("percentile_approx(ts, 0.5) AS m").collect()[0]["m"]
    src = tmp_path / "cand_stream"
    src.mkdir()
    # earlier-half file named to sort first: the file source processes
    # in discovery order, so batches respect event-time order
    cand.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(src / "a=0"))
    cand.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(src / "a=1"))

    stream = (
        spark.readStream.schema("host string, url string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/a=*")
    )
    q = (
        politeness_spacing_stream(stream, interval_ms=60_000)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("spacing_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_spacing"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["host"], r["url"], r["ts_ms"], r["fetch_ms"], r["delay_ms"])
        for r in spark.sql("SELECT * FROM spacing_out").collect()
    }
    want = {
        (r["host"], r["url"], r["ts_ms"], r["fetch_ms"], r["delay_ms"])
        for r in politeness_spacing(cand, interval_ms=60_000).collect()
    }
    cand.unpersist()
    assert got == want
    assert len(got) == 1000
    # shaping is real: some rows were actually delayed
    assert any(d > 0 for *_, d in got)


@pytest.mark.slow
def test_streaming_cms_linearity_matches_batch(spark, tmp_path):
    """CMS is linear: after streaming the input as multiple
    micro-batches, the stored sketch must be CELL-IDENTICAL to
    cms_sketch over the whole input, and estimates must never
    undercount the true counts."""
    from photon_spark.plans.schedule import cms_sketch
    from photon_spark.streaming.heavy_hitters import StreamingHeavyHitters

    rows = [(f"host{k}",) for k in range(40) for _ in range(200 // (k + 1))]
    df = spark.createDataFrame(rows, "host string")

    src = tmp_path / "hh_src"
    src.mkdir()
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], "host string").coalesce(1).write.parquet(
        str(src / "a=0")
    )
    spark.createDataFrame(rows[half:], "host string").coalesce(1).write.parquet(
        str(src / "a=1")
    )

    hh = StreamingHeavyHitters(
        spark, str(tmp_path / "hh_state"), depth=4, width=512
    )
    stream = (
        spark.readStream.schema("host string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/a=*")
    )
    q = hh.attach(stream, str(tmp_path / "hh_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["i"], r["bucket"]): r["c"] for r in hh.sketch().collect()
    }
    want = {
        (r["i"], r["bucket"]): r["c"]
        for r in cms_sketch(df, "host", depth=4, width=512).collect()
    }
    assert got == want

    truth = {}
    for h, in rows:
        truth[h] = truth.get(h, 0) + 1
    est = {r["host"]: r["est"] for r in hh.estimate(df).collect()}
    assert all(est[h] >= t for h, t in truth.items())


@pytest.mark.slow
def test_streaming_ingest_dedup_grows_corpus(spark, tmp_path):
    """The LSH ingest gate: batch-1 clean docs join the corpus; a
    batch-2 near-dup of a batch-1 survivor is flagged; within-batch
    siblings keep the lowest doc_id; novel docs stay clean. Matches
    the batch twin applied sequentially."""
    import pandas as pd

    from photon_spark.operators import dedupe
    from photon_spark.streaming.ingest_dedup import StreamingIngestDedup

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "in the golden afternoon light near the riverbank meadow"
    )
    novel = (
        "completely unrelated prose describing catalyst rule batches "
        "and adaptive query execution stage coalescing behavior"
    )
    third = (
        "a third body of text about cuckoo filters and deterministic "
        "eviction walks over four slot buckets in the seen set"
    )
    src = tmp_path / "ingest_stream"
    src.mkdir()
    gate = StreamingIngestDedup(spark, str(tmp_path / "state"))

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    q = gate.attach(stream, str(tmp_path / "ckpt"))
    try:
        # batch 1: two near-dup siblings + one novel
        pd.DataFrame(
            {"doc_id": [10, 11, 12], "text": [base, base + " tail", novel]}
        ).to_parquet(str(src / "b0.parquet"))
        q.processAllAvailable()
        flags1 = {
            (r["new_doc"], r["matched_doc"])
            for r in gate.flags().collect()
        }
        assert flags1 == {(11, 10)}  # sibling keeps lowest id
        admitted1 = {
            r["doc_id"] for r in gate.corpus_bands().select("doc_id").distinct().collect()
        }
        assert admitted1 == {10, 12}

        # batch 2: near-dup of the batch-1 survivor + a novel doc
        pd.DataFrame(
            {"doc_id": [20, 21], "text": [base + " extra", third]}
        ).to_parquet(str(src / "b1.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()

    flags2 = {
        (r["new_doc"], r["matched_doc"]) for r in gate.flags().collect()
    }
    assert (20, 10) in flags2 and (11, 10) in flags2
    assert not any(n == 21 for n, _ in flags2)
    admitted = {
        r["doc_id"]
        for r in gate.corpus_bands().select("doc_id").distinct().collect()
    }
    assert admitted == {10, 12, 21}

    # parity with the batch twin applied sequentially: batch-2 new docs
    # vs the corpus that batch 1 admitted
    corpus_docs = spark.createDataFrame(
        [(10, base), (12, novel)], "doc_id long, text string"
    )
    new2 = spark.createDataFrame(
        [(20, base + " extra"), (21, third)], "doc_id long, text string"
    )
    twin = {
        (r["new_doc"], r["corpus_doc"])
        for r in dedupe.minhash_lsh_pairs_incremental(new2, corpus_docs).collect()
    }
    assert twin == {(n, m) for (n, m) in flags2 if n >= 20}


def test_streaming_ingest_dedup_replay_idempotent(spark, tmp_path):
    """Reprocessing the same batch_id overwrites its own state subdirs:
    corpus and flags are unchanged after a replay."""
    from photon_spark.streaming.ingest_dedup import StreamingIngestDedup

    gate = StreamingIngestDedup(spark, str(tmp_path / "state"))
    b = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "totally different words live in this second document body")],
        "doc_id long, text string",
    )
    gate.process_batch(b, 0)
    before_bands = sorted(map(tuple, gate.corpus_bands().collect()))
    gate.process_batch(b, 0)  # replay
    after_bands = sorted(map(tuple, gate.corpus_bands().collect()))
    assert after_bands == before_bands
    assert gate.flags().count() == 0


def test_streaming_ingest_dedup_compaction(spark, tmp_path):
    """compact() folds batch dirs into one base with identical distinct
    content; matching behavior and subsequent growth are unchanged."""
    from photon_spark.streaming.ingest_dedup import StreamingIngestDedup

    gate = StreamingIngestDedup(spark, str(tmp_path / "state"))
    texts = [
        "first body of words entirely unlike any of the other ones here",
        "second document text with its own private vocabulary set",
        "third entry describing bucket routed shard construction rules",
    ]
    for i, t in enumerate(texts):
        gate.process_batch(
            spark.createDataFrame([(i, t)], "doc_id long, text string"), i
        )
    before = sorted(map(tuple, gate.corpus_bands().collect()))
    folded = gate.compact()
    assert folded == 3
    after = sorted(map(tuple, gate.corpus_bands().collect()))
    assert after == before
    import os

    assert os.path.isdir(str(tmp_path / "state" / "bands" / "base"))
    # post-compaction batch: near-dup of a compacted doc is flagged
    gate.process_batch(
        spark.createDataFrame(
            [(30, texts[0] + " tail")], "doc_id long, text string"
        ),
        3,
    )
    flags = {
        (r["new_doc"], r["matched_doc"]) for r in gate.flags().collect()
    }
    assert (30, 0) in flags
    # and another compaction folds base + the new batch dir into one
    assert gate.compact() == 1
    assert sorted(map(tuple, gate.corpus_bands().collect())) == after


def test_streaming_ingest_dedup_replay_after_compaction(spark, tmp_path):
    """Replaying a batch AFTER compaction folded its rows into base:
    self-matches are filtered, the batch re-admits, corpus content is
    unchanged after the next compact."""
    from photon_spark.streaming.ingest_dedup import StreamingIngestDedup

    gate = StreamingIngestDedup(spark, str(tmp_path / "state"))
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    gate.process_batch(b0, 0)
    gate.compact()
    before = sorted(map(tuple, gate.corpus_bands().collect()))
    gate.process_batch(b0, 0)  # checkpoint replay, post-compaction
    assert gate.flags().count() == 0        # no self-flag
    gate.compact()
    assert sorted(map(tuple, gate.corpus_bands().collect())) == before


@pytest.mark.slow
def test_stream_stream_interval_join(spark, tmp_path):
    """Native watermarked stream-stream interval join: fetch events
    joined to extraction events on host within 30s after the fetch;
    in-window pairs emitted, out-of-window and wrong-key pairs not.
    Matches the batch twin (rangejoin points_in_intervals semantics)
    on the same data."""
    import pandas as pd

    from photon_spark.streaming.interval_join import interval_join_stream

    lsrc = tmp_path / "fetches"
    rsrc = tmp_path / "extracts"
    lsrc.mkdir()
    rsrc.mkdir()
    t0 = "2024-01-01 00:00:"
    pd.DataFrame(
        {
            "host": ["a", "a", "b"],
            "fetch_id": [1, 2, 3],
            "fts": pd.to_datetime(
                [t0 + "00", t0 + "40", t0 + "10"]
            ).astype("datetime64[us]"),
        }
    ).to_parquet(str(lsrc / "b0.parquet"))
    pd.DataFrame(
        {
            "host": ["a", "a", "a", "b"],
            "ext_id": [10, 11, 12, 13],
            "ets": pd.to_datetime(
                [t0 + "05", t0 + "50", t0 + "35", t0 + "55"]
            ).astype("datetime64[us]"),
        }
    ).to_parquet(str(rsrc / "b0.parquet"))

    lstream = spark.readStream.schema(
        "host string, fetch_id long, fts timestamp"
    ).parquet(str(lsrc))
    rstream = spark.readStream.schema(
        "host string, ext_id long, ets timestamp"
    ).parquet(str(rsrc))
    joined = interval_join_stream(
        lstream, rstream, "host", "fts", "ets", max_delay_s=30
    )
    q = (
        joined.select("fetch_id", "ext_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["fetch_id"], r["ext_id"])
        for r in spark.sql("SELECT * FROM ij_out").collect()
    }
    # fetch 1 (a@0s): ext 10 (5s in) yes, ext 12 (35s) no, ext 11 (50s) no
    # fetch 2 (a@40s): ext 11 (50s) yes, ext 12 (35s) before -> no
    # fetch 3 (b@10s): ext 13 (b@55s) 45s later -> no
    assert got == {(1, 10), (2, 11)}


@pytest.mark.slow
def test_streaming_quantiles_two_tier_parity(spark, tmp_path):
    """StreamingQuantiles (KLL maintainer): exact regime — after two
    micro-batches totalling <= k rows the stored summary is
    row-identical to the batch sketch of the union and quantiles are
    exact order statistics; n always equals the true row count."""
    import math

    from photon_spark.plans.schedule import kll_merge, kll_partials
    from photon_spark.streaming.quantiles import StreamingQuantiles

    vals = [float((i * 37) % 101) for i in range(200)]
    src = tmp_path / "kq_src"
    src.mkdir()
    half = len(vals) // 2
    for part, chunk in (("a=0", vals[:half]), ("a=1", vals[half:])):
        spark.createDataFrame(
            [(v,) for v in chunk], "value double"
        ).coalesce(1).write.parquet(str(src / part))

    sq = StreamingQuantiles(spark, str(tmp_path / "kq_state"), k=512)
    assert sq.quantiles().count() == 0  # pre-stream: empty, right schema
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/a=*")
    )
    q = sq.attach(stream, str(tmp_path / "kq_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # exact regime: stored summary == batch sketch of the union
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    want = sorted(
        (r["v"], r["w"])
        for r in kll_merge(kll_partials(df, "value", 512), 512).collect()
    )
    got = sorted((r["v"], r["w"]) for r in sq.summary().collect())
    assert got == want
    s = sorted(vals)
    out = {r["q"]: (r["value"], r["n"]) for r in sq.quantiles((0.5, 0.9)).collect()}
    for qq in (0.5, 0.9):
        assert out[qq] == (s[math.ceil(qq * len(s)) - 1], len(s))


@pytest.mark.slow
def test_streaming_quantiles_compaction_regime_bounds(spark, tmp_path):
    """Compaction regime (k=64 << n): n stays EXACT across micro-batch
    merges (weight-exact halving) and every reported quantile's true
    rank lands within 5% of target on a 10k sorted stream."""
    from photon_spark.streaming.quantiles import StreamingQuantiles

    n = 10_000
    vals = [float(i) for i in range(n)]
    src = tmp_path / "kq2_src"
    src.mkdir()
    third = n // 3
    for i, chunk in enumerate(
        (vals[:third], vals[third: 2 * third], vals[2 * third:])
    ):
        spark.createDataFrame(
            [(v,) for v in chunk], "value double"
        ).coalesce(1).write.parquet(str(src / f"a={i}"))

    sq = StreamingQuantiles(spark, str(tmp_path / "kq2_state"), k=64)
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/a=*")
    )
    q = sq.attach(stream, str(tmp_path / "kq2_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sq.quantiles((0.25, 0.5, 0.9)).collect()
    assert rows and all(r["n"] == n for r in rows)
    for r in rows:
        true_rank = r["value"] + 1
        target = -(-r["q"] * n // 1)
        assert abs(true_rank - target) <= 0.05 * n, (r["q"], true_rank)


def test_streaming_quantiles_replay_idempotent(spark, tmp_path):
    """A re-delivered batch_id (foreachBatch replay after restart)
    must be a no-op: n and the summary stay exactly what one
    application produced (ADVICE r4 — the maintainer previously folded
    the replayed batch in twice, inflating n)."""
    from photon_spark.streaming.quantiles import StreamingQuantiles

    vals = [float(i) for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    sq = StreamingQuantiles(spark, str(tmp_path / "kqr_state"), k=512)
    sq.process_batch(df, 0)
    once = sorted((r["v"], r["w"]) for r in sq.summary().collect())
    sq.process_batch(df, 0)  # replayed delivery
    again = sorted((r["v"], r["w"]) for r in sq.summary().collect())
    assert again == once
    out = sq.quantiles((0.5,)).collect()[0]
    assert out["n"] == len(vals)
    # a genuinely new batch still applies
    sq.process_batch(df, 1)
    assert sq.quantiles((0.5,)).collect()[0]["n"] == 2 * len(vals)


def test_streaming_cms_replay_idempotent(spark, tmp_path):
    """Same replay contract for the CMS maintainer: re-delivering the
    last batch_id must not double-count."""
    from photon_spark.streaming.heavy_hitters import StreamingHeavyHitters

    rows = [(f"host{k % 7}",) for k in range(50)]
    df = spark.createDataFrame(rows, "host string")
    hh = StreamingHeavyHitters(
        spark, str(tmp_path / "hhr_state"), depth=4, width=256
    )
    hh.process_batch(df, 0)
    once = {(r["i"], r["bucket"]): r["c"] for r in hh.sketch().collect()}
    hh.process_batch(df, 0)  # replayed delivery
    again = {(r["i"], r["bucket"]): r["c"] for r in hh.sketch().collect()}
    assert again == once
    hh.process_batch(df, 1)
    doubled = {(r["i"], r["bucket"]): r["c"] for r in hh.sketch().collect()}
    assert doubled == {k: 2 * v for k, v in once.items()}


class _Crash(Exception):
    pass


def _crash_on_replace(monkeypatch):
    """Make every os.replace raise: the state swap's publishing rename
    (the pointer's) fails after the new version was written."""

    def boom(src, dst, *a, **k):
        raise _Crash(dst)

    monkeypatch.setattr(os, "replace", boom)


def test_streaming_cms_survives_crash_at_pointer_swap(spark, tmp_path, monkeypatch):
    """A crash at the state swap of batch 2, then its redelivery: the
    sketch is row-identical to cms_sketch over all three batches."""
    from photon_spark.plans.schedule import cms_sketch
    from photon_spark.streaming.heavy_hitters import StreamingHeavyHitters

    batches = [
        spark.createDataFrame([(f"host{k % 7}",) for k in range(n)], "host string")
        for n in (50, 100, 150)
    ]
    hh = StreamingHeavyHitters(spark, str(tmp_path / "hh"), depth=4, width=256)
    hh.process_batch(batches[0], 0)
    hh.process_batch(batches[1], 1)
    with monkeypatch.context() as m:
        _crash_on_replace(m)
        with pytest.raises(_Crash):
            hh.process_batch(batches[2], 2)
    hh.process_batch(batches[2], 2)  # redelivered after restart

    union = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = {
        (r["i"], r["bucket"]): r["c"]
        for r in cms_sketch(union, "host", depth=4, width=256).collect()
    }
    got = {(r["i"], r["bucket"]): r["c"] for r in hh.sketch().collect()}
    assert got == want
    assert sum(got.values()) == 4 * 300  # depth rows of 300 keys each


def test_streaming_quantiles_survives_crash_at_pointer_swap(
    spark, tmp_path, monkeypatch
):
    """Same crash point for the KLL maintainer: n == 300 after the
    redelivery, and (300 <= k, exact regime) the summary equals the
    batch sketch of all three batches."""
    from photon_spark.plans.schedule import kll_merge, kll_partials
    from photon_spark.streaming.quantiles import StreamingQuantiles

    vals = [float((i * 37) % 101) for i in range(300)]
    batches = [
        spark.createDataFrame([(v,) for v in vals[j: j + 100]], "value double")
        for j in (0, 100, 200)
    ]
    sq = StreamingQuantiles(spark, str(tmp_path / "kq"), k=512)
    sq.process_batch(batches[0], 0)
    sq.process_batch(batches[1], 1)
    with monkeypatch.context() as m:
        _crash_on_replace(m)
        with pytest.raises(_Crash):
            sq.process_batch(batches[2], 2)
    sq.process_batch(batches[2], 2)  # redelivered after restart

    assert sq.quantiles((0.5,)).collect()[0]["n"] == 300
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    want = sorted(
        (r["v"], r["w"])
        for r in kll_merge(kll_partials(df, "value", 512), 512).collect()
    )
    assert sorted((r["v"], r["w"]) for r in sq.summary().collect()) == want


_DOCS = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "totally different words live in this second document body",
    "third entry describing bucket routed shard construction rules",
]


def test_streaming_ingest_dedup_compaction_survives_crash_at_pointer_swap(
    spark, tmp_path, monkeypatch
):
    """A crash at the base swap of the SECOND compact() (the first has
    no old base to lose): every admitted row stays readable exactly
    once, and the retried compact() folds to the same rows."""
    from photon_spark.streaming.ingest_dedup import StreamingIngestDedup

    gate = StreamingIngestDedup(spark, str(tmp_path / "state"))
    for i, t in enumerate(_DOCS):
        gate.process_batch(
            spark.createDataFrame([(i, t)], "doc_id long, text string"), i
        )
        if i == 1:
            assert gate.compact() == 2
    before = sorted(map(tuple, gate.corpus_bands().collect()))
    assert {r[0] for r in before} == {0, 1, 2}
    with monkeypatch.context() as m:
        _crash_on_replace(m)
        with pytest.raises(_Crash):
            gate.compact()
    assert sorted(map(tuple, gate.corpus_bands().collect())) == before
    assert gate.compact() == 1
    assert sorted(map(tuple, gate.corpus_bands().collect())) == before


def test_streaming_ingest_dedup_replay_after_compaction_keeps_bucket_cap(
    spark, tmp_path
):
    """A batch replayed after compact() folded it is skipped: re-admitted
    band rows would double doc 1's buckets past max_bucket=1 and hide
    doc 2's near-dup match."""
    from photon_spark.streaming.ingest_dedup import StreamingIngestDedup

    text = (
        "the quick brown fox jumps over the lazy dog again and again "
        "in the golden afternoon light near the riverbank meadow"
    )
    gate = StreamingIngestDedup(spark, str(tmp_path / "state"), max_bucket=1)
    b0 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    gate.process_batch(b0, 0)
    gate.compact()
    gate.process_batch(b0, 0)  # checkpoint replay, post-compaction
    gate.process_batch(
        spark.createDataFrame([(2, text + " extra")], "doc_id long, text string"),
        1,
    )
    assert [tuple(r) for r in gate.flags().collect()] == [(2, 1)]
    assert gate.corpus_bands().count() == 4  # doc 1's four bands, once


def test_swapped_state_refuses_old_layout(spark, tmp_path):
    """State written by the pre-pointer layout (parquet files directly
    in the state dir, no pointer) raises instead of starting empty."""
    from photon_spark.streaming.heavy_hitters import StreamingHeavyHitters

    spark.createDataFrame([(0, 1, 5)], "i int, bucket int, c long").write.parquet(
        str(tmp_path / "hh" / "cms_sketch")
    )
    hh = StreamingHeavyHitters(spark, str(tmp_path / "hh"))
    with pytest.raises(ValueError, match="pre-pointer layout"):
        hh.sketch()
    with pytest.raises(ValueError, match="pre-pointer layout"):
        hh.process_batch(spark.createDataFrame([("h",)], "host string"), 0)
