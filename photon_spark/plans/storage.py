"""Crawl state persistence — append-only per-wave deltas + manifest.

Iceberg-shaped (SURVEY.md §7 M2): every crawl state table is monotone
(the wave loop only ever adds rows), so each wave commits ONLY its new
rows — an append snapshot, O(|delta|) I/O like an Iceberg MERGE/append
commit — never a full-state rewrite (O(|state|) per wave is untenable
at a 10^10-URL frontier). `load(wave)` reconstructs state as the
dedup'd union of all deltas ≤ wave, i.e. snapshot-as-of semantics; a
delta may repeat rows from earlier waves (e.g. a URL re-discovered
later), which the per-table dropDuplicates at load absorbs.

The interface stays thin so an Iceberg backend can drop in:
commit(wave, deltas, meta) / latest() / load(). Commit is atomic-enough
via write-then-rename of the manifest — a torn commit leaves the
manifest at the previous wave and the orphan delta dir is overwritten
on retry.

On-disk layout. All tables share one wide parquet schema: the columns
of every table (a column name declared by two tables has one type)
plus a `_table` tag. A commit writes the wave's deltas as ONE tagged
union partitioned by the tag — one write job and one file-commit
protocol per wave, not one per table; compaction rewrites its tables
the same way:

    <root>/_wave_manifest.json
    <root>/wave=W/_table=<name>/part-*.parquet        wave W's delta
    <root>/base=wU-gG/_table=<name>/part-*.parquet    compacted base

A table with no rows writes no dir, and the manifest lists only the
dirs that landed. The manifest names its layout (`"layout"`); latest()
refuses one without it, i.e. a store of the older per-table-dir layout.
Readers scan a table's dirs with its declared schema
(`spark.read.schema`), so no read runs a footer-inference job and the
other tables' all-NULL columns are pruned. One exception: with
bucket_seen > 0 the `processed` base is its own catalog write (the
bucket spec lives in the catalog, not in the files) into the same
`base=…/_table=processed` dir.

Cost model: the layout trades fixed cost per Spark job for cost per
row. Every row carries the other tables' columns as NULLs, in the
commit's write and in compaction's one dropDuplicates shuffle. So it
pays while per-job fixed cost dominates, i.e. while a wave's deltas
are small. With large multi-table deltas, commits cost more per row
and compaction's wide shuffle costs more than per-table ones
(measured in SCALE.md §2 with scripts/bench_store_deltas.py).

Maintenance mirrors Iceberg's table services: `compact(upto)` rewrites
the snapshot-as-of `upto` into a consolidated base (new files first,
then an atomic manifest swap — readers of the old manifest are never
broken), and `expire()` drops the delta dirs the base superseded
(Iceberg `expire_snapshots`: time travel to pre-compaction waves
raises once expired). Without compaction a 10^10-URL crawl accumulates
one delta dir per wave per table — thousands of small files whose
open/footer cost eventually dominates load(); with it, load() reads
one consolidated base + the recent tail.

Scalar counters ride in the manifest meta (processed_count includes
the reference's 'dummy' sentinel, Q11).

`WaveState` is the one state holder of the wave loops (crawl.run_crawl,
recrawl.run_recrawl): resume from the manifest, one snapshot per wave
(this store's commit + load, or without a store one tagged in-memory
checkpoint that returns what load() returns), and the release of what
each wave caches.

Iceberg mapping (per interface call — what an Iceberg-backed
implementation runs; the conformance suite in
tests/test_storage_contract.py is the contract it must pass unchanged):

| interface        | Iceberg equivalent                                       |
|------------------|----------------------------------------------------------|
| commit(w, Δ)     | one multi-table append snapshot per wave: every table's  |
|                  | Δ lands in one atomic commit (a catalog multi-table      |
|                  | transaction), as a plain append + dedup-on-read like     |
|                  | this store, or per table `MERGE INTO state.<t> t USING Δ |
|                  | s ON <pk> WHEN NOT MATCHED THEN INSERT *`; wave id +     |
|                  | meta in the snapshot summary properties                  |
| latest()         | current snapshot's summary (`snapshot().summary()`)      |
| load(w)          | time travel: `VERSION AS OF <snapshot-of-wave-w>`        |
| compact()        | `rewrite_data_files` (bin-pack) — readers of older       |
|                  | snapshots keep their files; with bucket_seen=N the       |
|                  | `processed` table carries a `bucket(N, url)` partition   |
|                  | transform so the per-wave anti-join is exchange-free on  |
|                  | the seen side (here: a catalog-registered bucketed       |
|                  | parquet table, same files the plain load() reads)        |
| expire()         | `expire_snapshots(older_than=base)` +                    |
|                  | `remove_orphan_files` — pre-base time travel then raises |
| reset()          | `DROP TABLE ... PURGE` + `CREATE TABLE`                  |
| torn commit      | Iceberg's atomic metadata swap gives the same guarantee  |
|                  | the manifest write-then-rename gives here                |

Primary keys per table: url (internal/processed/external), value
(files/custom/keys/bad_scripts), (url, name) (bad_intel),
(url, level) (waves).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from photon_spark.session import jvm_empty, split_schema

STATE_SCHEMAS = {
    "internal": "url string",
    "processed": "url string",
    "external": "url string",
    "files": "value string",
    "bad_intel": "url string, name string, parts array<string>, is_tuple boolean",
    "bad_scripts": "value string",
    "custom": "value string",
    "keys": "value string",
    "waves": "url string, level int",
}

# Partition column naming each row's table in the wide tagged layout.
TABLE_TAG = "_table"
# Table names Spark writes verbatim as a partition value: any other
# character is percent-escaped in the dir name (`_table=a%3Ab`).
_TABLE_NAME = re.compile(r"[A-Za-z0-9_.-]+")
# Written into every manifest; a manifest without it belongs to the
# per-table-dir layout, which this store does not read.
LAYOUT = "tagged-v1"


def _write_json_atomic(path: str, obj: dict) -> None:
    """Write `obj` as JSON to `path` via tmp + rename: a reader sees the
    old file or the new one, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _wide_columns(schemas: dict[str, str]) -> dict[str, str]:
    """column → type of the shared wide schema of the tables `schemas`
    declares: every table's columns, each name once."""
    cols: dict[str, str] = {}
    for name, schema in schemas.items():
        if not _TABLE_NAME.fullmatch(name):
            raise ValueError(
                f"table name {name!r}: only [A-Za-z0-9_.-] (it is a"
                f" partition value of the on-disk layout)"
            )
        for col, tp in split_schema(schema):
            if col == TABLE_TAG:
                raise ValueError(
                    f"table {name!r}: column {TABLE_TAG!r} is the store's table tag"
                )
            prev = cols.setdefault(col, tp)
            if prev.replace(" ", "").lower() != tp.replace(" ", "").lower():
                raise ValueError(
                    f"column {col!r} is {prev} in one table and {tp} in"
                    f" {name!r}; tables sharing a column name must agree"
                    f" on its type"
                )
    return cols


def _tagged(frames: dict[str, DataFrame], schemas: dict[str, str]) -> DataFrame:
    """One relation over the wide schema: each table's rows in its own
    columns, NULL in the rest, its name in the tag. Every branch lists
    the columns in one order, so the branches union by position; the
    projections are SQL strings, one driver call per branch (a wave
    loop builds this relation every wave)."""
    columns = _wide_columns(schemas)
    out = None
    for name, df in frames.items():
        if name not in schemas:
            raise ValueError(f"unknown table {name!r}")
        own = {c for c, _ in split_schema(schemas[name])}
        f = df.selectExpr(
            *[
                f"CAST({f'`{c}`' if c in own else 'NULL'} AS {tp}) AS `{c}`"
                for c, tp in columns.items()
            ],
            f"'{name}' AS `{TABLE_TAG}`",
        )
        out = f if out is None else out.union(f)
    return out


class CrawlStore:
    def __init__(
        self,
        root: str,
        bucket_seen: int = 0,
        schemas: dict[str, str] | None = None,
        upsert_keys: dict[str, list[str]] | None = None,
    ):
        """``bucket_seen`` > 0 makes compact() write the `processed`
        base BUCKETED on url into that many buckets (registered in the
        session catalog as an external parquet table). The wave loop
        then dedups candidates against the base with an anti-join whose
        seen side needs NO exchange — only the wave side shuffles —
        plus a broadcast anti-join against the small post-compaction
        delta tail (frontier.dedup_candidates_parts). This is the
        10^10-|seen| rung of the dedup ladder: per-wave cost is
        O(|wave|), independent of re-shuffling |seen| (Iceberg
        equivalent: a table written with a bucket partition transform,
        `bucket(N, url)`).

        ``schemas`` overrides the table set (default: the crawl state
        tables). All tables share one wide on-disk schema, so a column
        name declared by two tables must have the same type there, and
        a table name is a partition value, so only [A-Za-z0-9_.-]
        (ValueError otherwise). ``upsert_keys`` maps table name → key
        columns for UPSERT tables: commits stay O(|delta|) appends, and
        load() resolves last-writer-wins per key across waves — merge-on-read,
        the Iceberg `MERGE INTO ... WHEN MATCHED THEN UPDATE` shape
        (equality deletes resolved at read; compact() materializes the
        resolution, i.e. the copy-on-write flush). Contract: one row
        per key per wave delta — a same-wave key collision raises at
        load rather than resolving arbitrarily."""
        self.root = root
        self.bucket_seen = bucket_seen
        self.schemas = dict(schemas) if schemas is not None else dict(STATE_SCHEMAS)
        self.upsert_keys = dict(upsert_keys) if upsert_keys else {}
        _wide_columns(self.schemas)  # validates the table set
        os.makedirs(root, exist_ok=True)

    def _bucket_table_name(self, gen: int) -> str:
        import hashlib

        digest = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:8]
        return f"crawlstore_{digest}_processed_g{gen}"

    def _ensure_bucket_table(self, spark: SparkSession, bp: dict) -> None:
        """(Re-)register the bucketed base in the session catalog — the
        catalog is in-memory in the sandbox, so a resume in a fresh JVM
        must recreate the table entry over the existing bucket files
        (their names carry the bucket id, so the spec re-attaches
        losslessly; tests pin anti-join parity after re-registration)."""
        if not spark.catalog.tableExists(bp["table"]):
            path = os.path.abspath(os.path.join(self.root, bp["dir"]))
            spark.sql(
                f"CREATE TABLE {bp['table']} (url STRING) USING PARQUET "
                f"CLUSTERED BY (url) SORTED BY (url) "
                f"INTO {bp['n_buckets']} BUCKETS LOCATION '{path}'"
            )

    def processed_parts(self, spark: SparkSession):
        """(bucketed base DF, delta tail DF | None) for the seen set as
        of the latest wave, or None when no bucketed base exists (store
        built with bucket_seen=0, or compact() hasn't run yet)."""
        latest = self.latest()
        if latest is None:
            return None
        wave, meta = latest
        base = meta.get("_base")
        if not base or not base.get("bucketed_processed"):
            return None
        bp = base["bucketed_processed"]
        self._ensure_bucket_table(spark, bp)
        base_df = spark.table(bp["table"])
        paths = [
            self._delta_dir(int(w), "processed")
            for w, tables in meta.get("_waves_index", {}).items()
            if base["wave"] < int(w) <= wave and "processed" in tables
        ]
        delta_df = self._scan(spark, "processed", paths) if paths else None
        return base_df, delta_df

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_wave_manifest.json")

    def _table_dir(self, parent: str, name: str) -> str:
        return os.path.join(self.root, parent, f"{TABLE_TAG}={name}")

    def _delta_dir(self, wave: int, name: str) -> str:
        return self._table_dir(f"wave={wave}", name)

    def _scan(self, spark: SparkSession, name: str, paths: list[str]) -> DataFrame:
        """Table `name`'s rows under `paths`, read with its declared
        schema: no footer-inference job, and the other tables' columns
        are pruned."""
        return spark.read.schema(self.schemas[name]).parquet(*paths)

    def _write_tagged(self, tagged: DataFrame, parent: str, names) -> list[str]:
        """Write a tagged union into <root>/<parent>/ as one job; returns
        the tables whose dir landed (an empty table writes none)."""
        tagged.write.mode("overwrite").partitionBy(TABLE_TAG).parquet(
            os.path.join(self.root, parent)
        )
        landed = []
        for name in names:
            path = self._table_dir(parent, name)
            if os.path.isdir(path):
                # the write refreshes only <parent>; without this a
                # reused root serves cached listings of an earlier
                # lineage's files under the same table dir
                tagged.sparkSession.catalog.refreshByPath(path)
                landed.append(name)
        return landed

    def commit(self, wave: int, deltas: dict[str, DataFrame], meta: dict) -> None:
        """Append this wave's NEW rows per table, every table in one
        tagged write. Absent/empty tables write nothing. The manifest
        records which tables each wave touched so load() lists only
        real paths."""
        written = (
            self._write_tagged(_tagged(deltas, self.schemas), f"wave={wave}", deltas)
            if deltas
            else []
        )
        prev = self.latest()
        waves_index = dict(prev[1].get("_waves_index", {})) if prev else {}
        waves_index[str(wave)] = written
        meta = dict(meta)
        meta["_waves_index"] = waves_index
        if prev and prev[1].get("_base"):
            meta["_base"] = prev[1]["_base"]
        self._write_manifest({"latest_wave": wave, "meta": meta})

    def _write_manifest(self, manifest: dict) -> None:
        _write_json_atomic(self._manifest_path(), {**manifest, "layout": LAYOUT})

    def latest(self) -> tuple[int, dict] | None:
        try:
            with open(self._manifest_path()) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        if m.get("layout") != LAYOUT:
            raise ValueError(
                f"{self.root}: store written by the pre-tagged layout"
                f" (per-table dirs, no layout marker); start a fresh crawl"
                f" into this root"
            )
        return m["latest_wave"], m["meta"]

    def _snapshot_parts(
        self, name: str, wave: int, meta: dict
    ) -> list[tuple[str, int]]:
        """(path, wave-label) pairs making up table `name`'s
        snapshot-as-of `wave`: the consolidated base (labelled with its
        own wave, if one covers ≤ wave) plus all delta dirs in
        (base_wave, wave]. The labels order versions for the upsert
        tables' last-writer-wins resolution."""
        waves_index = meta.get("_waves_index", {})
        base = meta.get("_base")
        base_wave = base["wave"] if base and base["wave"] <= wave else None
        parts = []
        if base_wave is not None and name in base["tables"]:
            parts.append((self._table_dir(base["dir"], name), base_wave))
        floor = base_wave if base_wave is not None else -1
        for w_str, tables in waves_index.items():
            w = int(w_str)
            if floor < w <= wave and name in tables:
                p = self._delta_dir(w, name)
                if not os.path.exists(p):
                    why = (
                        f"expired by compaction at wave {base['wave']}"
                        if base
                        else "missing on disk"
                    )
                    raise ValueError(
                        f"snapshot-as-of wave {wave} needs delta {p}, {why}"
                    )
                parts.append((p, w))
        return parts

    def _read_snapshot(
        self, spark: SparkSession, name: str, wave: int, meta: dict
    ) -> DataFrame:
        """Snapshot-as-of reader for one table. Append tables: one
        multi-path scan + dropDuplicates. Upsert tables: per-part scans
        labelled with their wave, resolved last-writer-wins per key
        (row_number over wave desc — merge-on-read; the part count is
        bounded by compact_every, so the union stays shallow). A
        same-wave key collision raises (the error is embedded in the
        key column's projection, so pruning can't skip the check);
        byte-identical duplicate rows are collapsed first — an
        idempotent retry of the same delta is not a collision."""
        parts = self._snapshot_parts(name, wave, meta)
        if not parts:
            return jvm_empty(spark, self.schemas[name])
        keys = self.upsert_keys.get(name)
        if keys is None:
            return self._scan(spark, name, [p for p, _ in parts]).dropDuplicates()
        from pyspark.sql import Window

        u = None
        for p, wv in parts:
            f = self._scan(spark, name, [p]).withColumn("_w", F.lit(int(wv)))
            u = f if u is None else u.unionByName(f)
        u = u.dropDuplicates()
        wk = Window.partitionBy(*keys).orderBy(F.col("_w").desc())
        key0 = keys[0]
        collision = F.raise_error(
            F.concat(
                F.lit(
                    f"upsert table {name!r}: multiple rows for one key "
                    f"within wave "
                ),
                F.col("_w").cast("string"),
                F.lit(f", {key0}="),
                F.col(key0).cast("string"),
            )
        )
        return (
            u.withColumn("_rn", F.row_number().over(wk))
            .withColumn(
                "_cnt",
                F.count(F.lit(1)).over(Window.partitionBy(*keys, F.col("_w"))),
            )
            .filter(F.col("_rn") == 1)
            .withColumn(
                key0,
                F.when(F.col("_cnt") > 1, collision).otherwise(F.col(key0)),
            )
            .drop("_w", "_rn", "_cnt")
        )

    def load_table(
        self, spark: SparkSession, wave: int, name: str
    ) -> DataFrame:
        """Snapshot-as-of `wave` for ONE table — the streaming hot path
        reads only `processed`, without building the other tables'
        plans."""
        latest = self.latest()
        meta = latest[1] if latest else {}
        return self._read_snapshot(spark, name, wave, meta)

    def load(self, spark: SparkSession, wave: int) -> dict[str, DataFrame]:
        """Snapshot-as-of `wave`: consolidated base (if one covers ≤
        wave) plus all deltas in (base_wave, wave], deduplicated per
        table. Time travel to a wave BEFORE the base reads the raw
        deltas while they still exist and raises once expire() removed
        them (Iceberg expired-snapshot semantics)."""
        latest = self.latest()
        meta = latest[1] if latest else {}
        return {
            name: self._read_snapshot(spark, name, wave, meta)
            for name in self.schemas
        }

    def compact(self, spark: SparkSession, upto: int | None = None) -> str:
        """Rewrite the snapshot-as-of `upto` (default: latest wave) into
        one consolidated, deduplicated base per table, then atomically
        swap the manifest to point at it. New files are written BEFORE
        the manifest swap, so a reader holding the old manifest keeps a
        consistent view; the superseded delta dirs stay on disk (for
        pre-base time travel) until expire(). O(|state|) — run it every
        K waves, not per wave; commits stay O(|delta|).

        The manifest names the non-empty tables (only landed dirs are
        listed), so no table is probed. The tables are rewritten in one
        tagged write, deduplicated by ONE dropDuplicates over the union
        (upsert tables arrive resolved, so it keeps their rows as they
        are); the bucketed `processed` base is its own catalog write."""
        latest = self.latest()
        if latest is None:
            raise ValueError("compact() on an empty store")
        wave, meta = latest
        upto = wave if upto is None else upto
        prev_base = meta.get("_base")
        gen = (prev_base["gen"] + 1) if prev_base else 0
        base_dir = f"base=w{upto}-g{gen}"
        parts = {n: self._snapshot_parts(n, upto, meta) for n in self.schemas}
        bucketed = self.bucket_seen > 0 and bool(parts.get("processed"))
        plain = [n for n, ps in parts.items() if ps and not (bucketed and n == "processed")]
        tables = []
        if plain:
            frames = {
                n: self._read_snapshot(spark, n, upto, meta)
                if n in self.upsert_keys
                else self._scan(spark, n, [p for p, _ in parts[n]])
                for n in plain
            }
            tables = self._write_tagged(
                _tagged(frames, self.schemas).dropDuplicates(), base_dir, plain
            )
        bucketed_processed = None
        if bucketed:
            # ONE copy serves both readers: written through the
            # catalog so the bucket spec is recorded (plain
            # .parquet() writes have nowhere to put it), while
            # load() keeps reading the same files as ordinary
            # parquet (bucket ids only live in the file names).
            # Written after the tagged write, which overwrites base_dir.
            from photon_spark.plans.bucketing import write_bucketed

            table = self._bucket_table_name(gen)
            # single_file_buckets: one file per bucket, so the
            # per-wave sort-merge anti-join also skips the sort on
            # the seen side (Spark only trusts bucket sortedness
            # when a bucket is one file) — measured 2.6× vs the
            # plain anti-join at 64M seen (BENCH/BASELINE.md).
            write_bucketed(
                self._read_snapshot(spark, "processed", upto, meta),
                table,
                "url",
                self.bucket_seen,
                os.path.abspath(self._table_dir(base_dir, "processed")),
                single_file_buckets=True,
            )
            bucketed_processed = {
                "table": table,
                "dir": f"{base_dir}/{TABLE_TAG}=processed",
                "n_buckets": self.bucket_seen,
            }
            tables.append("processed")
        meta = dict(meta)
        meta["_base"] = {"wave": upto, "dir": base_dir, "tables": tables, "gen": gen}
        if bucketed_processed:
            meta["_base"]["bucketed_processed"] = bucketed_processed
        if prev_base and prev_base.get("bucketed_processed"):
            # Retire the superseded generation's catalog entry (external
            # table: the DROP leaves its files for expire() to collect).
            spark.sql(
                "DROP TABLE IF EXISTS "
                + prev_base["bucketed_processed"]["table"]
            )
        if prev_base:
            # the superseded base is NOT deleted here: a concurrent
            # reader still holding the pre-swap manifest reads from it.
            # It is retired into the manifest and physically removed by
            # expire(), the one place files are allowed to disappear
            # (Iceberg: rewrite_data_files leaves old files for expire
            # _snapshots / remove_orphan_files to collect).
            retired = list(meta.get("_retired_bases", []))
            retired.append(prev_base["dir"])
            meta["_retired_bases"] = retired
        self._write_manifest({"latest_wave": wave, "meta": meta})
        return base_dir

    def expire(self) -> int:
        """Drop delta dirs superseded by the current base (Iceberg
        expire_snapshots). Wave entries stay in the manifest as history;
        load() of a pre-base wave raises after this. Returns the number
        of delta dirs removed."""
        latest = self.latest()
        if latest is None:
            return 0
        base = latest[1].get("_base")
        if not base:
            return 0
        removed = 0
        meta = dict(latest[1])
        for d in meta.pop("_retired_bases", []):
            p = os.path.join(self.root, d)
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        self._write_manifest({"latest_wave": latest[0], "meta": meta})
        for w_str, tables in latest[1].get("_waves_index", {}).items():
            w = int(w_str)
            wave_dir = os.path.join(self.root, f"wave={w}")
            if w > base["wave"] or not os.path.isdir(wave_dir):
                continue
            removed += sum(os.path.isdir(self._delta_dir(w, n)) for n in tables)
            # the whole wave dir: the tagged write leaves its _SUCCESS
            # marker beside the table dirs
            shutil.rmtree(wave_dir, ignore_errors=True)
        return removed

    def reset(self) -> None:
        """Start a new lineage in this root: drop the manifest and all
        wave deltas. run_crawl calls this on every fresh (non-resume)
        crawl — without it, commit() would merge the PREVIOUS run's
        _waves_index into the new manifest and load() would silently
        union stale rows into the new crawl's snapshot."""
        try:
            os.remove(self._manifest_path())
        except FileNotFoundError:
            pass
        if os.path.isdir(self.root):
            for d in os.listdir(self.root):
                if d.startswith("wave=") or d.startswith("base="):
                    shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _release(frames: list[DataFrame | Broadcast | None]) -> None:
    """Drop each frame's cached blocks: a persisted frame's through the
    cache manager, a localCheckpoint's through its RDD (neither
    DataFrame.unpersist nor catalog.clearCache drops those). A
    broadcast is destroyed."""
    for df in frames:
        if isinstance(df, Broadcast):
            df.destroy()
        elif df is not None:
            df.unpersist()
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)


class WaveState:
    """The state a wave loop (crawl.run_crawl, recrawl.run_recrawl)
    carries from one wave to the next, and the lifetime of what the
    waves cache. Used as a context manager.

    Start: with ``resume`` and a committed wave in ``store``, the
    store's latest snapshot; otherwise every table of ``schemas``
    empty, and the store (if any) reset so an earlier lineage's deltas
    cannot leak into this one. ``first_wave`` is the wave to run next,
    ``meta`` the manifest meta ({} on a fresh start), ``state`` one
    frame per table.

    ``snapshot`` applies a wave's delta once per wave and returns what
    ``CrawlStore.load`` returns, one deduplicated frame per table. With
    a store it commits the delta (compacting every ``compact_every``
    waves) and loads; without one it takes ONE eager localCheckpoint of
    the previous checkpoint and the delta as one tagged union,
    deduplicated once, and splits it back by tag.

    Lifetimes: ``hold`` persists a frame for one wave; the next
    snapshot releases it, with the previous in-memory checkpoint, once
    the new state no longer reads them (a broadcast given to ``hold``
    is destroyed then). ``keep`` registers a cached frame for the
    whole call. Leaving the block
    releases everything still registered, the current checkpoint
    included, except what ``hand_over`` gave to the caller's result.
    """

    def __init__(
        self,
        spark: SparkSession,
        schemas: dict[str, str],
        store: CrawlStore | None = None,
        resume: bool = False,
        compact_every: int = 0,
    ):
        self.spark, self.schemas, self.store = spark, schemas, store
        self.compact_every = compact_every
        self._wave: list[DataFrame | Broadcast] = []  # released at the next snapshot
        self._kept: list[DataFrame] = []  # released on leaving the block
        self._checkpoint: DataFrame | None = None  # the in-memory snapshot
        latest = store.latest() if resume and store is not None else None
        if latest is None:
            if store is not None:
                store.reset()
            self.first_wave, self.meta = 0, {}
            self.state = {n: jvm_empty(spark, s) for n, s in schemas.items()}
        else:
            last_wave, self.meta = latest
            self.first_wave = last_wave + 1
            self.state = store.load(spark, last_wave)

    def __enter__(self) -> "WaveState":
        return self

    def __exit__(self, *exc) -> None:
        _release(self._wave + self._kept + [self._checkpoint])

    def hold(self, df: DataFrame | Broadcast) -> DataFrame | Broadcast:
        if isinstance(df, DataFrame):
            df = df.persist()
        self._wave.append(df)
        return df

    def keep(self, df: DataFrame) -> DataFrame:
        self._kept.append(df)
        return df

    def hand_over(self, *frames: DataFrame) -> None:
        """The caller's result holds the current snapshot and ``frames``
        from here on."""
        self._kept = [f for f in self._kept if all(f is not g for g in frames)]
        self._checkpoint = None

    def snapshot(
        self,
        wave: int,
        delta: dict[str, DataFrame],
        meta: dict,
        replace: dict[str, DataFrame] | None = None,
    ) -> dict[str, DataFrame]:
        """``delta``: the wave's rows per table, as ``commit`` takes
        them. ``replace``: tables whose whole new contents the caller
        has (an upsert table, which the store resolves at load); an
        in-memory snapshot takes them instead of adding their delta."""
        store = self.store
        if store is not None:
            store.commit(wave, delta, meta)
            if self.compact_every and (wave + 1) % self.compact_every == 0:
                store.compact(self.spark)
                store.expire()
            out = store.load(self.spark, wave)
        else:
            replace = replace or {}
            rows = _tagged({**delta, **replace}, self.schemas)
            prev = self._checkpoint
            if prev is not None:
                # ONE scan of the previous checkpoint, less the replaced tables
                rows = prev.filter(~F.col(TABLE_TAG).isin(list(replace))).union(rows)
                self._wave.append(prev)
            self._checkpoint = rows.dropDuplicates().localCheckpoint(eager=True)
            out = {
                name: self._checkpoint.filter(F.col(TABLE_TAG) == name)
                .select(*[c for c, _ in split_schema(schema)])
                for name, schema in self.schemas.items()
            }
        _release(self._wave)
        self._wave = []
        return out


class SwappedTable:
    """A parquet table replaced as a whole, crash-safely: the state of
    the foreachBatch maintainers (streaming/).

        <root>/_pointer.json     {"version": n, "batch": id}
        <root>/v<n>/part-*.parquet

    replace() writes a fresh version dir, then atomically rewrites the
    pointer, then removes the versions older than the one the pointer
    left. A crash at any point leaves the pointer on a complete
    version: the old one until the pointer swap (a retry overwrites the
    orphaned new dir), the new one after it. The version the pointer
    left stays until the next replace(), so a reader that read the
    pointer just before the swap still finds its files. `batch` is the
    id of the last micro-batch folded into the table, the maintainers'
    replay marker, so it swaps with the state in one write. Version dirs
    hold no `=`, so Spark infers no partition column from them.
    """

    def __init__(self, root: str):
        self.root = root
        self._pointer_path = os.path.join(root, "_pointer.json")

    def _pointer(self) -> dict | None:
        try:
            with open(self._pointer_path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        if os.path.isdir(self.root) and any(
            f.endswith(".parquet") for f in os.listdir(self.root)
        ):
            raise ValueError(
                f"{self.root}: state written by the pre-pointer layout"
                f" (parquet files, no _pointer.json); start the stream"
                f" with a fresh state dir"
            )
        return None

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def read(self, spark: SparkSession) -> tuple[DataFrame | None, int]:
        """(current version, its batch id), or (None, -1) before the
        first replace()."""
        p = self._pointer()
        if p is None:
            return None, -1
        return spark.read.parquet(self._version_dir(p["version"])), p["batch"]

    def replace(self, df: DataFrame, batch: int) -> None:
        p = self._pointer()
        version = 0 if p is None else p["version"] + 1
        df.write.mode("overwrite").parquet(self._version_dir(version))
        _write_json_atomic(self._pointer_path, {"version": version, "batch": batch})
        for d in os.listdir(self.root):
            if re.fullmatch(r"v\d+", d) and int(d[1:]) < version - 1:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
