"""One persisted band-store engine for both LSH kernels: the MinHash
text store (``dedup_store``) and the SRP embedding store
(``semantic_store``). Each of those modules is a kernel binding — one
``BandStore`` spec plus its oracle SQL and registered rows — and its
public verbs are this engine's methods.

The 100 TB deployment pattern: the corpus's band index and row table
are WRITTEN ONCE (``write``), and every ingest wave is checked against
the existing corpus by reading ONLY the band buckets the wave routes to
(``probe``):

  * ``<path>/bands``: (id, band value) parquet partitioned by
    (band_idx, bucket), bucket = md5(band value) mod the store's fan
    (``storefs.md5_bucket``). The bucket refines band-value equality,
    so pruning never changes results, only bytes read. Membership is
    HARD-CAPPED at the batch kernel's cap (smallest ids per (band_idx,
    band value)) at write time, so a degenerate corpus can never fan a
    probe out quadratically.
  * ``<path>/<rows table>``: the verify asset (MinHash signatures,
    scaled-int vectors + norms). Band collision only nominates; the
    probe verifies every candidate pair with the kernel's score.

The fan is derived from the corpus at write time
(``storefs.derived_fan``: next power of two of rows/4096, clamped to
[4, 65536]) and persisted in ``_n_buckets``; stores written before fans
were derived fall back to the kernel's legacy fan. The routing
decision crosses the driver as ≤ bands × fan (band_idx, bucket) pairs
in ONE job that also enforces the probe-size ceiling.

DURABILITY MODEL (single-maintainer, local/HDFS-rename filesystems;
the ``storefs`` machinery): append writes BANDS FIRST, rows second, so
a crash between them shows as band ids with no row (the stats'
orphan-id count > 0; repair = re-run the wave's append — the band
re-cap deduplicates). The ingest stream persists a batch-id watermark
after each wave; a crash between the append and the watermark replays
one wave's row append (the stats' duplicate-id count > 0; repair =
``repair_replayed_append``). Compaction and the row-table rewrite of a
delete go through the crash-safe swap with repair-on-entry; a delete
is an id-list ``storefs.recorded_delete`` whose touched buckets are
re-derived from the kept rows, so every crash point re-runs to
completion from the recorded ids.

Reference: the reference has no persisted stores (beyond-reference
mandate, SURVEY.md §7 step 7); the layout is the ``ivf_store``
partitioned-parquet pattern applied to the shared LSH kernels.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import storefs
from trisk_spark.streaming.sinks import per_batch

#: ceiling on one probe wave (the ivf_store MAX_PROBE_BATCH_ROWS class):
#: arriving band rows are BROADCAST into the candidate join, so an
#: unbounded wave would silently grow the broadcast build; the check is
#: folded into the routing collect (one job)
MAX_PROBE_ROWS = 100_000


@dataclass(eq=False, repr=False)
class BandStore:
    """One kernel's band store: the spec (names, constants, hooks) and
    the lifecycle verbs that run on it."""

    #: prefix of op names and messages ("dedup" / "semantic")
    label: str
    id_col: str
    rows_table: str
    band_col: str
    n_bands: int
    #: write-time bucket cap (ids per (band_idx, band value))
    cap: int
    #: bucket fan of stores written before fans were derived
    legacy_fan: int
    #: wave → row-table frame, invalid/null-id rows dropped
    rows: Callable[[DataFrame], DataFrame]
    #: row-table frame → (id, band_idx, band value) rows
    bands: Callable[[DataFrame], DataFrame]
    #: (stored rows, wave rows) → (ref side keyed ``dup_of``, wave side
    #: keyed ``new_id``, score Column over the joined pair)
    verify: Callable[[DataFrame, DataFrame], tuple[DataFrame, DataFrame, Column]]
    score_col: str
    #: report columns after (id, dup_of), over the argmax struct ``b``
    report: Callable[[], list[Column]]
    probe_schema: str
    #: stats names of (row count, duplicate row ids, orphan band ids)
    stats_names: tuple[str, str, str]
    stats_order: tuple[str, ...]
    avg_digits: int
    #: the self-contained registered rows: corpus table, the
    #: arriving split (id % mod == 0) and the takedown victim slice
    #: (id % victim_mod == 1 among the existing docs)
    table: str
    arriving_mod: int
    victim_mod: int
    cache_prefixes: tuple[str, str]

    def __post_init__(self) -> None:
        self._corpus_stores = storefs.ScratchStoreCache(self.cache_prefixes[0])
        self._takedown_stores = storefs.ScratchStoreCache(self.cache_prefixes[1])
        self._cols = (self.id_col, self.band_col, "band_idx", "bucket")

    # ------------------------------------------------------- layout --

    def bucket(self, col: Column | None = None, n_buckets: int | None = None):
        """Partition bucket of a band value (``storefs.md5_bucket``);
        ``n_buckets`` is the store's recorded fan, defaulting to the
        legacy fan."""
        c = F.col(self.band_col) if col is None else col
        return storefs.md5_bucket(c, n_buckets or self.legacy_fan)

    def fan(self, path: str) -> int:
        """The store's persisted bucket fan, or the legacy fan for
        stores written before fans were derived."""
        return storefs.read_store_fan(path, self.legacy_fan)

    def _band_rows(self, rows: DataFrame, fan: int) -> DataFrame:
        return self.bands(rows).select(
            self.id_col, self.band_col,
            F.col("band_idx").cast("int").alias("band_idx"),
            self.bucket(n_buckets=fan),
        )

    def _capped(self, bands: DataFrame) -> DataFrame:
        """The cap rule: ≤ cap smallest ids per (band_idx, band value) —
        order-free, so append and delete match a rebuild."""
        w = Window.partitionBy("band_idx", self.band_col).orderBy(self.id_col)
        return bands.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= self.cap
        )

    def _by_dir(self, spark: SparkSession, bands: DataFrame, fan: int) -> DataFrame:
        """Repartition by the write's partition columns with an explicit
        task count (``storefs.writer_tasks``): every directory gets
        exactly one file, and AQE cannot coalesce the write into one
        task committing every directory serially."""
        tasks = storefs.writer_tasks(spark, self.n_bands * fan)
        return bands.repartition(tasks, "band_idx", "bucket")

    @staticmethod
    def _write_bands(bands: DataFrame, dest: str, mode: str, **options) -> None:
        bands.write.mode(mode).options(**options).partitionBy(
            "band_idx", "bucket"
        ).parquet(dest)

    def _routes(
        self, bands: DataFrame, max_probe_rows: int | None = None
    ) -> list[tuple[int, int]]:
        """ONE job over band rows: the routed (band_idx, bucket) pairs,
        and — for a probe — the size guard. The collected set is ≤
        bands × fan pairs regardless of wave or corpus size."""
        row = bands.agg(
            F.count("*").alias("n_rows"),
            F.collect_set(F.struct("band_idx", "bucket")).alias("routes"),
        ).collect()[0]
        if max_probe_rows is not None and row["n_rows"] > max_probe_rows * self.n_bands:
            raise ValueError(
                f"{self.label} probe batch exceeds {max_probe_rows} rows "
                f"({row['n_rows']} band rows > {max_probe_rows} rows x "
                f"{self.n_bands} bands) — refusing to broadcast it; split "
                "the probe stream or raise max_probe_rows"
            )
        return sorted((r["band_idx"], r["bucket"]) for r in (row["routes"] or []))

    def _pruned(self, bands: DataFrame, routes, fan: int) -> DataFrame:
        """Band rows narrowed to the routed directories. A wave routing
        to EVERY directory makes the disjunction a tautology that only
        costs planner time (~0.5 s at 192 directories), so it is
        skipped then."""
        if len(routes) >= self.n_bands * fan:
            return bands
        return bands.where(
            reduce(
                or_,
                [(F.col("band_idx") == b) & (F.col("bucket") == k) for b, k in routes],
            )
        )

    # -------------------------------------------------------- verbs --

    def write(self, spark: SparkSession, wave: DataFrame, path: str) -> None:
        """Persist the store for a corpus frame: the row table first,
        then the capped band rows derived from the WRITTEN parquet (the
        write is the barrier — the kernel pass runs once). The fan is
        derived from the written row count (parquet metadata, no scan)
        and persisted BEFORE any bucketed bytes exist."""
        dest = f"{path}/{self.rows_table}"
        self.rows(wave).write.mode("overwrite").parquet(dest)
        stored = spark.read.parquet(dest)
        fan = storefs.derived_fan(stored.count())
        storefs.write_store_fan(path, fan)
        bands = self._capped(self.bands(stored)).select(
            self.id_col, self.band_col, F.col("band_idx").cast("int"),
            self.bucket(n_buckets=fan),
        )
        self._write_bands(self._by_dir(spark, bands, fan), f"{path}/bands", "overwrite")

    def probe(
        self,
        spark: SparkSession,
        wave: DataFrame,
        path: str,
        max_probe_rows: int = MAX_PROBE_ROWS,
    ) -> DataFrame:
        """Check an ARRIVING wave against the persisted corpus: per
        arriving id with at least one band collision, its BEST verified
        match (id, dup_of, <kernel report columns>) — dup_of is the
        highest-scoring existing id, ties to the smallest. Within-wave
        pairs are NOT generated: the contract is dedup against the
        EXISTING corpus.

        Plan: wave rows (localCheckpoint — the routing collect, the
        band broadcast and the verify broadcast all consume them) → one
        routing collect with the size guard → the bands read PRUNED to
        the routed directories → one equi-join on (band_idx, bucket,
        band value) with the arriving side BROADCAST → id-distinct
        candidates → verify: the stored rows join the candidate ids
        (AQE decides — candidates can be cap-fanned) and the wave rows
        broadcast → one struct-MAX argmax per arriving id."""
        return self.probe_rows(spark, self.rows(wave), path, max_probe_rows)

    def probe_rows(
        self,
        spark: SparkSession,
        rows: DataFrame,
        path: str,
        max_probe_rows: int = MAX_PROBE_ROWS,
    ) -> DataFrame:
        """``probe`` for a wave already in row-table layout (the
        ``rows`` hook's output) — the admission funnel derives the
        semantic rows concurrently with the text probe."""
        fan = self.fan(path)
        # LAZY: the routing collect is the wave's first action
        rows = rows.localCheckpoint(eager=False)
        bands_new = self._band_rows(rows, fan).withColumnRenamed(self.id_col, "new_id")
        routes = self._routes(bands_new, max_probe_rows)
        if not routes:
            return spark.createDataFrame([], self.probe_schema)
        store_bands = self._pruned(spark.read.parquet(f"{path}/bands"), routes, fan)
        pairs = (
            store_bands.join(
                F.broadcast(bands_new), ["band_idx", "bucket", self.band_col]
            )
            .where(F.col(self.id_col) != F.col("new_id"))
            .select("new_id", F.col(self.id_col).alias("dup_of"))
            .distinct()
        )
        ref, new, score = self.verify(
            spark.read.parquet(f"{path}/{self.rows_table}"), rows
        )
        scored = (
            pairs.join(ref, "dup_of")
            .join(F.broadcast(new), "new_id")
            .select("new_id", "dup_of", score.alias(self.score_col))
        )
        # struct max = (score DESC, dup_of ASC): the LARGEST -dup_of is
        # the smallest id on ties (partial-aggregatable, no sort)
        best = scored.groupBy("new_id").agg(
            F.max(
                F.struct(F.col(self.score_col), (-F.col("dup_of")).alias("nid"))
            ).alias("b")
        )
        return best.select(
            F.col("new_id").alias(self.id_col),
            (-F.col("b.nid")).alias("dup_of"),
            *self.report(),
        )

    def append(self, spark: SparkSession, wave: DataFrame, path: str) -> None:
        """ADMIT a wave: rewrite ONLY the band buckets it touches with
        the cap re-applied over old ∪ new members, then append its rows.

        Equality contract (pytest-pinned): append(store, wave) ≡
        ``write`` over existing ∪ wave, table-for-table. Caller
        contract: wave ids are disjoint from the store's. The rewrite
        reads only the touched partitions, deduplicates on (band_idx,
        band value, id) — so re-running a wave's append is idempotent
        for bands — and writes back under a per-write DYNAMIC partition
        overwrite (the session conf is never touched). Bands land
        first: see the module DURABILITY MODEL."""
        fan = self.fan(path)
        # LAZY: the routing collect materializes the wave rows for the
        # band merge and the final row append
        rows = self.rows(wave).localCheckpoint(eager=False)
        bands_new = self._band_rows(rows, fan)
        routes = self._routes(bands_new)
        if not routes:
            return  # empty wave: nothing to write on either table
        old = self._pruned(spark.read.parquet(f"{path}/bands"), routes, fan)
        merged = self._capped(
            old.select(*self._cols)
            .unionByName(bands_new)
            .dropDuplicates(["band_idx", self.band_col, self.id_col])
        ).select(*self._cols)
        # the rewrite READS the path it overwrites: materialize the
        # merged buckets (touched-partition sized) before the write
        merged = self._by_dir(spark, merged, fan).localCheckpoint()
        self._write_bands(
            merged, f"{path}/bands", "overwrite", partitionOverwriteMode="dynamic"
        )
        rows.write.mode("append").parquet(f"{path}/{self.rows_table}")

    def ingest_wave(
        self,
        spark: SparkSession,
        wave: DataFrame,
        path: str,
        max_probe_rows: int = MAX_PROBE_ROWS,
    ) -> DataFrame:
        """PROBE the wave, ADMIT every id not flagged ``is_dup`` and
        return the probe report, materialized BEFORE the append (it
        describes the store the wave was judged against). Within-wave
        near-dups are admitted together and collide from the next wave
        on."""
        report = self.probe(spark, wave, path, max_probe_rows).localCheckpoint()
        flagged = report.where(F.col("is_dup")).select(self.id_col)
        admitted = wave.where(F.col(self.id_col).isNotNull()).join(
            F.broadcast(flagged), self.id_col, "left_anti"
        )
        self.append(spark, admitted, path)
        return report

    def ingest_stream(self, spark: SparkSession, stream: DataFrame, path: str, sink):
        """``ingest_wave`` per micro-batch: batch N+1 dedups against
        everything admitted through batch N. REPLAY GUARD: the last
        fully-admitted batch id is persisted atomically beside the store
        (``_last_admitted_batch_id``) right after the wave's append; a
        replayed batch ≤ the watermark is SKIPPED ENTIRELY — no probe,
        no append, no sink call. ``sink(report, batch_id)`` may consume
        the report lazily (it is materialized before the append).
        Returns the ``DataStreamWriter`` ready to ``.start()``."""
        storefs.require_rename_fs(path, f"{self.label}_ingest_stream")
        return per_batch(
            stream,
            lambda batch_df, _: self.ingest_wave(spark, batch_df, path),
            sink,
            watermark=path,
        )

    def probe_stream(self, spark: SparkSession, stream: DataFrame, path: str, sink):
        """Read-only ``probe`` per micro-batch (``foreachBatch`` makes
        the batch a plain frame, so each batch gets its own pruned
        read). ``sink(result_df, batch_id)`` must fully MATERIALIZE the
        result inside the call — the batch cache is dropped when it
        returns."""
        return per_batch(
            stream, lambda batch_df, _: self.probe(spark, batch_df, path), sink
        )

    def repair(self, path: str) -> None:
        """``storefs.repair_store`` over the two tables: finish or roll
        back a compaction swap a crash interrupted."""
        storefs.repair_store(path, (self.rows_table, "bands"))

    def repair_replayed_append(self, spark: SparkSession, path: str) -> None:
        """Repair the ingest stream's watermark crash window: an id-level
        dropDuplicates rewrite of the row table through the crash-safe
        swap (replayed rows are byte-identical per id; bands re-cap
        idempotently, so only rows duplicate)."""
        storefs.repair_replayed_append(spark, path, self.rows_table, self.id_col)

    def compact(self, spark: SparkSession, path: str, row_files: int = 8) -> None:
        """Post-ingest maintenance: each appended wave leaves one small
        file in the row table and in each touched bucket. Rewrite the
        row table into ``row_files`` files and the bands into ONE file
        per (band_idx, bucket), then swap them in crash-safely
        (repair-on-entry, overwrite-mode tmp builds, recovery-ordered
        renames). Content is untouched; single maintainer, no probe in
        flight during the swap."""
        storefs.require_rename_fs(path, f"compact_{self.label}_store")
        self.repair(path)
        rows = spark.read.parquet(f"{path}/{self.rows_table}")
        rows.coalesce(max(1, row_files)).write.mode("overwrite").parquet(
            f"{path}/{self.rows_table}_compact_tmp"
        )
        bands = self._by_dir(spark, spark.read.parquet(f"{path}/bands"), self.fan(path))
        self._write_bands(bands, f"{path}/bands_compact_tmp", "overwrite")
        storefs.swap_in_compacted(path, (self.rows_table, "bands"))

    def stats(self, spark: SparkSession, path: str) -> DataFrame:
        """Store health, one row: row count, band rows, distinct band
        values (``n_buckets``), min/max/avg members per band value,
        ``saturated_buckets`` (AT the cap — probes there pay the max
        fan-out), plus two crash signatures that are 0 in every
        consistent store: orphan band ids (an append that crashed
        between its band rewrite and its row write; repair = re-run the
        wave) and duplicate row ids (a wave replayed past a missed
        watermark; repair = ``repair_replayed_append``)."""
        n_rows, n_dup, n_orphan = self.stats_names
        rows = spark.read.parquet(f"{path}/{self.rows_table}")
        counts = rows.agg(
            F.count("*").cast("bigint").alias(n_rows),
            (F.count("*") - F.count_distinct(F.col(self.id_col)))
            .cast("bigint")
            .alias(n_dup),
        )
        band_rows = spark.read.parquet(f"{path}/bands")
        orphans = (
            band_rows.select(self.id_col)
            .distinct()
            .join(rows.select(self.id_col), self.id_col, "left_anti")
            .agg(F.count("*").cast("bigint").alias(n_orphan))
        )
        per = band_rows.groupBy("band_idx", self.band_col).agg(F.count("*").alias("n"))
        agg = per.agg(
            F.sum("n").cast("bigint").alias("n_band_rows"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.min("n").cast("bigint").alias("min_bucket"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.round(F.avg("n"), self.avg_digits).alias("avg_bucket"),
            F.sum(F.when(F.col("n") >= self.cap, 1).otherwise(0))
            .cast("bigint")
            .alias("saturated_buckets"),
        )
        return (
            agg.crossJoin(F.broadcast(counts))
            .crossJoin(F.broadcast(orphans))
            .select(*self.stats_order)
        )

    # ----------------------------------------------------- takedown --

    def delete(self, spark: SparkSession, ids, path: str) -> None:
        """TAKEDOWN: remove ids so no future probe can match them.
        delete ≡ ``write`` over the corpus WITHOUT the victims,
        table-for-table, INCLUDING cap re-entrants: the touched buckets
        are RE-DERIVED from the kept rows and re-capped, not merely
        filtered, and a bucket whose only members were victims ends
        EMPTY (its directory is cleared — a dynamic overwrite could not
        express that). The row table swaps last. Runs inside
        ``storefs.recorded_delete``: every crash point re-runs to
        completion from the durable ``_delete_intent`` (before the row
        swap the victims' rows still exist, so routing recomputes;
        after it, the re-run only clears the intent)."""
        storefs.recorded_delete(
            spark, path, ids, f"delete_from_{self.label}_store", self.id_col,
            self._run_recorded_delete, (self.rows_table, "bands"),
        )

    def resume(self, spark: SparkSession, path: str) -> bool:
        """Finish a takedown a crash interrupted (repairs a half-swapped
        row table first). Returns True if there was one to finish."""
        return storefs.resume_recorded_delete(
            spark, path, self.id_col, self._run_recorded_delete,
            (self.rows_table, "bands"),
        )

    def _run_recorded_delete(self, spark: SparkSession, ids: list, path: str) -> None:
        base = storefs.strip_file_scheme(path)
        fan = self.fan(path)
        rows = spark.read.parquet(f"{path}/{self.rows_table}")
        victims = rows.where(F.col(self.id_col).isin(ids))
        keep = rows.where(~F.col(self.id_col).isin(ids))
        routes = self._routes(self._band_rows(victims, fan))
        if routes:
            rebuilt = self._capped(
                self._pruned(self._band_rows(keep, fan), routes, fan)
            ).select(*self._cols)
            # materialize BEFORE the touched directories are cleared
            rebuilt = self._by_dir(spark, rebuilt, fan).localCheckpoint()
            for b, k in routes:
                shutil.rmtree(
                    f"{base}/bands/band_idx={b}/bucket={k}", ignore_errors=True
                )
            self._write_bands(rebuilt, f"{path}/bands", "append")
        if victims.limit(1).count() > 0:
            storefs.swap_table(path, self.rows_table, keep)

    # ------------------------------------- self-contained registered rows --

    def _slice(self, spark: SparkSession, sf_dir: str, arriving: bool) -> DataFrame:
        k = F.pmod(F.col(self.id_col), F.lit(self.arriving_mod))
        return table(spark, sf_dir, self.table).where(k == 0 if arriving else k != 0)

    def probe_arriving(self, spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
        """Probe the corpus's arriving slice (id % arriving_mod == 0)
        against the store at ``path``."""
        return self.probe(spark, self._slice(spark, sf_dir, True), path)

    def corpus_store_path(self, spark: SparkSession, sf_dir: str) -> str:
        """Path of the session-memoized scratch store over the corpus's
        EXISTING slice (id % arriving_mod != 0), built once per
        (session, corpus) (``storefs.ScratchStoreCache``)."""

        def build(path: str) -> None:
            self.write(spark, self._slice(spark, sf_dir, False), path)

        return self._corpus_stores.get_or_build(spark, sf_dir, build)

    def takedown_store_path(self, spark: SparkSession, sf_dir: str) -> str:
        """Path of the session-memoized POST-TAKEDOWN scratch store: the
        existing slice written, then the victim slice (id % victim_mod
        == 1) deleted through ``delete`` — its OWN cache, never the
        shared ``corpus_store_path`` store."""

        def build(path: str) -> None:
            existing = self._slice(spark, sf_dir, False)
            victim = F.pmod(F.col(self.id_col), F.lit(self.victim_mod)) == 1
            victims = sorted(
                int(r[0]) for r in existing.where(victim).select(self.id_col).collect()
            )
            self.write(spark, existing, path)
            self.delete(spark, victims, path)

        return self._takedown_stores.get_or_build(spark, sf_dir, build)
