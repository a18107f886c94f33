"""One persisted postings-store engine for both lexical kernels: the
BM25 inverted index (``bm25_store``) and the positional phrase index
(``phrase_store``). Each of those modules is a kernel binding — its
wave → postings derivation, its probe scoring, its oracle SQL and
registered rows — and its public verbs are this engine's methods.

The 100 TB deployment pattern: the corpus's postings are WRITTEN ONCE
(``write``), every later wave is APPENDED (``append``), and every probe
reads ONLY the buckets its terms route to (``routed_hits``):

  * ``<path>/postings``: one row per (term, doc_id) with the kernel's
    payload (BM25: tf, dl; phrase: the sorted positions), partitioned
    by ``bucket = md5(term) mod N_BUCKETS`` (``storefs.md5_bucket``).
    Bucketing refines term equality (equal term ⇒ equal bucket), so a
    probe prunes to its terms' buckets without changing results, and
    ALL of a term's postings share one bucket (per-term statistics
    such as BM25's df derive from the pruned read alone).
  * Routing is DRIVER-SIDE ARITHMETIC, not a Spark job: ``_bucket_of``
    is Python md5 ≡ Spark md5 ≡ DuckDB md5 on the same bytes. The
    pruned read is term-pushdown-filtered inside the routed buckets
    and materialized once behind a fail-loud hits ceiling
    (``MAX_PROBE_POSTINGS``: a stopword-like term makes the probe
    honest-but-huge work).
  * Postings are per-(term, doc) FACTS, not capped sets: append is a
    plain file append under ``partitionBy`` (no bucket rewrite), and
    delete ≡ rebuild-without-victims is a filter per touched bucket.

A kernel with side tables (BM25's ``doclens`` and 1-row ``stats``)
extends the engine by subclassing: it lists them in ``tables`` and
overrides the wave and append-tail hooks, calling the postings verbs.

DURABILITY MODEL (single-maintainer, local/HDFS-rename filesystems;
the ``storefs`` machinery):

  * append lands the postings in ONE job-level parquet commit; a side
    table's writes follow it (the kernel documents their windows).
  * the ingest stream persists a batch-id watermark after each wave; a
    crash between the append and the watermark replays one wave —
    duplicate (term, doc_id) rows, ``n_dup_postings`` > 0, repair =
    ``repair_replayed_append`` (a dropDuplicates rewrite through the
    crash-safe swap; replayed rows are byte-identical per key).
  * delete is an id-list ``storefs.recorded_delete``: the kept postings
    of the touched buckets are STAGED durably
    (``storefs.delete_staged_rows``) before any live bucket directory
    is cleared — they have no other durable source — so every crash
    point resumes to completion from the durable ``_delete_intent``.
    While an intent is pending, append and ingest fail loud: an append
    into a staged bucket would be lost at the swap.
  * compaction and repair go through the crash-safe swap with
    repair-on-entry.

Reference: the reference has no retrieval index (beyond-reference
mandate, SURVEY.md §7 step 7); the layout is the ``dedup_store``
partitioned-parquet pattern applied to the shared ``text.py`` kernels.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import storefs
from trisk_spark.streaming.sinks import per_batch

#: postings partition fan: directories = this; a probe prunes to ≤ its
#: own query terms' buckets
N_BUCKETS = 64

#: ceiling on one probe's materialized hits (postings rows for the
#: queried terms) — fail loud instead of paging through a
#: degenerate-frequent term silently
MAX_PROBE_POSTINGS = 2_000_000

#: deterministic corpus split of the self-contained registered rows
#: (the store-family split): doc_id % ARRIVING_MOD == 0 arrives, the
#: rest exists; existing docs with doc_id % VICTIM_MOD == 1 are the
#: takedown victims
ARRIVING_MOD = 5
VICTIM_MOD = 17

_STATS_ORDER = ("n_posting_rows", "n_terms", "max_term_postings", "n_dup_postings")


def _bucket_of(term: str) -> int:
    """Driver-side bucket of a term — MUST equal `_bucket_col` on the
    same bytes: md5 hex, first 15 nibbles as an integer, mod N."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % N_BUCKETS


def _bucket_col(col: Column | None = None) -> Column:
    """Spark twin of `_bucket_of` (``storefs.md5_bucket``)."""
    return storefs.md5_bucket(F.col("term") if col is None else col, N_BUCKETS)


def _write_tasks(spark: SparkSession) -> int:
    return storefs.writer_tasks(spark, N_BUCKETS)


def _write_postings(spark: SparkSession, postings: DataFrame, dest: str, mode: str) -> None:
    """One writer task per bucket directory (the explicit-repartition
    rule, so AQE cannot serialize the 64-directory write)."""
    out = postings.repartition(_write_tasks(spark), "bucket").write.mode(mode)
    out.partitionBy("bucket").parquet(dest)


@dataclass(eq=False, repr=False)
class PostingsStore:
    """One kernel's postings store: the spec (label, kernel hooks) and
    the lifecycle verbs that run on it."""

    #: prefix of op names and messages ("bm25" / "phrase")
    label: str
    #: (doc_id, text) wave → postings rows (term, doc_id, <payload>,
    #: bucket), null doc_ids dropped
    postings: Callable[[DataFrame], DataFrame]
    #: ``probe(spark, path, queries)`` → the kernel's ranked frame
    probe: Callable[..., DataFrame]
    #: probe-stream batch rows → the probe's query set (falsy if none)
    queries: Callable[[list], object]
    #: kernel aggregates over the postings added to ``stats``
    stats_aggs: Callable[[], list[Column]] = list
    stats_order: tuple[str, ...] = _STATS_ORDER

    #: tables the compaction-swap repair covers
    tables = ("postings",)

    def __post_init__(self) -> None:
        self._corpus_stores = storefs.ScratchStoreCache(f"trisk_{self.label}_store_")
        self._takedown_stores = storefs.ScratchStoreCache(f"trisk_{self.label}_takedown_")

    # ------------------------------------------------- kernel hooks --

    def _wave(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """ONE derivation of a wave: (postings, ledger). The ledger is
        what the append tail checks and what the ingest sink receives;
        here it is the postings themselves, materialized once — by the
        append tail's emptiness count, which computes the lazy
        checkpoint."""
        wave = self.postings(docs).localCheckpoint(eager=False)
        return wave, wave

    def _append_wave(
        self, spark: SparkSession, postings: DataFrame, ledger: DataFrame, path: str
    ) -> None:
        if ledger.limit(1).count() == 0:
            return
        _write_postings(spark, postings, f"{path}/postings", "append")

    # -------------------------------------------------------- verbs --

    def write(self, spark: SparkSession, docs: DataFrame, path: str) -> None:
        """Persist the index for a (doc_id, text) corpus frame."""
        _write_postings(spark, self.postings(docs), f"{path}/postings", "overwrite")

    def append(self, spark: SparkSession, docs: DataFrame, path: str) -> None:
        """ADMIT a wave: append its postings into the buckets they route
        to (untouched and touched buckets alike keep their bytes).

        Equality contract (pytest-pinned): append(store, wave) ≡
        ``write`` over existing ∪ wave, table-for-table. Caller
        contract: wave doc_ids are disjoint from the store's (a
        replayed wave is the documented watermark window)."""
        storefs.require_no_pending_delete(path, f"append_{self.label}_store", self.label)
        self._append_wave(spark, *self._wave(docs), path)

    def routed_hits(
        self, spark: SparkSession, path: str, terms: list[str], cols: tuple[str, ...],
        max_postings: int,
    ) -> DataFrame:
        """The postings rows of ``terms``: the read pruned to their
        buckets (driver-side routing — no routing job), term-filtered
        inside them, and materialized once behind the fail-loud
        ceiling. Everything downstream of it is hits-sized."""
        buckets = sorted({_bucket_of(t) for t in terms})
        hits = spark.read.parquet(f"{path}/postings")
        if len(buckets) < N_BUCKETS:
            hits = hits.where(F.col("bucket").isin(buckets))
        # LAZY checkpoint: the guard count is the first action and
        # materializes the pruned hits once for every consumer — eager
        # paid one extra scheduled job per probe (r17)
        hits = hits.where(F.col("term").isin(terms)).select(*cols)
        hits = hits.localCheckpoint(eager=False)
        n_hits = hits.count()
        if n_hits > max_postings:
            raise ValueError(
                f"{self.label} probe would materialize {n_hits} postings rows "
                f"> {max_postings} — a queried term is degenerate-frequent; "
                "drop it or raise max_postings"
            )
        return hits

    def ingest_stream(self, spark: SparkSession, stream: DataFrame, path: str, sink):
        """CONTINUOUS indexing — ``append`` per micro-batch with the
        store-family replay guard: a batch ≤ the persisted batch-id
        watermark is skipped entirely. ``sink(ledger_df, batch_id)``
        receives each admitted wave's ledger frame (materialized before
        the call). Returns the ``DataStreamWriter`` ready to
        ``.start()``."""
        op = f"{self.label}_ingest_stream"
        storefs.require_rename_fs(path, op)

        def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
            storefs.require_no_pending_delete(path, op, self.label)
            # ONE wave derivation per batch: it feeds both the append
            # and the sink
            postings, ledger = self._wave(batch_df)
            self._append_wave(spark, postings, ledger, path)
            return ledger

        return per_batch(stream, stage, sink, watermark=path)

    def probe_stream(self, spark: SparkSession, stream: DataFrame, path: str, sink):
        """Streaming retrieval over the written index: each micro-batch
        of query rows probes the store with its OWN driver-side routing
        (``foreachBatch`` makes the batch a plain frame). Queries are
        independent rows, so the union of per-batch results equals the
        one-batch image. Sink contract: fully materialize inside the
        call."""

        def stage(batch_df: DataFrame, batch_id: int) -> DataFrame | None:
            queries = self.queries(batch_df.collect())  # human-scale
            return self.probe(spark, path, queries) if queries else None

        return per_batch(stream, stage, sink)

    def repair(self, path: str) -> None:
        """``storefs.repair_store`` over the store's tables: finish or
        roll back a swap a crash interrupted."""
        storefs.repair_store(path, self.tables)

    def repair_replayed_append(self, spark: SparkSession, path: str) -> None:
        """Repair the ingest stream's watermark crash window: a
        dropDuplicates rewrite of the postings by (term, doc_id),
        keeping the bucket partitioning. Probe ≡ never-crashed twin
        pytest-pinned."""
        storefs.repair_replayed_append(
            spark, path, "postings", ["term", "doc_id"], partition_by=("bucket",)
        )

    def compact(self, spark: SparkSession, path: str) -> None:
        """Post-ingest maintenance: rewrite the postings into one file
        per bucket and swap them in crash-safely. Probe ≡ pre-compact
        pytest-pinned."""
        self._compact(spark, path, {})

    def _compact(self, spark: SparkSession, path: str, side: dict[str, int]) -> None:
        """Repair-on-entry, overwrite-mode tmp builds of the ``side``
        tables (into that many files each) and of the postings, then
        the recovery-ordered swap."""
        storefs.require_rename_fs(path, f"compact_{self.label}_store")
        self.repair(path)
        for t, files in side.items():
            spark.read.parquet(f"{path}/{t}").coalesce(max(1, files)).write.mode(
                "overwrite"
            ).parquet(f"{path}/{t}_compact_tmp")
        src = spark.read.parquet(f"{path}/postings")
        _write_postings(spark, src, f"{path}/postings_compact_tmp", "overwrite")
        storefs.swap_in_compacted(path, (*side, "postings"))

    def stats(self, spark: SparkSession, path: str) -> DataFrame:
        """Store health, one row: ``n_posting_rows``, ``n_terms``,
        ``max_term_postings`` (the probe-cost signal: the most frequent
        term's postings, what a worst-case single-term probe
        materializes), ``n_dup_postings`` (> 0 = a replayed append;
        repair = ``repair_replayed_append``) and the kernel's own
        aggregates."""
        p = spark.read.parquet(f"{path}/postings")
        agg = p.agg(
            F.count("*").cast("bigint").alias("n_posting_rows"),
            (F.count("*") - F.count_distinct("term", "doc_id"))
            .cast("bigint")
            .alias("n_dup_postings"),
            *self.stats_aggs(),
        )
        per_term = p.groupBy("term").agg(F.count("*").alias("n")).agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.coalesce(F.max("n"), F.lit(0)).cast("bigint").alias("max_term_postings"),
        )
        return agg.crossJoin(F.broadcast(per_term)).select(*self.stats_order)

    # ----------------------------------------------------- takedown --

    def delete(self, spark: SparkSession, doc_ids, path: str) -> None:
        """TAKEDOWN: remove documents so no future probe can retrieve
        them. delete ≡ ``write`` over the corpus WITHOUT the victims:
        one pushdown scan of the victims' postings routes the delete
        (postings are bucketed by TERM), only the touched bucket
        directories are rewritten, and a bucket whose only postings
        were victims ends empty. Runs inside ``storefs.recorded_delete``
        (module DURABILITY MODEL)."""
        storefs.recorded_delete(
            spark, path, doc_ids, f"delete_from_{self.label}_store", "doc_id",
            self._run_recorded_delete, self.tables,
        )

    def resume(self, spark: SparkSession, path: str) -> bool:
        """Finish a takedown a crash interrupted (idempotent at every
        crash point): repairs half-swapped tables first, then re-runs
        the recorded delete, whose first step consumes any committed
        staging. Returns True if there was one to finish."""
        return storefs.resume_recorded_delete(
            spark, path, "doc_id", self._run_recorded_delete, self.tables
        )

    def _run_recorded_delete(self, spark: SparkSession, ids: list, path: str) -> None:
        storefs.delete_staged_rows(
            spark, path, ids, "postings", "bucket", "doc_id", _write_tasks(spark)
        )

    # ------------------------------------- self-contained registered rows --

    @staticmethod
    def _split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
        """(existing, arriving) slices of the corpus — ONE table read
        (a parquet read runs its schema-inference job)."""
        docs = table(spark, sf_dir, "documents")
        k = F.pmod(F.col("doc_id"), F.lit(ARRIVING_MOD))
        return docs.where(k != 0), docs.where(k == 0)

    def corpus_store_path(self, spark: SparkSession, sf_dir: str) -> str:
        """Path of the session-memoized scratch index: WRITTEN over the
        corpus's existing slice, then the arriving slice APPENDED —
        built once per (session, corpus), so repeat calls probe the
        artifacts and never re-append."""

        def build(path: str) -> None:
            existing, arriving = self._split(spark, sf_dir)
            self.write(spark, existing, path)
            self.append(spark, arriving, path)

        return self._corpus_stores.get_or_build(spark, sf_dir, build)

    def takedown_store_path(self, spark: SparkSession, sf_dir: str) -> str:
        """Path of the session-memoized POST-TAKEDOWN scratch index: the
        existing slice written, then the victim slice deleted through
        ``delete`` — its OWN cache, never the ``corpus_store_path``
        store (mutating a shared artifact would corrupt its memoized
        probe)."""

        def build(path: str) -> None:
            existing, _ = self._split(spark, sf_dir)
            victim = F.pmod(F.col("doc_id"), F.lit(VICTIM_MOD)) == 1
            victims = sorted(
                int(r[0]) for r in existing.where(victim).select("doc_id").collect()
            )  # id-sized (the takedown driver-literal class)
            self.write(spark, existing, path)
            self.delete(spark, victims, path)

        return self._takedown_stores.get_or_build(spark, sf_dir, build)
