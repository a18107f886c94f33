"""Persisted POSITIONAL postings store: the phrase/proximity member of
the persisted-store family (the r17 build the r16 round sketched in
registry.py). ``phrase_search`` answers a probe SET with one map-only
corpus scan — right for ad-hoc probes, wrong for a STANDING phrase
workload: at 100 TB every new watchlist pays a full corpus read. This
store pays the positional-index build ONCE and serves every later
phrase/proximity probe from a driver-routed, partition-pruned read of
only the buckets its terms live in — the ``bm25_store`` economics
applied to Lucene-style positional semantics.

Layout (the ``bm25_store`` partitioned-parquet pattern, ONE table):

  * ``<path>/postings``: (term, doc_id, positions array<int>)
    partitioned by ``bucket = md5(term) mod N_PHRASE_BUCKETS``.
    ``positions`` is the sorted 1-based token-offset list of every
    occurrence of ``term`` in ``doc_id`` under the shared ``_lm_tokens``
    tokenizer — 1-based so the position arithmetic is literally the
    batch kernel's ``element_at`` indices. Bucketing is a pure
    refinement of term equality, so a probe prunes to its phrase
    terms' buckets without changing semantics. There is deliberately
    NO doclens/stats side table (the registry sketch's "minus
    doclens/stats"): phrase counting needs no corpus normalizer, and a
    single-table store makes every append ONE job-level parquet commit
    — the wave lands whole or not at all, so the only crash window
    left is the documented watermark replay (duplicate (term, doc_id)
    rows; detected by ``n_dup_postings``, repaired by
    ``repair_replayed_append``).

Probe semantics — must equal ``text.phrase_search_frame`` ROW FOR ROW
(pytest-pinned, and the ``phrase_incremental`` library op puts the
whole write → append → route → probe chain under the batch op's own
``PHRASE_SEARCH_SQL`` value-hash, the ``bm25_incremental`` precedent).
With P0/P1/P2 the position sets of a phrase's three words in one doc:

  * n_exact = |{k ∈ P0 : k+1 ∈ P1 ∧ k+2 ∈ P2}| — the shift
    intersection; equals the kernel's consecutive-window count.
  * n_prox  = |{k ∈ P0 : ∃ first j = min{p ∈ P1 : k < p ≤ k+W-1} and
    ∃ q ∈ P2 : j < q ≤ k+W-1}| — the GREEDY ordered-window rule,
    verbatim: first w1 after the anchor inside the window, then any w2
    after that w1 inside the same window. Greedy is complete for an
    ordered 3-term match (a later w1 only shrinks w2's room), so this
    equals the kernel's in-row slice formulation position for
    position.

Both are in-row array lambdas over three bounded position arrays —
whole-stage-codegen JVM expressions, no Python in the hot path, and
the only shuffle is the hits-sized per-query top-k.

Scale shape: the probe's postings read prunes to ≤ |distinct phrase
words| buckets (driver-side md5 routing — no routing job), is
term-pushdown-filtered inside them, and materializes once behind a
fail-loud ceiling (the ``MAX_BM25_PROBE_POSTINGS`` class: a
stopword-anchored phrase is honest-but-huge work). Per-doc position
arrays are token-count-bounded facts, not caps, so append and delete
are plain per-bucket facts operations — no re-derivation.

Crash windows (store-family discipline — detection and repair are
CODE): watermark replay → ``n_dup_postings`` > 0 →
``repair_replayed_append``; takedown at any point → durable
``_delete_intent`` + staged-partition protocol →
``resume_pending_delete``; compaction/repair crash → the shared
``storefs`` three-state swap repair.

Reference: the reference has no retrieval index at all (beyond-
reference mandate, SURVEY.md §7 step 7); layout and verb set are the
repo's own ``bm25_store`` pattern (bm25_store.py:1-62) applied to the
positional kernel shared with ``text.phrase_search_frame``
(text.py — the one-kernel rule: the tokenizer and the probe
derivation are imported, never re-derived).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import local_rows, table
from trisk_spark.functions import storefs
from trisk_spark.functions.bm25_store import (
    N_BM25_BUCKETS,
    _bucket_col,
    _bucket_of,
    _write_tasks,
)
from trisk_spark.functions.text import (
    PHRASE_SEARCH_SQL,
    PHRASE_TOP_K,
    PHRASE_WINDOW,
    _lm_tokens,
    _phrase_probes,
    _phrase_search_sql,
)

#: postings partition fan — same md5 routing as the bm25 store: the
#: bucket expressions AND the bucket-domain constant are IMPORTED from
#: it (an alias, not a copy — r17 review: a redefined 64 would let the
#: prune guard and the write fan silently desync from the real bucket
#: domain if the bm25 constant ever changed), so the two lexical
#: stores can never drift apart on routing. ``_write_tasks`` is shared
#: for the same reason.
N_PHRASE_BUCKETS = N_BM25_BUCKETS

#: fail-loud ceiling on one probe's materialized postings rows (the
#: MAX_BM25_PROBE_POSTINGS class)
MAX_PHRASE_PROBE_POSTINGS = 2_000_000

#: deterministic corpus split for the self-contained library row —
#: the store-family shared split (dedup/semantic/bm25 use the same)
PHRASE_ARRIVING_MOD = 5


def _wave_postings(docs: DataFrame) -> DataFrame:
    """The positional postings frame for a (doc_id, text) wave:
    (term, doc_id, positions, bucket) with positions the SORTED
    1-based offsets of every occurrence (sort_array makes the
    collect_list order deterministic, so replayed rows are
    byte-identical per (term, doc_id) — the repair contract). The one
    corpus-sized shuffle a positional index build inherently is, paid
    at write time so probes never pay it. Zero-token docs contribute
    nothing (a phrase cannot match them)."""
    return (
        docs.where(F.col("doc_id").isNotNull())
        .select("doc_id", F.posexplode(_lm_tokens()).alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.sort_array(
                F.collect_list((F.col("pos") + 1).cast("int"))
            ).alias("positions")
        )
        .select("term", "doc_id", "positions", _bucket_col())
    )


def write_phrase_store(
    spark: SparkSession, docs: DataFrame, path: str
) -> None:
    """Persist the positional index for a (doc_id, text) corpus frame:
    bucket-partitioned postings, one writer task per directory (the
    explicit-repartition rule so AQE can't serialize the 64-directory
    write)."""
    _wave_postings(docs).repartition(
        _write_tasks(spark), "bucket"
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )


def append_phrase_store(
    spark: SparkSession, new_docs: DataFrame, path: str
) -> None:
    """ADMIT a wave: append its postings into the buckets they route
    to — ONE plain parquet append under partitionBy (positions are
    per-(term, doc) facts, not a capped set, so untouched and touched
    buckets alike keep their bytes), job-level commit: the wave lands
    whole or not at all. Equality contract (pytest-pinned):
    append(existing store, wave) ≡ ``write_phrase_store`` over
    existing ∪ wave. Caller contract: wave doc_ids disjoint from the
    store's (a replayed wave is the documented watermark window —
    detected by ``n_dup_postings``, repaired by
    ``repair_replayed_append``)."""
    # this store is NOT among admission_wave's composed targets, so
    # its append verbs are its only admission path and carry the
    # guard themselves (r17 review)
    storefs.require_no_pending_delete(
        path, "append_phrase_store", "phrase"
    )
    postings = _wave_postings(new_docs).localCheckpoint()
    if postings.limit(1).count() == 0:
        return
    _append_wave_postings(spark, postings, path)


def _append_wave_postings(
    spark: SparkSession, postings: DataFrame, path: str
) -> None:
    """The shared append tail over an already-materialized wave frame
    (r17 review: the ingest stream checkpoints the wave for its sink —
    recomputing it inside ``append_phrase_store`` paid the dominant
    explode/group shuffle twice per micro-batch)."""
    postings.repartition(_write_tasks(spark), "bucket").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{path}/postings")


def probe_phrase_store(
    spark: SparkSession,
    path: str,
    probes: list[tuple[int, list[str]]],
    top_k: int = PHRASE_TOP_K,
    max_postings: int = MAX_PHRASE_PROBE_POSTINGS,
) -> DataFrame:
    """Phrase + sloppy-phrase retrieval from the written index —
    (query_id, doc_id, phrase, n_exact, n_prox, rank), the exact
    ``phrase_search`` output shape, semantics, ranking, and
    tie-breaks. The postings read prunes to the phrases' terms'
    buckets (driver-side md5 routing — no routing job) plus a
    term-level pushdown filter inside them; the hits frame is
    materialized once behind the fail-loud ceiling; counting is
    in-row position-set lambdas (module docstring derivation);
    everything downstream of the hits is hits-sized."""
    if not probes:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, phrase string, "
            "n_exact bigint, n_prox bigint, rank int",
        )
    terms = sorted({t for _q, ws in probes for t in ws})
    buckets = sorted({_bucket_of(t) for t in terms})
    hits = spark.read.parquet(f"{path}/postings")
    if len(buckets) < N_PHRASE_BUCKETS:
        hits = hits.where(F.col("bucket").isin(buckets))
    # LAZY checkpoint: the guard count below is the first action and
    # materializes the pruned hits once (the bm25_store probe rule, r17)
    hits = hits.where(F.col("term").isin(terms)).select(
        "term", "doc_id", "positions"
    ).localCheckpoint(eager=False)
    n_hits = hits.count()
    if n_hits > max_postings:
        raise ValueError(
            f"phrase probe would materialize {n_hits} postings rows > "
            f"{max_postings} — a phrase word is degenerate-frequent; "
            "drop that phrase or raise max_postings"
        )
    qterms = local_rows(
        spark,
        [
            (qid, slot, ws[slot], " ".join(ws))
            for qid, ws in sorted(probes)
            for slot in range(3)
        ],
        "query_id int, slot int, term string, phrase string",
    )
    # one postings row per (term, doc); a slot's positions land via the
    # null-skipping MAX (arrays are orderable; at most one non-null per
    # group per slot, so MAX is selection, not comparison semantics) —
    # a repeated word in a phrase joins its single postings row to
    # every slot that carries it, which is exactly the kernel's view
    trip = (
        hits.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "phrase", "doc_id")
        .agg(
            F.max(F.when(F.col("slot") == 0, F.col("positions"))).alias("p0"),
            F.max(F.when(F.col("slot") == 1, F.col("positions"))).alias("p1"),
            F.max(F.when(F.col("slot") == 2, F.col("positions"))).alias("p2"),
        )
        .where(
            F.col("p0").isNotNull()
            & F.col("p1").isNotNull()
            & F.col("p2").isNotNull()
        )
    )
    p0, p1, p2 = F.col("p0"), F.col("p1"), F.col("p2")
    w_edge = F.lit(PHRASE_WINDOW - 1)
    n_exact = F.size(
        F.filter(
            p0,
            lambda k: F.array_contains(p1, k + 1)
            & F.array_contains(p2, k + 2),
        )
    )

    def prox_hit(k):
        w1s = F.filter(p1, lambda p: (p > k) & (p <= k + w_edge))
        j = F.array_min(w1s)  # the GREEDY first-w1 rule
        return (F.size(w1s) > 0) & F.exists(
            p2, lambda q: (q > j) & (q <= k + w_edge)
        )

    counted = trip.select(
        "query_id",
        "doc_id",
        "phrase",
        n_exact.cast("bigint").alias("n_exact"),
        F.size(F.filter(p0, prox_hit)).cast("bigint").alias("n_prox"),
    ).where(
        (F.col("n_prox") > 0) & (F.col("doc_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_exact"), F.desc("n_prox"), "doc_id"
    )
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select(
            "query_id", "doc_id", "phrase", "n_exact", "n_prox", "rank"
        )
    )


def phrase_ingest_stream(
    spark: SparkSession, docs_stream: DataFrame, path: str, sink
):
    """CONTINUOUS indexing — ``append_phrase_store`` per micro-batch
    with the store-family replay guard (persisted batch-id watermark;
    a replayed batch ≤ the watermark is skipped entirely).
    ``sink(wave_postings_df, batch_id)`` receives each admitted wave's
    (term, doc_id, positions) frame, materialized before the call
    returns. Remaining crash window: a crash between the append and
    the watermark write replays one wave — detection =
    ``n_dup_postings`` > 0, repair = ``repair_replayed_append`` (both
    code, forced-crash pytest-pinned)."""
    storefs.require_rename_fs(path, "phrase_ingest_stream")

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        wm = storefs.read_ingest_watermark(path)
        if wm is not None and batch_id <= wm:
            return
        storefs.require_no_pending_delete(
            path, "phrase_ingest_stream", "phrase"
        )
        batch_df = batch_df.persist()
        try:
            # ONE wave derivation per batch: the checkpointed frame
            # feeds both the append and the sink (r17 review — the
            # first cut recomputed the explode/group shuffle inside
            # append_phrase_store)
            wave = _wave_postings(batch_df).localCheckpoint()
            if wave.limit(1).count() > 0:
                _append_wave_postings(spark, wave, path)
            storefs.write_ingest_watermark(path, batch_id)
            sink(wave, batch_id)
        finally:
            batch_df.unpersist()

    return docs_stream.writeStream.outputMode("append").foreachBatch(fb)


def phrase_probe_stream(
    spark: SparkSession, probes_stream: DataFrame, path: str, sink
):
    """Streaming phrase retrieval over the written index: each
    micro-batch of (query_id, w0, w1, w2) rows probes the store with
    ITS OWN driver-side bucket routing (the ``bm25_probe_stream``
    stream-static pattern). Probes are independent rows, so the union
    of per-batch results equals the one-batch image (stream ≡ batch
    pytest-pinned). Sink contract: fully materialize inside the
    call."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # probe sets are human-scale: bounded
        probes = [
            (int(r["query_id"]), [r["w0"], r["w1"], r["w2"]]) for r in rows
        ]
        if not probes:
            return
        sink(probe_phrase_store(spark, path, probes), batch_id)

    return probes_stream.writeStream.outputMode("append").foreachBatch(fb)


def repair_phrase_store(path: str) -> None:
    """``storefs.repair_store`` over the single postings table — see
    that docstring for the crash states and repairs."""
    storefs.repair_store(path, ("postings",))


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Repair the ingest stream's watermark crash window (replayed
    wave): a dropDuplicates rewrite of postings by the composite
    (term, doc_id) key through the crash-safe swap, preserving the
    bucket partitioning — replayed rows are byte-identical per key
    (sorted positions, deterministic kernel), so keeping any one is
    exact. Probe ≡ never-crashed twin pytest-pinned."""
    storefs.repair_replayed_append(
        spark, path, "postings", ["term", "doc_id"], partition_by=("bucket",)
    )


def compact_phrase_store(spark: SparkSession, path: str) -> None:
    """Post-ingest maintenance: rewrite postings into one file per
    bucket partition, then SWAP through the shared crash-safe protocol
    (repair-on-entry, overwrite-mode tmp build, recovery-ordered
    swap). Probe ≡ pre-compact pytest-pinned. Rename filesystems only
    (fail-loud)."""
    storefs.require_rename_fs(path, "compact_phrase_store")
    repair_phrase_store(path)
    postings = spark.read.parquet(f"{path}/postings").repartition(
        _write_tasks(spark), "bucket"
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings_compact_tmp"
    )
    storefs.swap_in_compacted(path, ("postings",))


def phrase_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Store health table — one row with (n_posting_rows, n_docs,
    n_terms, max_term_postings, total_positions, n_dup_postings).
    ``n_dup_postings`` > 0 = a replayed append (repair =
    ``repair_replayed_append``); ``max_term_postings`` is the
    probe-cost signal (the ceiling a worst-case single-word phrase
    probe materializes)."""
    p = spark.read.parquet(f"{path}/postings")
    per_term = p.groupBy("term").agg(F.count("*").alias("n"))
    agg = p.agg(
        F.count("*").cast("bigint").alias("n_posting_rows"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        (F.count("*") - F.count_distinct("term", "doc_id"))
        .cast("bigint")
        .alias("n_dup_postings"),
        F.coalesce(F.sum(F.size("positions")), F.lit(0))
        .cast("bigint")
        .alias("total_positions"),
    )
    ta = per_term.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.coalesce(F.max("n"), F.lit(0))
        .cast("bigint")
        .alias("max_term_postings"),
    )
    return agg.crossJoin(F.broadcast(ta)).select(
        "n_posting_rows", "n_docs", "n_terms", "max_term_postings",
        "total_positions", "n_dup_postings",
    )


# ------------------------------------------------ takedown ----------


def delete_from_phrase_store(
    spark: SparkSession, doc_ids, path: str
) -> None:
    """TAKEDOWN — remove documents from the positional index so no
    future phrase probe can retrieve them. Positions are uncapped
    per-doc facts (the bm25-postings class), so delete ≡ rebuild-
    without-victims is a plain filter per touched bucket — staged
    DURABLY via the ``storefs`` staged-partition core
    (``storefs.delete_staged_rows``) before any live bucket directory
    is cleared (kept rows have no other durable source), with loner
    buckets correctly emptied (directory cleared through the
    empty-marker mechanism). Every crash window resumes to completion
    from the durable ``_delete_intent`` (``resume_pending_delete``;
    the frame is ``storefs.recorded_delete``). Cost: one pushdown scan
    of the victims' postings for routing + a rewrite of only the
    touched bucket directories — ``bm25_store``'s deletion minus the
    doclens/stats tail (this store has neither)."""
    storefs.recorded_delete(
        spark, path, doc_ids, "delete_from_phrase_store", "doc_id",
        _run_recorded_delete, ("postings",),
    )


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted (idempotent at every
    crash point — the store-family contract). Repairs any half-swapped
    postings table first, then re-runs the recorded delete, whose own
    first step consumes any committed staging. Returns True if there
    was one to finish."""
    return storefs.resume_recorded_delete(
        spark, path, "doc_id", _run_recorded_delete, ("postings",)
    )


def _run_recorded_delete(spark: SparkSession, ids: list, path: str) -> None:
    storefs.delete_staged_rows(
        spark, path, ids, "postings", "bucket", "doc_id", _write_tasks(spark)
    )


# ------------------------------------------- self-contained library --

#: one phrase-store scratch dir per (session, corpus) — the
#: bm25_store cache pattern (lock + post-build setdefault,
#: stale-session eviction, atexit sweep); memoizes the FULLY-BUILT
#: store (write existing + append arriving): the append is part of
#: the op under test, and a repeat call must probe, not re-append.
_PHRASE_STORES = storefs.ScratchStoreCache("trisk_phrase_store_")


def corpus_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the session-memoized scratch index: WRITTEN over the
    corpus's existing slice (doc_id % MOD != 0), then the arriving
    slice APPENDED — built once per (session, corpus); repeat calls
    probe the artifacts (the store economics)."""

    def build(path: str) -> None:
        docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
        existing = docs.where(
            F.pmod(F.col("doc_id"), F.lit(PHRASE_ARRIVING_MOD)) != 0
        )
        arriving = docs.where(
            F.pmod(F.col("doc_id"), F.lit(PHRASE_ARRIVING_MOD)) == 0
        )
        write_phrase_store(spark, existing, path)
        append_phrase_store(spark, arriving, path)

    return _PHRASE_STORES.get_or_build(spark, sf_dir, build)


PHRASE_INCREMENTAL_SQL = PHRASE_SEARCH_SQL

#: deterministic victim slice for the self-contained takedown row
#: (the dedup/semantic takedown convention): EXISTING docs with
#: doc_id % TAKEDOWN_VICTIM_MOD == 1 get deleted
TAKEDOWN_VICTIM_MOD = 17


def _phrase_takedown_sql() -> str:
    m, v = PHRASE_ARRIVING_MOD, TAKEDOWN_VICTIM_MOD
    return _phrase_search_sql(
        # the store after write(existing) + delete(victims): scanned
        # docs = existing slice minus the victim slice (victims ⊆
        # existing, so the plain conjunction is exact); probes stay
        # derived from the FULL corpus (the probe set is independent
        # of the store's contents)
        f" AND ((b.doc_id % {m}) + {m}) % {m} <> 0"
        f" AND ((b.doc_id % {v}) + {v}) % {v} <> 1"
    )


PHRASE_TAKEDOWN_SQL = _phrase_takedown_sql()

_PHRASE_TAKEDOWN_STORES = storefs.ScratchStoreCache(
    "trisk_phrase_takedown_"
)


def takedown_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the session-memoized POST-TAKEDOWN scratch index: built
    over the existing slice, then ``delete_from_phrase_store`` removes
    the deterministic victim slice through the real intent-logged
    staged-partition path — its OWN cache, never the
    ``corpus_store_path`` store ``phrase_incremental`` shares
    (mutating a shared artifact would corrupt its memoized probe)."""

    def build(path: str) -> None:
        docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
        existing = docs.where(
            F.pmod(F.col("doc_id"), F.lit(PHRASE_ARRIVING_MOD)) != 0
        )
        victims = sorted(
            int(r.doc_id)
            for r in existing.where(
                F.pmod(F.col("doc_id"), F.lit(TAKEDOWN_VICTIM_MOD)) == 1
            ).select("doc_id").collect()
        )  # id-sized (the takedown driver-literal class)
        write_phrase_store(spark, existing, path)
        delete_from_phrase_store(spark, victims, path)

    return _PHRASE_TAKEDOWN_STORES.get_or_build(spark, sf_dir, build)


def phrase_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase store's takedown verb under independent value-hash
    evidence (the ``dedup_takedown``/``semantic_takedown`` convention,
    r17): build the existing-slice positional index, DELETE the
    deterministic victim slice through the real
    ``delete_from_phrase_store`` path (intent, staged-partition swap,
    emptied loners), then run the full phrase probe against the
    post-delete artifacts. The oracle (``PHRASE_TAKEDOWN_SQL``)
    derives the same ranking from the corpus with the victims
    EXCLUDED from the scanned side — it matches iff delete ≡ rebuild
    holds on the postings the probe actually reads, so the takedown
    verb itself sits under the DuckDB hash gate, not just pytest
    equality. LIBRARY op."""
    return probe_phrase_store(
        spark,
        takedown_store_path(spark, sf_dir),
        _phrase_probes(spark, sf_dir),
    )


def phrase_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental phrase/proximity retrieval over the persisted
    positional index, self-contained for an oracle gate: build the
    index over the corpus's existing slice, APPEND the arriving slice
    (the incremental admission under test), then probe the
    deterministic phrase set against the combined index. Because the
    index is exact — positions are facts, not sketches — the result
    must equal the one-plan batch ``phrase_search`` ROW FOR ROW, so
    the oracle is that op's own ``PHRASE_SEARCH_SQL`` verbatim: one
    value-hash covers write → append → route → pruned probe →
    position-set counting, and append ≡ rebuild is part of what the
    hash asserts (the ``bm25_incremental`` precedent). LIBRARY op
    (the R19 sketch's seat candidate — registry.py)."""
    return probe_phrase_store(
        spark,
        corpus_store_path(spark, sf_dir),
        _phrase_probes(spark, sf_dir),
    )
