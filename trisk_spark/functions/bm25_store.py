"""Persisted BM25 inverted-index store: the incremental-lexical third
member of the persisted-store family (``dedup_store``'s MinHash band
store = text near-dup, ``semantic_store``'s SRP band store = embedding
near-dup, THIS = lexical retrieval). ``bm25_top_docs`` scores a
compile-time seed-query set in one corpus-scan plan; at 100 TB the
corpus is indexed ONCE and every later query — targeted domain mining,
DSIR seed expansion, eval-set retrieval — probes the written index
reading ONLY the buckets its terms route to.

Layout (the ``dedup_store`` partitioned-parquet pattern):

  * ``<path>/postings``: (term, doc_id, tf, dl) partitioned by
    ``bucket = md5(term) mod N_BM25_BUCKETS``. Bucketing is a pure
    refinement of term equality (equal term ⇒ equal bucket), so a
    probe prunes to its query terms' buckets without changing
    semantics; ALL of a term's postings share one bucket, so per-term
    document frequency is computable from the pruned read alone.
  * ``<path>/doclens``: (doc_id, dl) — the per-document accounting
    table (the ``signatures``/``vectors`` analog): rebuild asset,
    duplicate-replay detection asset, and the source the corpus stats
    recompute from.
  * ``<path>/stats``: ONE row (n_docs, total_len) — the BM25
    normalizer (N, avgdl). Maintained INCREMENTALLY (old + wave) and
    committed via the ``storefs`` swap protocol, so a probe never
    scans corpus-sized doclens just to learn two numbers.

Probe routing is DRIVER-SIDE ARITHMETIC, not a Spark job: a query's
terms map to buckets by the same md5 the write used (`_bucket_of` —
Python md5 ≡ Spark md5 ≡ DuckDB md5 on the same bytes), so the routed
(bucket) set is known before any job runs — cheaper than even the
band stores' one-job routing collect. The pruned postings read is
additionally term-filtered (predicate pushdown inside the routed
buckets), the hits are materialized once (hits-sized, with a
fail-loud ceiling — the band stores' ``MAX_PROBE_ROWS`` class), and the
scoring is the exact-rational BM25 arithmetic shared with
``bm25_top_docs`` (text.py's float-determinism contract: both factors
of every contribution are functions of exact BIGINTs; the house
ROUND(·,6) → DECIMAL → order-free SUM collapses the ln ulp).

Crash windows (the store-family discipline — every window has CODE
for detection and repair, none are prose):

  * append order is POSTINGS → DOCLENS → STATS-SWAP (the swap is the
    commit point). Crash between postings and doclens: posting
    doc_ids with no doclens row — ``bm25_store_stats``'s
    ``n_unlisted_posting_docs`` > 0; repair = re-run the wave's
    append, then ``repair_replayed_append`` clears the row-level
    duplicates the re-run created.
  * Crash before the stats swap: ``stats_lag`` =
    distinct doclens ids − stats.n_docs > 0; repair =
    ``repair_stats`` (recompute from doclens, swap).
  * Watermark-window replay (``bm25_ingest_stream``): duplicate
    doclens/postings rows — ``n_dup_doc_ids`` / ``n_dup_postings``
    > 0; repair = ``repair_replayed_append`` (dropDuplicates rewrite
    through the crash-safe swap, both tables).

Reference: the reference has no retrieval index (beyond-reference
mandate, SURVEY.md §7 step 7); the layout is the repo's own
``dedup_store`` pattern applied to the shared BM25 kernels
(``text.py:1280`` — the exact-rational scoring and the `_lm_tokens`
tokenizer are imported, not re-derived).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import local_rows, table
from trisk_spark.functions import storefs
from trisk_spark.registry import register
from trisk_spark.functions.text import (
    BM25_QUERIES,
    BM25_TOP_DOCS_SQL,
    BM25_TOP_K,
    _lm_tokens,
)

#: postings partition fan: directories = this; a probe prunes to ≤ its
#: own query terms' buckets
N_BM25_BUCKETS = 64

#: ceiling on one probe's materialized hits (postings rows for the
#: query's terms) — a stopword-ish term with corpus-scale postings
#: makes the probe honest-but-huge work; fail loud instead of paging
#: through it silently (the band stores' MAX_PROBE_ROWS class)
MAX_BM25_PROBE_POSTINGS = 2_000_000

#: deterministic corpus split for the self-contained library row —
#: the store-family shared split (dedup/semantic stores use the same)
BM25_ARRIVING_MOD = 5


def _bucket_of(term: str) -> int:
    """Driver-side bucket of a term — MUST equal `_bucket_col` on the
    same bytes: md5 hex, first 15 nibbles as an integer, mod N. md5 is
    md5 in Python, Spark, and DuckDB, so routing needs no Spark job."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % (
        N_BM25_BUCKETS
    )


def _bucket_col(col=None):
    """Spark twin of `_bucket_of` (``storefs.md5_bucket``)."""
    return storefs.md5_bucket(
        F.col("term") if col is None else col, N_BM25_BUCKETS
    )


def _write_tasks(spark: SparkSession) -> int:
    return storefs.writer_tasks(spark, N_BM25_BUCKETS)


def _wave_postings_doclens(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) frames for a (doc_id, text) wave: doclens is
    one (doc_id, dl) row per document (zero-token docs included — they
    count in N and avgdl); postings is the exploded full-vocabulary
    (term, doc_id, tf, dl, bucket) table — the ONE corpus-sized
    shuffle an inverted-index build inherently is, paid at write time
    so probes never pay it."""
    # tokenize ONCE per row: dl derives from the sorted array (sort
    # preserves length) — two _lm_tokens() references in one projection
    # would each re-run the split (the _bm25_stats_tf_df r17 fix)
    base = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.array_sort(_lm_tokens()).alias("_ts")
    ).select("doc_id", F.size("_ts").alias("dl"), "_ts")
    doclens = base.select("doc_id", F.col("dl").cast("bigint").alias("dl"))
    # (term, tf) computed IN-ROW from the sorted token array (run-length
    # over run-start positions) instead of explode + groupBy: the wave
    # shuffles exactly ONCE (the bucket repartition at write) and the
    # corpus-sized hash aggregation disappears — r17, value-identical
    # rows (pytest-pinned) and 2-3x the build throughput. Shuffle-free,
    # so the same expressions serve the ingest stream.
    runs = base.select(
        "doc_id", "dl", "_ts",
        F.expr(
            # sequence(1, 0) DESCENDS, so the empty-token case must
            # short-circuit before the range is built (caught by the
            # in-row ≡ explode+groupBy pin on an empty doc)
            "CASE WHEN size(_ts) = 0 THEN array() ELSE "
            "filter(sequence(1, size(_ts)), "
            "i -> i = 1 OR element_at(_ts, i) != element_at(_ts, i - 1)) "
            "END"
        ).alias("_st"),
    )
    pairs = F.expr(
        "transform(_st, (s, j) -> struct(element_at(_ts, s) AS term, "
        "CAST(coalesce(try_element_at(_st, j + 2), size(_ts) + 1) - s "
        "AS BIGINT) AS tf))"
    )
    postings = (
        runs.select("doc_id", "dl", F.explode(pairs).alias("p"))
        .select(
            F.col("p.term").alias("term"), "doc_id",
            F.col("p.tf").alias("tf"),
            F.col("dl").cast("bigint").alias("dl"),
            _bucket_col(F.col("p.term")),
        )
    )
    return postings, doclens


def write_bm25_store(spark: SparkSession, docs: DataFrame, path: str) -> None:
    """Persist the inverted index for a (doc_id, text) corpus frame:
    bucket-partitioned postings (one writer task per directory — the
    explicit-repartition rule so AQE can't serialize the 64-directory
    write), the doclens accounting table, and the 1-row stats table."""
    postings, doclens = _wave_postings_doclens(docs)
    postings.repartition(_write_tasks(spark), "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    doclens.write.mode("overwrite").parquet(f"{path}/doclens")
    # stats derive from the WRITTEN doclens parquet, not the doclens
    # lineage: the lineage replays the whole corpus tokenize a third
    # time just to sum two columns, while the written table is a
    # 2-column scan (the write_dedup_store read-back rule; r18 —
    # measured one full tokenize pass off the build).
    stats = spark.read.parquet(f"{path}/doclens").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def probe_bm25_store(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]] | None = None,
    top_k: int = BM25_TOP_K,
    max_postings: int = MAX_BM25_PROBE_POSTINGS,
    exclude_self: bool = False,
) -> DataFrame:
    """Score a query set against the written index and return the
    per-query top-k — (query_id, doc_id, n_terms, score, rank), the
    exact ``bm25_top_docs`` output shape and arithmetic. The postings
    read prunes to the query terms' buckets (driver-side routing — no
    routing job at all) plus a term-level pushdown filter inside them;
    document frequency derives from the pruned read (a term's postings
    all share one bucket); N/avgdl come from the 1-row stats table.
    The hits frame is materialized once behind the fail-loud ceiling;
    everything downstream of it is hits-sized. ``exclude_self`` drops
    pairs whose doc_id equals the query_id BEFORE ranking — the
    more-like-this convention (``retrieval.hybrid_store_probe``
    queries by probe document id)."""
    queries = BM25_QUERIES if queries is None else queries
    terms = sorted({t for ts in queries.values() for t in ts})
    if not terms:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, n_terms bigint, "
            "score double, rank int",
        )
    buckets = sorted({_bucket_of(t) for t in terms})
    hits = spark.read.parquet(f"{path}/postings")
    if len(buckets) < N_BM25_BUCKETS:
        hits = hits.where(F.col("bucket").isin(buckets))
    # LAZY checkpoint: the guard count below is the first action and
    # materializes the pruned hits once for every downstream consumer
    # (df aggregate, scoring join) — eager paid one extra scheduled
    # job per probe (r17)
    hits = hits.where(F.col("term").isin(terms)).select(
        "term", "doc_id", "tf", "dl"
    ).localCheckpoint(eager=False)
    n_hits = hits.count()
    if n_hits > max_postings:
        raise ValueError(
            f"bm25 probe would materialize {n_hits} postings rows > "
            f"{max_postings} — a queried term is degenerate-frequent "
            "(near-zero idf anyway); drop it or raise max_postings"
        )
    df = hits.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    qterms = local_rows(
        spark,
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id int, term string",
    )
    stats = spark.read.parquet(f"{path}/stats")
    n, t_len, tfc, dfc, dl = (
        F.col("n_docs"), F.col("total_len"),
        F.col("tf"), F.col("df"), F.col("dl").cast("bigint"),
    )
    # the text.py exact-rational arrangement verbatim (k1=6/5, b=3/4)
    idf = F.log(
        (F.lit(2) * n + F.lit(2)).cast("double")
        / (F.lit(2) * dfc + F.lit(1)).cast("double")
    )
    sat = (F.lit(44) * tfc * t_len).cast("double") / (
        F.lit(20) * tfc * t_len + F.lit(6) * t_len + F.lit(18) * dl * n
    ).cast("double")
    pair = (
        hits.join(F.broadcast(df), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            F.round(idf * sat, 6).cast("decimal(18,6)").alias("contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("contrib").alias("s"),
        )
    )
    if exclude_self:
        pair = pair.where(F.col("doc_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "doc_id")
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "doc_id", "n_terms",
            F.col("s").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def append_bm25_store(
    spark: SparkSession, new_docs: DataFrame, path: str
) -> None:
    """ADMIT a wave into the index: append its postings into the
    buckets they route to (plain file append under partitionBy — no
    bucket rewrite: postings are per-(term, doc) facts, not a capped
    set, so untouched AND touched buckets alike keep their bytes),
    append its doclens, then commit the incrementally-updated stats
    row through the ``storefs`` swap (old + wave — O(wave), never a
    corpus rescan).

    Equality contract (pytest-pinned): append(existing store, wave) ≡
    ``write_bm25_store`` over existing ∪ wave, table-for-table. Caller
    contract: wave doc_ids are disjoint from the store's (each
    document indexed once — an admission gate's job; a replayed wave
    is the documented watermark window, detected by
    ``n_dup_doc_ids``/``n_dup_postings`` and repaired by
    ``repair_replayed_append``)."""
    storefs.require_no_pending_delete(path, "append_bm25_store", "bm25")
    postings, doclens = _wave_postings_doclens(new_docs)
    # LAZY checkpoint (the ingest stream already does this): doclens is
    # consumed twice downstream (the guard aggregate, then the doclens
    # append) and each consumption replays the wave tokenize; the
    # checkpoint materializes the wave-sized (doc_id, dl) rows once at
    # the guard aggregate (r18).
    doclens = doclens.localCheckpoint(eager=False)
    _append_wave(spark, postings, doclens, path)


def _append_wave(
    spark: SparkSession, postings: DataFrame, doclens: DataFrame, path: str
) -> None:
    """The shared append tail over already-derived wave frames (r17
    review, the phrase-store finding's twin: the ingest stream
    checkpoints doclens for its sink — recomputing both frames inside
    ``append_bm25_store`` paid the dominant explode/group shuffle
    twice per micro-batch)."""
    wave = doclens.agg(
        F.count("*").cast("bigint").alias("w_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("w_len"),
    ).collect()[0]
    if wave["w_docs"] == 0:
        return
    postings.repartition(_write_tasks(spark), "bucket").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    doclens.write.mode("append").parquet(f"{path}/doclens")
    old = spark.read.parquet(f"{path}/stats").collect()[0]
    new_stats = local_rows(
        spark,
        [(
            int(old["n_docs"]) + int(wave["w_docs"]),
            int(old["total_len"]) + int(wave["w_len"]),
        )],
        "n_docs bigint, total_len bigint",
    )
    base = storefs.strip_file_scheme(path)
    new_stats.coalesce(1).write.mode("overwrite").parquet(
        f"{base}/stats_compact_tmp"
    )
    storefs.swap_in_compacted(path, ("stats",))


def bm25_ingest_stream(
    spark: SparkSession, docs_stream: DataFrame, path: str, sink
):
    """CONTINUOUS indexing — ``append_bm25_store`` per micro-batch
    with the store-family replay guard (the persisted batch-id
    watermark; a replayed batch ≤ the watermark is skipped entirely).
    ``sink(wave_doclens_df, batch_id)`` receives each admitted wave's
    (doc_id, dl) frame, materialized before the call returns the
    batch. Remaining crash window: a crash between the append and the
    watermark write replays one wave — detection =
    ``n_dup_doc_ids``/``n_dup_postings`` > 0, repair =
    ``repair_replayed_append`` (both code, forced-crash
    pytest-pinned)."""
    storefs.require_rename_fs(path, "bm25_ingest_stream")

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        wm = storefs.read_ingest_watermark(path)
        if wm is not None and batch_id <= wm:
            return
        storefs.require_no_pending_delete(
            path, "bm25_ingest_stream", "bm25"
        )
        batch_df = batch_df.persist()
        try:
            # ONE wave derivation per batch: the frames feed both the
            # append and the sink (r17 review — the first cut
            # recomputed the explode/group shuffle inside
            # append_bm25_store)
            postings, doclens = _wave_postings_doclens(batch_df)
            doclens = doclens.localCheckpoint()
            _append_wave(spark, postings, doclens, path)
            storefs.write_ingest_watermark(path, batch_id)
            sink(doclens, batch_id)
        finally:
            batch_df.unpersist()

    return docs_stream.writeStream.outputMode("append").foreachBatch(fb)


def bm25_probe_stream(
    spark: SparkSession, queries_stream: DataFrame, path: str, sink
):
    """Streaming retrieval over the written index: each micro-batch of
    (query_id, term) rows probes the store with ITS OWN driver-side
    bucket routing (``foreachBatch`` turns the batch into a plain
    frame, so the per-batch pruned read is exactly
    ``probe_bm25_store`` — the ``dedup_probe_stream`` stream-static
    pattern). Queries are independent rows, so the union of per-batch
    results equals the one-batch image (stream ≡ batch
    pytest-pinned). Sink contract: fully materialize inside the
    call."""

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # queries are human-scale: bounded
        queries: dict[int, tuple[str, ...]] = {}
        for r in rows:
            queries.setdefault(int(r["query_id"]), ())
            queries[int(r["query_id"])] += (r["term"],)
        if not queries:
            return
        sink(probe_bm25_store(spark, path, queries), batch_id)

    return queries_stream.writeStream.outputMode("append").foreachBatch(fb)


def repair_bm25_store(path: str) -> None:
    """``storefs.repair_store`` over this store's three tables — see
    that docstring for the crash states and repairs."""
    storefs.repair_store(path, _TABLES)


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Repair the ingest stream's watermark crash window (replayed
    wave): dropDuplicates rewrites of ``doclens`` (by doc_id) and
    ``postings`` (by the composite (term, doc_id) key, preserving the
    bucket partitioning) through the crash-safe swap protocol, then a
    stats recompute — replayed rows are byte-identical per key, so
    keeping any one is exact. Probe ≡ never-crashed twin
    pytest-pinned."""
    storefs.repair_replayed_append(spark, path, "doclens", "doc_id")
    storefs.repair_replayed_append(
        spark, path, "postings", ["term", "doc_id"],
        partition_by=("bucket",),
    )
    repair_stats(spark, path)


def repair_stats(spark: SparkSession, path: str) -> None:
    """Recompute the 1-row stats table from doclens and swap it in —
    the repair for an append that crashed before its stats commit
    (``stats_lag`` > 0). A deliberate corpus-row-count scan of the
    2-column doclens table: recovery-path only."""
    storefs.require_rename_fs(path, "repair_stats")
    storefs.repair_store(path, ("stats",))
    stats = spark.read.parquet(f"{path}/doclens").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    )
    base = storefs.strip_file_scheme(path)
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{base}/stats_compact_tmp"
    )
    storefs.swap_in_compacted(path, ("stats",))


def compact_bm25_store(
    spark: SparkSession, path: str, doclen_files: int = 8
) -> None:
    """Post-ingest maintenance — the ``compact_dedup_store`` image:
    rewrite doclens into ``doclen_files`` files and postings into one
    file per bucket partition, then SWAP through the shared crash-safe
    protocol (repair-on-entry, overwrite-mode tmp builds,
    recovery-ordered per-table swap). Probe ≡ pre-compact
    pytest-pinned. Local/HDFS-rename filesystems only (fail-loud)."""
    storefs.require_rename_fs(path, "compact_bm25_store")
    repair_bm25_store(path)
    dl = spark.read.parquet(f"{path}/doclens").coalesce(max(1, doclen_files))
    dl.write.mode("overwrite").parquet(f"{path}/doclens_compact_tmp")
    postings = spark.read.parquet(f"{path}/postings").repartition(
        _write_tasks(spark), "bucket"
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings_compact_tmp"
    )
    storefs.swap_in_compacted(path, ("doclens", "postings"))


def bm25_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Store health table — one row with (n_docs, total_len,
    n_doclen_rows, n_posting_rows, n_terms, max_term_postings,
    n_dup_doc_ids, n_dup_postings, n_unlisted_posting_docs,
    stats_lag). The crash detectors: ``n_dup_doc_ids`` /
    ``n_dup_postings`` > 0 = a replayed append (repair =
    ``repair_replayed_append``); ``n_unlisted_posting_docs`` > 0 = a
    crash between the postings and doclens appends (repair = re-run
    the wave, then clear duplicates); ``stats_lag`` > 0 = an append
    that died before its stats commit (repair = ``repair_stats``).
    ``max_term_postings`` is the probe-cost signal: the most frequent
    indexed term's postings size — the ceiling a worst-case
    single-term probe materializes."""
    dl = spark.read.parquet(f"{path}/doclens")
    d = dl.agg(
        F.count("*").cast("bigint").alias("n_doclen_rows"),
        (F.count("*") - F.count_distinct(F.col("doc_id")))
        .cast("bigint")
        .alias("n_dup_doc_ids"),
        F.count_distinct(F.col("doc_id")).cast("bigint").alias("_n_distinct"),
    )
    p = spark.read.parquet(f"{path}/postings")
    per_term = p.groupBy("term").agg(F.count("*").alias("n"))
    pa = p.agg(
        F.count("*").cast("bigint").alias("n_posting_rows"),
        (F.count("*") - F.count_distinct("term", "doc_id"))
        .cast("bigint")
        .alias("n_dup_postings"),
    )
    ta = per_term.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.coalesce(F.max("n"), F.lit(0))
        .cast("bigint")
        .alias("max_term_postings"),
    )
    unlisted = (
        p.select("doc_id")
        .distinct()
        .join(dl.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count("*").cast("bigint").alias("n_unlisted_posting_docs"))
    )
    s = spark.read.parquet(f"{path}/stats")
    return (
        s.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(pa))
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(unlisted))
        .select(
            "n_docs", "total_len", "n_doclen_rows", "n_posting_rows",
            "n_terms", "max_term_postings", "n_dup_doc_ids",
            "n_dup_postings", "n_unlisted_posting_docs",
            (F.col("_n_distinct") - F.col("n_docs"))
            .cast("bigint")
            .alias("stats_lag"),
        )
    )


# ------------------------------------------- self-contained library --

#: one bm25-store scratch dir per (session, corpus) — the shared
#: ``storefs.ScratchStoreCache`` (r17 review consolidated the eight
#: pasted copies). Unlike the dedup/semantic caches this one memoizes
#: the FULLY-BUILT store (write existing + append arriving): the
#: append is part of the op under test, and a repeat call must probe,
#: not re-append.
_BM25_STORES = storefs.ScratchStoreCache("trisk_bm25_store_")


def corpus_store_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the session-memoized scratch index: WRITTEN over the
    corpus's existing slice (doc_id % MOD != 0), then the arriving
    slice APPENDED — built once per (session, corpus); repeat calls
    probe the artifacts (the store economics)."""

    def build(path: str) -> None:
        docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
        existing = docs.where(
            F.pmod(F.col("doc_id"), F.lit(BM25_ARRIVING_MOD)) != 0
        )
        arriving = docs.where(
            F.pmod(F.col("doc_id"), F.lit(BM25_ARRIVING_MOD)) == 0
        )
        write_bm25_store(spark, existing, path)
        append_bm25_store(spark, arriving, path)

    return _BM25_STORES.get_or_build(spark, sf_dir, build)


BM25_INCREMENTAL_SQL = BM25_TOP_DOCS_SQL


@register("bm25_incremental", oracle=BM25_INCREMENTAL_SQL)
def bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical retrieval over the persisted index,
    self-contained for an oracle gate: build the index over the
    corpus's existing slice, APPEND the arriving slice (the
    incremental admission under test), then probe the seed-query set
    against the combined index. Because the index is exact — postings
    and doclens are facts, not sketches — the result must equal
    whole-corpus ``bm25_top_docs`` ROW FOR ROW, so the oracle is that
    query's own ``BM25_TOP_DOCS_SQL`` verbatim: one value-hash covers
    write → append → route → pruned probe → exact-rational scoring,
    and append ≡ rebuild is part of what the hash asserts. SEATED in
    r16 (the R16 seat trade, LEAD seat — the persisted BM25 store's
    only possible independent driver-hash row)."""
    return probe_bm25_store(spark, corpus_store_path(spark, sf_dir))


# ------------------------------------------------ takedown (r14) -----

_TABLES = ("postings", "doclens", "stats")


def delete_from_bm25_store(spark: SparkSession, doc_ids, path: str) -> None:
    """TAKEDOWN — remove documents from the persisted inverted index so
    no future probe can retrieve them. Postings are uncapped per-doc
    facts, so delete ≡ ``write_bm25_store`` over the corpus WITHOUT the
    victims is a plain filter per touched bucket (no re-derivation
    needed — postings are uncapped facts, so filtering IS rebuilding);
    loner buckets are correctly emptied (directory cleared), doclens
    and the 1-row stats recompute through the crash-safe swap, and
    every crash window resumes to completion from the durable
    ``_delete_intent`` (``resume_pending_delete``; the frame is
    ``storefs.recorded_delete``). Because the kept postings have no
    other durable source (unlike the band stores, which re-derive from
    the signatures/vectors table swapped last), they are STAGED durably
    via the ``storefs`` staged-partition protocol before any live
    bucket directory is cleared — a crash between the clear and the
    swap replays from the committed staging, never from driver memory.
    Cost: one pushdown scan of the victims' postings (routing —
    postings are bucketed by TERM, so this is the one per-store scan a
    takedown pays), a rewrite of only the touched bucket directories,
    a doclens rewrite (narrow 2-int-per-doc table), and a 1-row stats
    recompute."""
    storefs.recorded_delete(
        spark, path, doc_ids, "delete_from_bm25_store", "doc_id",
        _run_recorded_delete, _TABLES,
    )


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted (idempotent at every
    crash point): repairs any half-swapped doclens/stats first, then
    re-runs the recorded delete, whose own first step consumes any
    committed postings staging. Returns True if there was one to
    finish."""
    return storefs.resume_recorded_delete(
        spark, path, "doc_id", _run_recorded_delete, _TABLES
    )


def _run_recorded_delete(spark: SparkSession, ids: list, path: str) -> None:
    """The bm25 deletion, re-runnable from the durable
    ``_delete_intent`` at every crash point: postings go through the
    staged-partition core (``storefs.delete_staged_rows`` — kept rows
    of the touched buckets are committed durably before any live
    bucket directory is destroyed), then doclens swaps and the stats
    row is recomputed."""
    base = storefs.strip_file_scheme(path)
    storefs.delete_staged_rows(
        spark, path, ids, "postings", "bucket", "doc_id", _write_tasks(spark)
    )
    doclens = spark.read.parquet(f"{path}/doclens")
    if doclens.where(F.col("doc_id").isin(ids)).limit(1).count() > 0:
        keep_dl = doclens.where(~F.col("doc_id").isin(ids)).localCheckpoint()
        keep_dl.write.mode("overwrite").parquet(
            f"{base}/doclens_compact_tmp"
        )
        storefs.swap_in_compacted(path, ("doclens",))
    # stats recompute is unconditional while the intent exists: after
    # the doclens swap a replay can no longer see the victims, but the
    # stats row may still carry them
    repair_stats(spark, path)
