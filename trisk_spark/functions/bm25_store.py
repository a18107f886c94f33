"""Persisted BM25 inverted-index store: the lexical-retrieval member of
the persisted-store family. ``bm25_top_docs`` scores a compile-time
seed-query set in one corpus-scan plan; at 100 TB the corpus is indexed
ONCE and every later query — targeted domain mining, DSIR seed
expansion, eval-set retrieval — probes the written index reading ONLY
the buckets its terms route to.

This module is the BM25 binding of the shared postings-store engine
(``postings_store.PostingsStore`` — layout, routing, lifecycle verbs
and durability model are documented there). Its kernel:

  * postings (term, doc_id, tf, dl), tf by run-length over the sorted
    token array IN-ROW (``_wave_postings_doclens``);
  * two side tables, attached by subclassing the engine:
    ``<path>/doclens`` (doc_id, dl) — the per-document accounting
    table, rebuild asset, duplicate-replay detector and the source the
    corpus stats recompute from — and ``<path>/stats``, ONE row
    (n_docs, total_len), the BM25 normalizer (N, avgdl), maintained
    INCREMENTALLY (old + wave) and committed through the ``storefs``
    swap, so a probe never scans corpus-sized doclens for two numbers;
  * the probe: df from the pruned hits (a term's postings share one
    bucket), N/avgdl from the stats row, scored and ranked by the batch
    kernel's own stages (``text.bm25_score`` / ``text.bm25_rank``).

Crash windows of the side tables (detection and repair are CODE):

  * append order is POSTINGS → DOCLENS → STATS-SWAP (the swap is the
    commit point). Crash between postings and doclens: posting doc_ids
    with no doclens row — ``n_unlisted_posting_docs`` > 0; repair =
    re-run the wave's append, then ``repair_replayed_append``. Crash
    before the stats swap: ``stats_lag`` = distinct doclens ids −
    stats.n_docs > 0; repair = ``repair_stats``.
  * a watermark-window replay duplicates doclens rows too
    (``n_dup_doc_ids`` > 0); ``repair_replayed_append`` rewrites both
    tables and recomputes the stats.
  * delete order is STAGED POSTINGS → DOCLENS SWAP → STATS RECOMPUTE;
    the recompute is unconditional while the intent exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import local_rows
from trisk_spark.functions import storefs
from trisk_spark.functions.postings_store import (
    ARRIVING_MOD,
    MAX_PROBE_POSTINGS,
    PostingsStore,
    _bucket_col,
    _bucket_of,  # noqa: F401 — the routing the tests pin
    _write_postings,
)
from trisk_spark.registry import register
from trisk_spark.functions.text import (
    BM25_QUERIES,
    BM25_TOP_DOCS_SQL,
    BM25_TOP_K,
    _lm_tokens,
    bm25_rank,
    bm25_score,
)

BM25_ARRIVING_MOD = ARRIVING_MOD


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


def _corpus_stats(doclens: DataFrame) -> DataFrame:
    return doclens.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    )


class BM25Store(PostingsStore):
    """The postings engine plus BM25's doclens and stats tables."""

    tables = ("postings", "doclens", "stats")

    def write(self, spark: SparkSession, docs: DataFrame, path: str) -> None:
        """The postings, the doclens table, then the 1-row stats table
        derived from the WRITTEN doclens parquet — the lineage would
        replay the whole corpus tokenize a third time just to sum two
        columns (r18)."""
        super().write(spark, docs, path)
        _wave_postings_doclens(docs)[1].write.mode("overwrite").parquet(
            f"{path}/doclens"
        )
        _corpus_stats(spark.read.parquet(f"{path}/doclens")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/stats")

    def _wave(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        postings, doclens = _wave_postings_doclens(docs)
        # LAZY: the append tail's wave aggregate is the first action and
        # materializes the wave-sized (doc_id, dl) rows once for the
        # doclens append and the ingest sink (r18)
        return postings, doclens.localCheckpoint(eager=False)

    def _append_wave(
        self, spark: SparkSession, postings: DataFrame, doclens: DataFrame, path: str
    ) -> None:
        wave = _corpus_stats(doclens).collect()[0]
        if wave["n_docs"] == 0:
            return
        _write_postings(spark, postings, f"{path}/postings", "append")
        doclens.write.mode("append").parquet(f"{path}/doclens")
        old = spark.read.parquet(f"{path}/stats").collect()[0]
        new = [tuple(int(old[c]) + int(wave[c]) for c in ("n_docs", "total_len"))]
        stats = local_rows(spark, new, "n_docs bigint, total_len bigint")
        storefs.swap_table(path, "stats", stats.coalesce(1))

    def repair_stats(self, spark: SparkSession, path: str) -> None:
        """Recompute the 1-row stats table from doclens and swap it in —
        the repair for an append that crashed before its stats commit
        (``stats_lag`` > 0). A deliberate scan of the 2-column doclens
        table: recovery path only."""
        storefs.require_rename_fs(path, "repair_stats")
        storefs.repair_store(path, ("stats",))
        stats = _corpus_stats(spark.read.parquet(f"{path}/doclens"))
        storefs.swap_table(path, "stats", stats.coalesce(1))

    def repair_replayed_append(self, spark: SparkSession, path: str) -> None:
        """The replayed-wave repair over both row tables — doclens by
        doc_id, then the postings — and a stats recompute."""
        storefs.repair_replayed_append(spark, path, "doclens", "doc_id")
        super().repair_replayed_append(spark, path)
        self.repair_stats(spark, path)

    def compact(self, spark: SparkSession, path: str, doclen_files: int = 8) -> None:
        """``PostingsStore.compact`` plus doclens rewritten into
        ``doclen_files`` files."""
        self._compact(spark, path, {"doclens": doclen_files})

    def stats(self, spark: SparkSession, path: str) -> DataFrame:
        """The postings health row plus the side-table crash detectors:
        ``n_dup_doc_ids`` > 0 = a replayed append (repair =
        ``repair_replayed_append``); ``n_unlisted_posting_docs`` > 0 =
        a crash between the postings and doclens appends (repair =
        re-run the wave, then clear duplicates); ``stats_lag`` > 0 = an
        append that died before its stats commit (repair =
        ``repair_stats``)."""
        dl = spark.read.parquet(f"{path}/doclens")
        n_distinct = F.count_distinct("doc_id").cast("bigint")
        d = dl.agg(
            F.count("*").cast("bigint").alias("n_doclen_rows"),
            (F.count("*") - n_distinct).alias("n_dup_doc_ids"),
            n_distinct.alias("_n_distinct"),
        )
        unlisted = (
            spark.read.parquet(f"{path}/postings")
            .select("doc_id")
            .distinct()
            .join(dl.select("doc_id"), "doc_id", "left_anti")
            .agg(F.count("*").cast("bigint").alias("n_unlisted_posting_docs"))
        )
        return (
            spark.read.parquet(f"{path}/stats")
            .crossJoin(F.broadcast(d))
            .crossJoin(F.broadcast(super().stats(spark, path)))
            .crossJoin(F.broadcast(unlisted))
            .select(
                "n_docs", "total_len", "n_doclen_rows", "n_posting_rows",
                "n_terms", "max_term_postings", "n_dup_doc_ids",
                "n_dup_postings", "n_unlisted_posting_docs",
                (F.col("_n_distinct") - F.col("n_docs")).alias("stats_lag"),
            )
        )

    def _run_recorded_delete(self, spark: SparkSession, ids: list, path: str) -> None:
        super()._run_recorded_delete(spark, ids, path)
        doclens = spark.read.parquet(f"{path}/doclens")
        if doclens.where(F.col("doc_id").isin(ids)).limit(1).count() > 0:
            keep = doclens.where(~F.col("doc_id").isin(ids)).localCheckpoint()
            storefs.swap_table(path, "doclens", keep)
        # unconditional while the intent exists: after the doclens swap
        # a replay can no longer see the victims, but the stats row may
        # still carry them
        self.repair_stats(spark, path)


def probe_bm25_store(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]] | None = None,
    top_k: int = BM25_TOP_K,
    max_postings: int = MAX_PROBE_POSTINGS,
    exclude_self: bool = False,
) -> DataFrame:
    """Score a query set against the written index and return the
    per-query top-k — (query_id, doc_id, n_terms, score, rank), the
    exact ``bm25_top_docs`` output shape and arithmetic: the routed
    hits feed the batch kernel's ``bm25_score`` stage (df from the
    pruned read, N/avgdl from the stats row) and its ``bm25_rank``.
    ``exclude_self`` drops pairs whose doc_id equals the query_id
    BEFORE ranking — the more-like-this convention
    (``retrieval.hybrid_store_probe`` queries by probe document id)."""
    queries = BM25_QUERIES if queries is None else queries
    terms = sorted({t for ts in queries.values() for t in ts})
    if not terms:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, n_terms bigint, "
            "score double, rank int",
        )
    hits = BM25.routed_hits(
        spark, path, terms, ("term", "doc_id", "tf", "dl"), max_postings
    )
    df = hits.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    qterms = local_rows(
        spark,
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id int, term string",
    )
    pair = bm25_score(hits, df, qterms, spark.read.parquet(f"{path}/stats"))
    if exclude_self:
        pair = pair.where(F.col("doc_id") != F.col("query_id"))
    return bm25_rank(pair, top_k)


def _stream_queries(rows) -> dict[int, tuple[str, ...]]:
    """(query_id, term) batch rows → the probe's query dict."""
    queries: dict[int, tuple[str, ...]] = {}
    for r in rows:
        qid = int(r["query_id"])
        queries[qid] = queries.get(qid, ()) + (r["term"],)
    return queries


BM25 = BM25Store(
    label="bm25",
    postings=lambda docs: _wave_postings_doclens(docs)[0],
    probe=probe_bm25_store,
    queries=_stream_queries,
)

write_bm25_store = BM25.write
append_bm25_store = BM25.append
bm25_ingest_stream = BM25.ingest_stream
bm25_probe_stream = BM25.probe_stream
repair_bm25_store = BM25.repair
repair_replayed_append = BM25.repair_replayed_append
repair_stats = BM25.repair_stats
compact_bm25_store = BM25.compact
bm25_store_stats = BM25.stats
delete_from_bm25_store = BM25.delete
resume_pending_delete = BM25.resume
corpus_store_path = BM25.corpus_store_path


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
    and append ≡ rebuild is part of what the hash asserts."""
    return probe_bm25_store(spark, corpus_store_path(spark, sf_dir))
