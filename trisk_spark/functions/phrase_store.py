"""Persisted POSITIONAL postings store: the phrase/proximity member of
the persisted-store family. ``phrase_search`` answers a probe SET with
one map-only corpus scan — right for ad-hoc probes, wrong for a
STANDING phrase workload: at 100 TB every new watchlist pays a full
corpus read. This store pays the positional-index build ONCE and serves
every later phrase/proximity probe from a driver-routed,
partition-pruned read of only the buckets its terms live in.

This module is the phrase binding of the shared postings-store engine
(``postings_store.PostingsStore`` — layout, routing, lifecycle verbs
and durability model are documented there). Its kernel:

  * postings (term, doc_id, positions array<int>): ``positions`` is the
    sorted 1-based token-offset list of every occurrence of ``term`` in
    ``doc_id`` under the shared ``_lm_tokens`` tokenizer — 1-based so
    the position arithmetic is literally the batch kernel's
    ``element_at`` indices. There is deliberately NO side table: phrase
    counting needs no corpus normalizer, so an append is ONE job-level
    parquet commit and the only crash windows are the engine's.
  * the probe, which must equal ``text.phrase_search_frame`` ROW FOR
    ROW (pytest-pinned, and ``phrase_incremental`` puts write → append
    → route → probe under the batch op's own ``PHRASE_SEARCH_SQL``
    value-hash). With P0/P1/P2 the position sets of a phrase's three
    words in one doc:

      - n_exact = |{k ∈ P0 : k+1 ∈ P1 ∧ k+2 ∈ P2}| — the shift
        intersection; equals the kernel's consecutive-window count.
      - n_prox = |{k ∈ P0 : ∃ first j = min{p ∈ P1 : k < p ≤ k+W-1}
        and ∃ q ∈ P2 : j < q ≤ k+W-1}| — the GREEDY ordered-window
        rule, verbatim: first w1 after the anchor inside the window,
        then any w2 after that w1 inside the same window. Greedy is
        complete for an ordered 3-term match (a later w1 only shrinks
        w2's room), so this equals the kernel's in-row slice
        formulation position for position.

    Both are in-row array lambdas over three bounded position arrays —
    whole-stage-codegen JVM expressions, no Python in the hot path; the
    ranking is the batch op's own ``text.phrase_rank``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import local_rows
from trisk_spark.functions.postings_store import (
    ARRIVING_MOD,
    MAX_PROBE_POSTINGS,
    VICTIM_MOD,
    PostingsStore,
    _bucket_col,
    _bucket_of,  # noqa: F401 — the routing the tests pin
)
from trisk_spark.functions.text import (
    PHRASE_SEARCH_SQL,
    PHRASE_TOP_K,
    PHRASE_WINDOW,
    _lm_tokens,
    _phrase_probes,
    _phrase_search_sql,
    phrase_rank,
)

PHRASE_ARRIVING_MOD = ARRIVING_MOD


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


def probe_phrase_store(
    spark: SparkSession,
    path: str,
    probes: list[tuple[int, list[str]]],
    top_k: int = PHRASE_TOP_K,
    max_postings: int = MAX_PROBE_POSTINGS,
) -> DataFrame:
    """Phrase + sloppy-phrase retrieval from the written index —
    (query_id, doc_id, phrase, n_exact, n_prox, rank), the exact
    ``phrase_search`` output shape, semantics, ranking, and
    tie-breaks: the engine's routed hits, counted by in-row
    position-set lambdas (module docstring derivation), ranked by
    ``text.phrase_rank``."""
    if not probes:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, phrase string, "
            "n_exact bigint, n_prox bigint, rank int",
        )
    terms = sorted({t for _q, ws in probes for t in ws})
    hits = PHRASE.routed_hits(
        spark, path, terms, ("term", "doc_id", "positions"), max_postings
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
    return phrase_rank(counted, top_k)


def _stream_probes(rows) -> list[tuple[int, list[str]]]:
    """(query_id, w0, w1, w2) batch rows → the probe list."""
    return [(int(r["query_id"]), [r["w0"], r["w1"], r["w2"]]) for r in rows]


PHRASE = PostingsStore(
    label="phrase",
    postings=_wave_postings,
    probe=probe_phrase_store,
    queries=_stream_probes,
    stats_aggs=lambda: [
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.size("positions")), F.lit(0))
        .cast("bigint")
        .alias("total_positions"),
    ],
    stats_order=(
        "n_posting_rows", "n_docs", "n_terms", "max_term_postings",
        "total_positions", "n_dup_postings",
    ),
)

write_phrase_store = PHRASE.write
append_phrase_store = PHRASE.append
phrase_ingest_stream = PHRASE.ingest_stream
phrase_probe_stream = PHRASE.probe_stream
repair_phrase_store = PHRASE.repair
repair_replayed_append = PHRASE.repair_replayed_append
compact_phrase_store = PHRASE.compact
phrase_store_stats = PHRASE.stats
delete_from_phrase_store = PHRASE.delete
resume_pending_delete = PHRASE.resume
corpus_store_path = PHRASE.corpus_store_path
takedown_store_path = PHRASE.takedown_store_path


# ------------------------------------------- self-contained library --

PHRASE_INCREMENTAL_SQL = PHRASE_SEARCH_SQL

#: the store after write(existing) + delete(victims): scanned docs =
#: existing slice minus the victim slice (victims ⊆ existing, so the
#: plain conjunction is exact); probes stay derived from the FULL
#: corpus (the probe set is independent of the store's contents)
PHRASE_TAKEDOWN_SQL = _phrase_search_sql(
    f" AND ((b.doc_id % {ARRIVING_MOD}) + {ARRIVING_MOD}) % {ARRIVING_MOD} <> 0"
    f" AND ((b.doc_id % {VICTIM_MOD}) + {VICTIM_MOD}) % {VICTIM_MOD} <> 1"
)

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
