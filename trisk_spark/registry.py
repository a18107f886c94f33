"""Query registry: name → (Spark query fn, DuckDB oracle SQL).

Every operator implemented from SURVEY.md §2 registers here; the driver
contract (``__spark_entry__.py``) exposes this dict. Each query fn takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle is ANSI SQL that
DuckDB runs against the same parquet tables (views pre-registered by the
driver: region nation customer supplier part orders lineitem events
documents embeddings).

Oracle parity rules (enforced by tests/test_oracle_parity.py):
  * column names identical on both sides (driver sorts columns by name
    before value-hashing);
  * float aggregates computed on DECIMAL then rounded + cast to DOUBLE so
    summation order cannot flip the hash;
  * no nondeterministic ordering-dependent values.

Queries whose semantics SQL cannot express (emit-once streaming joins,
order-book matching) register ``oracle=None`` → driver runs a weaker
rows-only check; their real verification is a pure-Python replay-fold
oracle in tests/.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from trisk_spark.session import prepare


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str, *a, **kw) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir, *a, **kw)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QueryDef(name, wrapped, oracle, fn.__doc__ or "")
        return wrapped

    return deco


# The correctness driver records a bounded number of entries per run
# (CORRECTNESS_r01 held exactly 50 of 54 registered queries, cut at a
# module boundary), so REGISTRATION ORDER IS COVERAGE PRIORITY: every
# query that is the sole evidence for a SURVEY §2A/§2B row or an
# LLM-pipeline operator must precede the redundant relational-superset
# extras below. Queries listed here are deliberately LAST — each one's
# capability is already evidenced by an earlier query or a plan test,
# and ALL queries regardless of position stay oracle-gated by
# tests/test_oracle_parity.py.
# ROTATION POLICY (window = 50, so len(registry) - 50 queries sit out
# each round): membership alternates round-by-round so that (a) no
# oracle-bearing query's last driver-green row is ever more than one
# round old when it rotates back, and (b) every query sitting out has
# an in-window witness for each of its SURVEY §2 rows. ALL queries
# regardless of position stay oracle-gated by
# tests/test_oracle_parity.py every round.
#
# CURRENT RULE: 106 registered = 3 always-in + 8 permanent composed
# sitters + 1 no-oracle sitter + 94 alternating over 47 seats per
# round. Always in: stock_matchmaker (no oracle and no hash-gated
# witness), media_decode_checksum (the no-oracle sitter's witness,
# enforced by test_registry) and fraud_alerts (sole BroadcastState /
# FD megaphone evidence). The pool is saturated, so a new registration
# needs a matching flip or retirement from the phase that returns that
# round; a retired row moves to ``load_library`` and keeps its full
# oracle in test_oracle_parity's library pass.
# Sitting out this round, each with its witness ("(in)" = in the
# window):
DEPRIORITIZED = [
    # ---- r16-green rows sitting one round ----
    "nexmark_q5",              # sliding window agg: tumbling_window_agg + sliding_count_window (in)
    "nexmark_q11",             # session windows: tumbling_window_agg/sliding_count_window (in, same §2A window row) + session-fire timer pytest (test_streaming)
    "tpch_q5",                 # multi-join agg: tpch_q18 (in, 3-table join + agg) + tpch_q1 (in, decimal agg)
    "keyed_running_reduce",    # keyed folds: keyed_agg (in)
    "top_orders_per_customer", # window rank + join: tpch_q18 (in)
    "semi_join_orders",        # semi-join kernel: decontaminate_flags (in)
    "tpch_q6",                 # filter + agg: nexmark_q2 (in, filter) + tpch_q1 (in, scan agg)
    "decimal_accumulators",    # BigDecimal: tpch_q1 (in, decimal scan agg)
    "props_rollup",            # scalar map/string fns: nexmark_q1 (in, map) + pii_redact + url_normalize (in)
    "q3_emit_once_join",       # emit-once stateful join: nexmark_q3 (in, SQL image) + wordcount_two_input (in, CoProcess) + emit-once replay pytest (test_stateful)
    "interval_join",           # time-bounded join: nexmark_q8 (in, windowed equi-join) + asof_join (in)
    "minby_maxby",             # keyed folds: keyed_agg (in)
    "count_window",            # count windows: sliding_count_window (in)
    "time_evictor_window",     # evictors: delta_evictor_window (in)
    "delta_trigger",           # triggers: continuous_trigger + purging_trigger (in)
    "dedup_minhash_lsh",       # banded-LSH kernel: dedup_incremental (in, same signature+band kernels through the persisted store) + ngram_jaccard (in, shingle kernel)
    "dedup_simhash",           # token near-dup: dedup_bag (in) + doc_fingerprint (in, hash kernel)
    "dedup_substring",         # winnowing: doc_fingerprint (in, rolling-hash class)
    "canonical_by_quality",    # cluster argmax: dedup_clusters (in, the component chain it extends) + dedup_incremental (in, the same struct-MAX argmax in its probe verdict) + quality_score (in, the quality features)
    "ngram_counts",            # explode/shingle count: wordcount + ngram_jaccard (in)
    "source_quality_rollup",   # composed of quality_score + lang_id + repetition_ratio (all in)
    "length_percentiles",      # doc stats: quality_score (in)
    "doc_chunk",               # tokenizer: token_count (in, shared tokenizer)
    "bpe_token_estimate",      # tokenizer: token_count (in)
    "bigram_lm_score",         # broadcast-model scoring: lang_id (in, n-gram model class)
    "keyword_extract",         # tf/df scoring: wordcount (in) + lang_id (in, broadcast-model class)
    "bm25_top_docs",           # lexical retrieval: wordcount (in, token-count kernel) + lang_id (in, broadcast-model scoring class) + exact-rational scoring property pytest (test_properties, every round)
    "media_byte_features",     # multimodal map-side: media_metadata + media_frame_sample (in)
    "bpe_segment",             # shared tokenizer + model broadcast: token_count (in) + lang_id (in, broadcast-model class) + bpe_replay oracle pytest (test_bpe, every round)
    "cosine_near_dup_exact",   # blocked GEMM: ann_recall (in, drives the same exact-GEMM kernel verbatim as its brute side) + dedup_semantic (in, in-bucket exact GEMM)
    "cosine_near_dup_lsh",     # SRP-LSH pairs: dedup_semantic (in, composes cosine_lsh_pairs — same SRP banding + in-bucket GEMM)
    "ann_ivf",                 # IVF route+rerank: ivf_refine (in, centroid kernel) + ann_ivf_pq (in, routed search) + ann_recall (in, measures the same routed search)
    "knn_label_vote",          # exact GEMM top-k: ann_recall (in, its brute side is the same exact-GEMM top-k kernel) + embedding_health (in, the shared norm fold)
    "ivf_refine_iters",        # Lloyd iterations: ivf_refine (in, the step kernel)
    "embed_quantize_int8",     # quantization: ann_ivf_pq (in, same fused quantize+encode kernel)
    "ann_ivf_int8",            # routed int8 search: ann_ivf_pq (in, routing + rerank) + ann_recall (in, drives it verbatim as the approximate side)
    "pq_encode_trained",       # ann_ivf_pq (in, same _pq_model seed + fused encode kernel) + the pq_encode flip's iters=0 equality pytest (test_pq, every round)
    "split_rollup",            # md5-split kernel: source_cap_sample (in, md5-order family) + curation_funnel (in, stage rollup over the same manifest chain)
    "source_mix_sample",       # md5-ppm keep kernel: source_cap_sample (in, md5-order family)
    "pack_plan",               # packing kernel: training_plan_over_store (in, composes the plan chain; store ≡ recompute equality-pinned in test_pq) + curation_funnel (in, same manifest chain)
    "source_divergence",       # per-source KL: wordcount (in, the (source,word) count kernel) + lang_id (in, distribution-model class)
    "dsir_weights",            # hashed-bigram importance: lang_id (in, hashed n-gram broadcast-model class) + integer-exact stream-twin pytest (test_streaming, every round)
    "ts_subsequence_match",    # ts family: ts_subsequence_sax (in, same z-norm + exact-int distance arithmetic)
    "cross_split_leakage",     # dedup_incremental (in, same signature+band pair kernel through the persisted store) + ngram_jaccard (in, shingle kernel) + decontaminate_flags (in, split-keyed semi-join class)
    "line_dedup",              # repetition_ratio (in, in-row array-expression text stats) + token_count (in, shared in-row tokenizer split)
    # ---- r16-seated rows, first sit (witnesses per the r16 plan) ----
    "bm25_incremental",        # persisted BM25 store probe: wordcount (in, the token-count kernel) + lang_id (in, the broadcast-model scoring class) + dedup_incremental (in, the persisted-store pruned-probe routing class) + append ≡ rebuild + exact-scoring pytests (test_bm25_store + test_properties, every round)
    "hybrid_retrieval",        # keywords → BM25 → kNN → RRF: ann_recall (in, the exact-GEMM top-k kernel of its kNN side) + wordcount + lang_id (in, the lexical scoring class) + hybrid_store_probe's full-fusion library oracle every round (test_oracle_parity)
    # ---- permanent sitters (composed class — witness = composer) ----
    "sequence_pack",           # COMPOSED_SITTER_WITNESS: pack_plan
    "train_split",             # COMPOSED_SITTER_WITNESS: training_plan_over_store
    "curation_manifest",       # COMPOSED_SITTER_WITNESS: curation_manifest_semantic + curation_funnel
    "source_upsample",         # COMPOSED_SITTER_WITNESS: training_plan_over_store
    "training_plan",           # COMPOSED_SITTER_WITNESS: training_plan_over_store (identical oracle)
    "cluster_cap_sample",      # COMPOSED_SITTER_WITNESS: training_plan_over_store + source_cap_sample
    "ann_lsh_bucketed",        # COMPOSED_SITTER_WITNESS: cosine_near_dup_lsh + ann_ivf (r13 flip — kernel pins above)
    "pq_encode",               # COMPOSED_SITTER_WITNESS: pq_encode_trained (r13 flip — iters=0 equality pin)
    # ---- permanent sitter (no-oracle class) ----
    "media_decode_resize",     # NO_ORACLE_SITTER_WITNESS: media_decode_checksum (in)
]

# Permanent composed sitters: each key is wholly composed by its
# witness queries (same kernels, shared helpers — see the class note
# above); the witnesses must themselves be registered, oracle-bearing,
# and NOT sitters of any permanent class (no circular witnessing) —
# enforced by tests/test_registry.py. Their own full oracles still run
# every round in test_oracle_parity.
COMPOSED_SITTER_WITNESS: dict[str, tuple[str, ...]] = {
    "sequence_pack": ("pack_plan",),
    "train_split": ("training_plan_over_store",),
    "curation_manifest": ("curation_manifest_semantic", "curation_funnel"),
    "source_upsample": ("training_plan_over_store",),
    "training_plan": ("training_plan_over_store",),
    "cluster_cap_sample": ("training_plan_over_store", "source_cap_sample"),
    # r13 flips — kernel identity machine-pinned:
    # test_similarity_iter::test_ann_lsh_bucket_is_srp_sign_band_kernel
    # and test_pq::test_pq_encode_is_trained_encode_at_zero_iters
    "ann_lsh_bucketed": ("cosine_near_dup_lsh", "ann_ivf"),
    "pq_encode": ("pq_encode_trained",),
}

# A no-oracle query may sit out ONLY with a named in-window witness
# that drives the same kernel through a hash-gated oracle.
# media_decode_checksum IS media_decode_resize plus md5(pixels) — the
# whole decode→resize path flows through its DuckDB value-hash gate,
# while the pixel-exact pytest replay stays on the parent.
NO_ORACLE_SITTER_WITNESS = {"media_decode_resize": "media_decode_checksum"}


def load_all() -> dict[str, QueryDef]:
    """Import every operator module so all queries self-register, then
    order the registry: §2-row-bearing queries first (cheap,
    previously-truncated multimodal before the expensive
    dedup/similarity blocks), DEPRIORITIZED extras last."""
    import trisk_spark.operators.nexmark  # noqa: F401
    import trisk_spark.operators.relational  # noqa: F401
    import trisk_spark.operators.wordcount  # noqa: F401
    import trisk_spark.operators.stateful  # noqa: F401
    import trisk_spark.operators.fraud  # noqa: F401
    import trisk_spark.operators.multistream  # noqa: F401
    import trisk_spark.operators.async_io  # noqa: F401
    import trisk_spark.functions.text  # noqa: F401
    import trisk_spark.functions.multimodal  # noqa: F401
    import trisk_spark.functions.bpe  # noqa: F401
    import trisk_spark.functions.admission  # noqa: F401
    import trisk_spark.functions.dedup  # noqa: F401
    import trisk_spark.functions.dedup_store  # noqa: F401
    import trisk_spark.functions.bm25_store  # noqa: F401
    import trisk_spark.functions.retrieval  # noqa: F401
    import trisk_spark.functions.semantic_store  # noqa: F401
    import trisk_spark.functions.similarity  # noqa: F401
    import trisk_spark.functions.pq  # noqa: F401
    import trisk_spark.functions.sampling  # noqa: F401
    import trisk_spark.functions.timeseries  # noqa: F401

    tail = set(DEPRIORITIZED)
    ordered = {n: q for n, q in REGISTRY.items() if n not in tail}
    ordered.update({n: REGISTRY[n] for n in DEPRIORITIZED if n in REGISTRY})
    return ordered


def load_library() -> dict[str, QueryDef]:
    """The LIBRARY surface: ops with full DuckDB oracles but no
    driver-window seat, and rows RETIRED from the registered surface
    whose kernels are driver-hash-gated by siblings: retirement only
    moves the evidence channel, never removes the oracle. Shaped exactly like
    ``load_all()`` entries — same (spark, sf_dir) → DataFrame
    contract, same prepare() wrapping, oracle attached — so
    registering one is moving it into a ``@register`` decorator and a
    seat. NOT exposed through ``__spark_entry__.queries()``; gated
    every round by tests/test_oracle_parity.py's library pass
    instead."""
    from trisk_spark.functions import (
        dedup,
        dedup_store,
        funnel,
        phrase_store,
        retrieval,
        sampling,
        semantic_store,
        similarity,
        text,
        timeseries,
    )
    from trisk_spark.operators import relational

    entries: dict[str, tuple] = {
        "budget_trim": (sampling.budget_trim, sampling.BUDGET_TRIM_SQL),
        "training_plan_budget": (
            sampling.training_plan_budget,
            sampling.training_plan_budget_sql(),
        ),
        "shuffle_shards": (sampling.shuffle_shards, sampling.SHUFFLE_SHARDS_SQL),
        "perplexity_buckets": (
            sampling.perplexity_buckets,
            sampling.ppl_buckets_sql(),
        ),
        "contamination_report": (
            dedup.contamination_report,
            dedup._contamination_report_sql(),
        ),
        "ngram_novelty": (dedup.ngram_novelty, dedup.NGRAM_NOVELTY_SQL),
        "tpch_q10": (relational.tpch_q10, relational.TPCH_Q10_SQL),
        # r14-retired (the R14 seat trade): kernels driver-hash-gated
        # by tpch_q5/q18; full oracles keep running here.
        "tpch_q7": (relational.tpch_q7, relational.TPCH_Q7_SQL),
        "tpch_q14": (relational.tpch_q14, relational.TPCH_Q14_SQL),
        # r15-retired (the R15 seat trade): filtered multi-join
        # decimal agg ⊂ tpch_q5, broadcast-dim top-k ⊂ tpch_q18 /
        # top_orders_per_customer; full oracle keeps running here.
        "tpch_q3": (relational.tpch_q3, relational.TPCH_Q3_SQL),
        # r15-retired likewise: exact blocked-GEMM top-k ⊂
        # cosine_near_dup_exact + knn_label_vote; ann_recall drives it
        # verbatim as its brute side.
        "knn_bruteforce": (
            similarity.knn_bruteforce,
            similarity.KNN_BRUTE_SQL,
        ),
        # (margin_pair_mining and weighted_sample graduated to
        # ``@register`` seats in r17 — the executed R17 seat trade.)
        # r17-retired (the R17 seat trade): the signature-agreement
        # estimator's kernels are driver-hash-gated by
        # dedup_minhash_lsh (signature + band) and cross_split_leakage
        # (composed pair chain) every other round; the full oracle
        # keeps running here.
        "minhash_jaccard_estimate": (
            dedup.minhash_jaccard_estimate,
            dedup._minhash_estimate_sql(),
        ),
        # r17-retired likewise: the map-only doc-stats class is
        # hash-gated by source_quality_rollup; full oracle keeps
        # running here.
        "gopher_rules": (text.gopher_rules, text.GOPHER_RULES_SQL),
        # r15-new: the source×source near-dup overlap matrix — the
        # mixture-design preflight ("how much of source A duplicates
        # source B"): the capped banded pair kernel + source rollup +
        # exact-integer pair-density under ONE value-hash.
        "source_overlap_matrix": (
            dedup.source_overlap_matrix,
            dedup.SOURCE_OVERLAP_SQL,
        ),
        # r16-retired (the R16 seat trade): decimal scan-agg kernel
        # driver-hash-gated by tpch_q1 / decimal_accumulators; the
        # ROLLUP grouping-sets full oracle keeps running here.
        "revenue_rollup": (
            relational.revenue_rollup,
            relational.REVENUE_ROLLUP_SQL,
        ),
        # r16-retired likewise: left-anti kernel hash-gated by the
        # curation-manifest family's anti-join staging; full oracle
        # keeps running here.
        "customers_without_orders": (
            relational.customers_without_orders,
            relational.CUSTOMERS_NO_ORDERS_SQL,
        ),
        # r14-new: the exact second-moment table behind PCA whitening —
        # the corpus-sized half of the dimensionality-reduction
        # preflight (driver-side eigh + map-only projection are
        # pytest-gated; eigenvector sign/order is not a cross-engine
        # contract, the pq/bpe precedent). Every value an exact BIGINT.
        "embedding_gram": (
            similarity.embedding_gram,
            similarity.EMB_GRAM_SQL,
        ),
        # r14-new: the outlier gate over the same exact moments —
        # per-vector standardized squared distance, every per-term
        # contribution an identical IEEE sequence on both engines
        # (integer numerators; the house ROUND→DECIMAL→SUM close).
        "embedding_outliers": (
            similarity.embedding_outliers,
            similarity.EMB_OUTLIERS_SQL,
        ),
        # r14-new: the routing-drift gate for the frozen IVF model —
        # per-list resident vs arriving membership, smoothed KL
        # contribution, exact-integer hot flag (the re-train trigger
        # ivf_store's append path defers to; ann_recall gates quality
        # from the probe side, this gates balance from ingest).
        "ivf_drift_report": (
            similarity.ivf_drift_report,
            similarity.IVF_DRIFT_SQL,
        ),
        # r14-new: hybrid more-like-this SERVED FROM THE PERSISTED
        # INDEXES — BM25 postings store (bucket-pruned) + int8 IVF
        # store (routed partition read) + the shared RRF fusion under
        # one value-hash; the deployment twin of hybrid_retrieval.
        "hybrid_store_probe": (
            retrieval.hybrid_store_probe,
            retrieval.HYBRID_STORE_SQL,
        ),
        # r14-new: the takedown verb under independent value-hash
        # evidence — build the existing-slice store, DELETE the
        # deterministic victim slice through the real intent-logged
        # path, probe the arriving slice; the oracle derives the same
        # answer from the corpus with the victims excluded, so it
        # matches iff delete ≡ rebuild holds on the probed artifacts.
        "dedup_takedown": (
            dedup_store.dedup_takedown,
            dedup_store.DEDUP_TAKEDOWN_SQL,
        ),
        # r14-new: the semantic store's takedown verb under the same
        # value-hash evidence (victims-excluded derivation).
        "semantic_takedown": (
            semantic_store.semantic_takedown,
            semantic_store.SEMANTIC_TAKEDOWN_SQL,
        ),
        # r17-new: incremental phrase/proximity retrieval over the
        # persisted POSITIONAL postings store (the r16-sketched r17
        # build): oracle is PHRASE_SEARCH_SQL verbatim — the index is
        # exact, so write → append → route → pruned probe →
        # position-set counting must equal the one-plan batch kernel
        # row for row under ONE value-hash (the bm25_incremental
        # precedent). The R19 sketch's seat candidate.
        "phrase_incremental": (
            phrase_store.phrase_incremental,
            phrase_store.PHRASE_INCREMENTAL_SQL,
        ),
        # r17-new: the phrase store's takedown verb under independent
        # value-hash evidence (the dedup/semantic takedown convention):
        # write existing slice → delete the deterministic victim slice
        # through the real staged-partition path → full probe; the
        # oracle scans the corpus with the victims excluded, so the
        # hash matches iff delete ≡ rebuild on the probed artifacts.
        "phrase_takedown": (
            phrase_store.phrase_takedown,
            phrase_store.PHRASE_TAKEDOWN_SQL,
        ),
        # r16-new: phrase + ordered-proximity retrieval — the
        # POSITIONAL half of the lexical family (BM25 is bag-of-words;
        # this is Lucene PhraseQuery / sloppy-phrase semantics): exact
        # consecutive-trigram counts + greedy ordered-window counts,
        # both exact BIGINTs, probes derived from the corpus itself,
        # ranking under ONE value-hash. Map-only corpus scan with
        # in-row array lambdas — zero corpus shuffle.
        "phrase_search": (text.phrase_search, text.PHRASE_SEARCH_SQL),
        # r16-new: leakage-safe cluster-atomic train split — every doc
        # hashed by its near-dup cluster's CANONICAL id so no near-dup
        # pair straddles a split (train_split is doc-level md5 and
        # leaks ~19% of pairs; cross_split_leakage MEASURES that,
        # this REMOVES it by construction). Oracle composes the pair
        # kernel + transitive closure + both split CASEs.
        "cluster_split": (sampling.cluster_split, sampling.CLUSTER_SPLIT_SQL),
        # r16-new: per-source quality calibration — each document's
        # exact within-source standing vs the global-median verdict,
        # with the flip set (the docs a threshold choice is actually
        # deciding about). Entirely on the integer ppm grid: FLOOR
        # quantization (tie-free, unlike ROUND whose half-way cases
        # split Spark HALF_UP from DuckDB half-even — measured at
        # sf0.1 before this design), integer rank tests, dyadic-exact
        # BIGINT median.
        "quality_calibrate": (
            text.quality_calibrate,
            text.QUALITY_CALIBRATE_SQL,
        ),
        # r17-new: matrix-profile discovery over the subsequence
        # windows — motif (closest non-overlapping same-series pair)
        # and discord (window with the farthest nearest neighbor);
        # self-join mining, a different op class from the probe-driven
        # ts_subsequence_* retrieval family
        "ts_motif": (timeseries.ts_motif, timeseries.TS_MOTIF_SQL),
        "ts_discord": (timeseries.ts_discord, timeseries.TS_DISCORD_SQL),
        # ... and motif's SAX-bucketed scale path (same-word pairs
        # only — Σ m_word² instead of m² per series; discord has no
        # bucketed sibling, deliberately: candidate pruning is unsound
        # for a max-of-min objective, see its docstring)
        "ts_motif_sax": (
            timeseries.ts_motif_sax,
            timeseries.TS_MOTIF_SAX_SQL,
        ),
        # r17-new: strict first-touch conversion funnel over the
        # events stream (value-based strictly-after semantics, exact
        # BIGINT µs waits, one corpus shuffle, no join)
        "event_funnel": (funnel.event_funnel, funnel.EVENT_FUNNEL_SQL),
        # r17-new: cohort retention (first-active epoch-day cohorts,
        # day-1/day-7 return counts, all-integer FLOOR-day buckets)
        "user_retention": (
            funnel.user_retention,
            funnel.USER_RETENTION_SQL,
        ),
        # r17-new: per-series autocorrelation at lags 1..4 (the
        # seasonality screen; exact-BIGINT moment expansion makes the
        # centered estimator cross-engine deterministic)
        "ts_acf": (timeseries.ts_acf, timeseries.TS_ACF_SQL),
    }

    def wrap(fn):
        def wrapped(spark: SparkSession, sf_dir: str, *a, **kw) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir, *a, **kw)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        return wrapped

    return {
        n: QueryDef(n, wrap(fn), sql, fn.__doc__ or "")
        for n, (fn, sql) in entries.items()
    }
