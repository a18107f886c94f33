"""Hybrid retrieval: reciprocal-rank fusion of the repo's two
retrieval families — BM25 lexical ranking (``text.bm25_pair_scores``)
and exact dense cosine top-k (``similarity.knn_bruteforce``) — in a
single "more-like-this" query: for each probe document (doc_id <
N_PROBES, the ANN probe convention; vec_id IS the document id per the
``dedup_semantic`` contract), the lexical query is the probe's own
top-KEYWORDS_K distinctive terms (the ``keyword_extract`` formula) and
the dense query is the probe's embedding. The two rankings fuse by
RRF (Cormack, Clarke & Buettcher 2009): score = Σ_sides 1/(C + rank),
C = 60 — the standard hybrid-search composition every modern retrieval
stack (lexical + vector) runs, absent from both families alone.

Determinism: both side-rankings are already cross-engine exact (the
BM25 DECIMAL-sum discipline and the knn rounded-cosine order are each
driver-hash-pinned); the fusion adds two IEEE divisions and one
addition in a fixed order, closed with the house ROUND(·, 6). Ranks
are ints, so ties everywhere break on doc_id.

Scale shape (100 TB):
  * probe keywords: the corpus (doc, token) tf shuffle is the
    ``keyword_extract`` df asset (write-once at scale); the ranking
    window itself runs on the PROBE-FILTERED tf rows only, and the
    keyword set crosses the driver as ≤ N_PROBES × KEYWORDS_K strings
    — the routing-decision collect class;
  * lexical scoring: the collected keyword set becomes the IN-ROW
    literal token filter BEFORE the explode (the ``bm25_top_docs``
    scale trick, preserved through the parameterized
    ``bm25_pair_scores``), so the scoring shuffle is hits-sized, never
    corpus-sized; df / corpus stats reach the scoring rows by
    broadcast;
  * dense scoring: the probe matrix is a driver-held broadcast model
    and the corpus is scanned once through the exact int64 GEMM kernel
    (``knn_bruteforce`` — map-side, zero shuffle before the top-k);
  * fusion: both sides are ≤ N_PROBES × side-k id/rank rows — the
    full-outer join and final rank are constant-size regardless of
    corpus size.

Reference: the reference's retrieval surface is dense-only
(beyond-reference mandate, SURVEY.md §7 step 7); BM25 and RRF follow
the published formulas cited above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import local_rows, spread_narrow_scan, table
from trisk_spark.functions import storefs
from trisk_spark.registry import register
from trisk_spark.streaming.sinks import per_batch
from trisk_spark.functions.similarity import (
    N_PROBES,
    TOP_K,
    _DOT_SQL,
    _SCALED_SQL,
    _VALID_EMB_SQL,
    knn_bruteforce,
)
from trisk_spark.functions.text import (
    KEYWORDS_K,
    _kw_df_n,
    _lm_tokens,
    bm25_pair_scores,
)

#: RRF smoothing constant (the value the original paper fixed and
#: every production hybrid stack defaults to)
RRF_C = 60
#: per-side ranking depth feeding the fusion (dense side = the pinned
#: knn TOP_K; lexical side ranked to the same depth)
LEX_SIDE_K = TOP_K
#: fused results kept per probe
HYBRID_TOP_K = 10


def probe_keywords(spark: SparkSession, sf_dir: str) -> list:
    """The probe documents' top-KEYWORDS_K distinctive terms as driver
    rows (doc_id, tok) — ≤ N_PROBES × KEYWORDS_K of them (the
    routing-decision collect class). Exactly ``keyword_extract``'s
    score (tf × n_docs / df over the corpus-wide df/n) and tie-break,
    but the ranking window runs on the probe-filtered tf rows only —
    at scale the window is probe-sized while df/n stay the shared
    corpus asset. r17: df/n come from ``_kw_df_n`` (in-row distinct +
    vocabulary-sized partial agg — the corpus-wide (doc, tok) tf
    shuffle is GONE) and the probe tf explodes only the probe docs."""
    docs = spread_narrow_scan(
        table(spark, sf_dir, "documents")
    ).where(F.col("doc_id").isNotNull())
    df, n = _kw_df_n(docs)
    tf = (
        docs.where(F.col("doc_id") < N_PROBES)
        .select("doc_id", F.explode(_lm_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    kw = (
        tf
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KEYWORDS_K)
        .select("doc_id", "tok")
    )
    return kw.collect()


def hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this: RRF-fuse each probe document's BM25
    keyword ranking with its exact dense cosine ranking. Returns
    (query_id, doc_id, lex_rank, sem_rank, rrf_score, fused_rank ≤
    HYBRID_TOP_K); a doc ranked by only one side carries a NULL rank
    on the other and its RRF term is 0 there (COALESCE, both engines).
    The probe document itself is excluded from both sides. LIBRARY op:
    full DuckDB oracle (``HYBRID_RETRIEVAL_SQL`` re-derives keywords,
    BM25, knn, and the fusion from the raw tables); R16 seat queue."""
    docs = spread_narrow_scan(
        table(spark, sf_dir, "documents")
    ).where(F.col("doc_id").isNotNull())

    sem = knn_bruteforce(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )

    rows = probe_keywords(spark, sf_dir)
    if rows:
        qterms = local_rows(
            spark,
            [(int(r.doc_id), r.tok) for r in rows],
            "query_id bigint, term string",
        )
        seed_terms = sorted({r.tok for r in rows})
        pair = bm25_pair_scores(spark, docs, qterms, seed_terms).where(
            F.col("doc_id") != F.col("query_id")
        )
        wl = Window.partitionBy("query_id").orderBy(F.desc("s"), "doc_id")
        lex = (
            pair.withColumn("lex_rank", F.row_number().over(wl))
            .where(F.col("lex_rank") <= LEX_SIDE_K)
            .select("query_id", "doc_id", "lex_rank")
        )
    else:  # every probe doc empty/stopword-free: dense-only fusion
        lex = spark.createDataFrame(
            [], "query_id bigint, doc_id bigint, lex_rank int"
        )

    return _rrf_fuse(lex, sem)


def _rrf_fuse(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RRF over two (query_id, doc_id, <side>_rank) frames: full-outer
    join (both sides are ≤ probes × side-k rows — constant-size), the
    two-term reciprocal sum in fixed order closed by ROUND(·, 6), and
    the per-query fused rank. Shared by ``hybrid_retrieval`` (one-plan
    corpus kernels) and ``hybrid_store_probe`` (persisted-index
    probes)."""
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer")
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_C) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_C) + F.col("sem_rank")), F.lit(0.0)
        ),
        6,
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .where(F.col("fused_rank") <= HYBRID_TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            F.col("rrf_score").cast("double").alias("rrf_score"),
            "fused_rank",
        )
    )


# Shared oracle fragments: the lexical derivation (probe keywords ->
# BM25 ranking with self excluded) and the RRF fusion tail expect a
# ``sem`` CTE (query_id, doc_id, sem_rank) supplied by the dense side
# — exact knn for ``hybrid_retrieval``, the routed int8-IVF mirror for
# ``hybrid_store_probe``.
_LEX_CTES = f"""hbase AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
ktf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM hbase)
  GROUP BY doc_id, tok
),
kdf AS (SELECT tok, COUNT(*) AS df FROM ktf GROUP BY tok),
kn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM ktf),
kw AS (
  SELECT doc_id AS query_id, token FROM (
    SELECT ktf.doc_id, ktf.tok AS token,
      ROW_NUMBER() OVER (PARTITION BY ktf.doc_id
        ORDER BY CAST(ktf.tf AS DOUBLE) * kn.n_docs / kdf.df DESC, ktf.tok)
        AS rnk
    FROM ktf JOIN kdf ON ktf.tok = kdf.tok CROSS JOIN kn
    WHERE ktf.doc_id < {N_PROBES}
  ) WHERE rnk <= {KEYWORDS_K}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_len FROM hbase),
btoks AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM hbase),
btf AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM btoks
  WHERE term IN (SELECT DISTINCT token FROM kw)
  GROUP BY doc_id, term, dl
),
bdf AS (SELECT term, COUNT(*) AS df FROM btf GROUP BY term),
bscored AS (
  SELECT k.query_id, btf.doc_id,
    CAST(ROUND(
      LN(CAST(2 * s.n_docs + 2 AS DOUBLE) / CAST(2 * bdf.df + 1 AS DOUBLE))
      * (CAST(44 * btf.tf * s.total_len AS DOUBLE)
         / CAST(20 * btf.tf * s.total_len + 6 * s.total_len
                + 18 * btf.dl * s.n_docs AS DOUBLE)), 6)
      AS DECIMAL(18, 6)) AS contrib
  FROM btf
  JOIN bdf ON btf.term = bdf.term
  JOIN kw k ON btf.term = k.token
  CROSS JOIN stats s
  WHERE btf.doc_id <> k.query_id
),
bpair AS (
  SELECT query_id, doc_id, SUM(contrib) AS s
  FROM bscored GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id)
        AS lex_rank
    FROM bpair
  ) WHERE lex_rank <= {LEX_SIDE_K}
)"""

_DENSE_EXACT_CTES = f"""ssc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
sn AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM ssc
  ) WHERE norm > 0
),
sq AS (SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm FROM sn
       WHERE vec_id < {N_PROBES}),
spairs AS (
  SELECT sq.query_id, sn.vec_id AS doc_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="qvec", b="vec")} AS DOUBLE)
         / (SQRT(CAST(qnorm AS DOUBLE)) * SQRT(CAST(norm AS DOUBLE))), 6)
      AS DOUBLE) AS cosine_sim
  FROM sq CROSS JOIN sn WHERE sq.query_id <> sn.vec_id
),
sem AS (
  SELECT query_id, doc_id, sem_rank FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine_sim DESC, doc_id) AS sem_rank
    FROM spairs
  ) WHERE sem_rank <= {TOP_K}
)"""

_FUSION_TAIL = f"""fused AS (
  SELECT COALESCE(l.query_id, m.query_id) AS query_id,
         COALESCE(l.doc_id, m.doc_id) AS doc_id,
         l.lex_rank, m.sem_rank,
    CAST(ROUND(
      COALESCE(CAST(1 AS DOUBLE) / ({RRF_C} + l.lex_rank), 0)
      + COALESCE(CAST(1 AS DOUBLE) / ({RRF_C} + m.sem_rank), 0), 6)
      AS DOUBLE) AS rrf_score
  FROM lex l FULL OUTER JOIN sem m
    ON l.query_id = m.query_id AND l.doc_id = m.doc_id
)
SELECT query_id, doc_id,
  CAST(lex_rank AS INT) AS lex_rank, CAST(sem_rank AS INT) AS sem_rank,
  rrf_score, CAST(fr AS INT) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS fr
  FROM fused
) WHERE fr <= {HYBRID_TOP_K}
"""

HYBRID_RETRIEVAL_SQL = (
    "WITH " + _LEX_CTES + ",\n" + _DENSE_EXACT_CTES + ",\n" + _FUSION_TAIL
)

# SEATED in r16 (the R16 seat trade): the RRF fusion + probe-keyword
# kernels have no registered sibling, so this is their only possible
# independent driver-hash row. Registration is post-hoc (not a
# decorator) because the oracle CTEs are assembled below the function
# body; the module attribute is REBOUND to the wrapped form so direct
# importers get the same prepare()-wrapped contract every
# decorator-registered sibling exposes.
hybrid_retrieval = register("hybrid_retrieval", oracle=HYBRID_RETRIEVAL_SQL)(
    hybrid_retrieval
)


# ------------------- hybrid probe over the persisted stores ----------

# Session-memoized scratch pair of indexes over the FULL corpus — the
# shared ``storefs.ScratchStoreCache`` (build once per (session,
# corpus); repeat calls probe the artifacts: the store economics).
_HYB_STORES = storefs.ScratchStoreCache("trisk_hyb_store_")


def corpus_stores_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the session-memoized scratch pair of persisted indexes
    over the corpus: ``<path>/bm25`` (the inverted-postings store) and
    ``<path>/ivf`` (the int8 IVF index) — both over the FULL corpus,
    built once per (session, corpus)."""
    from trisk_spark.functions import bm25_store, ivf_store

    def build(path: str) -> None:
        docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
        bm25_store.write_bm25_store(
            spark, docs.select("doc_id", "text"), f"{path}/bm25"
        )
        ivf_store.write_index(spark, sf_dir, f"{path}/ivf")

    return _HYB_STORES.get_or_build(spark, sf_dir, build)


def _store_lex_ranks(spark: SparkSession, bm25_path: str, queries) -> DataFrame:
    """The lexical side served from the BM25 store: (query_id, doc_id,
    lex_rank), more-like-this (a probe never retrieves itself)."""
    from trisk_spark.functions.bm25_store import probe_bm25_store

    return probe_bm25_store(
        spark, bm25_path, queries, top_k=LEX_SIDE_K, exclude_self=True
    ).select(
        F.col("query_id").cast("bigint").alias("query_id"),
        "doc_id",
        F.col("rank").alias("lex_rank"),
    )


def hybrid_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this SERVED FROM THE PERSISTED INDEXES — the
    deployment path: the same probe documents and fusion as
    ``hybrid_retrieval``, but the lexical ranking comes from the BM25
    inverted-postings store (bucket-pruned read, df from the pruned
    postings, stats from the 1-row table) and the dense ranking from
    the persisted int8 IVF index (routed ``list_id IN (...)`` partition
    read + exact re-rank). One value-hash therefore covers BOTH stores'
    write->route->pruned-read->score paths plus the fusion.

    Oracle honesty: the lexical side's oracle is the whole-corpus BM25
    derivation (the ``bm25_incremental`` precedent — the index is
    EXACT, so store-probe ≡ one-plan kernel is part of what the hash
    asserts); the dense side's oracle is the routed int8-IVF mirror
    (``ann_ivf_int8``'s CTEs — approximate search, exactly derived).
    LIBRARY op; R16 seat queue."""
    from trisk_spark.functions.ivf_store import probe_index

    path = corpus_stores_path(spark, sf_dir)

    per_probe: dict[int, list[str]] = {}
    for r in probe_keywords(spark, sf_dir):
        per_probe.setdefault(int(r.doc_id), []).append(r.tok)
    queries = {qid: tuple(sorted(ts)) for qid, ts in per_probe.items()}

    lex = _store_lex_ranks(spark, f"{path}/bm25", queries)
    sem = probe_index(spark, sf_dir, f"{path}/ivf").select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    return _rrf_fuse(lex, sem)


def _dense_store_ctes() -> str:
    """The routed int8-IVF dense side as oracle CTEs ending in ``sem``
    (query_id, doc_id, sem_rank) — ``ann_ivf_int8``'s derivation
    (quantized corpus, K-centroid model, list assignment, probe
    routing, in-list int8 candidates, exact re-rank), re-closed as a
    rank CTE instead of that oracle's final SELECT."""
    from trisk_spark.functions.similarity import (
        ANN_CAND_K,
        _EXACT_CTE_SQL,
        _INT8_MODEL_SQL,
        _QUANT_CORPUS_SQL,
    )

    return f"""{_QUANT_CORPUS_SQL},
{_INT8_MODEL_SQL},
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT ql.query_id, a.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY ql.query_id ORDER BY
        CAST({_DOT_SQL.format(a="p_qvec", b="a.qvec")} AS DOUBLE)
          / (SQRT(CAST(p_qnorm AS DOUBLE)) * SQRT(CAST(a.qnorm AS DOUBLE))) DESC,
        a.vec_id) AS crn
    FROM qlists ql JOIN assign a ON ql.list_id = a.list_id
    WHERE ql.query_id <> a.vec_id
  ) WHERE crn <= {ANN_CAND_K}
),
{_EXACT_CTE_SQL},
srerank AS (
  SELECT c.query_id, c.neighbor_id AS doc_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="p.vec", b="e.vec")} AS DOUBLE)
         / (SQRT(CAST(p.norm AS DOUBLE)) * SQRT(CAST(e.norm AS DOUBLE))), 6)
      AS DOUBLE) AS cosine_sim
  FROM cand c
  JOIN exact e ON c.neighbor_id = e.vec_id
  JOIN exact p ON c.query_id = p.vec_id
),
sem AS (
  SELECT query_id, doc_id, sem_rank FROM (
    SELECT query_id, doc_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine_sim DESC, doc_id) AS sem_rank
    FROM srerank
  ) WHERE sem_rank <= {TOP_K}
)"""


HYBRID_STORE_SQL = (
    "WITH " + _LEX_CTES + ",\n" + _dense_store_ctes() + ",\n" + _FUSION_TAIL
)


def batch_probe_keywords(
    spark: SparkSession, probe_docs: DataFrame, ref_docs: DataFrame
) -> list:
    """Top-KEYWORDS_K distinctive terms for an ARBITRARY (doc_id, text)
    probe frame, scored against the REFERENCE corpus's df/n assets (the
    ``keyword_extract`` formula; at scale df/n are the write-once
    broadcast asset, the probe side is batch-sized). Terms unseen in
    the reference corpus drop out of the join — they could not retrieve
    anything from an index built over that corpus anyway. Returns
    driver rows (doc_id, tok) — probe-batch × KEYWORDS_K of them.
    r17: the reference corpus contributes ONLY its df/n assets
    (``_kw_df_n`` — no corpus-wide (doc, tok) tf shuffle)."""
    df, n = _kw_df_n(ref_docs)
    ptf = (
        probe_docs.where(F.col("doc_id").isNotNull())
        .select("doc_id", F.explode(_lm_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    kw = (
        ptf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KEYWORDS_K)
        .select("doc_id", "tok")
    )
    return kw.collect()


def hybrid_probe_stream(
    spark: SparkSession,
    probes_stream: DataFrame,
    ref_sf_dir: str,
    path: str,
    sink,
):
    """CONTINUOUS hybrid serving — "answer hybrid more-like-this
    queries as they arrive": each micro-batch of probe documents
    (doc_id, text, embedding) derives its keywords against the
    reference corpus's df/n, probes the BM25 postings store
    (bucket-pruned) and the persisted IVF index (routed partition
    read) for THAT batch, and sinks the fused ranking. ``foreachBatch``
    hands the batch over as a plain frame, so each side is literally
    its batch engine (``probe_bm25_store`` / ``ivf_store.probe_frame``)
    — stream ≡ batch by construction (pytest-pinned against
    ``hybrid_store_probe`` over the same store pair). Probes are
    independent rows: the union of per-batch results equals the
    one-batch image. Batch size is bounded by the dense side's
    fail-loud probe cap (``ivf_store.MAX_PROBE_BATCH_ROWS``); the
    keyword collect is probe-batch × KEYWORDS_K rows. Read-only: never
    writes either store (pair with ``admission_stream(bm25_path=...)``
    / ``ivf_store.append_index`` on the maintainer side). Sink
    contract: fully materialize inside the call."""
    from trisk_spark.functions.ivf_store import probe_frame
    from trisk_spark.functions.similarity import _valid_embeddings

    ref_docs = table(spark, ref_sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    corpus_emb = _valid_embeddings(table(spark, ref_sf_dir, "embeddings"))

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        per: dict[int, list] = {}
        for r in batch_probe_keywords(
            spark, batch_df.select("doc_id", "text"), ref_docs
        ):
            per.setdefault(int(r.doc_id), []).append(r.tok)
        queries = {q: tuple(sorted(ts)) for q, ts in per.items()}
        lex = _store_lex_ranks(spark, f"{path}/bm25", queries)
        sem = probe_frame(
            spark,
            batch_df.select(F.col("doc_id").alias("vec_id"), "embedding"),
            corpus_emb,
            f"{path}/ivf",
        ).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("sem_rank"),
        )
        return _rrf_fuse(lex, sem)

    return per_batch(probes_stream, stage, sink)
