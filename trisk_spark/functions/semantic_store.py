"""Persisted SRP-LSH semantic store: the write-once/incremental-probe
half of the SEMANTIC near-dup story — the embedding-space mirror of
``dedup_store``. The batch clusterer is ``dedup_semantic``; the
ingest-time gate is ``semantic_flag_stream``, which documents its
corpus index as "at 100 TB a bucketed table, here a persisted frame" —
THIS is that bucketed table.

This module is the SRP binding of the shared band-store engine
(``band_store.BandStore`` — layout, lifecycle verbs and durability
model are documented there): the row table is ``vectors`` (vec_id,
scaled-int vec, exact integer norm), the band value is ``bv`` (the
shared ``srp_band_val`` sign bits — arriving embeddings scale, norm and
band IN-ROW, zero shuffle), bucket membership is capped at the batch
kernel's VEC_BUCKET_CAP, and a candidate pair verifies by the exact
integer dot + cosine test (bit-identical on both engines, the
``_gemm_block_pairs`` exactness argument): cosine ≥ NEAR_DUP_COS,
applied to the UNROUNDED cosine, flags ``is_dup``.

Reference: the reference has no semantic store (beyond-reference
mandate, SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.functions import storefs
from trisk_spark.functions.band_store import BandStore
from trisk_spark.registry import register
from trisk_spark.functions.similarity import (
    _COS_BAND_SQL,
    _DOT_SQL,
    _SCALED_SQL,
    _VALID_EMB_SQL,
    COS_NB_BANDS,
    NEAR_DUP_COS,
    VEC_BUCKET_CAP,
    _dot,
    _scaled,
    _srp_bands,
    _valid_embeddings,
)

#: LEGACY directory fan-out per band — the read-side default for stores
#: written before fans were derived (new stores persist a
#: corpus-derived fan in ``_n_buckets``). bv is only COS_BAND_DIMS sign
#: bits, and a hot bv is a hot bucket under ANY hash — the write-time
#: VEC_BUCKET_CAP is the real degenerate-corpus guard.
N_SEM_STORE_BUCKETS = 16

#: The deterministic existing/arriving split for the self-contained
#: oracle row (``semantic_incremental``): vec_id % 5 == 0 arrives.
SEM_ARRIVING_MOD = 5

#: deterministic victim slice for the self-contained takedown row
#: (the ``dedup_store.TAKEDOWN_VICTIM_MOD`` contract)
TAKEDOWN_VICTIM_MOD = 17


def _normed(emb: DataFrame) -> DataFrame:
    """(vec_id, vec, norm) over the validity-gated, scaled-integer,
    nonzero-norm embeddings — the exact frame every SRP kernel
    (batch pairs, streaming flag, this store) starts from."""
    return (
        _valid_embeddings(emb)
        .select("vec_id", _scaled("embedding").alias("vec"))
        .withColumn("norm", _dot("vec", "vec"))
        .where(F.col("norm") > 0)
    )


def _bands(rows: DataFrame) -> DataFrame:
    return _srp_bands(rows.select("vec_id", "vec"))


def _cosine(stored: DataFrame, wave: DataFrame):
    """Verify score: exact integer dot over IEEE doubles / norms."""
    ref = stored.select(
        F.col("vec_id").alias("dup_of"),
        F.col("vec").alias("ref_vec"),
        F.col("norm").alias("ref_norm"),
    )
    new = wave.select(F.col("vec_id").alias("new_id"), "vec", "norm")
    cos = _dot("vec", "ref_vec").cast("double") / (
        F.sqrt(F.col("norm").cast("double"))
        * F.sqrt(F.col("ref_norm").cast("double"))
    )
    return ref, new, cos


def _report():
    return [
        F.round(F.col("b.cos"), 6).alias("cosine_sim"),
        (F.col("b.cos") >= NEAR_DUP_COS).alias("is_dup"),
    ]


SEMANTIC = BandStore(
    label="semantic",
    id_col="vec_id",
    rows_table="vectors",
    band_col="bv",
    n_bands=COS_NB_BANDS,
    cap=VEC_BUCKET_CAP,
    legacy_fan=N_SEM_STORE_BUCKETS,
    rows=_normed,
    bands=_bands,
    verify=_cosine,
    score_col="cos",
    report=_report,
    probe_schema=(
        "vec_id bigint, dup_of bigint, cosine_sim double, is_dup boolean"
    ),
    stats_names=("n_vecs", "n_dup_vector_ids", "n_unvectored_band_ids"),
    stats_order=(
        "n_vecs", "n_dup_vector_ids", "n_band_rows", "n_buckets",
        "min_bucket", "max_bucket", "avg_bucket", "saturated_buckets",
        "n_unvectored_band_ids",
    ),
    avg_digits=2,
    table="embeddings",
    arriving_mod=SEM_ARRIVING_MOD,
    victim_mod=TAKEDOWN_VICTIM_MOD,
    cache_prefixes=("trisk_sem_store_", "trisk_sem_takedown_store_"),
)

write_semantic_store = SEMANTIC.write
probe_semantic_store = SEMANTIC.probe
append_semantic_store = SEMANTIC.append
semantic_ingest_wave = SEMANTIC.ingest_wave
semantic_ingest_stream = SEMANTIC.ingest_stream
semantic_probe_stream = SEMANTIC.probe_stream
repair_semantic_store = SEMANTIC.repair
repair_replayed_append = SEMANTIC.repair_replayed_append
compact_semantic_store = SEMANTIC.compact
semantic_store_stats = SEMANTIC.stats
delete_from_semantic_store = SEMANTIC.delete
resume_pending_delete = SEMANTIC.resume
corpus_store_path = SEMANTIC.corpus_store_path
takedown_store_path = SEMANTIC.takedown_store_path
_vbucket = SEMANTIC.bucket
_store_fan = SEMANTIC.fan
_routed_buckets_checked = SEMANTIC._routes


# ------------------------------------------- self-contained oracle --


def _semantic_incremental_sql(exist_extra: str = "") -> str:
    """DuckDB oracle for ``semantic_incremental``: scaled vectors +
    norms over the whole corpus, the deterministic existing/arriving
    split, the write-time bucket cap on the EXISTING side,
    arriving-vs-existing band collisions, exact integer-dot cosine
    verify, per-arriving-vector argmax. Buckets are a partition
    refinement of bv equality and need no mirror here (the
    ``dedup_store`` oracle rule). ``exist_extra`` narrows the EXISTING
    side — ``semantic_takedown``'s oracle excludes the victim slice
    (the ``dedup_store._dedup_incremental_sql`` rule)."""
    mod = SEM_ARRIVING_MOD
    ex_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_COS_BAND_SQL[b]} AS bv FROM ex"
        for b in range(COS_NB_BANDS)
    )
    ar_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_COS_BAND_SQL[b]} AS bv FROM ar"
        for b in range(COS_NB_BANDS)
    )
    return f"""
WITH sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
ex AS (SELECT * FROM n
       WHERE ((vec_id % {mod}) + {mod}) % {mod} <> 0{exist_extra}),
ar AS (SELECT * FROM n WHERE ((vec_id % {mod}) + {mod}) % {mod} = 0),
exb AS (
  SELECT vec_id, band_idx, bv FROM (
    SELECT vec_id, band_idx, bv,
      row_number() OVER (PARTITION BY band_idx, bv ORDER BY vec_id) AS rn
    FROM ({ex_bands})
  ) WHERE rn <= {VEC_BUCKET_CAP}
),
arb AS ({ar_bands}),
cand AS (
  SELECT DISTINCT a.vec_id AS new_id, e.vec_id AS ref_id
  FROM arb a JOIN exb e ON a.band_idx = e.band_idx AND a.bv = e.bv
  WHERE e.vec_id <> a.vec_id
),
scored AS (
  SELECT c.new_id, c.ref_id,
    CAST({_DOT_SQL.format(a="a.vec", b="e.vec")} AS DOUBLE)
      / (SQRT(CAST(a.norm AS DOUBLE)) * SQRT(CAST(e.norm AS DOUBLE))) AS cos
  FROM cand c
  JOIN ar a ON a.vec_id = c.new_id
  JOIN ex e ON e.vec_id = c.ref_id
),
best AS (
  SELECT new_id, ref_id, cos,
    ROW_NUMBER() OVER (PARTITION BY new_id
                       ORDER BY cos DESC, ref_id) AS rk
  FROM scored
)
SELECT new_id AS vec_id, ref_id AS dup_of,
  CAST(ROUND(cos, 6) AS DOUBLE) AS cosine_sim,
  cos >= {NEAR_DUP_COS} AS is_dup
FROM best WHERE rk = 1
"""


SEMANTIC_INCREMENTAL_SQL = _semantic_incremental_sql()

SEMANTIC_TAKEDOWN_SQL = _semantic_incremental_sql(
    exist_extra=(
        f" AND ((vec_id % {TAKEDOWN_VICTIM_MOD}) + {TAKEDOWN_VICTIM_MOD})"
        f" % {TAKEDOWN_VICTIM_MOD} <> 1"
    )
)


@register("semantic_incremental", oracle=SEMANTIC_INCREMENTAL_SQL)
def semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic ingest dedup over the persisted SRP store,
    self-contained for a driver gate: split the embedding corpus
    deterministically (vec_id % SEM_ARRIVING_MOD == 0 is the
    "arriving" wave, the rest the "existing" corpus), build the store
    over the existing slice ONCE per (session, corpus) into a scratch
    path (the ``dedup_incremental`` memoization), and probe the
    arriving wave against it. The oracle (``_semantic_incremental_sql``)
    derives both sides from the embeddings table directly, so the row
    puts write→prune→probe→verify — the whole semantic store path —
    under independent value-hash evidence."""
    return SEMANTIC.probe_arriving(spark, sf_dir, corpus_store_path(spark, sf_dir))


def semantic_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic store's takedown verb under independent value-hash
    evidence — the embedding-space mirror of
    ``dedup_store.dedup_takedown``: build the existing-slice store,
    DELETE the deterministic victim slice through the real
    intent-logged path (touched-bucket re-derivation + vectors swap),
    probe the arriving slice against the post-delete store. The oracle
    (``SEMANTIC_TAKEDOWN_SQL``) derives the same answer with the
    victims excluded from the existing side — it matches iff delete ≡
    rebuild holds on the probed artifacts. LIBRARY op."""
    return SEMANTIC.probe_arriving(
        spark, sf_dir, takedown_store_path(spark, sf_dir)
    )
