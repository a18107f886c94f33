"""Persisted MinHash-LSH dedup store: the write-once/incremental-probe
half of the near-dup story that ``dedup_minhash_lsh`` executes in one
plan and ``minhash_flag_stream`` approximates with a session-persisted
frame ("at 100 TB a bucketed table, here a static frame" — THIS is
that bucketed table).

This module is the MinHash binding of the shared band-store engine
(``band_store.BandStore`` — layout, lifecycle verbs and durability
model are documented there): the row table is ``signatures`` (doc_id,
h0..h{N_PERMS-1}), the band value is ``bh``, bucket membership is
capped at the batch kernel's BUCKET_CAP, and a candidate pair verifies
by signature agreement (``minhash_jaccard_estimate``'s exact-integer
estimator: n_agree/N_PERMS ≥ 1/2 flags ``is_dup``).

Arriving documents compute signatures with the explode+agg form
(``minhash_signatures`` — one wave-sized grouped MIN under whole-stage
codegen; ``foreachBatch`` hands the engine a plain DataFrame, so the
shuffle is legal on the streaming path too, and the in-row form's 12
interpreted array transforms per doc measured 2× the whole probe; the
two forms are value-identical, pytest-pinned in test_streaming_extras).

Reference: the reference has no dedup store (beyond-reference mandate,
SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.functions import storefs
from trisk_spark.functions.band_store import BandStore
from trisk_spark.registry import register
from trisk_spark.functions.dedup import (
    BUCKET_CAP,
    N_BANDS,
    N_PERMS,
    SHINGLES_SQL,
    _BAND_COLS_SQL,
    _SIG_COLS_SQL,
    _XM_SQL,
    minhash_bands,
    minhash_signatures,
)

#: LEGACY bands-table partition fan per band — the read-side default
#: for stores written before fans were derived (new stores persist a
#: corpus-derived fan in ``_n_buckets``; 64 was oversized at small
#: corpora and a constant at 100 TB, where pruning wants more buckets)
N_STORE_BUCKETS = 64

#: signature-agreement floor for is_dup: n_agree/N_PERMS ≥ 1/2 — the
#: estimator's E[agree] = J, so this flags estimated Jaccard ≥ 0.5
DUP_MIN_AGREE = N_PERMS // 2

#: deterministic corpus split for the self-contained registered query:
#: doc_id % MOD == 0 is the "arriving" wave (20%), the rest "existing"
DEDUP_ARRIVING_MOD = 5

#: deterministic victim slice for the self-contained takedown row:
#: EXISTING docs with doc_id % TAKEDOWN_VICTIM_MOD == 1 get deleted
TAKEDOWN_VICTIM_MOD = 17

MAX_DELETE_IDS = storefs.MAX_DELETE_IDS


def _signatures(docs: DataFrame) -> DataFrame:
    return minhash_signatures(docs.where(F.col("doc_id").isNotNull()))


def _agreement(stored: DataFrame, wave: DataFrame):
    """Verify score: the number of agreeing signature positions."""
    ref = stored.select(
        F.col("doc_id").alias("dup_of"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_PERMS)],
    )
    new = wave.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_PERMS)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_PERMS)
    )
    return ref, new, agree.cast("bigint")


def _report():
    n = F.col("b.n_agree")
    return [
        n.alias("n_agree"),
        F.round(n.cast("double") / N_PERMS, 4).alias("est_jaccard"),
        (n >= DUP_MIN_AGREE).alias("is_dup"),
    ]


DEDUP = BandStore(
    label="dedup",
    id_col="doc_id",
    rows_table="signatures",
    band_col="bh",
    n_bands=N_BANDS,
    cap=BUCKET_CAP,
    legacy_fan=N_STORE_BUCKETS,
    rows=_signatures,
    bands=minhash_bands,
    verify=_agreement,
    score_col="n_agree",
    report=_report,
    probe_schema=(
        "doc_id bigint, dup_of bigint, n_agree bigint, "
        "est_jaccard double, is_dup boolean"
    ),
    stats_names=("n_docs", "n_dup_signature_ids", "n_unsigned_band_docs"),
    stats_order=(
        "n_docs", "n_band_rows", "n_buckets", "min_bucket", "max_bucket",
        "avg_bucket", "saturated_buckets", "n_unsigned_band_docs",
        "n_dup_signature_ids",
    ),
    avg_digits=6,
    table="documents",
    arriving_mod=DEDUP_ARRIVING_MOD,
    victim_mod=TAKEDOWN_VICTIM_MOD,
    cache_prefixes=("trisk_dedup_store_", "trisk_takedown_store_"),
)

write_dedup_store = DEDUP.write
probe_dedup_store = DEDUP.probe
append_dedup_store = DEDUP.append
ingest_wave = DEDUP.ingest_wave
dedup_ingest_stream = DEDUP.ingest_stream
dedup_probe_stream = DEDUP.probe_stream
repair_dedup_store = DEDUP.repair
repair_replayed_append = DEDUP.repair_replayed_append
compact_dedup_store = DEDUP.compact
dedup_store_stats = DEDUP.stats
delete_from_dedup_store = DEDUP.delete
resume_pending_delete = DEDUP.resume
corpus_store_path = DEDUP.corpus_store_path
takedown_store_path = DEDUP.takedown_store_path
_bucket = DEDUP.bucket
_store_fan = DEDUP.fan
_routed_buckets_checked = DEDUP._routes
read_ingest_watermark = storefs.read_ingest_watermark


# ------------------------------------------- registered-query image --

def _dedup_incremental_sql(exist_extra: str = "") -> str:
    """DuckDB oracle for ``dedup_incremental``: signatures over the
    whole corpus, the deterministic existing/arriving split, the
    write-time bucket cap on the EXISTING side, arriving-vs-existing
    band collisions, signature-agreement verify, per-arriving-doc
    argmax. Buckets are a partition refinement of bh equality and need
    no mirror here. ``exist_extra`` narrows the EXISTING side with an
    extra predicate — ``dedup_takedown``'s oracle excludes the victim
    slice, so the SAME derivation value-hashes a post-delete store
    (delete ≡ rebuild is what makes the narrowed oracle exact)."""
    mod = DEDUP_ARRIVING_MOD
    capped = ",\n".join(
        f"""capped{b} AS (
  SELECT doc_id, band{b} FROM (
    SELECT doc_id, band{b},
      row_number() OVER (PARTITION BY band{b} ORDER BY doc_id) AS rn
    FROM bands_e)
  WHERE rn <= {BUCKET_CAP})"""
        for b in range(N_BANDS)
    )
    cand = " UNION ALL ".join(
        f"SELECT a.doc_id AS new_id, e.doc_id AS dup_of FROM bands_a a "
        f"JOIN capped{b} e ON a.band{b} = e.band{b}"
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_PERMS)
    )
    return f"""
WITH sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, {_XM_SQL} AS xm FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM xs GROUP BY doc_id),
exist AS (SELECT * FROM sig
          WHERE ((doc_id % {mod}) + {mod}) % {mod} <> 0{exist_extra}),
arrv AS (SELECT * FROM sig WHERE ((doc_id % {mod}) + {mod}) % {mod} = 0),
bands_e AS (SELECT doc_id, {_BAND_COLS_SQL} FROM exist),
bands_a AS (SELECT doc_id, {_BAND_COLS_SQL} FROM arrv),
{capped},
pairs AS (SELECT DISTINCT new_id, dup_of FROM ({cand})),
scored AS (
  SELECT p.new_id, p.dup_of, CAST({matches} AS BIGINT) AS n_agree
  FROM pairs p
  JOIN sig sa ON p.new_id = sa.doc_id
  JOIN sig sb ON p.dup_of = sb.doc_id
),
best AS (
  SELECT new_id, dup_of, n_agree,
    ROW_NUMBER() OVER (PARTITION BY new_id
                       ORDER BY n_agree DESC, dup_of) AS rn
  FROM scored
)
SELECT new_id AS doc_id, dup_of, n_agree,
  CAST(ROUND(CAST(n_agree AS DOUBLE) / {N_PERMS}, 4) AS DOUBLE)
    AS est_jaccard,
  n_agree >= {DUP_MIN_AGREE} AS is_dup
FROM best WHERE rn = 1
"""


DEDUP_INCREMENTAL_SQL = _dedup_incremental_sql()

DEDUP_TAKEDOWN_SQL = _dedup_incremental_sql(
    exist_extra=(
        f" AND ((doc_id % {TAKEDOWN_VICTIM_MOD}) + {TAKEDOWN_VICTIM_MOD})"
        f" % {TAKEDOWN_VICTIM_MOD} <> 1"
    )
)


@register("dedup_incremental", oracle=DEDUP_INCREMENTAL_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup over the persisted store, self-
    contained for the driver gate: split the corpus deterministically
    (doc_id % DEDUP_ARRIVING_MOD == 0 is the "arriving" wave, the rest
    the "existing" corpus), build the store over the existing slice
    ONCE per (session, corpus) into a scratch path (the plan-store
    memoization — repeat calls probe the artifacts, the store
    economics), and probe the arriving wave against it. The oracle
    (``_dedup_incremental_sql``) derives both sides from the corpus
    directly, so the row puts write→prune→probe→verify — the whole
    store path — under independent value-hash evidence. Shares the
    corpus store with the composed ``admission_report``."""
    return DEDUP.probe_arriving(spark, sf_dir, corpus_store_path(spark, sf_dir))


def dedup_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown under independent value-hash evidence: build the
    existing-slice store, DELETE the deterministic victim slice
    through the real ``delete_from_dedup_store`` path (intent,
    touched-bucket re-derivation, signature swap), then probe the
    arriving slice against the post-delete store. The oracle
    (``DEDUP_TAKEDOWN_SQL``) derives the same answer from the corpus
    with the victims EXCLUDED from the existing side — it matches iff
    delete ≡ rebuild holds on the artifacts the probe actually reads,
    so the takedown verb itself sits under the DuckDB hash gate, not
    just pytest equality. LIBRARY op."""
    return DEDUP.probe_arriving(spark, sf_dir, takedown_store_path(spark, sf_dir))
