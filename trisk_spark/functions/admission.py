"""The FULL ingest-admission pipeline over the persisted stores — the
one call a 100 TB document firehose runs per wave: quality gate →
text near-dup probe (MinHash dedup store) → semantic near-dup probe
(SRP semantic store) → ADMIT the survivors into BOTH stores so the
next wave dedups against them. The staged funnel report is the
operational record: per document, which gate dropped it (and against
whom) or that it was admitted.

Every stage is an already-gated kernel composed by id-sized
anti-joins — the quality/token floor is the curation manifest's own
expression (``sampling.MANIFEST_MIN_QUALITY`` /
``MANIFEST_MIN_TOKENS`` over ``text.quality_expr``), the probes are
``dedup_store.probe_dedup_store`` (driver-hash-gated through
``dedup_incremental``) and ``semantic_store.probe_semantic_store``
(library-oracle-gated through ``semantic_incremental``), and the
admissions are the append halves whose append ≡ rebuild contracts are
pytest-pinned per store. The composition is pinned twice over:
tests/test_admission.py (staged semantics, loop closure across waves,
stream ≡ per-wave images, forced-replay guard) AND the self-contained
``admission_report`` library row, whose DuckDB oracle
(``_admission_report_sql``) re-derives the ENTIRE funnel — quality
gate, MinHash store probe, semantic store probe, anti-join chaining —
from the corpus tables in one SQL statement.

Input contract: one (doc_id, source, text, embedding) frame — the
embedding column is the document's parallel embedding (the
``dedup_semantic`` convention: vec_id IS the document id). Documents
whose embedding is NULL/degenerate pass the semantic gate UN-PROBED
(you cannot near-dup-judge what you cannot embed — the gate for those
is the text probe alone) and their vector is simply not admitted to
the semantic store; the embedding-service retry policy is the
caller's.

Reference: the reference has no admission pipeline (beyond-reference
mandate, SURVEY.md §7 step 7); this composes the repo's own stores.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import storefs
from trisk_spark.registry import register
from trisk_spark.streaming.sinks import per_batch
from trisk_spark.functions.dedup import (
    _BAND_COLS_SQL,
    _SIG_COLS_SQL,
    BUCKET_CAP,
    N_BANDS,
    N_PERMS,
    SHINGLES_SQL,
)
from trisk_spark.functions.dedup_store import (
    DEDUP_ARRIVING_MOD,
    DUP_MIN_AGREE,
    append_dedup_store,
    probe_dedup_store,
)
from trisk_spark.functions.dedup_store import (
    corpus_store_path as _dedup_corpus_store_path,
)
from trisk_spark.functions.semantic_store import (
    SEMANTIC,
    _normed as _sem_normed,
    append_semantic_store,
)
from trisk_spark.functions.semantic_store import (
    corpus_store_path as _sem_corpus_store_path,
)
from trisk_spark.functions.similarity import (
    _COS_BAND_SQL,
    _DOT_SQL,
    _SCALED_SQL,
    _VALID_EMB_SQL,
    COS_NB_BANDS,
    NEAR_DUP_COS,
    VEC_BUCKET_CAP,
)

#: Funnel stages, in gate order. 'invalid' = NULL text (nothing to
#: judge — staged, not silently dropped, so the report is a TOTAL
#: accounting of every identifiable document in the wave). Rows with
#: NULL doc_id ARE dropped: a report keyed by doc_id cannot carry
#: them (the one documented exclusion).
STAGES = ("invalid", "quality", "dup_text", "dup_semantic", "admitted")


def _require_no_pending_takedown(
    spark: SparkSession, batch: DataFrame, stores: list[tuple[str, str]]
) -> None:
    """ADMISSION-SIDE TAKEDOWN GUARD (queued in r16, built r17):
    refuse to admit while any target store carries a crashed
    takedown's durable ``_delete_intent``. Re-admitting mid-crash is
    the one ordering the takedown machinery cannot survive: the
    re-driven delete removes whatever its recorded intent ids name —
    including rows this wave just re-admitted — and for the
    partitioned postings stores an append into a bucket whose staged
    delete already COMMITTED is silently lost at the staged swap
    (the staging, not the live directory, becomes that bucket). The
    error names the overlap when the wave actually carries pending
    victims (the id-overlap case the r16 review flagged); a disjoint
    wave fails loud too — the staged-swap hazard is id-independent.
    Repair: finish the takedown (per-store ``resume_pending_delete``,
    or re-drive the composed ``takedown_wave``), then re-admit. Cost
    when no takedown is in flight (always, outside crash recovery):
    one os.path.exists per store, no jobs.

    TWO marker classes are checked per store: the per-store
    ``_delete_intent`` (a crash INSIDE that store's delete) and the
    wave-level ``_takedown_wave_ids`` CSV (r17 review: the per-store
    intents are consumed as each store completes, so a composed
    ``takedown_wave`` crashed BETWEEN stores leaves no intent
    anywhere — the wave marker, written before any store mutates and
    removed after the last, is what survives that window)."""
    import os

    for path, label in stores:
        victims = None
        repair = None
        ipath = f"{storefs.strip_file_scheme(path)}/_delete_intent"
        if os.path.exists(ipath):
            victims = [
                int(r[0]) for r in spark.read.parquet(ipath).collect()
            ]  # id-sized (the takedown driver-literal class)
            repair = (
                " — finish the takedown first (resume_pending_delete "
                "on the store, or re-drive takedown_wave with its id "
                "set), then re-admit"
            )
        else:
            wave = storefs.read_small_text(path, _WAVE_IDS_MARKER)
            if wave is not None:
                victims = [int(x) for x in wave.strip().split(",") if x]
                # r17 second review: every per-store intent is already
                # consumed in this state, so resume_pending_delete is
                # a guaranteed no-op — only the full wave re-drive
                # clears the marker (later stores in the compose order
                # still hold the victims)
                repair = (
                    " — only re-driving the composed wave clears this "
                    "(re-run takedown_wave with exactly the recorded "
                    "id set; per-store resume_pending_delete is a "
                    "no-op here, the per-store intents are already "
                    "consumed and later stores still hold the "
                    "victims), then re-admit"
                )
        if victims is None:
            continue
        overlap = (
            batch.where(F.col("doc_id").isin(victims))
            .select("doc_id")
            .distinct()
            .limit(6)
            .collect()
        )
        ov = sorted(int(r.doc_id) for r in overlap)
        raise RuntimeError(
            f"admission refused: the {label} store ({path}) has a "
            f"PENDING takedown intent for {len(victims)} id(s)"
            + (
                f", {len(ov)}+ of which are IN THIS WAVE "
                f"(first: {ov[:5]})"
                if ov
                else " (disjoint from this wave, but an append into a "
                "staged-delete bucket would be lost at the swap)"
            )
            + repair
        )


def admission_wave(
    spark: SparkSession,
    batch: DataFrame,
    dedup_path: str,
    sem_path: str,
    bm25_path: str | None = None,
) -> DataFrame:
    """Run one wave through the staged admission funnel and ADMIT the
    survivors into both stores. Returns the funnel report —
    (doc_id, stage, dup_of): stage = 'invalid' (NULL text — nothing to
    judge; dup_of NULL), 'quality' (failed the manifest quality/token
    floor; dup_of NULL), 'dup_text' (MinHash-store probe flagged
    is_dup; dup_of = the store document), 'dup_semantic'
    (semantic-store probe flagged is_dup on a text-surviving doc;
    dup_of = the store vector), or 'admitted'. The report is a TOTAL
    accounting of the wave's identifiable documents (rows with NULL
    doc_id are the one documented drop — a doc_id-keyed report cannot
    carry them). The report is
    materialized BEFORE the appends (the ``ingest_wave`` rule: it
    describes the store the wave was judged against, not the store it
    changed). Within-wave duplicates are admitted together this wave
    and collide from the next wave on — the documented batch-boundary
    semantics of every ingest gate here.

    ``bm25_path`` (opt-in) additionally indexes every admitted
    document into the BM25 postings store — admitted ⇒ lexically
    retrievable (``retrieval.hybrid_store_probe``'s serving side)
    without a separate indexing pipeline re-reading the corpus. The
    index is an EFFECT, never a gate: verdicts and the report are
    byte-identical with or without it, so the ``admission_report``
    oracle is unaffected.

    ADMISSION-SIDE TAKEDOWN GUARD (the r16-queued r17 hardening): a
    wave refuses to run while any target store carries a crashed
    takedown's durable ``_delete_intent`` — re-admitting mid-crash is
    the one ordering the takedown protocol cannot survive (see
    ``_require_no_pending_takedown``)."""
    stores = [(dedup_path, "dedup"), (sem_path, "semantic")]
    if bm25_path is not None:
        stores.append((bm25_path, "bm25"))
    _require_no_pending_takedown(spark, batch, stores)
    report, s2 = _admission_verdicts(spark, batch, dedup_path, sem_path)
    append_dedup_store(spark, s2.select("doc_id", "text"), dedup_path)
    append_semantic_store(
        spark, s2.select(F.col("doc_id").alias("vec_id"), "embedding"), sem_path
    )
    if bm25_path is not None:
        from trisk_spark.functions.bm25_store import append_bm25_store

        append_bm25_store(spark, s2.select("doc_id", "text"), bm25_path)
    return report


def _admission_verdicts(
    spark: SparkSession,
    batch: DataFrame,
    dedup_path: str,
    sem_path: str,
) -> tuple[DataFrame, DataFrame]:
    """The probe-only funnel: (report, survivors) for one wave judged
    against the two stores — no writes. ``admission_wave`` appends the
    survivors afterwards; the read-only ``admission_report`` library
    row returns just the report (a repeat call must not mutate the
    memoized stores it probes)."""
    from trisk_spark.functions.sampling import (
        MANIFEST_MIN_QUALITY,
        MANIFEST_MIN_TOKENS,
    )
    from trisk_spark.functions.text import quality_expr

    keyed = batch.where(F.col("doc_id").isNotNull()).localCheckpoint(
        eager=False
    )
    invalid = keyed.where(F.col("text").isNull()).select(
        "doc_id", F.lit("invalid").alias("stage"),
        F.lit(None).cast("bigint").alias("dup_of"),
    )
    base = keyed.where(F.col("text").isNotNull())
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    q = base.select(
        "doc_id",
        "text",
        "embedding",
        (
            (F.size(ws) >= MANIFEST_MIN_TOKENS)
            & (
                F.coalesce(quality_expr("text"), F.lit(0.0))
                >= MANIFEST_MIN_QUALITY
            )
        ).alias("q_ok"),
    )
    s0 = q.where(F.col("q_ok")).localCheckpoint(eager=False)
    quality_rej = q.where(~F.col("q_ok")).select(
        "doc_id", F.lit("quality").alias("stage"),
        F.lit(None).cast("bigint").alias("dup_of"),
    )

    # OVERLAP (r18, guide §2.6; VERDICT #6): the two probes are
    # sequential BY DATA DEPENDENCY (the semantic probe consumes the
    # text probe's survivors s1), but the semantic side's WAVE-NORM
    # pass only needs the embeddings — so norm the PRE-text-probe
    # superset s0 on a driver thread while the text probe's jobs run,
    # then filter the normed superset to s1 (row-wise kernel, so
    # filter-after-norm ≡ norm-after-filter, value-identical). The
    # extra normed rows are the text-flagged docs — wave-bounded.
    # Both concurrent jobs consume the LAZY s0 checkpoint; Spark's
    # checkpoint state transitions are synchronized, so the worst case
    # is the cheap quality-gate lineage computed once per job, never
    # corruption. The pre-append report barrier below stays EAGER. An
    # InheritableThread carries the caller's job group and description
    # over to the overlapped job.
    from pyspark import InheritableThread

    _norm_box: dict = {}

    def _norm_superset() -> None:
        try:
            # EAGER: this checkpoint IS the overlapped job
            _norm_box["df"] = _sem_normed(
                s0.select(F.col("doc_id").alias("vec_id"), "embedding")
            ).localCheckpoint()
        except BaseException as e:  # noqa: BLE001 — re-raised at join
            _norm_box["err"] = e

    _t = InheritableThread(_norm_superset, daemon=True)
    _t.start()
    try:
        rep_t = probe_dedup_store(
            spark, s0.select("doc_id", "text"), dedup_path
        ).localCheckpoint(eager=False)
        flagged_t = rep_t.where(F.col("is_dup")).select("doc_id", "dup_of")
        s1 = s0.join(
            F.broadcast(flagged_t.select("doc_id")), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
    finally:
        _t.join()
    if "err" in _norm_box:
        raise _norm_box["err"]
    sem_wave = _norm_box["df"].join(
        F.broadcast(
            flagged_t.select(F.col("doc_id").alias("vec_id"))
        ),
        "vec_id",
        "left_anti",
    )
    # the wave is already in the store's row layout (normed above,
    # filtered to the text survivors): probe past the rows hook
    rep_s = SEMANTIC.probe_rows(spark, sem_wave, sem_path).localCheckpoint(
        eager=False
    )
    flagged_s = rep_s.where(F.col("is_dup")).select(
        F.col("vec_id").alias("doc_id"), "dup_of"
    )
    s2 = s1.join(
        F.broadcast(flagged_s.select("doc_id")), "doc_id", "left_anti"
    ).localCheckpoint(eager=False)

    report = (
        invalid
        .unionByName(quality_rej)
        .unionByName(
            flagged_t.select(
                "doc_id", F.lit("dup_text").alias("stage"), "dup_of"
            )
        )
        .unionByName(
            flagged_s.select(
                "doc_id", F.lit("dup_semantic").alias("stage"), "dup_of"
            )
        )
        .unionByName(
            s2.select(
                "doc_id", F.lit("admitted").alias("stage"),
                F.lit(None).cast("bigint").alias("dup_of"),
            )
        )
        # EAGER on purpose (the one checkpoint job this funnel keeps):
        # materializing here is the pre-append barrier — admission_wave
        # mutates the stores right after, and a lazily-cached report
        # re-computed post-append would probe the wrong store state.
        # The six intermediates above are LAZY: each is materialized as
        # a side effect of this job (or the probes' routing collects),
        # so the funnel stops paying six extra per-job scheduling
        # floors (r17 A/B: ~6.1 -> ~5.1 s warm, rows identical).
        .localCheckpoint()
    )
    return report, s2


def _intent_path(dedup_path: str, batch_id: int) -> str:
    """The batch's durable intent directory, beside the dedup store
    (the path the composed watermark already lives at)."""
    return (
        f"{storefs.strip_file_scheme(dedup_path)}/_admission_intent_{batch_id}"
    )


def admission_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    dedup_path: str,
    sem_path: str,
    sink,
    bm25_path: str | None = None,
):
    """CONTINUOUS admission — ``admission_wave`` per micro-batch, made
    EXACTLY-ONCE across every crash window by a durable INTENT LOG on
    top of the store-family batch-id watermark:

      probe (read-only) → write the funnel report ATOMICALLY beside
      the dedup store (``_admission_intent_<batch_id>``: tmp dir +
      rename) → append dedup → append semantic → watermark → drop the
      intent → sink.

    Replay semantics by crash point:

      * BEFORE the intent rename: nothing landed (probes are
        read-only) — the replayed batch re-probes pristine stores,
        the normal path;
      * AFTER the intent, anywhere up to the watermark — including
        BETWEEN the two appends, the window where a naive replay
        would let within-wave near-dup groups cross-flag against
        their own first-attempt dedup-store admissions and
        permanently lose their semantic vectors (r13 ADVICE): the
        replayed batch does NOT re-probe; it re-drives both appends
        from the recorded verdicts, each behind a store-membership
        anti-join, so first-attempt admissions never double-append,
        missing ones land, and the sink receives the FIRST attempt's
        report;
      * AFTER the watermark: the batch is skipped entirely (the sink
        already saw, or chose to drop, that batch id — sinks needing
        redelivery keep their own batch-id ledger).

    The membership anti-joins run ONLY on the replay path: the happy
    path stays two probes + two appends + one report-sized intent
    write, and a recovery replay pays one id-column scan per store
    row table. Sink contract as the single-store streams: fully
    materialize inside the call. Returns the ``DataStreamWriter``
    ready to ``.start()``.

    ``bm25_path`` (opt-in, the ``admission_wave`` contract) makes the
    BM25 postings store a THIRD append under the SAME intent/watermark
    protocol: on replay its anti-join runs on the store's doclens ids
    (a document is indexed ⇔ its doclens row landed). A crash INSIDE
    ``append_bm25_store`` (postings landed, doclens not) is that
    store's own documented window — ``bm25_store_stats`` detects it
    (``n_dup_postings``) and ``repair_replayed_append`` repairs,
    exactly as the dedup store's internal bands-first window is
    handled by ITS stats/repair rather than re-described here."""
    storefs.require_rename_fs(dedup_path, "admission_stream")
    storefs.require_rename_fs(sem_path, "admission_stream")
    if bm25_path is not None:
        storefs.require_rename_fs(bm25_path, "admission_stream")

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # the admission-side takedown guard covers the stream's
        # own append paths too (fresh AND replay re-drive): a
        # crashed takedown must be finished before any admission
        # append touches its store (one exists() per store per
        # batch when nothing is pending)
        stores = [(dedup_path, "dedup"), (sem_path, "semantic")]
        if bm25_path is not None:
            stores.append((bm25_path, "bm25"))
        _require_no_pending_takedown(spark, batch_df, stores)
        ipath = _intent_path(dedup_path, batch_id)
        if os.path.exists(ipath):
            # replay past a recorded intent: re-drive the appends
            # from the first attempt's verdicts — never re-probe a
            # store some of the wave already landed in
            report = spark.read.parquet(ipath).localCheckpoint()
            admitted = report.where(
                F.col("stage") == "admitted"
            ).select("doc_id")
            s2 = (
                batch_df.where(
                    F.col("doc_id").isNotNull()
                    & F.col("text").isNotNull()
                )
                .join(F.broadcast(admitted), "doc_id", "left_semi")
                .localCheckpoint()
            )
            sig_ids = spark.read.parquet(
                f"{dedup_path}/signatures"
            ).select("doc_id")
            append_dedup_store(
                spark,
                s2.select("doc_id", "text").join(
                    sig_ids, "doc_id", "left_anti"
                ),
                dedup_path,
            )
            vec_ids = spark.read.parquet(
                f"{sem_path}/vectors"
            ).select("vec_id")
            append_semantic_store(
                spark,
                s2.select(
                    F.col("doc_id").alias("vec_id"), "embedding"
                ).join(vec_ids, "vec_id", "left_anti"),
                sem_path,
            )
            if bm25_path is not None:
                from trisk_spark.functions.bm25_store import (
                    append_bm25_store,
                )

                indexed = spark.read.parquet(
                    f"{bm25_path}/doclens"
                ).select("doc_id")
                append_bm25_store(
                    spark,
                    s2.select("doc_id", "text").join(
                        indexed, "doc_id", "left_anti"
                    ),
                    bm25_path,
                )
        else:
            report, s2 = _admission_verdicts(
                spark, batch_df, dedup_path, sem_path
            )
            tmp = ipath + "_tmp"
            report.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, ipath)
            append_dedup_store(
                spark, s2.select("doc_id", "text"), dedup_path
            )
            append_semantic_store(
                spark,
                s2.select(F.col("doc_id").alias("vec_id"), "embedding"),
                sem_path,
            )
            if bm25_path is not None:
                from trisk_spark.functions.bm25_store import (
                    append_bm25_store,
                )

                append_bm25_store(
                    spark, s2.select("doc_id", "text"), bm25_path
                )
        return report

    def done(report: DataFrame, batch_id: int) -> None:
        # after the watermark and before the sink: the intent is only
        # dropped once a replay would skip the batch entirely
        shutil.rmtree(_intent_path(dedup_path, batch_id), ignore_errors=True)
        sink(report, batch_id)

    return per_batch(docs_stream, stage, done, watermark=dedup_path)


# ------------------------------------------- self-contained oracle --


def _admission_report_sql() -> str:
    """DuckDB oracle for ``admission_report``: the ENTIRE funnel in
    one statement — the manifest quality/token gate on the arriving
    slice, the MinHash store probe (the ``_dedup_incremental_sql``
    chain with its arriving side restricted to quality survivors), the
    semantic store probe (the ``_semantic_incremental_sql`` chain
    restricted to text survivors), and the anti-join staging. Both
    MODs are the shared arriving split; store-side caps mirror the
    write-time caps. Buckets are partition refinements and need no
    mirror."""
    from trisk_spark.functions.sampling import (
        MANIFEST_MIN_QUALITY,
        MANIFEST_MIN_TOKENS,
    )
    from trisk_spark.functions.semantic_store import SEM_ARRIVING_MOD
    from trisk_spark.functions.text import quality_sql

    # one `mod` drives both probes' splits below — fail the import,
    # not the hash gate, if the two store constants ever diverge
    # (an explicit raise, not an assert: `python -O` strips asserts
    # and a divergence would then silently split the oracle's
    # semantic side on the wrong mod — r13 ADVICE)
    if SEM_ARRIVING_MOD != DEDUP_ARRIVING_MOD:
        raise ValueError(
            "admission oracle needs SEM_ARRIVING_MOD == "
            f"DEDUP_ARRIVING_MOD (got {SEM_ARRIVING_MOD} != "
            f"{DEDUP_ARRIVING_MOD}): one arriving split drives both "
            "store probes"
        )
    mod = DEDUP_ARRIVING_MOD
    tcapped = ",\n".join(
        f"""tcapped{b} AS (
  SELECT doc_id, band{b} FROM (
    SELECT doc_id, band{b},
      row_number() OVER (PARTITION BY band{b} ORDER BY doc_id) AS rn
    FROM tbands_e)
  WHERE rn <= {BUCKET_CAP})"""
        for b in range(N_BANDS)
    )
    tcand = " UNION ALL ".join(
        f"SELECT a.doc_id AS new_id, e.doc_id AS dup_of FROM tbands_a a "
        f"JOIN tcapped{b} e ON a.band{b} = e.band{b}"
        for b in range(N_BANDS)
    )
    tmatches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_PERMS)
    )
    sex_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_COS_BAND_SQL[b]} AS bv FROM sex"
        for b in range(COS_NB_BANDS)
    )
    sar_bands = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_COS_BAND_SQL[b]} AS bv FROM sar"
        for b in range(COS_NB_BANDS)
    )
    return f"""
WITH adocs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
    AND ((doc_id % {mod}) + {mod}) % {mod} = 0
),
agate AS (
  SELECT doc_id,
    (len(ws) >= {MANIFEST_MIN_TOKENS} AND COALESCE(
       CASE WHEN len(ws) > 0 THEN
         {quality_sql()}
       END, 0.0) >= {MANIFEST_MIN_QUALITY}) AS q_ok
  FROM (SELECT doc_id, text,
          list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM adocs)
),
s0 AS (SELECT doc_id FROM agate WHERE q_ok),
sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, shingle AS xm FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM xs GROUP BY doc_id),
texist AS (SELECT * FROM sig
           WHERE ((doc_id % {mod}) + {mod}) % {mod} <> 0),
tarrv AS (SELECT g.* FROM sig g JOIN s0 ON g.doc_id = s0.doc_id),
tbands_e AS (SELECT doc_id, {_BAND_COLS_SQL} FROM texist),
tbands_a AS (SELECT doc_id, {_BAND_COLS_SQL} FROM tarrv),
{tcapped},
tpairs AS (SELECT DISTINCT new_id, dup_of FROM ({tcand})),
tscored AS (
  SELECT p.new_id, p.dup_of, CAST({tmatches} AS BIGINT) AS n_agree
  FROM tpairs p
  JOIN sig sa ON p.new_id = sa.doc_id
  JOIN sig sb ON p.dup_of = sb.doc_id
),
tbest AS (
  SELECT new_id, dup_of, n_agree,
    ROW_NUMBER() OVER (PARTITION BY new_id
                       ORDER BY n_agree DESC, dup_of) AS rn
  FROM tscored
),
tflag AS (SELECT new_id AS doc_id, dup_of FROM tbest
          WHERE rn = 1 AND n_agree >= {DUP_MIN_AGREE}),
s1 AS (SELECT doc_id FROM s0
       WHERE doc_id NOT IN (SELECT doc_id FROM tflag)),
vsc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
vn AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM vsc
  ) WHERE norm > 0
),
sex AS (SELECT * FROM vn
        WHERE ((vec_id % {mod}) + {mod}) % {mod} <> 0),
sar AS (SELECT vn.* FROM vn JOIN s1 ON vn.vec_id = s1.doc_id),
exb AS (
  SELECT vec_id, band_idx, bv FROM (
    SELECT vec_id, band_idx, bv,
      row_number() OVER (PARTITION BY band_idx, bv ORDER BY vec_id) AS rn
    FROM ({sex_bands})
  ) WHERE rn <= {VEC_BUCKET_CAP}
),
arb AS ({sar_bands}),
scand AS (
  SELECT DISTINCT a.vec_id AS new_id, e.vec_id AS ref_id
  FROM arb a JOIN exb e ON a.band_idx = e.band_idx AND a.bv = e.bv
  WHERE e.vec_id <> a.vec_id
),
sscored AS (
  SELECT c.new_id, c.ref_id,
    CAST({_DOT_SQL.format(a="a.vec", b="e.vec")} AS DOUBLE)
      / (SQRT(CAST(a.norm AS DOUBLE)) * SQRT(CAST(e.norm AS DOUBLE))) AS cos
  FROM scand c
  JOIN sar a ON a.vec_id = c.new_id
  JOIN sex e ON e.vec_id = c.ref_id
),
sbest AS (
  SELECT new_id, ref_id, cos,
    ROW_NUMBER() OVER (PARTITION BY new_id
                       ORDER BY cos DESC, ref_id) AS rk
  FROM sscored
),
sflag AS (SELECT new_id AS doc_id, ref_id AS dup_of FROM sbest
          WHERE rk = 1 AND cos >= {NEAR_DUP_COS}),
s2 AS (SELECT doc_id FROM s1
       WHERE doc_id NOT IN (SELECT doc_id FROM sflag))
SELECT doc_id, 'invalid' AS stage, CAST(NULL AS BIGINT) AS dup_of
FROM documents
WHERE doc_id IS NOT NULL AND text IS NULL
  AND ((doc_id % {mod}) + {mod}) % {mod} = 0
UNION ALL SELECT doc_id, 'quality' AS stage, CAST(NULL AS BIGINT) AS dup_of
FROM agate WHERE NOT q_ok
UNION ALL SELECT doc_id, 'dup_text' AS stage, dup_of FROM tflag
UNION ALL SELECT doc_id, 'dup_semantic' AS stage, dup_of FROM sflag
UNION ALL SELECT doc_id, 'admitted' AS stage, CAST(NULL AS BIGINT) AS dup_of
FROM s2
"""


@register("admission_report", oracle=_admission_report_sql())
def admission_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed admission funnel as a self-contained, READ-ONLY
    driver row (SEATED r15 — the executed R15 trade): the corpus's
    arriving slice (doc_id % MOD == 0, the
    shared split of ``dedup_incremental`` / ``semantic_incremental``),
    LEFT-joined with its parallel embeddings (documents without one
    take the documented un-probed semantic path), judged against the
    session-memoized existing-slice stores — which this row SHARES
    with the two incremental ops (``corpus_store_path`` on each side),
    so the library parity pass builds each store once. No appends: a
    repeat call must not mutate the stores it probes. The oracle
    (``_admission_report_sql``) re-derives the whole funnel from the
    corpus tables, putting the quality gate, BOTH store probes, and
    the anti-join staging under one value-hash."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    arriving_docs = docs.where(
        F.pmod(F.col("doc_id"), F.lit(DEDUP_ARRIVING_MOD)) == 0
    ).select("doc_id", "text")
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    arriving = arriving_docs.join(emb, "doc_id", "left")
    report, _s2 = _admission_verdicts(
        spark,
        arriving,
        _dedup_corpus_store_path(spark, sf_dir),
        _sem_corpus_store_path(spark, sf_dir),
    )
    return report


ADMISSION_REPORT_SQL = _admission_report_sql()


def ack_pre_sequence_takedown(gram_path: str) -> None:
    """Migration acknowledgement for gram stores carrying PRE-SEQUENCE
    (r15-era) takedown tombstones: records the durable store-wide
    ``_pre_sequence_ack`` marker — after it, the migration guard
    treats every LEGACY (bare-digest) tombstone as belonging to a
    COMPLETED pre-upgrade takedown, so a re-admitted id set's next
    wave allocates a fresh salted sequence and subtracts. Call this
    ONLY once every crashed pre-upgrade wave has been finished (their
    gram subtraction already landed, so finishing means running the
    row-store deletes directly); acking with a legacy wave still
    crashed converts its later re-drive into a double subtraction.
    The sequence counter is RAISED to at least 1 and never lowered
    (r16 review: an unconditional rewrite could regress a live
    counter and recycle landed tombstone ids). A pending POST-upgrade
    wave intent fails loud first (r16 ADVICE): acking while a
    sequenced wave is mid-crash is operationally ambiguous — that
    wave must be re-driven to completion (re-run ``takedown_wave``
    with its id set) before the store-wide legacy ack is recorded."""
    storefs.require_rename_fs(gram_path, "ack_pre_sequence_takedown")
    intent = storefs.read_small_text(gram_path, _GRAM_INTENT)
    if intent is not None:
        raise RuntimeError(
            "ack_pre_sequence_takedown: a takedown-wave intent "
            f"({intent.split()[0]}) is pending beside the gram store "
            f"({gram_path}) — re-drive that wave to completion (re-run "
            "takedown_wave with its id set) before acking the "
            "pre-sequence migration; acking mid-crash would blur which "
            "machinery owns the in-flight subtraction"
        )
    cur = storefs.read_small_text(gram_path, _GRAM_SEQ)
    completed = int(cur.strip()) if cur else 0
    storefs.write_small_text(gram_path, _GRAM_SEQ, str(max(completed, 1)))
    storefs.write_small_text(gram_path, _GRAM_ACK, "acked")


#: durable small-file names beside the gram store (the storefs
#: small-text protocol): last completed sequence number, the in-flight
#: wave intent ("<digest> <seq>"), the completed-wave digest ledger
#: (newline-separated), and the store-wide pre-sequence ack marker.
_GRAM_SEQ = "_takedown_seq"
_GRAM_INTENT = "_takedown_wave_intent"
_GRAM_LEDGER = "_takedown_digests"
_GRAM_ACK = "_pre_sequence_ack"

#: durable WAVE-LEVEL takedown marker beside the DEDUP store (the
#: wave's first mandatory store): the victim id CSV, written before
#: any store of a ``takedown_wave`` mutates and removed only after
#: the LAST store completes. Exists so a wave crashed BETWEEN stores
#: — where every per-store ``_delete_intent`` is already consumed —
#: still leaves a durable record the admission-side guard can see
#: (r17 review: without it, mid-crash re-admission was admitted
#: cleanly and then silently erased by the re-drive).
_WAVE_IDS_MARKER = "_takedown_wave_ids"


def _gram_wave_digest(ids: list[int]) -> str:
    import hashlib

    return hashlib.md5(",".join(str(i) for i in ids).encode()).hexdigest()


def _begin_gram_takedown(
    spark: SparkSession,
    gram_path: str,
    ids: list[int],
    legacy_subsets: list[list[int]] | None = None,
) -> int:
    """Durably allocate (or re-read) the takedown-sequence number for
    this wave — the machinery that lets ``takedown_wave`` take the
    SAME id set down twice legitimately (victims re-admitted after a
    prior takedown) with no caller-side bookkeeping, while keeping
    crash re-drives exactly-once (r15 ADVICE).

    Durable records beside the moment store (all via the storefs
    small-text protocol): ``_takedown_seq`` (last COMPLETED sequence
    number), ``_takedown_wave_intent`` (the in-flight wave's
    ``"<ids-digest> <seq>"``), and ``_takedown_digests`` (one digest
    line per wave COMPLETED through this machinery — the per-id-set
    evidence the migration guard keys on).

    A fresh wave allocates seq = completed + 1 and records the intent
    BEFORE any store mutates; a re-driven wave (crash anywhere in the
    compose chain) finds its own intent — digest match — and REUSES
    the recorded seq, so the gram tombstone derivation is identical
    and the landed-check no-ops the subtraction. A pending intent for
    a DIFFERENT id set fails loud: silently interleaving two waves
    would let the second allocate the first's seq after its crash.

    PRE-SEQUENCE MIGRATION GUARD (r16 review, both findings): seq=1's
    tombstone is byte-identical to the r15-era bare-CSV digest
    (deliberately, so a crashed pre-upgrade wave re-driven here
    converges). The hazard is an id set whose PRE-upgrade takedown
    COMPLETED and whose victims were re-admitted: a bare-aliasing
    tombstone would silently skip the subtraction. The two histories
    are indistinguishable from store state, so a fresh wave whose
    bare tombstone is LANDED fails loud UNLESS (a) this exact id
    set's digest is in the completion ledger (it went through THIS
    machinery — its landed tombstone is accounted for and the new
    seq is salted), or (b) the operator recorded the store-wide
    pre-sequence ack. Keying on the ledger rather than on "counter
    == 0" keeps the guard armed for a crashed legacy wave of set A
    even after unrelated post-upgrade waves bump the counter.

    EVERY deployed legacy derivation is checked (r16 ADVICE medium +
    r17 review): the full-id-set bare digest, the EMBEDDED-SUBSET
    digest (the r15-end ``takedown_wave`` handed the ``wave_id=None``
    path victim_emb filtered only by ids, and that path — still live
    in gram_store.py — digests over the frame's distinct non-null
    vec_ids, so a wave whose victims were not all embedded landed
    under the subset CSV), and the MEMBERSHIP-GATED subset digest
    (the mid-r15 f9ef826 version additionally intersected with the
    semantic store's vectors table). Missing any one would let a
    crashed pre-upgrade re-drive allocate seq=1 under a different
    digest and double-subtract. ``legacy_subsets`` carries the
    subset candidates — collected by the caller before any store
    mutates; only digests DISTINCT from the full set add
    candidates."""
    digest = _gram_wave_digest(ids)
    intent = storefs.read_small_text(gram_path, _GRAM_INTENT)
    if intent is not None:
        rec_digest, rec_seq = intent.split()
        if rec_digest != digest:
            raise RuntimeError(
                "takedown_wave: a pending takedown-wave intent for a "
                "DIFFERENT victim id set exists beside the gram store "
                f"({gram_path}) — re-drive that wave to completion "
                "first (re-run takedown_wave with its id set), then "
                "start this one"
            )
        return int(rec_seq)
    cur = storefs.read_small_text(gram_path, _GRAM_SEQ)
    completed = int(cur.strip()) if cur else 0
    ledger = storefs.read_small_text(gram_path, _GRAM_LEDGER) or ""
    acked = storefs.read_small_text(gram_path, _GRAM_ACK) is not None
    if digest not in ledger.split() and not acked:
        from trisk_spark.functions.gram_store import tombstone_wave_id

        bares = {tombstone_wave_id(ids, 1)}
        for subset in legacy_subsets or ():
            # the r15-era subset derivations (see docstring) — a
            # nonempty subset adds its candidate; duplicates collapse
            # in the set
            if subset:
                bares.add(tombstone_wave_id(subset, 1))
        landed = (
            spark.read.parquet(f"{gram_path}/partials")
            .where(F.col("wave_id").isin(sorted(bares)))
            .limit(1)
            .count()
            > 0
        )
        if landed:
            raise RuntimeError(
                "takedown_wave: a PRE-SEQUENCE (r15-era) tombstone for "
                "exactly this victim id set is landed in the gram store "
                f"({gram_path}) with no completion-ledger entry, so "
                "this wave cannot tell a crashed pre-upgrade re-drive "
                "(subtraction already done — finish the row-store "
                "deletes directly, then ack) from a completed takedown "
                "whose victims were re-admitted (ack first, then re-run "
                "this wave: it will subtract under a fresh sequence). "
                "Ack = admission.ack_pre_sequence_takedown(gram_path)."
            )
    seq = completed + 1
    storefs.write_small_text(gram_path, _GRAM_INTENT, f"{digest} {seq}")
    return seq


def _complete_gram_takedown(gram_path: str, seq: int, ids: list[int]) -> None:
    """Mark the wave complete, in replay-safe order: append the wave's
    digest to the completion ledger FIRST (the migration guard's
    per-id-set evidence), then raise the completed-sequence counter
    (never lower it), then drop the intent. A crash between any two
    steps re-drives into all-no-ops and re-runs this tail — every
    step is idempotent (set-union append, monotone counter, tolerated
    missing intent).

    LEDGER GROWTH (r16 ADVICE, documented rather than compacted):
    the digest ledger gains one 32-char md5 line per takedown wave
    ever COMPLETED and is read/rewritten whole here — bounded by the
    number of takedowns, not by corpus size (takedowns are rare
    operational events; 10⁴ waves ≈ 330 KB). It must NOT be folded
    into the store-wide ack marker during compaction: the ack asserts
    "every PRE-upgrade wave finished", which a mechanical compaction
    cannot know, while the per-id-set lines are exactly what lets the
    guard distinguish a crashed legacy wave from a completed sequenced
    one after any number of unrelated waves."""
    digest = _gram_wave_digest(ids)
    ledger = storefs.read_small_text(gram_path, _GRAM_LEDGER) or ""
    entries = ledger.split()
    if digest not in entries:
        entries.append(digest)
        storefs.write_small_text(
            gram_path, _GRAM_LEDGER, "\n".join(entries)
        )
    cur = storefs.read_small_text(gram_path, _GRAM_SEQ)
    completed = int(cur.strip()) if cur else 0
    storefs.write_small_text(
        gram_path, _GRAM_SEQ, str(max(completed, int(seq)))
    )
    try:
        os.remove(
            f"{storefs.strip_file_scheme(gram_path)}/{_GRAM_INTENT}"
        )
    except FileNotFoundError:
        pass


def takedown_wave(
    spark: SparkSession,
    doc_ids,
    dedup_path: str,
    sem_path: str,
    bm25_path: str | None = None,
    gram_path: str | None = None,
    victim_emb: DataFrame | None = None,
    phrase_path: str | None = None,
) -> None:
    """UN-ADMIT: remove documents from every store the admission loop
    maintains — the right-to-be-forgotten counterpart of
    ``admission_wave``. Composes the per-store takedown verbs
    (``delete_from_dedup_store`` / ``delete_from_semantic_store`` /
    ``delete_from_bm25_store`` / ``delete_from_phrase_store`` /
    ``delete_from_gram_store``), each
    individually crash-safe behind its own durable ``_delete_intent``
    and per-store ``resume_pending_delete``; a crash between stores
    leaves earlier stores clean and later ones untouched — re-running
    the same takedown converges (each row-store delete is a replay
    no-op once its victims are gone). Deleted documents become
    RE-ADMITTABLE: the next wave probes stores that no longer know
    them — the documented takedown semantics (a tombstone that blocks
    re-admission is a different, caller-side policy).

    ``phrase_path`` (opt-in, r17 — the positional postings store):
    clears the victims' phrase postings through
    ``delete_from_phrase_store``'s staged-partition protocol, ordered
    with the other row stores (after bm25, before the gram
    completion marker) so a crash mid-wave leaves earlier stores
    clean and the re-drive converges.

    ``gram_path`` (opt-in, closing the r14 VERDICT's moment-store gap)
    additionally subtracts the victims' second moments from a
    maintained PCA/outlier moment store. Moments are aggregates, so
    ids alone cannot re-derive what to subtract: the caller supplies
    ``victim_emb`` — the victims' original (vec_id, embedding) rows
    (fail-loud if omitted). Whole-wave re-run convergence for the
    AGGREGATE store cannot ride row membership (the first design here
    gated on the semantic store's vectors table, which is wrong in
    both crash directions: a crash between the gram delete and the
    sem delete re-runs into a double subtraction, and reading
    membership before the sem delete then crashing after it re-runs
    into NO subtraction) — it rides ``delete_from_gram_store``'s
    deterministic victim-set tombstone instead: the same id set AND
    the same takedown-sequence number map to the same tombstone
    wave_id, so a re-driven wave finds it already landed and no-ops.
    Taking the SAME ids down a second time after re-admission needs
    NO caller-side bookkeeping (r15 ADVICE closed): the wave
    allocates a fresh sequence number from a durable per-gram-store
    counter (``_begin_gram_takedown`` — intent recorded by rename
    BEFORE any store mutates, counter bumped on completion), so a
    genuine second takedown derives a fresh tombstone and subtracts,
    while a crash re-drive re-reads its own intent's sequence and
    converges. The fresh sequence is made safe against SPURIOUS
    re-runs (same ids, never re-admitted) by gating the subtraction
    set on current dedup-store membership — read once, before any
    store of the wave mutates, which is the one place a membership
    read is crash-clean (re-drives are governed by the recorded
    intent and the landed tombstone, never by re-reading
    membership). A pending wave intent for a different id set fails
    loud rather than interleave."""
    from trisk_spark.functions.bm25_store import delete_from_bm25_store
    from trisk_spark.functions.dedup_store import delete_from_dedup_store
    from trisk_spark.functions.phrase_store import delete_from_phrase_store
    from trisk_spark.functions.gram_store import (
        delete_from_gram_store,
        tombstone_wave_id,
    )
    from trisk_spark.functions.semantic_store import (
        delete_from_semantic_store,
    )

    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return
    if len(ids) > storefs.MAX_DELETE_IDS:
        # preflight BEFORE any store mutates: the per-store deletes
        # enforce the same ceiling, but only after earlier stores in
        # the compose order have already been modified
        raise ValueError(
            f"takedown wave of {len(ids)} ids exceeds "
            f"{storefs.MAX_DELETE_IDS} — split it; the id set is a "
            "driver-held literal by design"
        )
    # WAVE-LEVEL durable marker (r17 review): the per-store intents
    # vanish as each store completes, so a crash BETWEEN stores left
    # nothing for the admission guard to key on. The DIFFERENT-wave
    # check runs here (read-only), but the marker itself is written
    # only AFTER every preflight below passes — a pure validation
    # failure (victim_emb missing/uncovering, object-store path, a
    # pending legacy tombstone, an interleaved gram intent) must not
    # strand a marker that wedges all admission and every other
    # takedown (the r17 second-review finding; the marker exists to
    # record a wave that may have started MUTATING, and the first
    # mutation is the gram delete / dedup delete below).
    storefs.require_rename_fs(dedup_path, "takedown_wave")
    ids_csv = ",".join(str(i) for i in ids)
    marker = storefs.read_small_text(dedup_path, _WAVE_IDS_MARKER)
    if marker is not None and marker.strip() != ids_csv:
        prev = marker.strip().split(",")
        raise RuntimeError(
            "takedown_wave: a pending takedown wave for a DIFFERENT "
            f"victim id set ({len(prev)} id(s), first: {prev[:5]}) is "
            f"recorded beside the dedup store ({dedup_path}) — re-drive "
            "that wave to completion first (re-run takedown_wave with "
            "its recorded id set), then start this one"
        )
    seq = None
    gram_sub = None  # the subtraction set, decided before the marker
    if gram_path is not None:
        if victim_emb is None:
            raise ValueError(
                "takedown_wave: gram_path given without victim_emb — the "
                "moment store needs the victims' original embedding rows "
                "to subtract (moments are aggregates; ids alone cannot "
                "re-derive them)"
            )
        storefs.require_rename_fs(gram_path, "takedown_wave")
        # the legacy-subset candidates for the migration guard's
        # bare-tombstone check (both read-only, id-sized):
        #   * embedded = victim_emb's vec_ids ∩ ids — the r15-END
        #     derivation (victim_emb.where(isin(ids)) straight into
        #     the wave_id=None digest; r16 ADVICE, medium);
        #   * embedded ∩ CURRENT sem-store membership — the mid-r15
        #     (f9ef826) derivation, which ALSO gated on the semantic
        #     store's vectors table (r17 review). A wave crashed in
        #     that era never ran its row-store deletes, so current
        #     membership reproduces the membership it digested over
        #     (modulo unrelated deletes since — best-effort by
        #     nature, like every legacy reconstruction here).
        embedded = sorted(
            int(r.vec_id)
            for r in victim_emb.select("vec_id")
            .where(F.col("vec_id").isNotNull() & F.col("vec_id").isin(ids))
            .distinct()
            .collect()  # id-sized (the takedown driver-literal class)
        )
        sem_member = {
            int(r.vec_id)
            for r in spark.read.parquet(f"{sem_path}/vectors")
            .select("vec_id")
            .where(F.col("vec_id").isin(ids))
            .distinct()
            .collect()  # id-sized (the takedown driver-literal class)
        }
        legacy_subsets = [embedded, sorted(set(embedded) & sem_member)]
        seq = _begin_gram_takedown(spark, gram_path, ids, legacy_subsets)
        # The subtraction set is victims ∩ CURRENT dedup-store
        # membership (one pushdown-filtered scan of the id-literal
        # against <dedup_path>/signatures — takedown-class cost).
        # This is what makes the fresh-sequence design safe in BOTH
        # legitimate directions: a spurious re-run after success
        # finds no victim admitted and subtracts NOTHING (their
        # moments are already gone), while a genuine re-takedown
        # after re-admission finds them admitted and subtracts the
        # re-admitted moments under the fresh tombstone. Membership
        # is read before any store of THIS wave mutates; a crashed
        # wave re-drive reuses its intent's seq and a landed tombstone
        # no-ops regardless of what this recomputes. OPERATIONAL
        # CONTRACT (r16 review): victims must NOT be re-admitted while
        # a takedown intent is pending — deleted documents become
        # re-admittable when the wave COMPLETES (the intent's removal
        # is the signal); re-admitting mid-crash makes the re-drive's
        # no-op gram subtraction and its row deletes disagree about
        # the re-admitted rows. (An id-overlap guard inside the
        # admission verbs is the R17-queued hardening.)
        present = [
            int(r.doc_id)
            for r in spark.read.parquet(f"{dedup_path}/signatures")
            .select("doc_id")
            .where(F.col("doc_id").isin(ids))
            .distinct()
            .collect()  # id-sized (the takedown driver-literal class)
        ]
        if present:
            # Fail loud when the supplied frame cannot cover what the
            # SEMANTIC store proves is admitted WITH A VECTOR (r16
            # review): silently subtracting an empty/partial block
            # while the row deletes proceed would orphan the present
            # victims' moments forever. Victims admitted without an
            # embedding legitimately have nothing to subtract and are
            # not required here.
            supplied = {
                int(r.vec_id)
                for r in victim_emb.select("vec_id")
                .where(F.col("vec_id").isin(present))
                .distinct()
                .collect()
            }
            expected = {
                int(r.vec_id)
                for r in spark.read.parquet(f"{sem_path}/vectors")
                .select("vec_id")
                .where(F.col("vec_id").isin(present))
                .distinct()
                .collect()
            }
            missing = sorted(expected - supplied)
            if missing:
                raise ValueError(
                    f"takedown_wave: victim_emb is missing embedding rows "
                    f"for {len(missing)} admitted victim(s) the semantic "
                    f"store holds vectors for (first: {missing[:5]}) — "
                    "their moments are in the gram store and cannot be "
                    "subtracted from ids alone; supply the victims' "
                    "original (vec_id, embedding) rows"
                )
            if supplied:
                gram_sub = present
    # every preflight passed — record the wave marker (idempotent on
    # re-drive), then mutate. First mutation is the gram subtraction.
    if marker is None:
        storefs.write_small_text(dedup_path, _WAVE_IDS_MARKER, ids_csv)
    if gram_sub is not None:
        delete_from_gram_store(
            spark,
            victim_emb.where(F.col("vec_id").isin(gram_sub)),
            gram_path,
            wave_id=tombstone_wave_id(ids, seq),
        )
    delete_from_dedup_store(spark, ids, dedup_path)
    delete_from_semantic_store(spark, ids, sem_path)
    if bm25_path is not None:
        delete_from_bm25_store(spark, ids, bm25_path)
    if phrase_path is not None:
        # the positional postings store (r17): a row store of
        # per-(term, doc) facts, so its delete is naturally
        # idempotent under whole-wave re-drives and re-takedown after
        # re-admission — it needs no sequence machinery, only its own
        # durable _delete_intent (resume handled inside the verb)
        delete_from_phrase_store(spark, ids, phrase_path)
    if gram_path is not None:
        _complete_gram_takedown(gram_path, seq, ids)
    # the wave is complete everywhere: drop the wave-level marker
    # (idempotent — a re-drive that finds it already gone changed
    # nothing; victims become re-admittable at THIS point)
    try:
        os.remove(
            f"{storefs.strip_file_scheme(dedup_path)}/{_WAVE_IDS_MARKER}"
        )
    except FileNotFoundError:
        pass
