"""Persisted embedding moment store: the INCREMENTAL half of the PCA
whitening preflight (``similarity.embedding_gram`` is the one-shot
corpus pass; this maintains the same exact-integer moment table as
waves land, so a 100 TB deployment re-fits its projection basis
without ever rescanning the corpus).

The state here is ADDITIVE (second moments sum), which admits a
different — and simpler — crash-safe shape than the row stores'
(dedup/semantic/bm25) membership tables: the store is an APPEND-ONLY
table of batch-tagged constant-size partials,

  * ``<path>/partials``: (wave_id, i, j, g) — each admitted wave
    appends its OWN exact 2,145-row moment block (upper-triangle gram
    + column sums at j = -1 + the valid count at (-1, -1), the
    ``embedding_gram_frame`` layout). Reading the store folds the
    blocks: ``moments`` = SUM(g) per (i, j) — a constant-size
    aggregate however many waves landed.

Why keep per-wave rows instead of updating 2,145 running sums in
place? CRASH ACCOUNTING: an in-place additive update that replays is
silently double-counted — indistinguishable from truth after the
fact. Batch-tagged partials make every failure observable: a replayed
wave duplicates its (wave_id, i, j) keys (``n_dup_wave_rows`` > 0,
repaired by the shared dropDuplicates-rewrite protocol), and a
half-landed wave cannot exist (one parquet append, job-level commit).
``compact_gram_store`` folds history into a single base block when
the wave count grows — the moment table is invariant (pytest-pinned).

Reference: the reference has no embedding pipeline (beyond-reference
mandate, SURVEY.md §7 step 7); the durability machinery is the shared
``storefs`` protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.functions import storefs
from trisk_spark.functions.similarity import (
    embedding_gram_frame,
    pca_from_gram_rows,
)
from trisk_spark.streaming.sinks import per_batch

#: wave_id of the base block written by ``write_gram_store`` (stream
#: batches use their non-negative batch_id; the base sits below them)
BASE_WAVE_ID = -1


def _tombstone_from_csv(ids_csv: str, seq: int) -> int:
    """Deterministic tombstone wave id from a sorted victim-id CSV and
    a takedown-sequence number: a 60-bit md5 mapped below BASE_WAVE_ID
    (disjoint from every ingest batch id). ``seq <= 1`` digests the
    bare CSV — byte-identical to the r15 default, so tombstones landed
    by pre-sequence stores still guard replays; higher sequences salt
    the digest so a LEGITIMATE second takedown of the same id set
    (victims re-admitted, then taken down again) subtracts again
    instead of no-opping as a replay."""
    import hashlib

    key = ids_csv if seq <= 1 else f"{ids_csv}|takedown_seq={int(seq)}"
    digest = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    return BASE_WAVE_ID - 1 - digest


def tombstone_wave_id(ids, seq: int = 1) -> int:
    """Public form of the tombstone derivation for composed callers
    (``admission.takedown_wave`` threads its durable takedown-sequence
    number through here): same id set + same seq → same tombstone
    (replay no-op); same id set + fresh seq → fresh tombstone (real
    second delete)."""
    ids_csv = ",".join(str(int(i)) for i in sorted({int(i) for i in ids}))
    return _tombstone_from_csv(ids_csv, seq)


def write_gram_store(spark: SparkSession, emb: DataFrame, path: str) -> None:
    """Persist the moment store for an embedding corpus: one base
    partial block (wave_id = BASE_WAVE_ID). The corpus-sized work is
    the one Arrow GEMM pass; the artifact is 2,145 rows in one file."""
    block = embedding_gram_frame(emb).select(
        F.lit(BASE_WAVE_ID).cast("bigint").alias("wave_id"), "i", "j", "g"
    )
    block.coalesce(1).write.mode("overwrite").parquet(f"{path}/partials")


def append_gram_store(
    spark: SparkSession, new_emb: DataFrame, path: str, wave_id: int
) -> None:
    """ADMIT a wave: append its own exact partial block under
    ``wave_id`` (caller supplies a unique id — the ingest stream uses
    its batch_id; re-using an id is the replay the stats detect). A
    wave with zero valid vectors appends nothing. One parquet append,
    job-level commit: the block lands whole or not at all.

    TAKEDOWN GUARD (the r16-queued r17 hardening, moment-store side):
    admitting while a takedown is mid-crash breaks the aggregate
    accounting in a way no tombstone can repair — a pending
    ``_delete_intent`` means a recorded negated block may or may not
    have landed, and a pending ``_takedown_wave_intent`` means the
    composed wave's membership-gated subtraction already read its
    world; either way the re-drive and this append disagree about the
    re-admitted vectors' moments. Fail loud; finish the takedown
    first (``resume_pending_delete`` here / re-drive
    ``takedown_wave``), exactly the row stores' admission-side
    contract."""
    import os

    base = storefs.strip_file_scheme(path)
    for marker in ("_delete_intent", "_takedown_wave_intent"):
        if os.path.exists(f"{base}/{marker}"):
            raise RuntimeError(
                f"append_gram_store: a pending {marker} exists beside "
                f"the gram store ({path}) — finish that takedown first "
                "(resume_pending_delete / re-drive takedown_wave with "
                "its id set), then admit this wave"
            )
    block = embedding_gram_frame(new_emb).select(
        F.lit(wave_id).cast("bigint").alias("wave_id"), "i", "j", "g"
    ).localCheckpoint()
    if block.limit(1).count() == 0:
        return
    block.coalesce(1).write.mode("append").parquet(f"{path}/partials")


def gram_store_moments(spark: SparkSession, path: str) -> DataFrame:
    """The folded moment table — (i, j, g) with g = SUM over every
    landed block: identical to ``embedding_gram`` over the union of
    everything admitted (additivity pytest-pinned). Constant-size
    output; feeds ``pca_from_gram_rows`` unchanged."""
    return (
        spark.read.parquet(f"{path}/partials")
        .groupBy("i", "j")
        .agg(F.sum("g").cast("bigint").alias("g"))
    )


def pca_model_over_store(spark: SparkSession, path: str, k: int = 8):
    """Fit the PCA basis from the persisted store — the incremental
    twin of ``similarity.pca_model``: collect the constant-size folded
    moments and eigh on the driver."""
    return pca_from_gram_rows(gram_store_moments(spark, path).collect(), k)


def gram_ingest_stream(
    spark: SparkSession, emb_stream: DataFrame, path: str, sink
):
    """CONTINUOUS moment maintenance — ``append_gram_store`` per
    micro-batch (wave_id = batch_id) behind the store-family batch-id
    watermark: a replayed batch ≤ the watermark is skipped entirely.
    ``sink(folded_moments_df, batch_id)`` receives the post-append
    moment table (constant-size; materialize inside the call).
    Remaining crash window: a crash between the append and the
    watermark write replays one wave's block — detection =
    ``gram_store_stats``'s ``n_dup_wave_rows`` > 0, repair =
    ``repair_replayed_append`` (both code, forced-crash
    pytest-pinned)."""
    storefs.require_rename_fs(path, "gram_ingest_stream")

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        append_gram_store(spark, batch_df, path, batch_id)
        return gram_store_moments(spark, path)

    return per_batch(emb_stream, stage, sink, watermark=path)


def outlier_score_stream(
    spark: SparkSession, emb_stream: DataFrame, path: str, sink
):
    """Streaming outlier gate over the persisted moment store — the
    deployment loop: the store maintains the corpus moments as waves
    land (``gram_ingest_stream``), and THIS scores ARRIVING vectors
    against the store's CURRENT moments, read fresh per micro-batch (a
    constant-size fold — two numbers per dimension — however large
    the corpus behind it). ``foreachBatch`` hands the batch over as a
    plain DataFrame, so the scoring is LITERALLY
    ``similarity.outlier_score_frame`` — the identical plan the batch
    op runs, stream ≡ batch exact by construction (the
    ``dedup_probe_stream`` stream-static pattern). Read-only: this
    never writes the store (pair it with ``gram_ingest_stream`` on
    the maintainer side). Sink contract: fully materialize inside the
    call."""
    from trisk_spark.functions.similarity import outlier_score_frame

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return outlier_score_frame(
            batch_df, gram_store_moments(spark, path).collect()
        )

    return per_batch(emb_stream, stage, sink)


def repair_replayed_append(spark: SparkSession, path: str) -> None:
    """Repair the watermark crash window: a replayed wave duplicated
    its (wave_id, i, j) keys — dropDuplicates rewrite through the
    crash-safe swap protocol (replayed rows are byte-identical per
    key: same wave, same deterministic kernel). Moments ≡ a
    never-crashed twin afterwards, pytest-pinned."""
    storefs.repair_replayed_append(
        spark, path, "partials", ["wave_id", "i", "j"]
    )


def compact_gram_store(spark: SparkSession, path: str) -> None:
    """Fold INGEST history into a single base block (wave_id =
    BASE_WAVE_ID, 2,145 rows, one file) through the shared crash-safe
    swap — the file-count maintenance after many waves. The folded
    moment table is invariant (pytest-pinned); per-wave replay
    accounting resets for compacted ingest history, which is sound
    because the watermark that outlives compaction already refuses
    every batch id ≤ it.

    TWO exceptions guard the delete verb's replay accounting, which —
    unlike ingest's — has NO watermark and rides tombstone-landed
    checks instead (r15 ADVICE, both directions of the same hole):

      * a pending ``_delete_intent`` is CONSUMED FIRST
        (``resume_pending_delete``, mirroring ``compact_ivf_index``):
        folding while an intent is outstanding would otherwise erase
        a landed-but-not-yet-acknowledged tombstone row, and the
        resume would re-append it — double subtraction;
      * landed TOMBSTONE blocks (wave_id < BASE_WAVE_ID) are
        PRESERVED VERBATIM through the fold, never absorbed into the
        base block: they are the durable replay guard for
        whole-call delete re-runs (a re-driven ``takedown_wave``
        checks "has my tombstone landed?" — absorbing the row would
        answer no and double-subtract). Their moments still cancel in
        ``gram_store_moments``' fold exactly as before; the compacted
        table is base + one 2,145-row block per takedown, which stays
        file-count-bounded by takedowns, not by ingest waves."""
    storefs.require_rename_fs(path, "compact_gram_store")
    storefs.repair_store(path, ("partials",))
    resume_pending_delete(spark, path)
    base = storefs.strip_file_scheme(path)
    p = spark.read.parquet(f"{path}/partials")
    folded = (
        p.where(F.col("wave_id") >= BASE_WAVE_ID)
        .groupBy("i", "j")
        .agg(F.sum("g").cast("bigint").alias("g"))
        .select(
            F.lit(BASE_WAVE_ID).cast("bigint").alias("wave_id"),
            "i", "j", "g",
        )
    )
    tombstones = p.where(F.col("wave_id") < BASE_WAVE_ID).select(
        "wave_id", "i", "j", "g"
    )
    folded.unionByName(tombstones).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{base}/partials_compact_tmp")
    storefs.swap_in_compacted(path, ("partials",))


def delete_from_gram_store(
    spark: SparkSession,
    victim_emb: DataFrame,
    path: str,
    wave_id: int | None = None,
) -> None:
    """TAKEDOWN — the moment store's delete verb (closing the r14
    VERDICT's "fourth member" gap: without it a takedown wave left
    victims' second moments in the persisted blocks, so the PCA basis
    and the outlier gate kept scoring against a corpus that still
    "contained" deleted documents). Moments are additive exact
    BIGINTs, so delete ≡ rebuild-without-victims is the append of ONE
    NEGATED block: run the identical ``embedding_gram_frame`` kernel
    over the victims' embedding rows, negate g, tag it with a fresh
    tombstone wave_id (descending below BASE_WAVE_ID, disjoint from
    every ingest batch id), and append — the fold then cancels the
    victims' contributions term-for-term on the scaled-int grid
    (exact, no float residue; delete ≡ rebuild pytest-pinned).

    ``victim_emb`` must be the victims' ORIGINAL (vec_id, embedding)
    rows — moments are aggregates, ids alone cannot re-derive what to
    subtract — which is why the durable ``_delete_intent`` here
    records the COMPUTED NEGATED BLOCK itself (2,145 rows, one file),
    not the id list: resume never needs the victim vectors, which a
    composed takedown may already have deleted from every row store.
    Crash windows: before the intent rename — nothing happened, the
    tmp build is discarded; after the rename — ``resume_pending_delete``
    appends the recorded block iff its tombstone wave_id has not
    landed (the block is one file, so the append commit is an atomic
    move) and drops the intent.

    WHOLE-CALL replays are also exactly-once: the tombstone wave_id
    defaults to a DETERMINISTIC 60-bit md5 of the sorted victim id
    set (mapped below BASE_WAVE_ID, disjoint from every ingest batch
    id; distinct-set collisions are ~n²/2⁶¹ — negligible, and an
    explicit ``wave_id`` overrides), so re-running the same delete — e.g. a composed
    ``takedown_wave`` crashed between stores and re-driven — finds the
    tombstone already landed and no-ops instead of double-subtracting
    (an aggregate store cannot use row-membership for this the way the
    row stores do). The corollary contract: deleting the SAME id set
    a second time legitimately (victims re-admitted after a takedown,
    then taken down again) needs a fresh ``wave_id`` — the default
    would treat it as a replay. ``admission.takedown_wave`` supplies
    one automatically from a durable per-store takedown-sequence
    counter (``tombstone_wave_id(ids, seq)``); direct callers driving
    their own sequence pass ``wave_id`` explicitly."""
    import os
    import shutil

    storefs.require_rename_fs(path, "delete_from_gram_store")
    storefs.repair_store(path, ("partials",))
    resume_pending_delete(spark, path)
    base = storefs.strip_file_scheme(path)
    if wave_id is None:
        ids = ",".join(
            str(int(r.vec_id))
            for r in victim_emb.select("vec_id")
            .where(F.col("vec_id").isNotNull())
            .distinct()
            .orderBy("vec_id")
            .collect()  # id-sized (the takedown driver-literal class)
        )
        tomb = _tombstone_from_csv(ids, seq=1)
    else:
        tomb = int(wave_id)
        if tomb >= BASE_WAVE_ID:
            raise ValueError(
                f"explicit tombstone wave_id {tomb} must sit below "
                f"BASE_WAVE_ID ({BASE_WAVE_ID}) — non-negative ids are "
                "the ingest batch space and would corrupt replay "
                "accounting"
            )
    ipath = f"{base}/_delete_intent"
    tmp = ipath + "_tmp"
    embedding_gram_frame(victim_emb).select(
        F.lit(tomb).cast("bigint").alias("wave_id"),
        "i", "j",
        (-F.col("g")).cast("bigint").alias("g"),
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    if spark.read.parquet(tmp).limit(1).count() == 0:
        # no valid victim vectors -> nothing was ever admitted to
        # subtract
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.rename(tmp, ipath)
    _run_recorded_delete(spark, path)


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted — idempotent at every
    crash point (the store-family contract): the intent holds the
    negated block, so resume is self-sufficient even after the victim
    vectors are gone from every row store. Repairs any half-swapped
    partials table first (a crash inside a concurrent compaction swap
    must not fail the read). Returns True if there was one to
    finish."""
    import os
    import shutil

    base = storefs.strip_file_scheme(path)
    shutil.rmtree(f"{base}/_delete_intent_tmp", ignore_errors=True)
    if not os.path.exists(f"{base}/_delete_intent"):
        return False
    storefs.repair_store(path, ("partials",))
    _run_recorded_delete(spark, path)
    return True


def _run_recorded_delete(spark: SparkSession, path: str) -> None:
    """Append the intent's negated block iff its tombstone wave_id has
    not already landed (the one-file append commits atomically, so
    landed-or-not is well defined), then drop the intent."""
    import shutil

    base = storefs.strip_file_scheme(path)
    intent = spark.read.parquet(f"{base}/_delete_intent")
    wid = int(intent.select("wave_id").first()["wave_id"])
    landed = (
        spark.read.parquet(f"{path}/partials")
        .where(F.col("wave_id") == wid)
        .limit(1)
        .count()
        > 0
    )
    if not landed:
        intent.coalesce(1).write.mode("append").parquet(f"{path}/partials")
    shutil.rmtree(f"{base}/_delete_intent", ignore_errors=True)


def gram_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Store health — one row with (n_waves, n_rows, n_dup_wave_rows,
    n_vecs). ``n_dup_wave_rows`` counts rows beyond the first per
    (wave_id, i, j) — 0 in every consistent store; > 0 is a wave
    replayed past a missed watermark write (repair =
    ``repair_replayed_append``). ``n_vecs`` is the folded valid-vector
    count — the number every moment consumer divides by."""
    p = spark.read.parquet(f"{path}/partials")
    agg = p.agg(
        F.count_distinct("wave_id").cast("bigint").alias("n_waves"),
        F.count("*").cast("bigint").alias("n_rows"),
        (F.count("*") - F.count_distinct("wave_id", "i", "j"))
        .cast("bigint")
        .alias("n_dup_wave_rows"),
        F.sum(
            F.when((F.col("i") == -1) & (F.col("j") == -1), F.col("g"))
            .otherwise(0)
        ).cast("bigint").alias("n_vecs"),
    )
    return agg
