"""Persisted int8 IVF index: the write-time/store half of the ANN
story that ``ann_ivf_int8`` executes in one plan.

At 100 TB the index is not rebuilt per query — it is WRITTEN once
(quantized codes partitioned by IVF list, centroid model beside them)
and every probe reads ONLY its routed lists' partitions. This module
makes that layout a real, tested path:

  * ``write_index``: one fused quantize+assign kernel pass over the
    corpus (``similarity._quantize_assign_gemm`` — zero shuffle), sunk
    as parquet ``partitionBy("list_id")`` with the K-row centroid
    model as a sibling table. The partition column IS the coarse
    quantizer cell, so the store's directory layout mirrors a FAISS
    IVF inverted-list file per cell.
  * ``probe_index``: routes the probe set against the stored centroid
    model, then reads the index with a STATIC ``list_id IN (...)``
    partition filter — Spark prunes the non-probed directories at
    planning time (pinned: the scan's PartitionFilters carry list_id
    and nothing outside the routed lists is read) — and finishes with
    the SAME int8 candidate + exact re-rank stages as ``ann_ivf_int8``
    (shared helpers), so probe-over-store ≡ the one-plan query
    row-for-row (pytest-pinned).

The routed list ids cross the driver as ≤ N_PROBES × N_PROBE_LISTS
integers — a routing decision, the same driver-held-model class as the
centroid collect; corpus rows never reach the driver.

Reference: the reference has no ANN store (beyond-reference mandate,
SURVEY.md §7 step 7); the layout follows the standard IVF inverted-file
design (partition-per-cell) re-expressed as Spark partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import local_rows, table
from trisk_spark.functions import storefs
from trisk_spark.functions.pq import (
    _adc_candidates,
    _pq_codebook,
    _quantize_assign_pq_gemm,
)
from trisk_spark.functions.similarity import (
    N_PROBE_LISTS,
    _exact_rerank,
    _int8_candidates_and_rerank,
    _int8_centroid_model,
    _route_probe_frame,
    _valid_embeddings,
)
from trisk_spark.streaming.sinks import per_batch


#: Ceiling on a single probe batch through the store probe paths (the
#: ``LM_MAX_MODEL_ROWS`` fail-loud contract): every probe row becomes
#: N_PROBE_LISTS broadcast routing rows carrying its int8 qvec, so an
#: unbounded arriving batch (a flooded probe topic) would silently grow
#: the broadcast build. 100k probes × 64 int64s ≈ tens of MB broadcast
#: — far above any sane batch, comfortably under the broadcast-build
#: failure point. The check counts at most cap + 1 rows.
MAX_PROBE_BATCH_ROWS = 100_000


def _routed_lists_checked(qlists: DataFrame, max_probe_rows: int) -> list[int]:
    """ONE bounded job over the routing frame returns the routed list
    ids AND enforces the probe-batch ceiling — the
    ``sax_store._collect_probe_rows`` fold applied here (r11 VERDICT
    #3: the former separate guard count + routed-list collect executed
    the probe lineage ~3x per call; exec-count pinned in test_plans).
    The cap still fires BEFORE the candidate stage builds its qlists
    broadcast, and it now bounds the ACTUAL broadcast build — routing
    rows, each carrying an int8 qvec — not the probe-row proxy (a
    probe frame with duplicate vec_ids counts per row, as it should:
    duplicates still occupy broadcast bytes). The ceiling is therefore
    ROUTING-ROW-DENOMINATED by design: against an index with fewer
    than N_PROBE_LISTS centroids, each probe contributes fewer routing
    rows, so up to N_PROBE_LISTS× more PROBES pass than
    ``max_probe_rows`` names — the broadcast they build is the same
    size either way, which is the resource the guard protects. The
    1-row result is K-bounded (collect_set over ≤ N_CENTROIDS list
    ids)."""
    row = qlists.agg(
        F.count("*").alias("n_rows"),
        F.collect_set("list_id").alias("lists"),
    ).collect()[0]
    if row["n_rows"] > max_probe_rows * N_PROBE_LISTS:
        raise ValueError(
            f"probe batch exceeds {max_probe_rows} rows "
            f"({row['n_rows']} routing rows > {max_probe_rows} probes "
            f"x {N_PROBE_LISTS} lists) — refusing to route/broadcast "
            "it; split the probe stream or raise max_probe_rows"
        )
    return sorted(int(x) for x in (row["lists"] or []))


def write_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build and persist the int8 IVF(+PQ) index for the corpus at
    ``sf_dir``: ``<path>/index`` holds (vec_id, qvec, qnorm, codes,
    recon_norm) parquet partitioned by list_id; ``<path>/centroids``
    holds the K-row centroid model (whose first PQ_KSUB rows double as
    the PQ codebook — no separate artifact). One fused kernel pass
    over the corpus; the partitioned write shuffles nothing (each task
    writes its rows into per-list directories). The single store
    serves BOTH probe families: int8 candidate scoring
    (``probe_index``, 64 B/row scanned) and ADC over PQ codes
    (``probe_index_adc``, 8 B/row — parquet column pruning makes the
    narrower read real, pinned by the ReadSchema test)."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    cq, cn, cids, cents = _int8_centroid_model(spark, emb)
    assign = _quantize_assign_pq_gemm(
        spark, emb, cq, cn, cids, _pq_codebook(cq), keep_qvec=True
    )
    assign.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/index"
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


def _stored_model(cents_rows):
    """Rebuild the (cq, cn, cids) numpy centroid model from the
    persisted K-row centroid table — the index's fixed coordinate
    system, shared by probing and incremental appends."""
    import numpy as np

    rows = sorted(cents_rows, key=lambda r: r.c_id)
    cq = np.array([list(r.c_vec) for r in rows], dtype=np.int64)
    cn = np.sqrt(np.array([r.c_norm for r in rows], dtype=np.float64))
    cids = np.array([r.c_id for r in rows], dtype=np.int64)
    return cq, cn, cids


def append_index(spark: SparkSession, new_emb: DataFrame, path: str) -> None:
    """ADMIT arriving embeddings into the persisted index — the IVF
    sibling of ``dedup_store.append_dedup_store``: quantize + assign
    the wave with the STORED centroid model (read back from
    ``<path>/centroids`` — the index's coordinate system is NEVER
    retrained here) and append its (vec_id, qvec, qnorm, codes,
    recon_norm) rows into their routed list partitions. Caller
    contract: the wave's vec_ids are disjoint from the store's.

    Semantics contract (pytest-pinned): probing the appended store ≡
    probing an index built over old ∪ new UNDER THE SAME MODEL — an
    appended vector is exactly as findable as if it had been there at
    write time. Centroid DRIFT from accumulated waves is deliberately
    not handled here: ``ann_recall`` is the gate — when recall drops,
    re-train via ``ivf_refine`` and REWRITE, never silently re-center
    a live index (which would strand every previously-written row in
    a stale partition).

    Plan: one K-row centroid collect (the routing-decision class), one
    fused Arrow quantize+assign pass over the wave (zero shuffle), an
    append write into per-list directories — untouched lists get no
    new files and are never read."""
    emb = _valid_embeddings(new_emb)
    cents_rows = spark.read.parquet(f"{path}/centroids").collect()
    cq, cn, cids = _stored_model(cents_rows)
    assign = _quantize_assign_pq_gemm(
        spark, emb, cq, cn, cids, _pq_codebook(cq), keep_qvec=True
    )
    assign.write.mode("append").partitionBy("list_id").parquet(f"{path}/index")


def _stored_codebook(cents_rows):
    """Rebuild the PQ codebook from the persisted centroid model: its
    PQ_KSUB smallest-c_id rows' quantized vectors, reshaped — the same
    seeding rule the writer used, so writer and prober always agree
    without a second store artifact."""
    import numpy as np

    rows = sorted(cents_rows, key=lambda r: r.c_id)
    cq = np.array([list(r.c_vec) for r in rows], dtype=np.int64)
    return _pq_codebook(cq)


def probe_frame(
    spark: SparkSession,
    probe_emb: DataFrame,
    corpus_emb: DataFrame,
    path: str,
    max_probe_rows: int = MAX_PROBE_BATCH_ROWS,
) -> DataFrame:
    """Top-K search over the PERSISTED index for an ARBITRARY
    (vec_id, embedding) probe frame: route it against the stored
    centroids, statically prune the index read to the routed lists
    (the routed ids cross the driver as a handful of ints — the
    routing-decision collect class), and run the shared int8-candidate
    + exact-re-rank stages with ``corpus_emb`` supplying neighbor-side
    raw embeddings and ``probe_emb`` the query side. The shared engine
    of ``probe_index`` (batch query set) and ``probe_index_stream``
    (per-micro-batch arriving probes). The batch is capped at
    ``max_probe_rows`` (fail-loud, folded into the single routing
    collect — the probe lineage executes ONCE before the candidate
    stage, exec-count pinned in test_plans)."""
    probe_emb = _valid_embeddings(probe_emb)
    cents = spark.read.parquet(f"{path}/centroids")
    qlists = _route_probe_frame(probe_emb, cents)
    routed = _routed_lists_checked(qlists, max_probe_rows)
    index = spark.read.parquet(f"{path}/index").where(
        # an empty probe batch (streaming) routes nowhere: read nothing
        F.col("list_id").isin([int(x) for x in routed])
        if routed
        else F.lit(False)
    )
    return _int8_candidates_and_rerank(
        corpus_emb, qlists, index, probe_emb=probe_emb
    )


def probe_index(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Top-K search over the PERSISTED index: route the probe set
    (vec_id < N_PROBES from ``sf_dir``) against the stored centroids,
    statically prune the index read to the routed lists, and run the
    shared int8-candidate + exact-re-rank stages. Returns the same
    (query_id, neighbor_id, cosine_sim, rank) frame as
    ``ann_ivf_int8``."""
    from trisk_spark.functions.similarity import N_PROBES

    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    return probe_frame(
        spark, emb.where(F.col("vec_id") < N_PROBES), emb, path
    )


def probe_frame_adc(
    spark: SparkSession,
    probe_emb: DataFrame,
    corpus_emb: DataFrame,
    path: str,
    max_probe_rows: int = MAX_PROBE_BATCH_ROWS,
) -> DataFrame:
    """ADC probe over the persisted index — ``probe_frame``'s shape
    with the int8 candidate scan replaced by the PQ lookup-table scan:
    the pruned index read selects ONLY (vec_id, codes, recon_norm) —
    8 bytes of payload per row instead of the 64-element qvec (parquet
    column pruning; ReadSchema pinned) — and candidates come from
    ``pq._adc_candidates`` before the same shared exact re-rank. The
    codebook is rebuilt from the stored centroid model driver-side
    (≤ K rows — the routing-decision collect class). The batch is
    capped at ``max_probe_rows`` (fail-loud, folded into the single
    routing collect — the probe lineage executes ONCE before the
    candidate stage)."""
    probe_emb = _valid_embeddings(probe_emb)
    cents = spark.read.parquet(f"{path}/centroids")
    cb = _stored_codebook(cents.collect())
    qlists = _route_probe_frame(probe_emb, cents)
    routed = _routed_lists_checked(qlists, max_probe_rows)
    index = (
        spark.read.parquet(f"{path}/index")
        .select("vec_id", "codes", "recon_norm", "list_id")
        .where(
            F.col("list_id").isin([int(x) for x in routed])
            if routed
            else F.lit(False)
        )
    )
    cand = _adc_candidates(spark, qlists, index, cb)
    return _exact_rerank(corpus_emb, cand, probe_emb=probe_emb)


def probe_index_adc(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """ADC search over the PERSISTED index for the standard probe set
    (vec_id < N_PROBES): returns the same (query_id, neighbor_id,
    cosine_sim, rank) frame as ``ann_ivf_pq`` row-for-row
    (pytest-pinned), reading 8-byte codes from routed partitions
    only."""
    from trisk_spark.functions.similarity import N_PROBES

    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    return probe_frame_adc(
        spark, emb.where(F.col("vec_id") < N_PROBES), emb, path
    )


def probe_index_stream(
    spark: SparkSession,
    probes_stream: DataFrame,
    ref_sf_dir: str,
    path: str,
    sink,
    adc: bool = False,
):
    """Streaming probe path over the persisted index — "answer ANN
    queries as they arrive": each micro-batch of probe vectors is
    routed against the stored centroid model and the index is read
    with that batch's OWN static ``list_id IN (...)`` partition filter
    (``foreachBatch`` turns the micro-batch into a plain DataFrame, so
    the per-batch pruned read is exactly ``probe_frame`` — the
    stream-static pattern ``minhash_flag_stream`` established, plus
    per-batch pruning, which a declarative stream-static join could
    not express: the static side's partition filter must depend on the
    arriving data). Probes are independent rows, so the union of
    per-batch results equals the one-batch image (stream≡batch
    pytest-pinned against ``probe_index``).

    ``sink(result_df, batch_id)`` receives each batch's (query_id,
    neighbor_id, cosine_sim, rank) frame. SINK CONTRACT (r11 ADVICE):
    the sink must fully MATERIALIZE the result inside the call
    (collect/write/count) — the micro-batch cache is dropped when the
    call returns, so a sink that stashes the DataFrame for later
    consumption would silently re-execute the batch lineage uncached.
    Returns the ``DataStreamWriter`` ready to ``.start()`` (caller
    sets checkpoint/trigger).

    ``adc=True`` probes with the PQ lookup-table scan
    (``probe_frame_adc``: 8-byte codes read from the routed
    partitions) instead of the int8 candidate scan — same final frame
    contract."""
    corpus = _valid_embeddings(table(spark, ref_sf_dir, "embeddings"))
    engine = probe_frame_adc if adc else probe_frame
    # the runner's batch cache matters here: the routing collect (guard
    # folded in) and the candidate/re-rank job both consume the probe
    # frame, and uncached each would re-execute the batch's lineage
    return per_batch(
        probes_stream,
        lambda batch_df, _: engine(spark, batch_df, corpus, path),
        sink,
    )


def index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Index health table for a written store: one row —
    (n_lists, n_vectors, min_list, max_list, avg_list, imbalance)
    where imbalance = max/avg. The operational pre-probe check a
    100 TB deployment runs: a hot list (imbalance ≫ 1, e.g. a
    degenerate-embedding flood all assigning to one centroid) turns
    a routed probe into a near-full scan, and the fix — re-training
    centroids via ``ivf_refine`` and rewriting — should be triggered
    by this number, not discovered from a slow query. One partial-agg
    pass over the index's (already partition-local) list_id column;
    list-cardinality-sized intermediate."""
    per = (
        spark.read.parquet(f"{path}/index")
        .groupBy("list_id")
        .agg(F.count("*").alias("n"))
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_lists"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.min("n").cast("bigint").alias("min_list"),
        F.max("n").cast("bigint").alias("max_list"),
        F.round(F.avg("n"), 6).alias("avg_list"),
        F.round(
            F.max("n") / (F.sum("n") / F.count("*")), 6
        ).alias("imbalance"),
    )


def drift_report_stream(
    spark: SparkSession, emb_stream: DataFrame, path: str, sink
):
    """CONTINUOUS routing-drift monitoring over the persisted index —
    the deployment twin of ``similarity.ivf_drift_report``: per
    micro-batch, the arriving vectors are assigned under the STORED
    centroid model (one fused Arrow pass, the ``append_index``
    assignment) and compared against the index's CURRENT resident
    per-list counts; ``sink(report_df, batch_id)`` receives one row
    per model list (list_id, n_resident, n_arriving, kl_contrib,
    is_hot — the shared ``drift_from_counts`` formulas). The number to
    alert on BEFORE appending a drifted wave: a hot list here is the
    re-train-and-rewrite trigger, and the read is a K-sized partial
    aggregate over the (partition-local) list_id column plus the
    batch-sized assignment — never a corpus rescan. Read-only: pair it
    with an ingest maintainer. Sink contract: fully materialize inside
    the call."""
    from trisk_spark.functions.similarity import (
        _quantize_assign_gemm,
        _valid_embeddings,
        drift_from_counts,
    )

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        cents_rows = spark.read.parquet(f"{path}/centroids").collect()
        cq, cn, cids = _stored_model(cents_rows)
        arriving = (
            _quantize_assign_gemm(
                spark, _valid_embeddings(batch_df), cq, cn, cids
            )
            .groupBy("list_id")
            .agg(F.count("*").cast("bigint").alias("n_arriving"))
        )
        resident = (
            spark.read.parquet(f"{path}/index")
            .groupBy("list_id")
            .agg(F.count("*").cast("bigint").alias("n_resident"))
        )
        counts = (
            resident.join(arriving, "list_id", "full_outer")
            .na.fill({"n_resident": 0, "n_arriving": 0})
        )
        spine = local_rows(spark, [(int(c),) for c in cids], "list_id bigint")
        return drift_from_counts(spine, counts, len(cids))

    return per_batch(emb_stream, stage, sink)


def repair_ivf_index(path: str) -> None:
    """``storefs.repair_store`` over the store's two tables — the
    repair for a compaction swap a crash interrupted (live renamed to
    ``_old``, tmp not yet in). Delete crash states are separate
    machinery: ``resume_pending_delete`` finishes them from the
    durable ``_delete_intent`` + committed staging."""
    storefs.repair_store(path, ("index", "centroids"))


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Post-ingest maintenance — the ``compact_bm25_store`` image for
    the IVF store, which accumulates one file per (append wave,
    touched list) plus staged-swap leftovers as waves and takedowns
    land: rewrite the index into one file per list partition through
    the shared crash-safe ``storefs`` swap (repair-on-entry, including
    finishing any interrupted takedown so the read never sees
    half-cleared list directories; overwrite-mode tmp build;
    recovery-ordered swap). The centroid model is K rows in one file,
    written once — never compacted. Probe ≡ pre-compact
    pytest-pinned. Local/HDFS-rename filesystems only (fail-loud)."""
    storefs.require_rename_fs(path, "compact_ivf_index")
    repair_ivf_index(path)
    resume_pending_delete(spark, path)
    from trisk_spark.functions.similarity import N_CENTROIDS

    index = spark.read.parquet(f"{path}/index")
    # one writer task per list directory (``storefs.writer_tasks``)
    index.repartition(
        storefs.writer_tasks(spark, N_CENTROIDS), "list_id"
    ).write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/index_compact_tmp"
    )
    storefs.swap_in_compacted(path, ("index",))


# ------------------------------------------------ takedown (r14) -----


def delete_from_index(spark: SparkSession, vec_ids, path: str) -> None:
    """TAKEDOWN — remove vectors from the persisted IVF index so no
    future probe can return them. A list's membership is the
    assignment under the FROZEN stored model, which deletion does not
    change, so delete ≡ ``write_index`` over the corpus WITHOUT the
    victims is a plain filter per touched list directory (the
    bm25-store case: no caps, filtering IS rebuilding); a list whose
    only members were victims is correctly emptied (directory
    cleared). Crash-safe via the store-family durable
    ``_delete_intent`` (``storefs.recorded_delete``;
    ``resume_pending_delete`` finishes any interrupted state) PLUS the
    ``storefs`` staged-partition core (``delete_staged_rows``): the
    kept rows of the touched lists have no other durable source (the
    index IS the row table — there is no narrow sibling swapped last
    to re-derive from), so they are staged durably (committed by
    rename) BEFORE any live list directory is cleared, and a crash
    anywhere between the clear and the swap resumes from the staging.
    Cost: one pushdown scan of the index for the victims' list ids
    (the per-store routing scan a takedown pays), then a rewrite of
    only the touched list directories. The centroid model is NEVER
    touched — it is the index's coordinate system, not per-document
    state."""
    storefs.recorded_delete(
        spark, path, vec_ids, "delete_from_index", "vec_id",
        _run_recorded_delete,
    )


def resume_pending_delete(spark: SparkSession, path: str) -> bool:
    """Finish a takedown a crash interrupted (idempotent at every
    crash point — the store-family contract). Returns True if there
    was one to finish."""
    return storefs.resume_recorded_delete(
        spark, path, "vec_id", _run_recorded_delete
    )


def _run_recorded_delete(spark: SparkSession, ids: list, path: str) -> None:
    storefs.delete_staged_rows(spark, path, ids, "index", "list_id", "vec_id")
