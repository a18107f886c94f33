"""Composed admission pipeline (functions/admission.py): staged
funnel semantics, loop closure across waves (both stores advance),
the null-embedding contract, stream ≡ per-wave images, forced-replay
guard. Each composed kernel carries its own oracle elsewhere
(dedup_incremental / semantic_incremental / manifest quality SQL);
these tests pin the three anti-joins that glue them."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from trisk_spark.functions import admission, dedup_store
from trisk_spark.functions import semantic_store as S
from trisk_spark.streaming.sources import checkpoint_dir

_SCHEMA = "doc_id long, source string, text string, embedding array<double>"


def _vec(flip: bool = False):
    out = [
        (0.3 + 0.01 * i) * (1.0 if (i * 7) % 3 else -1.0) for i in range(64)
    ]
    return [-x for x in out] if flip else out


_E_BASE, _E_NOVEL = _vec(), _vec(flip=True)


def _text(tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(60))


T1, T2, T3, T4, T5 = (_text(t) for t in ("alpha", "beta", "gamma", "delta", "eps"))


def _seed_stores(spark, tmp_path):
    dpath, spath = str(tmp_path / "dstore"), str(tmp_path / "sstore")
    dedup_store.write_dedup_store(
        spark,
        spark.createDataFrame([(1, T1)], "doc_id long, text string"),
        dpath,
    )
    S.write_semantic_store(
        spark,
        spark.createDataFrame([(1, _E_BASE)], "vec_id long, embedding array<double>"),
        spath,
    )
    return dpath, spath


_WAVE1 = [
    (13, "w", "x", _E_BASE),        # token floor fail — quality, even
                                    # though its embedding dups the corpus
    (14, "w", None, _E_BASE),       # NULL text — staged 'invalid', not
                                    # silently dropped (r13 ADVICE: the
                                    # report is a total accounting)
    (10, "w", T1, _E_BASE),         # byte copy of doc 1 — dup_text
    (11, "w", T2, _E_BASE),         # new text, corpus embedding — dup_semantic
    (12, "w", T3, _E_NOVEL),        # novel on both axes — admitted
]
_WAVE2 = [
    (20, "w", T3, _E_BASE),         # copy of wave-1 ADMITTED text — dup_text
    (21, "w", T4, _E_NOVEL),        # embedding-dup of wave-1 admitted — dup_semantic
    (22, "w", T5, None),            # NULL embedding: semantic gate un-probed,
                                    # admitted to the dedup store only
]


def _stage_map(rows):
    return {r.doc_id: (r.stage, r.dup_of) for r in rows}


def _store_ids(spark, dpath, spath):
    docs = {
        r.doc_id
        for r in spark.read.parquet(f"{dpath}/signatures").select("doc_id").collect()
    }
    vecs = {
        r.vec_id
        for r in spark.read.parquet(f"{spath}/vectors").select("vec_id").collect()
    }
    return docs, vecs


@pytest.mark.slow
def test_admission_wave_funnel_and_loop(spark, tmp_path):
    dpath, spath = _seed_stores(spark, tmp_path)
    w1 = spark.createDataFrame(_WAVE1, _SCHEMA)
    r1 = _stage_map(admission.admission_wave(spark, w1, dpath, spath).collect())
    assert r1 == {
        13: ("quality", None),
        14: ("invalid", None),
        10: ("dup_text", 1),
        11: ("dup_semantic", 1),
        12: ("admitted", None),
    }
    docs, vecs = _store_ids(spark, dpath, spath)
    assert docs == {1, 12} and vecs == {1, 12}, (
        "admission did not land in exactly both stores"
    )

    # the loop closes: wave 2 collides with wave 1's ADMISSIONS on
    # both axes, and the null-embedding doc takes the documented path
    w2 = spark.createDataFrame(_WAVE2, _SCHEMA)
    r2 = _stage_map(admission.admission_wave(spark, w2, dpath, spath).collect())
    assert r2 == {
        20: ("dup_text", 12),
        21: ("dup_semantic", 12),
        22: ("admitted", None),
    }
    docs, vecs = _store_ids(spark, dpath, spath)
    assert docs == {1, 12, 22}, "null-embedding doc missing from the dedup store"
    assert vecs == {1, 12}, "a NULL embedding must not reach the semantic store"
    row = S.semantic_store_stats(spark, spath).collect()[0]
    assert row.n_unvectored_band_ids == 0
    row = dedup_store.dedup_store_stats(spark, dpath).collect()[0]
    assert row.n_unsigned_band_docs == 0


def test_overlapped_norm_job_runs_in_callers_job_group(
    spark, tmp_path, monkeypatch
):
    """The wave-norm job the funnel overlaps with the text probe runs on
    a driver thread; it must still land in the caller's job group."""
    dpath, spath = _seed_stores(spark, tmp_path)
    sc = spark.sparkContext
    norm_groups = []
    normed = admission._sem_normed

    def recording_normed(df):
        norm_groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return normed(df)

    monkeypatch.setattr(admission, "_sem_normed", recording_normed)
    wave = spark.createDataFrame(_WAVE1, _SCHEMA)
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("admission-wave", "admission wave")
    try:
        admission.admission_wave(spark, wave, dpath, spath).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert norm_groups == ["admission-wave"]
    assert tracker.getJobIdsForGroup("admission-wave")
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped, (
        "a job of the wave ran outside the caller's job group"
    )


@pytest.mark.slow
def test_admission_stream_equals_waves_and_replay_guard(spark, tmp_path):
    """The stream form must emit exactly the per-wave images (same
    funnel verdicts batch by batch), and a forced checkpoint replay is
    swallowed by the shared watermark — no sink calls, byte-identical
    stores."""
    import os
    import time as _time

    dpath, spath = _seed_stores(spark, tmp_path)
    waves_dir = str(tmp_path / "waves")
    now = int(_time.time())
    seen: set[str] = set()
    for i, wave in enumerate((_WAVE1, _WAVE2)):
        spark.createDataFrame(wave, _SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(waves_dir)
        fresh = {
            f for f in os.listdir(waves_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        } - seen
        assert len(fresh) == 1
        for fname in fresh:
            os.utime(os.path.join(waves_dir, fname), times=(now + i, now + i))
        seen |= fresh

    def run(tag, sink):
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(waves_dir)
        )
        q = (
            admission.admission_stream(spark, stream, dpath, spath, sink)
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    per_batch: dict[int, dict] = {}

    def sink(bdf, bid):
        per_batch[bid] = _stage_map(bdf.collect())

    run("admission1", sink)
    assert per_batch == {
        0: {
            13: ("quality", None),
            14: ("invalid", None),
            10: ("dup_text", 1),
            11: ("dup_semantic", 1),
            12: ("admitted", None),
        },
        1: {
            20: ("dup_text", 12),
            21: ("dup_semantic", 12),
            22: ("admitted", None),
        },
    }
    assert admission.storefs.read_ingest_watermark(dpath) == 1

    docs_snap, vecs_snap = _store_ids(spark, dpath, spath)
    sig_snap = sorted(
        map(tuple, spark.read.parquet(f"{dpath}/signatures").collect())
    )
    vec_snap = sorted(
        (r.vec_id, tuple(r.vec), r.norm)
        for r in spark.read.parquet(f"{spath}/vectors").collect()
    )

    replays = []
    run("admission2", lambda bdf, bid: replays.append(bid))
    assert replays == [], "replayed batches reached the sink"
    assert _store_ids(spark, dpath, spath) == (docs_snap, vecs_snap)
    assert sorted(
        map(tuple, spark.read.parquet(f"{dpath}/signatures").collect())
    ) == sig_snap
    assert sorted(
        (r.vec_id, tuple(r.vec), r.norm)
        for r in spark.read.parquet(f"{spath}/vectors").collect()
    ) == vec_snap
    # the happy path leaves no intent dirs behind
    import glob

    assert glob.glob(f"{dpath}/_admission_intent_*") == []


# deliberately NOT slow-marked: the one default-lane test that
# drives the composed funnel (_admission_verdicts + both appends)
# end-to-end, so the budgeted CI run keeps admission coverage
def test_admission_stream_heals_cross_append_crash(spark, tmp_path, monkeypatch):
    """The r13 ADVICE window as a forced crash: the stream dies BETWEEN
    the two appends (dedup landed, semantic did not, watermark
    unwritten). A naive replay would re-probe, let the within-wave
    near-dup pair cross-flag against its own first-attempt dedup
    admissions, and permanently lose both semantic vectors. The intent
    log must instead re-drive the appends from the first attempt's
    verdicts: both vectors land, nothing double-appends, and the sink
    receives the FIRST attempt's report."""
    import time as _time

    dpath, spath = _seed_stores(spark, tmp_path)
    # 30/31: byte-identical text + identical novel embedding — a
    # within-wave near-dup GROUP, novel vs the corpus, so the first
    # attempt admits BOTH together (the batch-boundary contract)
    wave = [(30, "w", T4, _E_NOVEL), (31, "w", T4, _E_NOVEL)]
    waves_dir = str(tmp_path / "waves")
    spark.createDataFrame(wave, _SCHEMA).coalesce(1).write.parquet(waves_dir)
    now = int(_time.time())

    def run(tag, sink):
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(waves_dir)
        )
        q = (
            admission.admission_stream(spark, stream, dpath, spath, sink)
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def dying_append(spark_, new_emb, path):
        raise RuntimeError("injected crash between the two appends")

    monkeypatch.setattr(admission, "append_semantic_store", dying_append)
    crashed = []
    try:
        run("admissionheal", lambda bdf, bid: crashed.append(bid))
        raise AssertionError("injected crash did not surface")
    except Exception as e:  # StreamingQueryException wraps the injection
        assert "injected crash" in str(e)
    assert crashed == [], "sink ran despite the crash"
    monkeypatch.undo()

    # crash state: dedup has the pair, semantic does not, intent exists
    docs, vecs = _store_ids(spark, dpath, spath)
    assert docs == {1, 30, 31} and vecs == {1}
    import glob

    assert glob.glob(f"{dpath}/_admission_intent_*"), "intent missing"

    # restart from the SAME checkpoint: the batch replays, the intent
    # path re-drives both appends, the sink sees attempt 1's report
    reports = {}
    run("admissionheal", lambda bdf, bid: reports.update({bid: _stage_map(bdf.collect())}))
    assert reports == {0: {30: ("admitted", None), 31: ("admitted", None)}}
    docs, vecs = _store_ids(spark, dpath, spath)
    assert docs == {1, 30, 31}, "replay re-probed and cross-flagged the pair"
    assert vecs == {1, 30, 31}, "semantic vectors lost to the crash window"
    # nothing double-appended, intent cleaned up, watermark advanced
    drow = dedup_store.dedup_store_stats(spark, dpath).collect()[0]
    assert drow.n_dup_signature_ids == 0 and drow.n_unsigned_band_docs == 0
    srow = S.semantic_store_stats(spark, spath).collect()[0]
    assert srow.n_dup_vector_ids == 0 and srow.n_unvectored_band_ids == 0
    assert glob.glob(f"{dpath}/_admission_intent_*") == []
    assert admission.storefs.read_ingest_watermark(dpath) == 0


@pytest.mark.slow
def test_admission_wave_indexes_bm25(spark, tmp_path):
    """Opt-in third store: every ADMITTED document (and only those)
    lands in the BM25 postings index, wave after wave — admitted ⇒
    lexically retrievable without a separate indexing pipeline. The
    report must be byte-identical to the two-store form (the index is
    an effect, never a gate)."""
    from trisk_spark.functions import bm25_store as B

    dpath, spath = _seed_stores(spark, tmp_path)
    bpath = str(tmp_path / "bstore")
    B.write_bm25_store(
        spark,
        spark.createDataFrame([(1, T1)], "doc_id long, text string"),
        bpath,
    )

    r1 = admission.admission_wave(
        spark, spark.createDataFrame(_WAVE1, _SCHEMA), dpath, spath, bpath
    ).collect()
    r2 = admission.admission_wave(
        spark, spark.createDataFrame(_WAVE2, _SCHEMA), dpath, spath, bpath
    ).collect()
    admitted = {
        r.doc_id for r in r1 + r2 if r.stage == "admitted"
    }
    indexed = {
        r.doc_id
        for r in spark.read.parquet(f"{bpath}/doclens").select("doc_id").collect()
    }
    assert indexed == {1} | admitted == {1, 12, 22}
    stats = B.bm25_store_stats(spark, bpath).collect()[0]
    assert stats.n_dup_doc_ids == 0 and stats.n_docs == 3
    # stage verdicts unchanged by the third store (effect, not gate)
    assert _stage_map(r2) == {
        20: ("dup_text", 12),
        21: ("dup_semantic", 12),
        22: ("admitted", None),
    }


@pytest.mark.slow
def test_admission_stream_heals_bm25_append_crash(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER both original appends but BEFORE the BM25 index
    append (the widest three-store window): the intent replay must
    re-drive all three appends behind their membership anti-joins —
    the index catches up, nothing double-appends anywhere, the sink
    sees attempt 1's report."""
    import glob
    from trisk_spark.functions import bm25_store as B

    dpath, spath = _seed_stores(spark, tmp_path)
    bpath = str(tmp_path / "bstore")
    B.write_bm25_store(
        spark,
        spark.createDataFrame([(1, T1)], "doc_id long, text string"),
        bpath,
    )
    wave = [(30, "w", T4, _E_NOVEL), (31, "w", T5, _E_NOVEL)]
    waves_dir = str(tmp_path / "waves")
    spark.createDataFrame(wave, _SCHEMA).coalesce(1).write.parquet(waves_dir)

    def run(tag, sink):
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(waves_dir)
        )
        q = (
            admission.admission_stream(
                spark, stream, dpath, spath, sink, bm25_path=bpath
            )
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    real_append = B.append_bm25_store

    def dying_append(spark_, new_docs, path):
        raise RuntimeError("injected crash before the bm25 append")

    monkeypatch.setattr(B, "append_bm25_store", dying_append)
    crashed = []
    try:
        run("admbm25heal", lambda bdf, bid: crashed.append(bid))
        raise AssertionError("injected crash did not surface")
    except Exception as e:
        assert "injected crash" in str(e)
    assert crashed == []
    monkeypatch.setattr(B, "append_bm25_store", real_append)

    # crash state: both original stores advanced, the index did not
    docs, vecs = _store_ids(spark, dpath, spath)
    assert docs == {1, 30, 31} and vecs == {1, 30, 31}
    assert {
        r.doc_id
        for r in spark.read.parquet(f"{bpath}/doclens").select("doc_id").collect()
    } == {1}
    assert glob.glob(f"{dpath}/_admission_intent_*"), "intent missing"

    reports = {}
    run(
        "admbm25heal",
        lambda bdf, bid: reports.update({bid: _stage_map(bdf.collect())}),
    )
    assert reports == {0: {30: ("admitted", None), 31: ("admitted", None)}}
    assert {
        r.doc_id
        for r in spark.read.parquet(f"{bpath}/doclens").select("doc_id").collect()
    } == {1, 30, 31}
    stats = B.bm25_store_stats(spark, bpath).collect()[0]
    assert stats.n_dup_doc_ids == 0
    drow = dedup_store.dedup_store_stats(spark, dpath).collect()[0]
    assert drow.n_dup_signature_ids == 0
    srow = S.semantic_store_stats(spark, spath).collect()[0]
    assert srow.n_dup_vector_ids == 0
    assert glob.glob(f"{dpath}/_admission_intent_*") == []
    assert admission.storefs.read_ingest_watermark(dpath) == 0


@pytest.mark.slow
def test_takedown_wave_unadmits_across_all_stores(spark, tmp_path):
    """Un-admit: after takedown_wave the three stores no longer know
    the victims (band/vector/posting membership gone, loop-closure
    reversed: a byte-copy of a taken-down doc is ADMITTED again), and
    the surviving admissions still collide."""
    from trisk_spark.functions import bm25_store as B

    dpath, spath = _seed_stores(spark, tmp_path)
    bpath = str(tmp_path / "bstore")
    B.write_bm25_store(
        spark,
        spark.createDataFrame([(1, T1)], "doc_id long, text string"),
        bpath,
    )
    r1 = admission.admission_wave(
        spark, spark.createDataFrame(_WAVE1, _SCHEMA), dpath, spath, bpath
    ).collect()
    assert _stage_map(r1)[12] == ("admitted", None)

    admission.takedown_wave(spark, [12], dpath, spath, bpath)
    docs, vecs = _store_ids(spark, dpath, spath)
    assert 12 not in docs and 12 not in vecs
    assert 12 not in {
        r.doc_id
        for r in spark.read.parquet(f"{bpath}/doclens").select("doc_id").collect()
    }

    # a byte-copy of the taken-down doc re-admits (stores forgot it);
    # a byte-copy of doc 1 (still resident) keeps colliding
    redo = [(40, "w", T3, _E_NOVEL), (41, "w", T1, _E_BASE)]
    r2 = _stage_map(
        admission.admission_wave(
            spark, spark.createDataFrame(redo, _SCHEMA), dpath, spath, bpath
        ).collect()
    )
    assert r2[40] == ("admitted", None)
    assert r2[41] == ("dup_text", 1)
    # replaying the same takedown is a no-op across all three stores
    admission.takedown_wave(spark, [12], dpath, spath, bpath)
    docs2, vecs2 = _store_ids(spark, dpath, spath)
    assert 40 in docs2 and 40 in vecs2


@pytest.mark.slow
def test_admission_refuses_pending_takedown(spark, tmp_path, monkeypatch):
    """The r16-queued admission-side guard: a wave must FAIL LOUD when
    a target store carries a crashed takedown's durable
    _delete_intent — re-admitting mid-crash would feed the re-driven
    delete the just-re-admitted rows, and an append into a
    staged-delete bucket would be lost at the swap. After the
    operator finishes the takedown (resume_pending_delete), the same
    wave admits normally. Both the overlap and the disjoint wording
    are exercised."""
    import pytest

    dpath, spath = _seed_stores(spark, tmp_path)
    w1 = spark.createDataFrame(_WAVE1, _SCHEMA)
    admission.admission_wave(spark, w1, dpath, spath)

    # crash a takedown of doc 12 INSIDE the dedup store's delete —
    # the durable intent stays behind
    monkeypatch.setattr(
        dedup_store.DEDUP, "_run_recorded_delete",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        dedup_store.delete_from_dedup_store(spark, [12], dpath)
    monkeypatch.undo()

    # a wave RE-ADMITTING the pending victim: refused, overlap named
    w_re = spark.createDataFrame([(12, "w", T3, _E_NOVEL)], _SCHEMA)
    with pytest.raises(RuntimeError, match="IN THIS WAVE"):
        admission.admission_wave(spark, w_re, dpath, spath)
    # a DISJOINT wave: refused too (the staged-swap hazard is
    # id-independent)
    w2 = spark.createDataFrame(_WAVE2, _SCHEMA)
    with pytest.raises(RuntimeError, match="disjoint from this wave"):
        admission.admission_wave(spark, w2, dpath, spath)
    # neither refused wave mutated the stores
    docs, _vecs = _store_ids(spark, dpath, spath)
    assert docs == {1, 12}

    # finish the takedown -> the wave admits normally
    assert dedup_store.resume_pending_delete(spark, dpath)
    r = _stage_map(
        admission.admission_wave(spark, w_re, dpath, spath).collect()
    )
    assert r[12][0] in ("admitted", "dup_semantic")
    docs, _vecs = _store_ids(spark, dpath, spath)
    assert 12 in docs


@pytest.mark.slow
def test_admission_refuses_mid_wave_takedown_crash(
    spark, tmp_path, monkeypatch
):
    """r17 review: a takedown_wave crashed BETWEEN stores consumes the
    per-store _delete_intent of every completed store, so only the
    wave-level _takedown_wave_ids marker (written before any store
    mutates, removed after the last) records the in-flight wave.
    Admission must refuse on it; a takedown_wave for a DIFFERENT set
    must refuse too; re-driving the recorded wave completes, removes
    the marker, and admission resumes."""
    import pytest

    from trisk_spark.functions import semantic_store as sem

    dpath, spath = _seed_stores(spark, tmp_path)
    w1 = spark.createDataFrame(_WAVE1, _SCHEMA)
    admission.admission_wave(spark, w1, dpath, spath)

    # crash BETWEEN stores: dedup delete completes (its intent
    # consumed), the semantic delete never starts
    real = sem.delete_from_semantic_store
    monkeypatch.setattr(
        sem, "delete_from_semantic_store",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        admission.takedown_wave(spark, [12], dpath, spath)
    monkeypatch.setattr(sem, "delete_from_semantic_store", real)
    import glob

    assert glob.glob(f"{dpath}/_delete_intent*") == [], (
        "fixture broken: the dedup delete was supposed to COMPLETE"
    )

    # mid-crash re-admission refused via the wave marker
    w_re = spark.createDataFrame([(12, "w", T3, _E_NOVEL)], _SCHEMA)
    with pytest.raises(RuntimeError, match="IN THIS WAVE"):
        admission.admission_wave(spark, w_re, dpath, spath)
    # a different takedown wave refused too
    with pytest.raises(RuntimeError, match="DIFFERENT"):
        admission.takedown_wave(spark, [99], dpath, spath)

    # re-drive the recorded wave -> completes, marker gone, admission
    # resumes and the doc is re-admittable
    admission.takedown_wave(spark, [12], dpath, spath)
    r = _stage_map(
        admission.admission_wave(spark, w_re, dpath, spath).collect()
    )
    assert r[12][0] == "admitted"
    docs, vecs = _store_ids(spark, dpath, spath)
    assert 12 in docs and 12 in vecs
