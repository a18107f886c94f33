"""Persisted positional postings store (functions/phrase_store.py):
partition pruning pinned, probe ≡ the batch phrase kernel, append ≡
rebuild, ingest stream + replay guard, forced-crash takedown resume at
every window, blast radius, composed takedown_wave wiring. Oracle
parity for ``phrase_incremental`` lives in test_oracle_parity's
library pass (oracle = PHRASE_SEARCH_SQL verbatim)."""

from __future__ import annotations

import glob
import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import phrase_store as P
from trisk_spark.functions import storefs
from trisk_spark.streaming.sources import checkpoint_dir

from .conftest import SF_DIR


def _corpus_split(spark):
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    mod = P.PHRASE_ARRIVING_MOD
    existing = docs.where(F.pmod(F.col("doc_id"), F.lit(mod)) != 0)
    arriving = docs.where(F.pmod(F.col("doc_id"), F.lit(mod)) == 0)
    return existing, arriving


def _postings_snap(spark, path):
    return sorted(
        (r["term"], r["doc_id"], tuple(r["positions"]), r["bucket"])
        for r in spark.read.parquet(f"{path}/postings").collect()
    )


#: a crafted corpus with known phrase structure: docs 0-7 are probe
#: docs (phrase = tokens[2:5]); repetition and near-miss orderings
#: exercise both counters. Doc 100 repeats probe 0's phrase twice
#: consecutively AND once windowed; doc 101 has the words in order but
#: spread past the window; doc 102 has them in the wrong order.
def _crafted(spark):
    rows = [
        (0, "aa bb red green blue tail0 end"),
        (1, "aa bb one two three tail1 end"),
        (2, "aa bb alpha beta gamma tail2 end"),
        (3, "aa bb wide gap words tail3 end"),
        (100, "red green blue x red green blue y red pad green q blue"),
        (101, "red p1 p2 p3 p4 green p5 p6 p7 p8 blue"),
        (102, "blue green red blue green red"),
        (103, "one two three and one x two y three"),
        (104, "alpha q beta q gamma"),
        (105, "wide gap words wide gap words"),
        (106, "unrelated filler text with nothing shared"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_probe_prunes_buckets_and_equals_batch_kernel(spark, tmp_path):
    """The probe's postings read must carry a PartitionFilters entry on
    bucket and route to fewer buckets than the store holds; and because
    the index is exact, probing the deterministic phrase set over a
    full-corpus store must equal ``phrase_search`` row for row."""
    from trisk_spark.functions.text import _phrase_probes, phrase_search

    path = str(tmp_path / "store")
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    P.write_phrase_store(spark, docs, path)

    probes = _phrase_probes(spark, SF_DIR)
    terms = sorted({t for _q, ws in probes for t in ws})
    buckets = sorted({P._bucket_of(t) for t in terms})
    pruned = spark.read.parquet(f"{path}/postings").where(
        F.col("bucket").isin(buckets)
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan
    n_dirs = len(glob.glob(f"{path}/postings/bucket=*"))
    assert len(buckets) < n_dirs, "probe routes to every bucket — vacuous"

    got = sorted(map(tuple, P.probe_phrase_store(spark, path, probes).collect()))
    want = sorted(map(tuple, phrase_search(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


def test_crafted_counts_equal_batch_kernel(spark, tmp_path):
    """Planted repetition/window/near-miss corpus: the store probe's
    position-set arithmetic must equal the in-row batch kernel on every
    (count, rank), and the known hand-derivable counts must hold —
    consecutive repeats, a greedy windowed-only match, an out-of-window
    ordering (no match), and a wrong-order doc (no match)."""
    from trisk_spark.functions.text import phrase_search_frame

    docs = _crafted(spark)
    probes = [
        (0, ["red", "green", "blue"]),
        (1, ["one", "two", "three"]),
        (2, ["alpha", "beta", "gamma"]),
        (3, ["wide", "gap", "words"]),
    ]
    path = str(tmp_path / "store")
    P.write_phrase_store(spark, docs, path)
    got = sorted(
        map(
            tuple,
            P.probe_phrase_store(spark, path, probes)
            .select("query_id", "doc_id", "phrase", "n_exact", "n_prox")
            .collect(),
        )
    )
    want_df = phrase_search_frame(spark, docs, probes)
    want = sorted(map(tuple, want_df.collect()))
    assert got == want and len(got) > 0
    by = {(r[0], r[1]): (r[3], r[4]) for r in got}
    # doc 100: "red green blue x red green blue y red pad green q blue"
    # exact anchors at 1 and 5; anchor 9 (red pad green q blue) is a
    # windowed-only greedy match (green at +2, blue at +4 ≤ W-1=5)
    assert by[(0, 100)] == (2, 3)
    # doc 101: words in order but green is 5 past red — outside the
    # 6-token window: no match row at all
    assert (0, 101) not in by
    # doc 102: wrong order — no match
    assert (0, 102) not in by
    # doc 103: one exact + one windowed ("one x two y three": two at
    # +2, three at +4)
    assert by[(1, 103)] == (1, 2)
    # doc 104: windowed-only (alpha q beta q gamma)
    assert by[(2, 104)] == (0, 1)
    # doc 105: the phrase twice, consecutively
    assert by[(3, 105)] == (2, 2)


def test_append_equals_rebuild(spark, tmp_path):
    """append(existing store, wave) ≡ write over existing ∪ wave —
    the single postings table, byte-for-byte on (term, doc_id,
    positions, bucket); an empty wave changes nothing."""
    existing, arriving = _corpus_split(spark)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    P.write_phrase_store(spark, existing, inc)
    P.append_phrase_store(spark, arriving, inc)
    P.write_phrase_store(spark, existing.unionByName(arriving), full)
    assert _postings_snap(spark, inc) == _postings_snap(spark, full)

    snap = _postings_snap(spark, inc)
    P.append_phrase_store(
        spark, spark.createDataFrame([], "doc_id long, text string"), inc
    )
    assert _postings_snap(spark, inc) == snap


def test_probe_ceiling_empty_and_unknown(spark, tmp_path):
    path = str(tmp_path / "store")
    existing, _ = _corpus_split(spark)
    P.write_phrase_store(spark, existing, path)
    from trisk_spark.functions.text import _phrase_probes

    probes = _phrase_probes(spark, SF_DIR)
    with pytest.raises(ValueError, match="postings rows"):
        P.probe_phrase_store(spark, path, probes, max_postings=1)
    assert P.probe_phrase_store(spark, path, []).count() == 0
    out = P.probe_phrase_store(
        spark, path, [(9, ["qqqqq", "zzzzz", "xxxxx"])]
    )
    assert out.count() == 0


def test_ingest_stream_loop_and_replay_guard(spark, tmp_path):
    """Waves appended through the stream land exactly once: the index
    equals a from-scratch rebuild after the run, and a forced
    checkpoint replay (same stream, fresh checkpoint) is swallowed by
    the persisted watermark — no sink calls, byte-identical table."""
    import time as _time

    existing, arriving = _corpus_split(spark)
    path = str(tmp_path / "store")
    P.write_phrase_store(spark, existing, path)

    waves = arriving.orderBy("doc_id").limit(20).collect()
    waves_dir = str(tmp_path / "waves")
    now = int(_time.time())
    seen: set[str] = set()
    for i, lo in enumerate((0, 10)):
        spark.createDataFrame(
            [(r.doc_id, r.text) for r in waves[lo:lo + 10]],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(waves_dir)
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
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(waves_dir)
        )
        q = (
            P.phrase_ingest_stream(spark, stream, path, sink)
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch_rows: dict[int, int] = {}
    run("phraseingest1", lambda w, bid: batch_rows.update({bid: w.count()}))
    assert sorted(batch_rows) == [0, 1] and all(
        n > 0 for n in batch_rows.values()
    )
    assert storefs.read_ingest_watermark(path) == 1

    snap = _postings_snap(spark, path)
    replays = []
    run("phraseingest2", lambda w, bid: replays.append(bid))
    assert replays == [], "replayed batches reached the sink"
    assert _postings_snap(spark, path) == snap

    rebuilt = str(tmp_path / "rebuilt")
    P.write_phrase_store(
        spark,
        existing.select("doc_id", "text").unionByName(
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in waves[:20]],
                "doc_id long, text string",
            )
        ),
        rebuilt,
    )
    assert snap == _postings_snap(spark, rebuilt)
    row = P.phrase_store_stats(spark, path).collect()[0]
    assert row.n_dup_postings == 0


def test_replayed_append_detect_and_repair(spark, tmp_path):
    """The watermark crash window as CODE: a wave's append lands, the
    watermark write is skipped, the batch replays — the postings table
    duplicates per (term, doc_id). Detection: n_dup_postings > 0.
    Repair: repair_replayed_append → stats clean AND probe ≡ a
    never-crashed twin's."""
    from trisk_spark.functions.text import _phrase_probes

    existing, arriving = _corpus_split(spark)
    wave = arriving.orderBy("doc_id").limit(10)
    path, twin = str(tmp_path / "store"), str(tmp_path / "twin")
    for p in (path, twin):
        P.write_phrase_store(spark, existing, p)
        P.append_phrase_store(spark, wave, p)
    P.append_phrase_store(spark, wave, path)  # the replay
    row = P.phrase_store_stats(spark, path).collect()[0]
    assert row.n_dup_postings > 0, "replayed postings undetected"

    P.repair_replayed_append(spark, path)
    row = P.phrase_store_stats(spark, path).collect()[0]
    assert row.n_dup_postings == 0
    probes = _phrase_probes(spark, SF_DIR)
    repaired = sorted(
        map(tuple, P.probe_phrase_store(spark, path, probes).collect())
    )
    clean = sorted(
        map(tuple, P.probe_phrase_store(spark, twin, probes).collect())
    )
    assert repaired == clean and len(repaired) > 0


@pytest.mark.slow
def test_probe_stream_equals_batch(spark, tmp_path):
    """Arriving PROBES scored per micro-batch must union to the
    one-call image — probes are independent rows."""
    from trisk_spark.functions.text import _phrase_probes

    path = str(tmp_path / "store")
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    P.write_phrase_store(spark, docs, path)
    probes = _phrase_probes(spark, SF_DIR)
    assert len(probes) >= 4

    qdir = str(tmp_path / "probes")
    for qid, ws in probes:  # one file per probe → one micro-batch each
        spark.createDataFrame(
            [(qid, ws[0], ws[1], ws[2])],
            "query_id int, w0 string, w1 string, w2 string",
        ).coalesce(1).write.mode("append").parquet(qdir)
    got: list[tuple] = []
    stream = (
        spark.readStream.schema(
            "query_id int, w0 string, w1 string, w2 string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    q = (
        P.phrase_probe_stream(
            spark, stream, path,
            lambda df, bid: got.extend(map(tuple, df.collect())),
        )
        .option("checkpointLocation", checkpoint_dir("phraseprobe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = sorted(
        map(tuple, P.probe_phrase_store(spark, path, probes).collect())
    )
    assert sorted(got) == want and len(want) > 0


def test_compact_preserves_probe_and_cuts_files(spark, tmp_path):
    from trisk_spark.functions.text import _phrase_probes

    existing, arriving = _corpus_split(spark)
    path = str(tmp_path / "store")
    P.write_phrase_store(spark, existing, path)
    wave_ids = [r.doc_id for r in arriving.select("doc_id").orderBy("doc_id").limit(15).collect()]
    for lo in (0, 5, 10):
        P.append_phrase_store(
            spark,
            arriving.where(F.col("doc_id").isin(wave_ids[lo:lo + 5])),
            path,
        )
    probes = _phrase_probes(spark, SF_DIR)
    before = sorted(
        map(tuple, P.probe_phrase_store(spark, path, probes).collect())
    )
    files_before = len(glob.glob(f"{path}/postings/bucket=*/part-*"))
    P.compact_phrase_store(spark, path)
    files_after = len(glob.glob(f"{path}/postings/bucket=*/part-*"))
    assert files_after < files_before
    n_dirs = len(glob.glob(f"{path}/postings/bucket=*"))
    assert files_after <= n_dirs
    after = sorted(
        map(tuple, P.probe_phrase_store(spark, path, probes).collect())
    )
    assert before == after


# ------------------------------------------------ takedown ----------


def test_delete_equals_rebuild_probes_and_blast_radius(spark, tmp_path):
    """delete ≡ write over the corpus without the victims, table for
    table; victims unretrievable; and the rewrite touches ONLY the
    victims' routed bucket directories (the touched-directory cost
    model — the one way takedown could silently degrade to
    corpus-sized work)."""
    docs = spark.createDataFrame(
        [
            (i, f"shared words here plus unique{i} token{i}")
            for i in range(20)
        ]
        + [(500, "lonely vocabulary nothing shares these")],
        "doc_id long, text string",
    )
    victims = [0, 1, 500]
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    P.write_phrase_store(spark, docs, live)
    P.write_phrase_store(
        spark, docs.where(~F.col("doc_id").isin(victims)), ref
    )

    def listing(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            files = [f for f in files if not f.startswith("_")]
            if files:
                out[os.path.relpath(dirpath, root)] = sorted(files)
        return out

    before = listing(f"{live}/postings")
    routed = {
        f"bucket={int(r['bucket'])}"
        for r in spark.read.parquet(f"{live}/postings")
        .where(F.col("doc_id").isin(victims))
        .select("bucket")
        .distinct()
        .collect()
    }
    P.delete_from_phrase_store(spark, victims, live)
    after = listing(f"{live}/postings")
    changed = {
        d for d in set(before) | set(after) if before.get(d) != after.get(d)
    }
    assert changed, "takedown touched nothing — vacuous fixture"
    assert changed <= routed, (
        f"takedown rewrote UNROUTED bucket dirs: {sorted(changed - routed)[:5]}"
    )
    assert len(routed) < len(before), (
        "every bucket routed — fixture cannot pin blast radius"
    )
    assert _postings_snap(spark, live) == _postings_snap(spark, ref)
    q = [(1, ["shared", "words", "here"]), (2, ["lonely", "vocabulary", "nothing"])]
    a = sorted(map(tuple, P.probe_phrase_store(spark, live, q).collect()))
    b = sorted(map(tuple, P.probe_phrase_store(spark, ref, q).collect()))
    assert a == b
    assert not any(r[1] in victims for r in a)  # victims unretrievable
    row = P.phrase_store_stats(spark, live).collect()[0]
    assert row.n_dup_postings == 0


def test_delete_crash_after_staging_commit_resume(
    spark, tmp_path, monkeypatch
):
    """Crash with the staging committed but no live bucket directory
    swapped: resume must finish purely from durable state."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(12)],
        "doc_id long, text string",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    P.write_phrase_store(spark, docs, live)
    P.write_phrase_store(spark, docs.where(F.col("doc_id") >= 2), ref)

    real_complete = storefs.complete_staged_partition_swap

    def flaky(path, table_, part_col):
        if os.path.isdir(
            f"{storefs.strip_file_scheme(path)}/{table_}_staged_delete"
        ):
            raise RuntimeError("injected post-stage")
        return real_complete(path, table_, part_col)

    monkeypatch.setattr(storefs, "complete_staged_partition_swap", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        P.delete_from_phrase_store(spark, [0, 1], live)
    monkeypatch.setattr(
        storefs, "complete_staged_partition_swap", real_complete
    )
    assert os.path.isdir(f"{live}/postings_staged_delete")
    assert P.resume_pending_delete(spark, live)
    assert _postings_snap(spark, live) == _postings_snap(spark, ref)
    assert glob.glob(f"{live}/_delete_intent*") == []
    assert glob.glob(f"{live}/postings_staged_delete*") == []


def test_delete_crash_mid_directory_swap_resume(spark, tmp_path, monkeypatch):
    """Crash AFTER a live bucket directory was destroyed but BEFORE its
    staged kept rows were renamed in — kept rows are durable in the
    committed staging and resume replays the swap."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(12)],
        "doc_id long, text string",
    )
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    P.write_phrase_store(spark, docs, live)
    P.write_phrase_store(spark, docs.where(F.col("doc_id") >= 2), ref)

    real_rename = os.rename

    def flaky(src, dst):
        if "_staged_delete/" in str(src).replace(os.sep, "/"):
            raise RuntimeError("injected mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(storefs.os, "rename", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        P.delete_from_phrase_store(spark, [0, 1], live)
    monkeypatch.setattr(storefs.os, "rename", real_rename)
    assert P.resume_pending_delete(spark, live)
    assert _postings_snap(spark, live) == _postings_snap(spark, ref)
    assert glob.glob(f"{live}/_delete_intent*") == []
    assert glob.glob(f"{live}/postings_staged_delete*") == []


@pytest.mark.slow
def test_takedown_wave_clears_phrase_store_and_reconverges(
    spark, tmp_path, monkeypatch
):
    """The composed takedown drives the phrase store too (r16 VERDICT
    next-round #3): victims vanish from the positional index; a crash
    between the bm25 and phrase deletes re-drives to convergence; and
    re-admit-then-re-takedown converges with no caller bookkeeping
    (row-store idempotence — per-(term,doc) facts need no sequence)."""
    from trisk_spark.functions import admission
    from trisk_spark.functions import phrase_store as PS
    from trisk_spark.functions.dedup_store import (
        append_dedup_store,
        write_dedup_store,
    )
    from trisk_spark.functions.semantic_store import (
        append_semantic_store,
        write_semantic_store,
    )

    def vec(i):
        v = [0.001 * ((i + k) % 5) for k in range(64)]
        v[i % 64] = 0.8
        return [float(x) for x in v]

    ids = list(range(15))
    docs = spark.createDataFrame(
        [(i, f"document body {i} with words w{i} x{i}") for i in ids],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )
    dpath, spath, ppath = (
        str(tmp_path / "d"), str(tmp_path / "s"), str(tmp_path / "p")
    )
    write_dedup_store(spark, docs, dpath)
    write_semantic_store(spark, emb, spath)
    P.write_phrase_store(spark, docs, ppath)

    victims = [3, 9]
    ref = str(tmp_path / "ref")
    P.write_phrase_store(
        spark, docs.where(~F.col("doc_id").isin(victims)), ref
    )

    # crash between the row-store deletes and the phrase delete: the
    # re-driven wave converges (earlier stores' deletes replay as
    # no-ops, the phrase delete lands)
    real = PS.delete_from_phrase_store
    calls = {"n": 0}

    def flaky(sp, dids, pth):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected pre-phrase")
        return real(sp, dids, pth)

    monkeypatch.setattr(PS, "delete_from_phrase_store", flaky)
    with pytest.raises(RuntimeError, match="injected"):
        admission.takedown_wave(
            spark, victims, dpath, spath, phrase_path=ppath
        )
    admission.takedown_wave(spark, victims, dpath, spath, phrase_path=ppath)
    monkeypatch.setattr(PS, "delete_from_phrase_store", real)
    assert _postings_snap(spark, ppath) == _postings_snap(spark, ref)
    assert (
        spark.read.parquet(f"{ppath}/postings")
        .where(F.col("doc_id").isin(victims))
        .count()
        == 0
    )

    # re-admit, then a SECOND legitimate takedown of the same ids —
    # must converge again with no caller-side bookkeeping
    append_dedup_store(spark, docs.where(F.col("doc_id").isin(victims)), dpath)
    append_semantic_store(spark, emb.where(F.col("vec_id").isin(victims)), spath)
    P.append_phrase_store(
        spark, docs.where(F.col("doc_id").isin(victims)), ppath
    )
    admission.takedown_wave(spark, victims, dpath, spath, phrase_path=ppath)
    assert _postings_snap(spark, ppath) == _postings_snap(spark, ref)


def test_object_store_paths_fail_loud(spark):
    with pytest.raises(ValueError, match="atomic-rename"):
        P.delete_from_phrase_store(spark, [1], "s3://bucket/store")
    with pytest.raises(ValueError, match="atomic-rename"):
        P.compact_phrase_store(spark, "s3://bucket/store")
    with pytest.raises(ValueError, match="atomic-rename"):
        P.phrase_ingest_stream(spark, None, "s3://bucket/store", None)


def test_append_and_ingest_refuse_pending_delete(
    spark, tmp_path, monkeypatch
):
    """r17 review: this store is not among admission_wave's composed
    targets, so its append verbs are its only admission path and must
    carry the pending-takedown guard themselves — an append into a
    bucket whose staged delete already committed would be LOST at the
    staged swap (and with the watermark advanced, never re-ingested).
    After resume_pending_delete the same wave appends normally."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(10)],
        "doc_id long, text string",
    )
    live = str(tmp_path / "live")
    P.write_phrase_store(spark, docs, live)

    real = P.PHRASE._run_recorded_delete
    monkeypatch.setattr(
        P.PHRASE, "_run_recorded_delete",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        P.delete_from_phrase_store(spark, [0, 1], live)
    monkeypatch.setattr(P.PHRASE, "_run_recorded_delete", real)

    wave = spark.createDataFrame(
        [(100, "common ground fresh wave words")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="_delete_intent"):
        P.append_phrase_store(spark, wave, live)

    # the ingest stream's guard fires per batch BEFORE anything lands
    wdir = str(tmp_path / "waves")
    wave.coalesce(1).write.mode("overwrite").parquet(wdir)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(wdir)
    )
    q = (
        P.phrase_ingest_stream(spark, stream, live, lambda df, bid: None)
        .option("checkpointLocation", checkpoint_dir("phraseguard"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="_delete_intent"):
        q.awaitTermination()
    assert storefs.read_ingest_watermark(live) is None

    assert P.resume_pending_delete(spark, live)
    P.append_phrase_store(spark, wave, live)
    got = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{live}/postings")
        .select("doc_id").distinct().collect()
    )
    assert got == [2, 3, 4, 5, 6, 7, 8, 9, 100]
