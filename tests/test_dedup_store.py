"""Persisted MinHash dedup store (functions/dedup_store.py): partition
pruning pinned, probe ceiling, write-time bucket cap, near-copy
detection, stream ≡ batch. Oracle parity for ``dedup_incremental``
lives in test_oracle_parity's library pass."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import dedup_store
from trisk_spark.functions.dedup import BUCKET_CAP, N_BANDS
from trisk_spark.streaming.sources import checkpoint_dir

from .conftest import SF_DIR


def _corpus_split(spark):
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    mod = dedup_store.DEDUP_ARRIVING_MOD
    existing = docs.where(F.pmod(F.col("doc_id"), F.lit(mod)) != 0)
    arriving = docs.where(F.pmod(F.col("doc_id"), F.lit(mod)) == 0)
    return existing, arriving


def test_probe_prunes_band_partitions(spark, tmp_path):
    # the probe's bands read must carry a PartitionFilters entry on
    # (band_idx, bucket), and a small probe must route to FEWER
    # buckets than the store holds — otherwise the store is a full
    # scan with extra steps
    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)

    few = arriving.orderBy("doc_id").limit(2)
    out = dedup_store.probe_dedup_store(spark, few, path)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    scan = [
        blk for blk in plan.split("\n\n")
        if "bands" in blk and "PartitionFilters" in blk
    ]
    assert scan, f"bands scan lost its PartitionFilters:\n{plan}"
    assert "band_idx" in scan[0] and "bucket" in scan[0], scan[0]

    written = (
        spark.read.parquet(f"{path}/bands")
        .select("band_idx", "bucket")
        .distinct()
        .count()
    )
    from trisk_spark.functions.dedup import minhash_signatures_inrow

    sig = minhash_signatures_inrow(few)
    bands_new = dedup_store.minhash_bands(sig).select(
        F.col("band_idx").cast("int").alias("band_idx"),
        "bh",
    ).withColumn(
        "bucket",
        dedup_store._bucket(n_buckets=dedup_store._store_fan(path)),
    )
    routed = dedup_store._routed_buckets_checked(bands_new, 10)
    assert 0 < len(routed) < written, (
        f"pruning is vacuous: {len(routed)} routed of {written} written"
    )


def test_probe_ceiling_and_empty_batch(spark, tmp_path):
    # guard folded into the routing collect: fail loud past the cap;
    # an empty arriving frame probes nothing and returns the schema
    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)

    with pytest.raises(ValueError, match="dedup probe batch exceeds 1 "):
        dedup_store.probe_dedup_store(
            spark, arriving.limit(5), path, max_probe_rows=1
        )

    empty = arriving.where(F.lit(False))
    out = dedup_store.probe_dedup_store(spark, empty, path)
    assert out.columns == ["doc_id", "dup_of", "n_agree", "est_jaccard", "is_dup"]
    assert out.count() == 0


def test_write_caps_degenerate_buckets(spark, tmp_path):
    # a byte-identical flood (> BUCKET_CAP copies) maps every copy to
    # the same (band_idx, bh); the WRITTEN store must hold at most
    # BUCKET_CAP members per bucket (smallest doc_ids), so no future
    # probe can fan out past the cap
    n = BUCKET_CAP + 50
    text = " ".join(f"w{i % 17}" for i in range(40))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    path = str(tmp_path / "flood")
    dedup_store.write_dedup_store(spark, docs, path)
    per = (
        spark.read.parquet(f"{path}/bands")
        .groupBy("band_idx", "bh")
        .count()
    )
    mx = per.agg(F.max("count").alias("m")).collect()[0]["m"]
    assert mx == BUCKET_CAP, f"write-time cap missed: {mx}"
    # and the kept members are the SMALLEST ids (deterministic rule)
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{path}/bands")
        .where(F.col("band_idx") == 0)
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert kept == list(range(BUCKET_CAP))


def test_near_copy_flags_against_store(spark, tmp_path):
    # an arriving byte-copy of an existing document must flag is_dup
    # with dup_of = that document and est_jaccard = 1.0; an arriving
    # doc sharing no shingles must be absent from the result
    text = " ".join(f"tok{i}" for i in range(60))
    other = " ".join(f"zzz{i}" for i in range(60))
    existing = spark.createDataFrame(
        [(1, text), (2, other)], "doc_id long, text string"
    )
    arriving = spark.createDataFrame(
        [(100, text), (200, " ".join(f"q{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    path = str(tmp_path / "store")
    dedup_store.write_dedup_store(spark, existing, path)
    rows = {
        r.doc_id: r
        for r in dedup_store.probe_dedup_store(spark, arriving, path).collect()
    }
    assert set(rows) == {100}
    assert rows[100].dup_of == 1
    assert rows[100].n_agree == dedup_store.N_PERMS
    assert rows[100].est_jaccard == 1.0 and rows[100].is_dup


@pytest.mark.slow
def test_dedup_probe_stream_equals_batch(spark, tmp_path):
    """Arriving documents replayed across micro-batches must union to
    exactly the one-batch probe image (probe independence), each batch
    reading only its own routed buckets."""
    import os
    import time as _time

    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)

    arr_rows = arriving.select("doc_id", "text").orderBy("doc_id").limit(6).collect()
    assert len(arr_rows) == 6
    docs_dir = str(tmp_path / "arriving")
    for r in arr_rows:
        spark.createDataFrame(
            [(r.doc_id, r.text)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(docs_dir)
    now = int(_time.time())
    parts = sorted(
        f for f in os.listdir(docs_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(docs_dir, fname), times=(now + i, now + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(docs_dir)
    )

    emitted = []
    batches = []

    def sink(bdf, bid):
        # every batch materializes (the sink contract); most arriving
        # docs have no near-dup, so count INVOCATIONS, not hits
        batches.append(bid)
        emitted.extend(bdf.collect())

    q = (
        dedup_store.dedup_probe_stream(spark, stream, path, sink)
        .option("checkpointLocation", checkpoint_dir("dedupprobe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "arrivals all landed in one micro-batch — vacuous"

    batch_img = dedup_store.probe_dedup_store(
        spark,
        spark.createDataFrame(
            [(r.doc_id, r.text) for r in arr_rows], "doc_id long, text string"
        ),
        path,
    ).collect()
    key = lambda r: (r.doc_id, r.dup_of, r.n_agree, r.est_jaccard, r.is_dup)  # noqa: E731
    assert sorted(map(key, emitted)) == sorted(map(key, batch_img))
    assert len(batch_img) > 0, "no arriving doc collided — vacuous corpus split"


def test_store_fan_is_corpus_derived_and_persisted(spark, tmp_path):
    """The bands partition fan is derived from the corpus size at
    write time (next pow2 of n_docs/4096, clamped [4, 65536]), persisted
    beside the store, and read back by every verb — never a module
    constant for a store that carries metadata (r18: 64 was oversized
    at small corpora and a fixed constant at 100 TB)."""
    import os

    from trisk_spark.functions import storefs

    assert storefs.derived_fan(0) == 4
    assert storefs.derived_fan(4096) == 4
    assert storefs.derived_fan(5 * 4096) == 8
    assert storefs.derived_fan(400_000) == 128
    assert storefs.derived_fan(10**9) == 65536  # clamped, still huge

    path = str(tmp_path / "store")
    existing, _ = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)
    fan = dedup_store._store_fan(path)
    assert fan == storefs.derived_fan(existing.count())
    mx = (
        spark.read.parquet(f"{path}/bands")
        .agg(F.max("bucket"))
        .collect()[0][0]
    )
    assert mx < fan, "bucket values escaped the recorded fan"
    # legacy fallback: a store without the metadata file reads the
    # module constant, so pre-derivation stores stay readable
    os.remove(f"{path}/_n_buckets")
    assert dedup_store._store_fan(path) == dedup_store.N_STORE_BUCKETS


def test_append_equals_rebuild(spark, tmp_path):
    """The ingest loop's write half: admitting a wave into the store
    (append signatures + re-capped rewrite of ONLY the touched
    buckets under dynamic partition overwrite) must produce artifacts
    IDENTICAL to a from-scratch ``write_dedup_store`` over the union —
    the cap rule is order-free, so incremental ≡ rebuild, including on
    a degenerate bucket where the wave's ids displace existing ones."""
    text = " ".join(f"w{i % 17}" for i in range(40))
    # existing: ids 100.. (BUCKET_CAP of them, all identical text →
    # one mega-bucket per band, exactly at the cap)
    existing = spark.range(100, 100 + BUCKET_CAP).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    # wave: 10 SMALLER ids with the same text (must displace the 10
    # largest existing members under the smallest-ids cap rule) + 5
    # fresh distinct docs (new buckets)
    wave = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    ).unionByName(
        spark.createDataFrame(
            [(1000 + i, " ".join(f"fresh{i}x{j}" for j in range(40)))
             for i in range(5)],
            "doc_id long, text string",
        )
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    dedup_store.write_dedup_store(spark, existing, inc)
    dedup_store.append_dedup_store(spark, wave, inc)
    dedup_store.write_dedup_store(spark, existing.unionByName(wave), full)

    def snap(path, table_, cols):
        return sorted(
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(f"{path}/{table_}").collect()
        )

    bcols = ["doc_id", "band_idx", "bucket", "bh"]
    assert snap(inc, "bands", bcols) == snap(full, "bands", bcols)
    scols = ["doc_id"] + [f"h{i}" for i in range(dedup_store.N_PERMS)]
    assert snap(inc, "signatures", scols) == snap(full, "signatures", scols)
    # displacement actually happened: the 10 smallest wave ids are in,
    # the 10 largest original members are out of the mega-bucket
    mega_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{inc}/bands")
        .where(F.col("band_idx") == 0)
        .select("doc_id")
        .distinct()
        .collect()
        if r.doc_id < 1000
    }
    assert set(range(10)) <= mega_ids
    assert not mega_ids & set(range(100 + BUCKET_CAP - 10, 100 + BUCKET_CAP))


def test_ingest_wave_loop(spark, tmp_path):
    """Two ingest waves: wave 1's near-copy of the corpus is flagged
    and NOT admitted; wave 2's near-copy of a wave-1 ADMITTED doc is
    flagged against the appended store — the loop actually closes."""
    base = " ".join(f"b{i}" for i in range(60))
    novel = " ".join(f"n{i}" for i in range(60))
    path = str(tmp_path / "store")
    dedup_store.write_dedup_store(
        spark,
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        path,
    )
    wave1 = spark.createDataFrame(
        [(10, base), (11, novel)], "doc_id long, text string"
    )
    r1 = {r.doc_id: r for r in dedup_store.ingest_wave(spark, wave1, path).collect()}
    assert r1[10].is_dup and r1[10].dup_of == 1
    assert 11 not in r1  # novel doc: no collision, admitted silently
    stored = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/signatures").select("doc_id").collect()
    }
    assert stored == {1, 11}, "dup admitted or novel doc dropped"

    wave2 = spark.createDataFrame([(20, novel)], "doc_id long, text string")
    r2 = {r.doc_id: r for r in dedup_store.ingest_wave(spark, wave2, path).collect()}
    assert r2[20].is_dup and r2[20].dup_of == 11, (
        "wave 2 did not collide with wave 1's admitted doc — append is vacuous"
    )


@pytest.mark.slow
def test_dedup_ingest_stream_loop(spark, tmp_path):
    """Continuous admission: batch 2's duplicate of a batch-1 ADMITTED
    doc must be flagged (the store advanced between batches), batch 1's
    duplicate of the seed corpus is flagged and kept out, and the
    store's final membership is exactly seed + admitted docs."""
    import os
    import time as _time

    base = " ".join(f"s{i}" for i in range(60))
    novel = " ".join(f"m{i}" for i in range(60))
    path = str(tmp_path / "store")
    dedup_store.write_dedup_store(
        spark,
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        path,
    )
    # batch 1: dup-of-seed (10) + novel (11); batch 2: dup-of-11 (20).
    # Stagger mtimes by WAVE (diff the listing between writes) — part
    # file names are random, so sorting by filename can flip the
    # replay order and break the loop semantics under test
    waves = [[(10, base), (11, novel)], [(20, novel)]]
    docs_dir = str(tmp_path / "waves")

    def _parts():
        return {
            f for f in os.listdir(docs_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        }

    now = int(_time.time())
    seen: set[str] = set()
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(docs_dir)
        fresh = _parts() - seen
        assert len(fresh) == 1
        for fname in fresh:
            os.utime(os.path.join(docs_dir, fname), times=(now + i, now + i))
        seen |= fresh
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )

    reports = []

    def sink(bdf, bid):
        reports.extend(bdf.collect())

    q = (
        dedup_store.dedup_ingest_stream(spark, stream, path, sink)
        .option("checkpointLocation", checkpoint_dir("dedupingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    flags = {r.doc_id: r for r in reports}
    assert flags[10].is_dup and flags[10].dup_of == 1
    assert flags[20].is_dup and flags[20].dup_of == 11, (
        "batch 2 did not collide with batch 1's admitted doc"
    )
    stored = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/signatures").select("doc_id").collect()
    }
    assert stored == {1, 11}


def test_dedup_store_stats_parity_and_saturation(spark, tmp_path):
    # DuckDB parity over the written partitioned parquet (the
    # sax_store stats precedent), and the saturation detector fires on
    # a capped mega-bucket corpus
    import duckdb

    from .conftest import assert_matches_oracle

    path = str(tmp_path / "store")
    existing, _ = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)
    con = duckdb.connect()
    oracle = f"""
      WITH per AS (
        SELECT band_idx, bh, COUNT(*) AS n
        FROM read_parquet('{path}/bands/*/*/*.parquet', hive_partitioning=1)
        GROUP BY band_idx, bh
      ),
      d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
                AS n_dup_signature_ids
            FROM read_parquet('{path}/signatures/*.parquet')),
      u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_unsigned_band_docs FROM (
        SELECT DISTINCT doc_id
        FROM read_parquet('{path}/bands/*/*/*.parquet', hive_partitioning=1)
        WHERE doc_id NOT IN (
          SELECT doc_id FROM read_parquet('{path}/signatures/*.parquet'))))
      SELECT d.n_docs,
        CAST(SUM(n) AS BIGINT) AS n_band_rows,
        CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(MIN(n) AS BIGINT) AS min_bucket,
        CAST(MAX(n) AS BIGINT) AS max_bucket,
        ROUND(AVG(n), 6) AS avg_bucket,
        CAST(SUM(CASE WHEN n >= {BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
          AS saturated_buckets,
        u.n_unsigned_band_docs,
        d.n_dup_signature_ids
      FROM per CROSS JOIN d CROSS JOIN u
      GROUP BY d.n_docs, u.n_unsigned_band_docs, d.n_dup_signature_ids
    """
    assert_matches_oracle(dedup_store.dedup_store_stats(spark, path), con, oracle)

    flood = str(tmp_path / "flood")
    text = " ".join(f"w{i % 17}" for i in range(40))
    dedup_store.write_dedup_store(
        spark,
        spark.range(BUCKET_CAP + 50).select(
            F.col("id").alias("doc_id"), F.lit(text).alias("text")
        ),
        flood,
    )
    row = dedup_store.dedup_store_stats(spark, flood).collect()[0]
    assert row.saturated_buckets == N_BANDS and row.max_bucket == BUCKET_CAP


@pytest.mark.slow
def test_replayed_append_detect_and_repair(spark, tmp_path):
    """The watermark crash window as CODE (r13 VERDICT next-round #3).
    Forced crash: a wave's append lands but the stream dies BEFORE the
    watermark write, so on restart foreachBatch redelivers the batch
    and the ingest loop runs the SAME wave again — the wave's docs are
    unique (no near-twins), so the probe can't flag them (self-matches
    are id-excluded) and their signatures append a second time.
    Detection: ``n_dup_signature_ids`` > 0. Repair:
    ``repair_replayed_append`` → stats clean AND probe ≡ a
    never-crashed twin's."""
    base = " ".join(f"c{i}" for i in range(60))
    novel = " ".join(f"r{i}" for i in range(60))
    other = " ".join(f"q{i}" for i in range(60))
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    wave = spark.createDataFrame(
        [(10, novel), (11, other)], "doc_id long, text string"
    )
    path, twin = str(tmp_path / "store"), str(tmp_path / "twin")
    for p in (path, twin):
        dedup_store.write_dedup_store(spark, seed, p)
        dedup_store.ingest_wave(spark, wave, p)
    # the replay (watermark never landed, guard can't skip the batch)
    dedup_store.ingest_wave(spark, wave, path)
    row = dedup_store.dedup_store_stats(spark, path).collect()[0]
    assert row.n_dup_signature_ids == 2, "replayed append undetected"
    # bands stayed clean — the append re-cap is idempotent
    bands = spark.read.parquet(f"{path}/bands")
    assert (
        bands.groupBy("band_idx", "bh", "doc_id").count()
        .where(F.col("count") > 1).count() == 0
    )

    dedup_store.repair_replayed_append(spark, path)
    row = dedup_store.dedup_store_stats(spark, path).collect()[0]
    assert row.n_dup_signature_ids == 0
    assert row.n_unsigned_band_docs == 0
    assert row.n_docs == 3
    probe = spark.createDataFrame(
        [(30, novel), (31, base)], "doc_id long, text string"
    )
    repaired = sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )
    clean = sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, twin).collect())
    )
    assert repaired == clean and len(repaired) > 0


@pytest.mark.slow
def test_compact_preserves_content_and_cuts_files(spark, tmp_path):
    """Three appended waves leave small files behind; compaction must
    cut the file counts while leaving probe results byte-identical."""
    import glob

    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)
    waves = arriving.orderBy("doc_id").limit(30).collect()
    for lo in (0, 10, 20):
        dedup_store.append_dedup_store(
            spark,
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in waves[lo:lo + 10]],
                "doc_id long, text string",
            ),
            path,
        )

    probe = spark.createDataFrame(
        [(r.doc_id, r.text) for r in waves[:5]], "doc_id long, text string"
    )
    # waves are now IN the store; self-matches are excluded by id, so
    # the probe exercises real cross-doc candidates
    before = sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )

    def nfiles(sub):
        return len(glob.glob(f"{path}/{sub}/**/*.parquet", recursive=True))

    sig_before, bands_before = nfiles("signatures"), nfiles("bands")
    dedup_store.compact_dedup_store(spark, path, row_files=2)
    assert nfiles("signatures") < sig_before
    # at this scale the append rewrite already leaves one file per
    # touched partition, so compaction must not GROW the count; the
    # one-file-per-partition invariant below carries the claim
    assert nfiles("bands") <= bands_before
    # one file per surviving (band_idx, bucket) partition
    import os

    for d in glob.glob(f"{path}/bands/band_idx=*/bucket=*"):
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, d

    after = sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )
    assert after == before and len(after) > 0


def test_ingest_stream_replay_guard(spark, tmp_path):
    """Forced checkpoint replay: running the SAME ingest stream twice
    against a fresh checkpoint (so Spark re-delivers every batch) must
    leave zero duplicate signature rows and byte-identical band tables
    — the persisted batch-id watermark skips already-admitted batches
    (r12 VERDICT next-round #3)."""
    import os
    import time as _time

    base = " ".join(f"r{i}" for i in range(60))
    novel = " ".join(f"v{i}" for i in range(60))
    path = str(tmp_path / "store")
    dedup_store.write_dedup_store(
        spark,
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        path,
    )
    waves = [[(10, base), (11, novel)], [(20, novel)]]
    docs_dir = str(tmp_path / "waves")
    now = int(_time.time())
    seen: set[str] = set()
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(docs_dir)
        fresh = {
            f for f in os.listdir(docs_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        } - seen
        for fname in fresh:
            os.utime(os.path.join(docs_dir, fname), times=(now + i, now + i))
        seen |= fresh

    def run(tag, sink):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(docs_dir)
        )
        q = (
            dedup_store.dedup_ingest_stream(spark, stream, path, sink)
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    first_bids = []
    run("ingestreplay1", lambda bdf, bid: first_bids.append(bid))
    assert first_bids == [0, 1]
    assert dedup_store.read_ingest_watermark(path) == 1

    sig_snap = sorted(
        map(tuple, spark.read.parquet(f"{path}/signatures").collect())
    )
    band_snap = sorted(
        map(tuple, spark.read.parquet(f"{path}/bands").collect())
    )

    # fresh checkpoint → Spark replays batches 0 and 1; the watermark
    # must swallow both (no probe, no append, no sink call)
    replay_bids = []
    run("ingestreplay2", lambda bdf, bid: replay_bids.append(bid))
    assert replay_bids == [], "replayed batches reached the sink"

    sigs = spark.read.parquet(f"{path}/signatures")
    assert sorted(map(tuple, sigs.collect())) == sig_snap
    dup_ids = (
        sigs.groupBy("doc_id").count().where(F.col("count") > 1).count()
    )
    assert dup_ids == 0, "replay duplicated signature rows"
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/bands").collect())
    ) == band_snap
    row = dedup_store.dedup_store_stats(spark, path).collect()[0]
    assert row.n_unsigned_band_docs == 0


@pytest.mark.slow
def test_ingest_loop_with_midstream_compaction(spark, tmp_path):
    """wave → compact → wave: the loop's semantics must be identical
    with a compaction between two waves (r12 VERDICT next-round #7) —
    wave 2 still collides with wave 1's admitted doc through the
    compacted artifacts, probe reports match the uncompacted twin
    store, and stats stay consistent (files shrink, content identical,
    zero unsigned docs)."""
    base = " ".join(f"c{i}" for i in range(60))
    novel = " ".join(f"k{i}" for i in range(60))
    seed = spark.createDataFrame([(1, base)], "doc_id long, text string")
    wave1 = spark.createDataFrame(
        [(10, base), (11, novel)], "doc_id long, text string"
    )
    wave2 = spark.createDataFrame([(20, novel)], "doc_id long, text string")

    compacted, plain = str(tmp_path / "cmp"), str(tmp_path / "pln")
    reports = {}
    for path in (compacted, plain):
        dedup_store.write_dedup_store(spark, seed, path)
        r1 = dedup_store.ingest_wave(spark, wave1, path).collect()
        if path == compacted:
            dedup_store.compact_dedup_store(spark, path, row_files=1)
        r2 = dedup_store.ingest_wave(spark, wave2, path).collect()
        reports[path] = (sorted(map(tuple, r1)), sorted(map(tuple, r2)))

    assert reports[compacted] == reports[plain]
    flags = {r[0]: r for r in reports[compacted][1]}
    assert flags[20][4] and flags[20][1] == 11, (
        "post-compaction wave lost the wave-1 admission"
    )
    for path in (compacted, plain):
        row = dedup_store.dedup_store_stats(spark, path).collect()[0]
        assert row.n_unsigned_band_docs == 0
    stats_c = dedup_store.dedup_store_stats(spark, compacted).collect()[0]
    stats_p = dedup_store.dedup_store_stats(spark, plain).collect()[0]
    assert tuple(stats_c) == tuple(stats_p)


def test_compact_repairs_half_swapped_store(spark, tmp_path):
    """Crash-state repair: simulate every interruption the swap
    protocol can leave behind and assert compact-on-entry (and the
    standalone repair) restores a consistent, probe-identical store."""
    import os
    import shutil

    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    dedup_store.write_dedup_store(spark, existing, path)
    probe = arriving.orderBy("doc_id").limit(3)
    before = sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )

    # stale tmp from a dead build beside a live dir → cleared, then a
    # fresh compaction succeeds (the old code wedged on errorifexists)
    os.makedirs(f"{path}/signatures_compact_tmp/garbage")
    dedup_store.compact_dedup_store(spark, path, row_files=1)
    assert not os.path.exists(f"{path}/signatures_compact_tmp")
    assert before == sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )

    # crash between rename 1 and rename 2: live absent, _old + tmp
    # present → repair must finish the swap forward
    shutil.copytree(f"{path}/signatures", f"{path}/signatures_compact_tmp")
    os.rename(f"{path}/signatures", f"{path}/signatures_old")
    dedup_store.repair_dedup_store(path)
    assert os.path.exists(f"{path}/signatures")
    assert not os.path.exists(f"{path}/signatures_old")
    assert before == sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )

    # rollback state: live absent, only _old present
    os.rename(f"{path}/bands", f"{path}/bands_old")
    dedup_store.repair_dedup_store(path)
    assert os.path.exists(f"{path}/bands")
    assert before == sorted(
        map(tuple, dedup_store.probe_dedup_store(spark, probe, path).collect())
    )


def test_object_store_paths_fail_loud(spark, tmp_path):
    # rename-dependent entry points refuse object-store schemes
    with pytest.raises(ValueError, match="atomic-rename"):
        dedup_store.compact_dedup_store(spark, "s3://bucket/store")
    with pytest.raises(ValueError, match="atomic-rename"):
        dedup_store.dedup_ingest_stream(
            spark, None, "s3a://bucket/store", lambda b, i: None
        )


def test_stats_detect_unsigned_band_docs(spark, tmp_path):
    """The append crash window (bands written, signatures not) is the
    one state a rebuild comparison can't see — n_unsigned_band_docs
    must flag it, and re-running the wave's append (the documented
    repair) must clear it without duplicating band rows."""
    base = " ".join(f"u{i}" for i in range(60))
    novel = " ".join(f"w{i}" for i in range(60))
    path = str(tmp_path / "store")
    dedup_store.write_dedup_store(
        spark,
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        path,
    )
    wave = spark.createDataFrame([(7, novel)], "doc_id long, text string")
    dedup_store.append_dedup_store(spark, wave, path)

    # simulate the crash: strip doc 7's signature rows (bands stay)
    kept = spark.read.parquet(f"{path}/signatures").where(
        F.col("doc_id") != 7
    ).localCheckpoint()
    import shutil

    shutil.rmtree(f"{path}/signatures")
    kept.write.parquet(f"{path}/signatures")
    row = dedup_store.dedup_store_stats(spark, path).collect()[0]
    assert row.n_unsigned_band_docs == 1, "crash window undetected"

    # repair = re-run the wave's append: band re-cap deduplicates, the
    # signature lands once → consistent store, no duplicate band rows
    dedup_store.append_dedup_store(spark, wave, path)
    row = dedup_store.dedup_store_stats(spark, path).collect()[0]
    assert row.n_unsigned_band_docs == 0
    bands = spark.read.parquet(f"{path}/bands")
    assert (
        bands.groupBy("band_idx", "bh", "doc_id").count()
        .where(F.col("count") > 1).count() == 0
    ), "band replay stacked duplicate rows"


# ------------------------------------------------ takedown (r14) -----


def _snap(spark, path, table_, cols):
    return sorted(
        tuple(r[c] for r in [r] for c in cols)
        for r in spark.read.parquet(f"{path}/{table_}").collect()
    )


def _takedown_corpus(spark):
    """258 identical-text docs (ids 0..257 — two PAST the cap, so the
    capped mega-buckets keep 0..255 and evict 256/257) plus three
    distinct docs, one of which (9000) is a whole-bucket loner."""
    text = " ".join(f"w{i % 17}" for i in range(40))
    same = spark.range(0, BUCKET_CAP + 2).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    distinct = spark.createDataFrame(
        [(9000 + i, " ".join(f"lone{i}q{j}" for j in range(40)))
         for i in range(3)],
        "doc_id long, text string",
    )
    return same.unionByName(distinct)


def test_delete_equals_rebuild_with_cap_reentrants(spark, tmp_path):
    """delete ≡ write-without-victims, table-for-table — including the
    cap re-entrants: deleting two IN-CAP members of a saturated bucket
    must re-admit the two members the cap had evicted (a filter-only
    deletion would leave the bucket under-filled vs a rebuild), and
    deleting a loner doc must leave its buckets EMPTY (directory
    cleared — the case dynamic partition overwrite cannot express)."""
    corpus = _takedown_corpus(spark)
    victims = [0, 1, 9000]
    live, ref = str(tmp_path / "live"), str(tmp_path / "ref")
    dedup_store.write_dedup_store(spark, corpus, live)
    dedup_store.delete_from_dedup_store(spark, victims, live)
    dedup_store.write_dedup_store(
        spark, corpus.where(~F.col("doc_id").isin(victims)), ref
    )

    bcols = ["doc_id", "band_idx", "bucket", "bh"]
    scols = ["doc_id"] + [f"h{i}" for i in range(dedup_store.N_PERMS)]
    assert _snap(spark, live, "bands", bcols) == _snap(spark, ref, "bands", bcols)
    assert _snap(spark, live, "signatures", scols) == _snap(
        spark, ref, "signatures", scols
    )
    # the re-entrants really are back and the victims really are gone
    band_ids = {t[0] for t in _snap(spark, live, "bands", ["doc_id"])}
    assert {256, 257} <= band_ids
    assert not {0, 1, 9000} & band_ids
    row = dedup_store.dedup_store_stats(spark, live).collect()[0]
    assert row.n_unsigned_band_docs == 0 and row.n_dup_signature_ids == 0
    # probe over the deleted store ≡ probe over the rebuild
    probe = spark.createDataFrame(
        [(77_000, " ".join(f"w{i % 17}" for i in range(40)))],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup_store.probe_dedup_store(spark, probe, live).collect()))
    b = sorted(map(tuple, dedup_store.probe_dedup_store(spark, probe, ref).collect()))
    assert a == b


def test_delete_is_idempotent_and_validates(spark, tmp_path):
    corpus = _takedown_corpus(spark)
    live = str(tmp_path / "live")
    dedup_store.write_dedup_store(spark, corpus, live)
    dedup_store.delete_from_dedup_store(spark, [9001], live)
    snap1 = _snap(spark, live, "bands", ["doc_id", "band_idx", "bucket", "bh"])
    # replaying the same takedown is a no-op (victims already gone)
    dedup_store.delete_from_dedup_store(spark, [9001], live)
    assert _snap(spark, live, "bands", ["doc_id", "band_idx", "bucket", "bh"]) == snap1
    # empty set: no-op; oversized set: fail-loud
    dedup_store.delete_from_dedup_store(spark, [], live)
    with pytest.raises(ValueError, match="takedown batch"):
        dedup_store.delete_from_dedup_store(
            spark, range(dedup_store.MAX_DELETE_IDS + 1), live
        )


def test_delete_heals_every_crash_window(spark, tmp_path, monkeypatch):
    """Each intermediate crash state re-runs to completion from the
    durable intent: (A) intent only; (B) touched directories cleared
    but not rewritten; (C) bands rewritten, signature swap died. After
    resume, the store is byte-identical to a never-crashed delete."""
    import glob
    import os
    import shutil

    corpus = _takedown_corpus(spark)
    victims = [0, 1, 9000]
    ref = str(tmp_path / "ref")
    dedup_store.write_dedup_store(
        spark, corpus.where(~F.col("doc_id").isin(victims)), ref
    )
    bcols = ["doc_id", "band_idx", "bucket", "bh"]
    scols = ["doc_id"] + [f"h{i}" for i in range(dedup_store.N_PERMS)]

    def fresh(tag):
        p = str(tmp_path / tag)
        dedup_store.write_dedup_store(spark, corpus, p)
        return p

    def write_intent(p):
        tmp = f"{p}/_delete_intent_tmp"
        spark.createDataFrame(
            [(int(i),) for i in victims], "doc_id bigint"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, f"{p}/_delete_intent")

    def assert_healed(p):
        assert _snap(spark, p, "bands", bcols) == _snap(spark, ref, "bands", bcols)
        assert _snap(spark, p, "signatures", scols) == _snap(
            spark, ref, "signatures", scols
        )
        assert glob.glob(f"{p}/_delete_intent*") == []

    # (A) intent landed, nothing else happened
    pa = fresh("a")
    write_intent(pa)
    assert dedup_store.resume_pending_delete(spark, pa)
    assert_healed(pa)

    # (B) intent + exactly the victims' touched directories cleared
    # (what a crash between the rmtree loop and the rewrite leaves)
    pb = fresh("b")
    write_intent(pb)
    from trisk_spark.functions.dedup import minhash_bands

    vsig = spark.read.parquet(f"{pb}/signatures").where(
        F.col("doc_id").isin(victims)
    )
    routes = (
        minhash_bands(vsig)
        .select(
            F.col("band_idx").cast("int").alias("band_idx"),
            dedup_store._bucket(),
        )
        .select("band_idx", "bucket")
        .distinct()
        .collect()
    )
    assert routes
    for r in routes:
        shutil.rmtree(
            f"{pb}/bands/band_idx={r['band_idx']}/bucket={r['bucket']}",
            ignore_errors=True,
        )
    assert dedup_store.resume_pending_delete(spark, pb)
    assert_healed(pb)

    # (C) the signature swap itself dies mid-delete
    pc = fresh("c")
    from trisk_spark.functions import storefs as _sfs

    real_swap = _sfs.swap_in_compacted

    def dying_swap(path, tables):
        raise RuntimeError("injected crash in the signature swap")

    monkeypatch.setattr(_sfs, "swap_in_compacted", dying_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        dedup_store.delete_from_dedup_store(spark, victims, pc)
    monkeypatch.setattr(_sfs, "swap_in_compacted", real_swap)
    assert os.path.exists(f"{pc}/_delete_intent")
    assert dedup_store.resume_pending_delete(spark, pc)
    assert_healed(pc)
    assert not dedup_store.resume_pending_delete(spark, pc)  # nothing pending
