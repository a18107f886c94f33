"""Persisted SRP semantic store (functions/semantic_store.py):
partition pruning pinned, probe ceiling, write-time bucket cap,
near-copy detection, append ≡ rebuild, ingest loop + replay guard,
crash-state repair, stats parity. Oracle parity for
``semantic_incremental`` lives in test_oracle_parity's library pass."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import semantic_store as S
from trisk_spark.functions.similarity import COS_NB_BANDS, VEC_BUCKET_CAP
from trisk_spark.streaming.sources import checkpoint_dir

from .conftest import SF_DIR

_EMB_SCHEMA = "vec_id long, embedding array<double>"


def _corpus_split(spark):
    emb = table(spark, SF_DIR, "embeddings")
    mod = S.SEM_ARRIVING_MOD
    existing = emb.where(F.pmod(F.col("vec_id"), F.lit(mod)) != 0)
    arriving = emb.where(F.pmod(F.col("vec_id"), F.lit(mod)) == 0)
    return existing, arriving


def _vec(sign_flips: set[int] | None = None, scale: float = 1.0):
    """Deterministic mixed-sign 64-dim vector; ``sign_flips`` flips
    the sign of the given dims (flipping one dim in every 8-dim band
    changes every band value)."""
    flips = sign_flips or set()
    out = []
    for i in range(64):
        v = (0.3 + 0.01 * i) * (1.0 if (i * 7) % 3 else -1.0) * scale
        out.append(-v if i in flips else v)
    return out


_BASE = _vec()
_NOVEL = [-x for x in _BASE]  # sign-complement: zero shared bands, cos=-1


def test_probe_prunes_band_partitions(spark, tmp_path):
    # the probe's bands read must carry a PartitionFilters entry on
    # (band_idx, bucket), and a small probe must route to FEWER
    # buckets than the store holds
    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    S.write_semantic_store(spark, existing, path)

    few = arriving.orderBy("vec_id").limit(2)
    out = S.probe_semantic_store(spark, few, path)
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
    bands_new = S._srp_bands(
        S._normed(few).select("vec_id", "vec")
    ).select(
        F.col("band_idx").cast("int").alias("band_idx"), "bv"
    ).withColumn("bucket", S._vbucket(n_buckets=S._store_fan(path)))
    routed = S._routed_buckets_checked(bands_new, 10)
    assert 0 < len(routed) < written, (
        f"pruning is vacuous: {len(routed)} routed of {written} written"
    )


def test_probe_ceiling_and_empty_batch(spark, tmp_path):
    # guard folded into the routing collect: fail loud past the cap;
    # an empty (or all-invalid) arriving frame probes nothing and
    # returns the schema
    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    S.write_semantic_store(spark, existing, path)

    with pytest.raises(ValueError, match="semantic probe batch exceeds 1 "):
        S.probe_semantic_store(
            spark, arriving.limit(5), path, max_probe_rows=1
        )

    empty = arriving.where(F.lit(False))
    out = S.probe_semantic_store(spark, empty, path)
    assert out.columns == ["vec_id", "dup_of", "cosine_sim", "is_dup"]
    assert out.count() == 0

    invalid = spark.createDataFrame(
        [(9001, None), (9002, [0.0] * 64)], _EMB_SCHEMA
    )  # NULL vector + zero-norm vector: both gated out before banding
    assert S.probe_semantic_store(spark, invalid, path).count() == 0


def test_write_caps_degenerate_buckets(spark, tmp_path):
    # an identical-vector flood (> VEC_BUCKET_CAP copies) maps every
    # copy to the same (band_idx, bv); the WRITTEN store must hold at
    # most VEC_BUCKET_CAP members per bucket (smallest vec_ids)
    n = VEC_BUCKET_CAP + 50
    flood = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x) for x in _BASE]).alias("embedding"),
    )
    path = str(tmp_path / "flood")
    S.write_semantic_store(spark, flood, path)
    per = (
        spark.read.parquet(f"{path}/bands")
        .groupBy("band_idx", "bv")
        .count()
    )
    mx = per.agg(F.max("count").alias("m")).collect()[0]["m"]
    assert mx == VEC_BUCKET_CAP, f"write-time cap missed: {mx}"
    kept = sorted(
        r.vec_id
        for r in spark.read.parquet(f"{path}/bands")
        .where(F.col("band_idx") == 0)
        .select("vec_id")
        .distinct()
        .collect()
    )
    assert kept == list(range(VEC_BUCKET_CAP))


def test_near_copy_flags_against_store(spark, tmp_path):
    # an arriving byte-copy of an existing vector must flag is_dup
    # with dup_of = that vector and cosine_sim = 1.0; an arriving
    # sign-complement vector shares no band and must be absent
    existing = spark.createDataFrame(
        [(1, _BASE), (2, _vec(scale=0.5, sign_flips={0, 8, 16, 24, 32, 40, 48, 56}))],
        _EMB_SCHEMA,
    )
    arriving = spark.createDataFrame(
        [(100, _BASE), (200, _NOVEL)], _EMB_SCHEMA
    )
    path = str(tmp_path / "store")
    S.write_semantic_store(spark, existing, path)
    rows = {
        r.vec_id: r
        for r in S.probe_semantic_store(spark, arriving, path).collect()
    }
    assert set(rows) == {100}
    assert rows[100].dup_of == 1
    assert rows[100].cosine_sim == 1.0 and rows[100].is_dup


def test_append_equals_rebuild(spark, tmp_path):
    """Admitting a wave (re-capped rewrite of ONLY the touched buckets
    + vector append) must produce artifacts IDENTICAL to a
    from-scratch ``write_semantic_store`` over the union — including
    on a capped bucket where the wave's smaller ids displace existing
    members."""
    existing = spark.range(100, 100 + VEC_BUCKET_CAP).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x) for x in _BASE]).alias("embedding"),
    )
    wave = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x) for x in _BASE]).alias("embedding"),
    ).unionByName(
        spark.createDataFrame(
            # ids DISJOINT from the existing 100..100+CAP range (the
            # append caller contract)
            [(2000 + i, _vec(scale=1.0 + 0.1 * i, sign_flips={i, 8 + i}))
             for i in range(3)],
            _EMB_SCHEMA,
        )
    )
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    S.write_semantic_store(spark, existing, inc)
    S.append_semantic_store(spark, wave, inc)
    S.write_semantic_store(spark, existing.unionByName(wave), full)

    def snap(path, table_, cols):
        return sorted(
            tuple(
                tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols
            )
            for r in spark.read.parquet(f"{path}/{table_}").collect()
        )

    bcols = ["vec_id", "band_idx", "bucket", "bv"]
    assert snap(inc, "bands", bcols) == snap(full, "bands", bcols)
    vcols = ["vec_id", "vec", "norm"]
    assert snap(inc, "vectors", vcols) == snap(full, "vectors", vcols)
    # displacement actually happened on the mega-bucket
    mega_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{inc}/bands")
        .where(F.col("band_idx") == 0)
        .select("vec_id")
        .distinct()
        .collect()
        if r.vec_id < 2000
    }
    assert set(range(10)) <= mega_ids
    assert not mega_ids & set(
        range(100 + VEC_BUCKET_CAP - 10, 100 + VEC_BUCKET_CAP)
    )


def test_ingest_wave_loop(spark, tmp_path):
    """Two ingest waves: wave 1's copy of the corpus is flagged and
    NOT admitted; wave 2's copy of a wave-1 ADMITTED vector is flagged
    against the appended store — the loop actually closes."""
    path = str(tmp_path / "store")
    S.write_semantic_store(
        spark, spark.createDataFrame([(1, _BASE)], _EMB_SCHEMA), path
    )
    wave1 = spark.createDataFrame([(10, _BASE), (11, _NOVEL)], _EMB_SCHEMA)
    r1 = {r.vec_id: r for r in S.semantic_ingest_wave(spark, wave1, path).collect()}
    assert r1[10].is_dup and r1[10].dup_of == 1
    assert 11 not in r1  # sign-complement: no collision, admitted silently
    stored = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/vectors").select("vec_id").collect()
    }
    assert stored == {1, 11}, "dup admitted or novel vector dropped"

    wave2 = spark.createDataFrame([(20, _NOVEL)], _EMB_SCHEMA)
    r2 = {r.vec_id: r for r in S.semantic_ingest_wave(spark, wave2, path).collect()}
    assert r2[20].is_dup and r2[20].dup_of == 11, (
        "wave 2 did not collide with wave 1's admitted vector — append is vacuous"
    )


def test_ingest_stream_loop_and_replay_guard(spark, tmp_path):
    """Continuous admission: batch 2's duplicate of a batch-1 ADMITTED
    vector is flagged (the store advanced between batches); a forced
    checkpoint replay (fresh checkpoint, same stream) is swallowed by
    the persisted batch-id watermark — zero duplicate vector rows,
    byte-identical band table, no sink calls."""
    import os
    import time as _time

    path = str(tmp_path / "store")
    S.write_semantic_store(
        spark, spark.createDataFrame([(1, _BASE)], _EMB_SCHEMA), path
    )
    waves = [[(10, _BASE), (11, _NOVEL)], [(20, _NOVEL)]]
    emb_dir = str(tmp_path / "waves")
    now = int(_time.time())
    seen: set[str] = set()
    for i, wave in enumerate(waves):
        spark.createDataFrame(wave, _EMB_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(emb_dir)
        fresh = {
            f for f in os.listdir(emb_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        } - seen
        assert len(fresh) == 1
        for fname in fresh:
            os.utime(os.path.join(emb_dir, fname), times=(now + i, now + i))
        seen |= fresh

    def run(tag, sink):
        stream = (
            spark.readStream.schema(_EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(emb_dir)
        )
        q = (
            S.semantic_ingest_stream(spark, stream, path, sink)
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    reports, bids = [], []

    def sink(bdf, bid):
        bids.append(bid)
        reports.extend(bdf.collect())

    run("semingest1", sink)
    assert bids == [0, 1]
    assert S.storefs.read_ingest_watermark(path) == 1
    flags = {r.vec_id: r for r in reports}
    assert flags[10].is_dup and flags[10].dup_of == 1
    assert flags[20].is_dup and flags[20].dup_of == 11, (
        "batch 2 did not collide with batch 1's admitted vector"
    )
    stored = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/vectors").select("vec_id").collect()
    }
    assert stored == {1, 11}

    vec_snap = sorted(
        (r.vec_id, tuple(r.vec), r.norm)
        for r in spark.read.parquet(f"{path}/vectors").collect()
    )
    band_snap = sorted(
        map(tuple, spark.read.parquet(f"{path}/bands").collect())
    )
    replay_bids = []
    run("semingest2", lambda bdf, bid: replay_bids.append(bid))
    assert replay_bids == [], "replayed batches reached the sink"
    vecs = spark.read.parquet(f"{path}/vectors")
    assert sorted(
        (r.vec_id, tuple(r.vec), r.norm) for r in vecs.collect()
    ) == vec_snap
    assert (
        vecs.groupBy("vec_id").count().where(F.col("count") > 1).count() == 0
    ), "replay duplicated vector rows"
    assert sorted(
        map(tuple, spark.read.parquet(f"{path}/bands").collect())
    ) == band_snap
    row = S.semantic_store_stats(spark, path).collect()[0]
    assert row.n_unvectored_band_ids == 0


@pytest.mark.slow
def test_stats_parity_saturation_and_crash_detection(spark, tmp_path):
    """DuckDB parity over the written partitioned parquet; the
    saturation detector fires on a capped flood; the append crash
    window (bands written, vectors not) is flagged by
    n_unvectored_band_ids and cleared by re-running the wave's append
    without duplicating band rows."""
    import duckdb

    from .conftest import assert_matches_oracle

    path = str(tmp_path / "store")
    existing, _ = _corpus_split(spark)
    S.write_semantic_store(spark, existing, path)
    con = duckdb.connect()
    oracle = f"""
      WITH per AS (
        SELECT band_idx, bv, COUNT(*) AS n
        FROM read_parquet('{path}/bands/*/*/*.parquet', hive_partitioning=1)
        GROUP BY band_idx, bv
      ),
      d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
              CAST(COUNT(*) - COUNT(DISTINCT vec_id) AS BIGINT)
                AS n_dup_vector_ids
            FROM read_parquet('{path}/vectors/*.parquet')),
      u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_unvectored_band_ids FROM (
        SELECT DISTINCT vec_id
        FROM read_parquet('{path}/bands/*/*/*.parquet', hive_partitioning=1)
        WHERE vec_id NOT IN (
          SELECT vec_id FROM read_parquet('{path}/vectors/*.parquet'))))
      SELECT d.n_vecs,
        CAST(SUM(n) AS BIGINT) AS n_band_rows,
        CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(MIN(n) AS BIGINT) AS min_bucket,
        CAST(MAX(n) AS BIGINT) AS max_bucket,
        ROUND(AVG(n), 2) AS avg_bucket,
        CAST(SUM(CASE WHEN n >= {VEC_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
          AS saturated_buckets,
        u.n_unvectored_band_ids,
        d.n_dup_vector_ids
      FROM per CROSS JOIN d CROSS JOIN u
      GROUP BY d.n_vecs, u.n_unvectored_band_ids, d.n_dup_vector_ids
    """
    assert_matches_oracle(S.semantic_store_stats(spark, path), con, oracle)

    flood = str(tmp_path / "flood")
    S.write_semantic_store(
        spark,
        spark.range(VEC_BUCKET_CAP + 50).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(x) for x in _BASE]).alias("embedding"),
        ),
        flood,
    )
    row = S.semantic_store_stats(spark, flood).collect()[0]
    assert row.saturated_buckets == COS_NB_BANDS
    assert row.max_bucket == VEC_BUCKET_CAP

    # crash window: strip an admitted vector's row (bands stay);
    # wave id chosen OUTSIDE the corpus id range (append contract:
    # wave ids are disjoint from the store's)
    import shutil

    wave = spark.createDataFrame([(99991, _NOVEL)], _EMB_SCHEMA)
    S.append_semantic_store(spark, wave, path)
    kept = spark.read.parquet(f"{path}/vectors").where(
        F.col("vec_id") != 99991
    ).localCheckpoint()
    shutil.rmtree(f"{path}/vectors")
    kept.write.parquet(f"{path}/vectors")
    row = S.semantic_store_stats(spark, path).collect()[0]
    assert row.n_unvectored_band_ids == 1, "crash window undetected"

    S.append_semantic_store(spark, wave, path)
    row = S.semantic_store_stats(spark, path).collect()[0]
    assert row.n_unvectored_band_ids == 0
    bands = spark.read.parquet(f"{path}/bands")
    assert (
        bands.groupBy("band_idx", "bv", "vec_id").count()
        .where(F.col("count") > 1).count() == 0
    ), "band replay stacked duplicate rows"


@pytest.mark.slow
def test_replayed_append_detect_and_repair(spark, tmp_path):
    """The watermark crash window as CODE (r13 VERDICT next-round #3),
    semantic side: a wave's append lands, the watermark write is
    skipped, the batch replays — the wave vector is novel (its only
    store match is itself, which the probe id-excludes), so it appends
    a second time. Detection: ``n_dup_vector_ids`` > 0. Repair:
    ``repair_replayed_append`` → stats clean AND probe ≡ a
    never-crashed twin's."""
    seed = spark.createDataFrame([(1, _BASE)], _EMB_SCHEMA)
    wave = spark.createDataFrame([(99991, _NOVEL)], _EMB_SCHEMA)
    path, twin = str(tmp_path / "store"), str(tmp_path / "twin")
    for p in (path, twin):
        S.write_semantic_store(spark, seed, p)
        S.semantic_ingest_wave(spark, wave, p)
    S.semantic_ingest_wave(spark, wave, path)  # the replay
    row = S.semantic_store_stats(spark, path).collect()[0]
    assert row.n_dup_vector_ids == 1, "replayed append undetected"
    bands = spark.read.parquet(f"{path}/bands")
    assert (
        bands.groupBy("band_idx", "bv", "vec_id").count()
        .where(F.col("count") > 1).count() == 0
    ), "band replay stacked duplicate rows"

    S.repair_replayed_append(spark, path)
    row = S.semantic_store_stats(spark, path).collect()[0]
    assert row.n_dup_vector_ids == 0
    assert row.n_unvectored_band_ids == 0
    assert row.n_vecs == 2
    probe = spark.createDataFrame(
        [(88881, _NOVEL), (88882, _BASE)], _EMB_SCHEMA
    )
    repaired = sorted(
        map(tuple, S.probe_semantic_store(spark, probe, path).collect())
    )
    clean = sorted(
        map(tuple, S.probe_semantic_store(spark, probe, twin).collect())
    )
    assert repaired == clean and len(repaired) > 0


@pytest.mark.slow
def test_compact_midstream_and_crash_repair(spark, tmp_path):
    """wave → compact → wave must behave identically to the
    uncompacted twin (reports and stats equal, files cut to one per
    band partition); then every crash state the swap protocol can
    leave is repaired to a probe-identical store; object-store paths
    fail loud."""
    import glob
    import os
    import shutil

    seed = spark.createDataFrame([(1, _BASE)], _EMB_SCHEMA)
    wave1 = spark.createDataFrame([(10, _BASE), (11, _NOVEL)], _EMB_SCHEMA)
    wave2 = spark.createDataFrame([(20, _NOVEL)], _EMB_SCHEMA)

    compacted, plain = str(tmp_path / "cmp"), str(tmp_path / "pln")
    reports = {}
    for path in (compacted, plain):
        S.write_semantic_store(spark, seed, path)
        r1 = S.semantic_ingest_wave(spark, wave1, path).collect()
        if path == compacted:
            S.compact_semantic_store(spark, path, row_files=1)
        r2 = S.semantic_ingest_wave(spark, wave2, path).collect()
        reports[path] = (sorted(map(tuple, r1)), sorted(map(tuple, r2)))
    assert reports[compacted] == reports[plain]
    flags = {r[0]: r for r in reports[compacted][1]}
    assert flags[20][3] and flags[20][1] == 11, (
        "post-compaction wave lost the wave-1 admission"
    )
    stats_c = S.semantic_store_stats(spark, compacted).collect()[0]
    stats_p = S.semantic_store_stats(spark, plain).collect()[0]
    assert tuple(stats_c) == tuple(stats_p)

    # one file per surviving (band_idx, bucket) partition after a
    # fresh compaction
    S.compact_semantic_store(spark, compacted, row_files=1)
    for d in glob.glob(f"{compacted}/bands/band_idx=*/bucket=*"):
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, d

    # crash-state repair (the storefs protocol, this store's tables)
    probe = spark.createDataFrame([(100, _BASE)], _EMB_SCHEMA)
    before = sorted(
        map(tuple, S.probe_semantic_store(spark, probe, compacted).collect())
    )
    os.makedirs(f"{compacted}/vectors_compact_tmp/garbage")
    S.compact_semantic_store(spark, compacted, row_files=1)
    assert not os.path.exists(f"{compacted}/vectors_compact_tmp")
    shutil.copytree(
        f"{compacted}/vectors", f"{compacted}/vectors_compact_tmp"
    )
    os.rename(f"{compacted}/vectors", f"{compacted}/vectors_old")
    S.repair_semantic_store(compacted)
    assert os.path.exists(f"{compacted}/vectors")
    assert not os.path.exists(f"{compacted}/vectors_old")
    os.rename(f"{compacted}/bands", f"{compacted}/bands_old")
    S.repair_semantic_store(compacted)
    assert os.path.exists(f"{compacted}/bands")
    assert before == sorted(
        map(tuple, S.probe_semantic_store(spark, probe, compacted).collect())
    )

    with pytest.raises(ValueError, match="atomic-rename"):
        S.compact_semantic_store(spark, "s3://bucket/store")
    with pytest.raises(ValueError, match="atomic-rename"):
        S.semantic_ingest_stream(
            spark, None, "s3a://bucket/store", lambda b, i: None
        )


@pytest.mark.slow
def test_probe_stream_equals_batch(spark, tmp_path):
    """Arriving vectors replayed across micro-batches must union to
    exactly the one-batch probe image (probe independence)."""
    import os
    import time as _time

    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    S.write_semantic_store(spark, existing, path)

    arr_rows = (
        arriving.select("vec_id", "embedding").orderBy("vec_id").limit(6).collect()
    )
    assert len(arr_rows) == 6
    emb_dir = str(tmp_path / "arriving")
    for r in arr_rows:
        spark.createDataFrame(
            [(r.vec_id, list(r.embedding) if r.embedding is not None else None)],
            _EMB_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(emb_dir)
    now = int(_time.time())
    parts = sorted(
        f for f in os.listdir(emb_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(emb_dir, fname), times=(now + i, now + i))
    stream = (
        spark.readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(emb_dir)
    )

    emitted, batches = [], []

    def sink(bdf, bid):
        batches.append(bid)
        emitted.extend(bdf.collect())

    q = (
        S.semantic_probe_stream(spark, stream, path, sink)
        .option("checkpointLocation", checkpoint_dir("semprobe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "arrivals all landed in one micro-batch — vacuous"

    batch_img = S.probe_semantic_store(
        spark,
        spark.createDataFrame(
            [
                (r.vec_id, list(r.embedding) if r.embedding is not None else None)
                for r in arr_rows
            ],
            _EMB_SCHEMA,
        ),
        path,
    ).collect()
    key = lambda r: (r.vec_id, r.dup_of, r.cosine_sim, r.is_dup)  # noqa: E731
    assert sorted(map(key, emitted)) == sorted(map(key, batch_img))
    assert len(batch_img) > 0, "no arriving vector collided — vacuous split"
