"""Persisted BM25 inverted-index store (functions/bm25_store.py):
partition pruning pinned, probe ≡ the batch kernel, append ≡ rebuild,
ingest stream + replay guard, forced-crash replay repair, stats
crash detection, probe ceiling, compaction. Oracle parity for
``bm25_incremental`` lives in test_oracle_parity's library pass."""

from __future__ import annotations

import glob
import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from trisk_spark.catalog import table
from trisk_spark.functions import bm25_store as B
from trisk_spark.streaming.sources import checkpoint_dir

from .conftest import SF_DIR


def _corpus_split(spark):
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    mod = B.BM25_ARRIVING_MOD
    existing = docs.where(F.pmod(F.col("doc_id"), F.lit(mod)) != 0)
    arriving = docs.where(F.pmod(F.col("doc_id"), F.lit(mod)) == 0)
    return existing, arriving


def _table_snapshot(spark, path):
    return (
        sorted(map(tuple, spark.read.parquet(f"{path}/postings").collect())),
        sorted(map(tuple, spark.read.parquet(f"{path}/doclens").collect())),
        sorted(map(tuple, spark.read.parquet(f"{path}/stats").collect())),
    )


def test_bucket_of_matches_spark_md5(spark):
    # driver-side routing is only sound if Python md5 bucketing equals
    # the Spark expression that wrote the partition columns
    terms = ["spark", "join", "customer", "fast", "zzz", "Ünïcode"]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", B._bucket_col())
        .collect()
    )
    for r in rows:
        assert B._bucket_of(r["term"]) == r["bucket"], r["term"]


def test_probe_prunes_buckets_and_equals_batch_kernel(spark, tmp_path):
    """The probe's postings read must carry a PartitionFilters entry
    on bucket and read fewer buckets than the store holds; and because
    the index is exact, probing the seed queries over a full-corpus
    store must equal ``bm25_top_docs`` row for row."""
    from trisk_spark.functions.text import bm25_top_docs

    path = str(tmp_path / "store")
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    B.write_bm25_store(spark, docs, path)

    terms = sorted({t for ts in B.BM25_QUERIES.values() for t in ts})
    buckets = sorted({B._bucket_of(t) for t in terms})
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

    got = sorted(map(tuple, B.probe_bm25_store(spark, path).collect()))
    want = sorted(map(tuple, bm25_top_docs(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


def test_append_equals_rebuild(spark, tmp_path):
    """append(existing store, wave) ≡ write over existing ∪ wave,
    table for table — postings, doclens, AND the incrementally-updated
    stats row."""
    existing, arriving = _corpus_split(spark)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    B.write_bm25_store(spark, existing, inc)
    B.append_bm25_store(spark, arriving, inc)
    B.write_bm25_store(spark, existing.unionByName(arriving), full)
    assert _table_snapshot(spark, inc) == _table_snapshot(spark, full)

    # empty wave: nothing changes on any table
    snap = _table_snapshot(spark, inc)
    B.append_bm25_store(
        spark,
        spark.createDataFrame([], "doc_id long, text string"),
        inc,
    )
    assert _table_snapshot(spark, inc) == snap


def test_probe_ceiling_and_empty_queries(spark, tmp_path):
    path = str(tmp_path / "store")
    existing, _ = _corpus_split(spark)
    B.write_bm25_store(spark, existing, path)
    with pytest.raises(ValueError, match="postings rows"):
        B.probe_bm25_store(spark, path, max_postings=1)
    out = B.probe_bm25_store(spark, path, queries={})
    assert out.count() == 0
    # unknown terms: no hits, empty result, no error
    out = B.probe_bm25_store(spark, path, queries={9: ("qqqqq", "zzzzz")})
    assert out.count() == 0


def test_ingest_stream_loop_and_replay_guard(spark, tmp_path):
    """Waves appended through the stream land exactly once: the index
    equals a from-scratch rebuild after the run, and a forced
    checkpoint replay (same stream, fresh checkpoint) is swallowed by
    the persisted watermark — no sink calls, byte-identical tables."""
    import os
    import time as _time

    existing, arriving = _corpus_split(spark)
    path = str(tmp_path / "store")
    B.write_bm25_store(spark, existing, path)

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
            B.bm25_ingest_stream(spark, stream, path, sink)
            .option("checkpointLocation", checkpoint_dir(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch_docs: dict[int, int] = {}
    run("bm25ingest1", lambda dl, bid: batch_docs.update({bid: dl.count()}))
    assert batch_docs == {0: 10, 1: 10}
    assert B.storefs.read_ingest_watermark(path) == 1

    snap = _table_snapshot(spark, path)
    replays = []
    run("bm25ingest2", lambda dl, bid: replays.append(bid))
    assert replays == [], "replayed batches reached the sink"
    assert _table_snapshot(spark, path) == snap

    # stream result ≡ rebuild over everything it admitted
    rebuilt = str(tmp_path / "rebuilt")
    B.write_bm25_store(
        spark,
        existing.select("doc_id", "text").unionByName(
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in waves[:20]],
                "doc_id long, text string",
            )
        ),
        rebuilt,
    )
    assert snap == _table_snapshot(spark, rebuilt)

    row = B.bm25_store_stats(spark, path).collect()[0]
    assert (
        row.n_dup_doc_ids == 0
        and row.n_dup_postings == 0
        and row.n_unlisted_posting_docs == 0
        and row.stats_lag == 0
    )


def test_replayed_append_detect_and_repair(spark, tmp_path):
    """The watermark crash window as CODE, inverted-index side: a
    wave's append lands, the watermark write is skipped, the batch
    replays — both row tables duplicate and the stats row
    double-counts. Detection: n_dup_doc_ids / n_dup_postings > 0.
    Repair: repair_replayed_append → stats clean AND probe ≡ a
    never-crashed twin's."""
    existing, arriving = _corpus_split(spark)
    wave = arriving.orderBy("doc_id").limit(10)
    path, twin = str(tmp_path / "store"), str(tmp_path / "twin")
    for p in (path, twin):
        B.write_bm25_store(spark, existing, p)
        B.append_bm25_store(spark, wave, p)
    B.append_bm25_store(spark, wave, path)  # the replay
    row = B.bm25_store_stats(spark, path).collect()[0]
    assert row.n_dup_doc_ids == 10, "replayed doclens undetected"
    assert row.n_dup_postings > 0, "replayed postings undetected"

    B.repair_replayed_append(spark, path)
    row = B.bm25_store_stats(spark, path).collect()[0]
    assert (
        row.n_dup_doc_ids == 0
        and row.n_dup_postings == 0
        and row.n_unlisted_posting_docs == 0
        and row.stats_lag == 0
    )
    repaired = sorted(map(tuple, B.probe_bm25_store(spark, path).collect()))
    clean = sorted(map(tuple, B.probe_bm25_store(spark, twin).collect()))
    assert repaired == clean and len(repaired) > 0


def test_stats_lag_detect_and_repair(spark, tmp_path):
    """An append that died before its stats swap leaves the doclens
    count ahead of the stats row — stats_lag > 0; repair_stats
    recomputes from doclens and clears it."""
    existing, arriving = _corpus_split(spark)
    path = str(tmp_path / "store")
    B.write_bm25_store(spark, existing, path)
    # simulate: postings + doclens landed, stats swap did not — append
    # the wave's two row tables directly without the stats commit
    wave = arriving.orderBy("doc_id").limit(5)
    postings, doclens = B._wave_postings_doclens(wave)
    postings.write.mode("append").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    doclens.write.mode("append").parquet(f"{path}/doclens")
    row = B.bm25_store_stats(spark, path).collect()[0]
    assert row.stats_lag == 5, "stats-window crash undetected"

    B.repair_stats(spark, path)
    row = B.bm25_store_stats(spark, path).collect()[0]
    assert row.stats_lag == 0
    assert row.n_docs == row.n_doclen_rows


@pytest.mark.slow
def test_probe_stream_equals_batch(spark, tmp_path):
    """Arriving QUERIES probed per micro-batch must union to the
    one-call image — queries are independent rows."""
    path = str(tmp_path / "store")
    docs = table(spark, SF_DIR, "documents").where(F.col("doc_id").isNotNull())
    B.write_bm25_store(spark, docs, path)

    qrows = [
        (qid, t) for qid, ts in sorted(B.BM25_QUERIES.items()) for t in ts
    ]
    qdir = str(tmp_path / "queries")
    # one file per query id → one micro-batch per query
    for qid in sorted(B.BM25_QUERIES):
        spark.createDataFrame(
            [r for r in qrows if r[0] == qid], "query_id int, term string"
        ).coalesce(1).write.mode("append").parquet(qdir)

    got = []
    stream = (
        spark.readStream.schema("query_id int, term string")
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    q = (
        B.bm25_probe_stream(
            spark, stream, path,
            lambda bdf, bid: got.extend(map(tuple, bdf.collect())),
        )
        .option("checkpointLocation", checkpoint_dir("bm25probe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = sorted(map(tuple, B.probe_bm25_store(spark, path).collect()))
    assert sorted(got) == want and len(want) > 0


def test_compact_preserves_probe_and_cuts_files(spark, tmp_path):
    path = str(tmp_path / "store")
    existing, arriving = _corpus_split(spark)
    B.write_bm25_store(spark, existing, path)
    waves = arriving.orderBy("doc_id").limit(30).collect()
    for lo in (0, 10, 20):
        B.append_bm25_store(
            spark,
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in waves[lo:lo + 10]],
                "doc_id long, text string",
            ),
            path,
        )
    before = sorted(map(tuple, B.probe_bm25_store(spark, path).collect()))

    def nfiles(sub):
        return len(glob.glob(f"{path}/{sub}/**/*.parquet", recursive=True))

    dl_before, p_before = nfiles("doclens"), nfiles("postings")
    B.compact_bm25_store(spark, path, doclen_files=2)
    assert nfiles("doclens") < dl_before
    assert nfiles("postings") <= p_before
    import os

    for d in glob.glob(f"{path}/postings/bucket=*"):
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, d
    after = sorted(map(tuple, B.probe_bm25_store(spark, path).collect()))
    assert after == before and len(after) > 0


def test_hostile_corpus_probe_equals_batch_kernel(spark, tmp_path):
    """NULL text, empty text, whitespace-only, unicode, and a doc
    that IS a seed term: the store must agree with the one-plan batch
    kernel on all of them (zero-token docs still count in N/avgdl —
    they get doclens rows but no postings)."""
    import duckdb

    from .conftest import assert_matches_oracle
    from trisk_spark.functions.text import BM25_TOP_DOCS_SQL

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "spark stream window join"),
        (5, "spark spark spark"),
        (6, "Ünïcode tökens spark"),
        (7, "customer order table fast slow batch scan"),
        (8, "the quick brown fox"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "store")
    B.write_bm25_store(spark, docs, path)
    got = B.probe_bm25_store(spark, path)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)})" for i, t in rows
        )
        + ") AS v(doc_id, text)"
    )
    assert_matches_oracle(got, con, BM25_TOP_DOCS_SQL)
    # zero-token docs count in the normalizer
    row = B.bm25_store_stats(spark, path).collect()[0]
    assert row.n_docs == 8 and row.n_unlisted_posting_docs == 0


def test_object_store_paths_fail_loud(spark):
    with pytest.raises(ValueError, match="atomic-rename"):
        B.compact_bm25_store(spark, "s3://bucket/store")
    with pytest.raises(ValueError, match="atomic-rename"):
        B.repair_stats(spark, "s3://bucket/store")
    with pytest.raises(ValueError, match="atomic-rename"):
        B.bm25_ingest_stream(spark, None, "s3://bucket/store", None)


def test_append_refuses_pending_delete(spark, tmp_path, monkeypatch):
    """r17 review (the phrase-store finding's twin): a pending
    takedown _delete_intent means the staged-partition swap may
    already be committed — an append into a staged bucket would be
    lost at the swap, so append_bm25_store and the ingest stream must
    fail loud until the takedown is finished."""
    docs = spark.createDataFrame(
        [(i, f"common ground extra{i} filler{i}") for i in range(10)],
        "doc_id long, text string",
    )
    live = str(tmp_path / "live")
    B.write_bm25_store(spark, docs, live)

    real = B.BM25._run_recorded_delete
    monkeypatch.setattr(
        B.BM25, "_run_recorded_delete",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        B.delete_from_bm25_store(spark, [0, 1], live)
    monkeypatch.setattr(B.BM25, "_run_recorded_delete", real)

    wave = spark.createDataFrame(
        [(100, "common ground fresh wave words")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="_delete_intent"):
        B.append_bm25_store(spark, wave, live)

    assert B.resume_pending_delete(spark, live)
    B.append_bm25_store(spark, wave, live)
    got = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{live}/doclens")
        .select("doc_id").distinct().collect()
    )
    assert got == [2, 3, 4, 5, 6, 7, 8, 9, 100]
    row = B.bm25_store_stats(spark, live).collect()[0]
    assert row.stats_lag == 0 and row.n_dup_doc_ids == 0


def test_inrow_tf_equals_explode_groupby(spark):
    # r17 optimization: (term, tf) is computed in-row from the sorted
    # token array (run-length over run-start positions) so the wave
    # shuffles once, not twice. The rows must equal the textbook
    # explode + groupBy(term, doc_id) count exactly — including
    # duplicate-token runs, empty docs, and the dl/bucket columns.
    from trisk_spark.functions.text import _lm_tokens

    docs = spark.createDataFrame(
        [
            (1, "b a b a b"),
            (2, "solo"),
            (3, ""),
            (4, None),
            (5, "x x x x x x"),
            (6, "Mixed CASE mixed case"),
        ],
        "doc_id long, text string",
    )
    got, _ = B._wave_postings_doclens(docs)
    base = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.size(_lm_tokens()).alias("dl"), _lm_tokens().alias("_t")
    )
    want = (
        base.select("doc_id", "dl", F.explode("_t").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .select(
            "term", "doc_id", "tf",
            F.col("dl").cast("bigint").alias("dl"), B._bucket_col(),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
