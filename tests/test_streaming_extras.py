"""Queryable state, streaming count windows, side outputs, late-data
capture — the §2A rows beyond the core streaming suite."""

from __future__ import annotations

import pytest as _pytest

# nightly lane: stream-vs-batch replay suites, many real micro-batch streams
pytestmark = _pytest.mark.slow

import pytest
from pyspark.sql import functions as F

from trisk_spark.catalog import table
from trisk_spark.operators.multistream import COUNT_WINDOW_N as BATCH_N
from trisk_spark.operators.multistream import count_window as count_window_batch
from trisk_spark.streaming.queryable import lookup_key, read_keyed_state
from trisk_spark.streaming.sinks import side_output_fanout, with_late_data_capture
from trisk_spark.streaming.sources import checkpoint_dir, replay_stream
from trisk_spark.streaming.state import COUNT_WINDOW_N, count_window_stream

SF = "/root/testdata/sf0.001"


def test_count_window_stream_equals_batch(spark):
    assert COUNT_WINDOW_N == BATCH_N  # same trigger size both forms
    stream = replay_stream(spark, SF, "events", n_chunks=6)
    out = count_window_stream(stream.select("user_id", "ts", "event_id", "value"))
    emitted = []

    def collect(bdf, bid):
        emitted.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", checkpoint_dir("cw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.win): (r.n, r.total_cents) for r in emitted}
    assert len(got) == len(emitted), "window fired twice"

    want = {
        (r.user_id, r.win): (r.n, int(round(r.total_value * 100)))
        for r in count_window_batch(spark, SF).collect()
    }
    assert got == want
    assert want, "no complete windows in fixture — vacuous"


def test_queryable_state_reads_running_counts(spark):
    stream = replay_stream(spark, SF, "events", n_chunks=2)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("cnt"))
    ckpt = checkpoint_dir("qs")
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    state = read_keyed_state(spark, ckpt)
    # value struct holds the aggregation BUFFER with internal field
    # names (e.g. `count`), not output aliases — read positionally.
    got = {r["key"]["event_type"]: r["value"][0] for r in state.collect()}
    want = {
        r.event_type: r.cnt
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want

    k = next(iter(want))
    point = lookup_key(spark, ckpt, "event_type", k).collect()
    assert len(point) == 1 and point[0][1] == want[k]


def test_queryable_state_exposes_matchmaker_books(spark):
    """asQueryableState over CUSTOM keyed state (not just engine aggs):
    the matchmaker's order books read back from the checkpoint must
    equal the books ``match_fold`` leaves for every sec_code."""
    from trisk_spark.sources.stock import stock_orders
    from trisk_spark.streaming.queryable import lookup_key, read_keyed_state
    from trisk_spark.operators.stateful import match_fold, order_cols
    from trisk_spark.streaming.state import matchmaker_stream

    stream = replay_stream(spark, SF, "events", n_chunks=2)
    orders = stock_orders(stream.select("event_id", "user_id", "ts", "value"))
    ckpt = checkpoint_dir("qmm")
    q = (
        matchmaker_stream(orders)
        .writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # expected books: fold ALL orders per key in seq order from scratch
    from trisk_spark.catalog import table as _table

    batch_orders = (
        stock_orders(_table(spark, SF, "events")).toPandas().sort_values("seq")
    )
    want: dict[str, tuple] = {}
    for sec, records in batch_orders.groupby("sec_code"):
        (buys, sells), _ = match_fold(None, order_cols(records)[1])
        want[sec] = (
            sorted((-p, s, v, n) for p, s, v, n in buys),
            sorted(tuple(e) for e in sells),
        )

    st = read_keyed_state(spark, ckpt)
    got = {}
    for row in st.collect():
        v = row["value"]["groupState"]
        got[row["key"]["sec_code"]] = (
            sorted(tuple(b) for b in (v["buys"] or [])),
            sorted(tuple(s) for s in (v["sells"] or [])),
        )
    assert got == want
    # point lookup (getKvState equivalent) agrees with the scan
    k = next(iter(want))
    point = lookup_key(spark, ckpt, "sec_code", k).collect()
    assert len(point) == 1


def test_side_output_fanout_routes_and_main(spark):
    stream = replay_stream(spark, SF, "events", n_chunks=2)
    buckets: dict[str, list] = {}

    def sink(tag, bdf, bid):
        buckets.setdefault(tag, []).extend(r.event_id for r in bdf.collect())

    q = side_output_fanout(
        stream,
        {
            "clicks": F.col("event_type") == "click",
            "purchases": F.col("event_type") == "purchase",
        },
        sink,
        checkpoint_dir("fanout"),
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    ev = table(spark, SF, "events")
    by_type = {
        t: sorted(
            r.event_id for r in ev.where(F.col("event_type") == t).collect()
        )
        for t in ("click", "purchase")
    }
    assert sorted(buckets["clicks"]) == by_type["click"]
    assert sorted(buckets["purchases"]) == by_type["purchase"]
    n_total = ev.count()
    assert len(buckets["main"]) == n_total - len(by_type["click"]) - len(
        by_type["purchase"]
    )


def test_late_data_capture_dead_letters_out_of_order_rows(spark):
    # Craft a stream with one late chunk: order events descending so
    # later files carry older timestamps than the watermark.
    ev = table(spark, SF, "events").orderBy(F.desc("ts")).limit(200)
    import tempfile, os, time

    out_dir = tempfile.mkdtemp(prefix="late-src-")
    ev.withColumn("inv", -F.col("event_id")).orderBy(F.desc("ts")).coalesce(
        1
    ).write.mode("overwrite").parquet(out_dir)
    # split manually: chunk1 = newest half, chunk2 = oldest half (late)
    df = spark.read.parquet(out_dir)
    newest = df.orderBy(F.desc("ts")).limit(100)
    oldest = df.orderBy(F.asc("ts")).limit(100)
    src = tempfile.mkdtemp(prefix="late-live-")
    newest.coalesce(1).write.mode("append").parquet(src)
    time.sleep(0.01)
    for f in os.listdir(src):
        if f.startswith("part-"):
            os.utime(os.path.join(src, f), times=(time.time() - 100, time.time() - 100))
    oldest.coalesce(1).write.mode("append").parquet(src)

    late_rows: list = []

    def on_late(bdf, bid):
        late_rows.extend(bdf.collect())

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = with_late_data_capture(
        stream, "ts", "1 hour", on_late, checkpoint_dir("late")
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    assert late_rows, "no late rows captured — fixture did not produce lateness"
    # every captured row is genuinely > 1h older than the max seen first
    max_ts = newest.agg(F.max("ts")).collect()[0][0]
    import datetime

    for r in late_rows:
        assert r.ts < max_ts - datetime.timedelta(hours=1)


def test_sliding_count_window_stream_equals_batch(spark):
    from trisk_spark.operators.multistream import sliding_count_window
    from trisk_spark.streaming.state import sliding_count_avg_stream

    stream = replay_stream(spark, SF, "events", n_chunks=5)
    out = sliding_count_avg_stream(
        stream.select("user_id", "ts", "event_id", "value")
    )
    emitted = []

    def collect(bdf, bid):
        emitted.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", checkpoint_dir("slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.event_id): r.avg_last_5 for r in emitted}
    assert len(got) == len(emitted), "duplicate per-event emission"

    want = {
        (r.user_id, r.event_id): r.avg_last_5
        for r in sliding_count_window(spark, SF).collect()
    }
    assert got == want


def test_delta_trigger_stream_equals_batch(spark):
    from trisk_spark.operators.multistream import delta_trigger
    from trisk_spark.streaming.state import delta_trigger_stream

    stream = replay_stream(spark, SF, "events", n_chunks=5)
    out = delta_trigger_stream(stream.select("user_id", "ts", "event_id", "value"))
    emitted = []

    def collect(bdf, bid):
        emitted.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", checkpoint_dir("delta"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.event_id) for r in emitted}
    assert len(got) == len(emitted), "duplicate firing"
    want = {
        (r.user_id, r.event_id) for r in delta_trigger(spark, SF).collect()
    }
    assert got == want


def test_dedup_exact_stream_equals_batch(spark):
    """Streaming exact dedup: replayed in doc_id order, first-seen-wins
    equals the batch keep-lowest-doc_id rule exactly."""
    from trisk_spark.registry import load_all
    from trisk_spark.streaming.queries import dedup_exact_stream, run_bounded

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = run_bounded(
        dedup_exact_stream(stream), checkpoint_dir("dedupex"), mode="append"
    )
    got = {r.content_hash: r.doc_id for _b, r in emitted}
    assert len(got) == len(emitted), "a duplicate hash was emitted twice"
    want = {
        r.content_hash: r.keep_id
        for r in load_all()["dedup_exact"].fn(spark, SF).collect()
    }
    assert got == want


def test_simhash_near_dup_stream_equals_batch(spark):
    """Streaming near-dup detection: under doc_id-ordered replay the
    emitted (doc_a, doc_b, hamming) set equals batch dedup_simhash."""
    from trisk_spark.registry import load_all
    from trisk_spark.streaming.state import simhash_near_dup_stream

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        simhash_near_dup_stream(stream.select("doc_id", "text"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("ndstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # a pair agreeing on k bands is emitted k times with identical
    # payload (documented at-least-once) — compare as a SET
    got = {(r.doc_a, r.doc_b, r.hamming) for r in emitted}
    want = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in load_all()["dedup_simhash"].fn(spark, SF).collect()
    }
    assert got == want
    assert want, "no near-dup pairs in fixture — vacuous"


def test_delta_evictor_stream_equals_batch(spark):
    from trisk_spark.operators.multistream import delta_evictor_window
    from trisk_spark.streaming.state import delta_evictor_stream

    stream = replay_stream(spark, SF, "events", n_chunks=5)
    out = delta_evictor_stream(stream.select("user_id", "ts", "event_id", "value"))
    emitted = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("de"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.win): (r.n_kept, r.total_kept) for r in emitted}
    assert len(got) == len(emitted), "window fired twice"
    want = {
        (r.user_id, r.win): (r.n_kept, r.total_kept)
        for r in delta_evictor_window(spark, SF).collect()
    }
    assert got == want
    assert want, "no complete windows — vacuous"


def test_purging_trigger_stream_equals_batch(spark):
    from trisk_spark.operators.multistream import purging_trigger
    from trisk_spark.streaming.queries import (
        final_state,
        purging_trigger_stream,
        run_bounded,
    )

    stream = replay_stream(spark, SF, "events", n_chunks=4)
    emitted = run_bounded(
        purging_trigger_stream(stream), checkpoint_dir("pt"), mode="update"
    )
    final = final_state(emitted, ["user_id", "window_start_ms", "fire_ms"])
    got = {
        (r.user_id, r.window_start_ms, r.fire_ms): (r.n, r.total) for r in final
    }
    want = {
        (r.user_id, r.window_start_ms, r.fire_ms): (r.n, r.total)
        for r in purging_trigger(spark, SF).collect()
    }
    assert got == want


def test_continuous_trigger_stream_equals_batch(spark, tmp_path):
    """The watermark-driven early-fire op must emit exactly the batch
    image's fire rows: every 15-min boundary from the first element to
    window end, with cumulative aggregates."""
    import time
    from collections import Counter

    import pyarrow as pa

    from trisk_spark.operators.multistream import continuous_trigger
    from trisk_spark.streaming.state import continuous_trigger_stream

    rows = [
        (r.ts, r.user_id, r.value)
        for r in table(spark, SF, "events")
        .select("ts", "user_id", "value")
        .orderBy("ts")
        .collect()
    ]
    n_chunks = 4
    per = (len(rows) + n_chunks - 1) // n_chunks
    chunks = [rows[i * per : (i + 1) * per] for i in range(n_chunks)]
    import datetime

    far = rows[-1][0] + datetime.timedelta(days=2)
    chunks.append([(far, -1, 0.0)])
    chunks.append([(far + datetime.timedelta(minutes=1), -1, 0.0)])
    schema = [
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
    ]
    src = _write_chunks(tmp_path, "ctstream", schema, chunks)

    stream = (
        spark.readStream.schema("ts TIMESTAMP, user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted = []
    q = (
        continuous_trigger_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("ctstream"))
        .trigger(availableNow=True)
        .start()
    )
    want = Counter(
        (r.user_id, r.window_start_ms, r.fire_ms, r.n, r.total)
        for r in continuous_trigger(spark, SF).collect()
    )
    deadline = time.time() + 180
    while time.time() < deadline:
        got_n = sum(1 for r in emitted if r.user_id != -1)
        if got_n >= sum(want.values()) or not q.isActive:
            break
        time.sleep(0.5)
    q.stop()
    got = Counter(
        (r.user_id, r.window_start_ms, r.fire_ms, r.n, r.total)
        for r in emitted
        if r.user_id != -1
    )
    assert got == want


def test_partitioning_operators(spark):
    """Physical-distribution family: co-location, partition counts, and
    key-group stability (SURVEY §2A keying/partitioning rows)."""
    from trisk_spark.operators.partitioning import (
        MAX_PARALLELISM,
        global_one,
        key_by,
        key_group,
        partition_custom,
        rebalance,
        rescale,
    )

    ev = table(spark, SF, "events")

    # keyBy: equal keys land in the same partition
    keyed = key_by(ev, "user_id", n=8)
    assert keyed.rdd.getNumPartitions() == 8
    multi = (
        keyed.select("user_id", F.spark_partition_id().alias("pid"))
        .groupBy("user_id")
        .agg(F.countDistinct("pid").alias("np"))
        .where(F.col("np") > 1)
        .count()
    )
    assert multi == 0, "keyBy split a key across partitions"

    # partitionCustom: user expression controls grouping
    pc = partition_custom(ev, F.col("user_id") % 4, 4)
    assert pc.rdd.getNumPartitions() == 4
    split = (
        pc.select((F.col("user_id") % 4).alias("g"), F.spark_partition_id().alias("pid"))
        .groupBy("g")
        .agg(F.countDistinct("pid").alias("np"))
        .where(F.col("np") > 1)
        .count()
    )
    assert split == 0, "partitionCustom split a group across partitions"

    # partitionCustom (index-exact): row r lands in partition pid(r)
    from trisk_spark.operators.partitioning import partition_custom_exact

    pce = partition_custom_exact(ev, F.col("user_id") % 4, 4)
    assert pce.rdd.getNumPartitions() == 4
    wrong = (
        pce.select((F.col("user_id") % 4).alias("want"),
                   F.spark_partition_id().alias("got"))
        .where(F.col("want") != F.col("got"))
        .count()
    )
    assert wrong == 0, "partition index diverged from the partitioner fn"
    assert pce.columns == ev.columns

    # rebalance/rescale/global: partition counts
    assert rebalance(ev, 16).rdd.getNumPartitions() == 16
    assert rescale(ev.repartition(8), 2).rdd.getNumPartitions() == 2
    assert global_one(ev).rdd.getNumPartitions() == 1

    # key groups: stable, in range, deterministic across evaluations
    kg = ev.select(key_group(F.col("user_id")).alias("g")).agg(
        F.min("g").alias("lo"), F.max("g").alias("hi")
    ).collect()[0]
    assert 0 <= kg.lo and kg.hi < MAX_PARALLELISM


def _write_chunks(tmp_path, name, schema, chunks, start=0):
    """Write one parquet file per chunk with strictly increasing mtimes
    so a maxFilesPerTrigger=1 stream replays them in order. ``start``
    appends a later wave into an existing dir (mtimes continue after the
    newest existing file)."""
    import os
    import time

    import pandas as pd_
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    existing = [
        os.path.getmtime(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    ]
    t0 = int(max(existing) + 10) if existing else int(time.time())
    for i, rows in enumerate(chunks):
        tbl = pa.Table.from_pandas(
            pd_.DataFrame(rows, columns=[f[0] for f in schema]),
            schema=pa.schema(schema),
        )
        p = os.path.join(src, f"chunk-{start + i:03d}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, times=(t0 + i * 10, t0 + i * 10))
    return src


def _session_corpus():
    """Deterministic session-window corpus: 2 users × 3 sessions × 3
    events, 2h between sessions, plus two far-future sentinel chunks
    (first pushes the watermark past every session end; second triggers
    the batch in which the timers fire). Returns (rows, chunks, schema)."""
    import datetime

    import pyarrow as pa

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for u in (1, 2):
        for s in range(3):
            for i in range(3):
                ts = base + datetime.timedelta(hours=2 * s, minutes=5 * i + u)
                rows.append((ts, eid, u, float(u * 10 + s + i)))
                eid += 1
    rows.sort(key=lambda r: r[0])
    third = (len(rows) + 2) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    far = base + datetime.timedelta(days=1)
    chunks.append([(far, 999, -1, 0.0)])
    chunks.append([(far + datetime.timedelta(minutes=1), 1000, -1, 0.0)])
    schema = [
        ("ts", pa.timestamp("us")),
        ("event_id", pa.int64()),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
    ]
    return rows, chunks, schema


def _session_fold(rows):
    """Pure-Python sessionization with SESSION_GAP_MS — the oracle."""
    from collections import Counter

    from trisk_spark.streaming.state import SESSION_GAP_MS

    want: Counter = Counter()
    by_user: dict[int, list] = {}
    for ts, eid_, u, v in rows:
        by_user.setdefault(u, []).append((ts, eid_, v))
    for u, evs in by_user.items():
        evs.sort()
        n, cents, last = 0, 0, None
        for ts, _, v in evs:
            ms = int(ts.timestamp() * 1000)
            if last is not None and ms - last > SESSION_GAP_MS:
                want[(u, n, cents, last + SESSION_GAP_MS)] += 1
                n, cents = 0, 0
            n += 1
            cents += int(round(v * 100))
            last = ms
        want[(u, n, cents, last + SESSION_GAP_MS)] += 1
    return want


def test_event_time_timers_close_sessions(spark, tmp_path):
    """Event-time timers (KeyedProcessFunction.registerEventTimeTimer):
    sessions close when the WATERMARK passes last_event+gap — driven
    entirely by event time, so the expected output is a deterministic
    pure-Python sessionization fold."""
    from collections import Counter

    from trisk_spark.streaming.state import event_time_sessions_stream

    rows, chunks, schema = _session_corpus()
    src = _write_chunks(tmp_path, "etsess", schema, chunks)

    stream = (
        spark.readStream.schema(
            "ts TIMESTAMP, event_id BIGINT, user_id BIGINT, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted = []
    q = (
        event_time_sessions_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("etsess"))
        .trigger(availableNow=True)
        .start()
    )
    # a timeoutConf query can stay alive on empty batches: poll until
    # all 6 real sessions have closed, then stop
    import time

    deadline = time.time() + 180
    while time.time() < deadline:
        if sum(1 for r in emitted if r.user_id != -1) >= 6 or not q.isActive:
            break
        time.sleep(0.5)
    q.stop()

    want = _session_fold(rows)
    got = Counter(
        (r.user_id, r.n_events, r.total_cents, r.session_end_ms)
        for r in emitted
        if r.user_id != -1
    )
    assert got == want
    # 6 sessions total; the final session of each user can ONLY close
    # via the event-time timer (no later events exist for it)
    assert sum(want.values()) == 6


def test_event_time_sessions_survive_restart(spark, tmp_path):
    """Exactly-once across restart for a STATEFUL-WITH-TIMERS op: stop
    the session query mid-stream, restart from the same checkpoint with
    the remaining chunks — open sessions, armed timers, and the
    watermark all resume, and the union of both runs' emissions equals
    the sessionization fold exactly (no loss, no duplicates)."""
    import time
    from collections import Counter

    from trisk_spark.streaming.state import event_time_sessions_stream

    rows, chunks, schema = _session_corpus()
    wave1, wave2 = chunks[:2], chunks[2:]
    src = _write_chunks(tmp_path, "etrestart", schema, wave1)
    ckpt = checkpoint_dir("etrestart")
    wave1_rows = sum(len(c) for c in wave1)
    emitted = []

    def start():
        stream = (
            spark.readStream.schema(
                "ts TIMESTAMP, event_id BIGINT, user_id BIGINT, value DOUBLE"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            event_time_sessions_stream(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
        if seen >= wave1_rows or not q.isActive:
            break
        time.sleep(0.5)
    time.sleep(1)
    q.stop()  # mid-stream: open sessions + armed timers in checkpoint

    _write_chunks(tmp_path, "etrestart", schema, wave2, start=len(wave1))
    q2 = start()
    deadline = time.time() + 180
    while time.time() < deadline:
        if sum(1 for r in emitted if r.user_id != -1) >= 6 or not q2.isActive:
            break
        time.sleep(0.5)
    q2.stop()

    got = Counter(
        (r.user_id, r.n_events, r.total_cents, r.session_end_ms)
        for r in emitted
        if r.user_id != -1
    )
    assert got == _session_fold(rows)


def test_state_ttl_expires_idle_wordcount_keys(spark, tmp_path):
    """State TTL (StateTtlConfig): a counter idle past the TTL restarts
    from zero on next access."""
    import datetime

    import pyarrow as pa

    from trisk_spark.streaming.state import ttl_running_wordcount_stream

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    m = datetime.timedelta(minutes=1)
    chunks = [
        [("a", base), ("b", base), ("a", base + m)],
        # b stays within TTL (30 min); a returns after 3h → expired
        [("b", base + 30 * m), ("a", base + 180 * m)],
    ]
    schema = [("word", pa.string()), ("ts", pa.timestamp("us"))]
    src = _write_chunks(tmp_path, "ttlwc", schema, chunks)

    stream = (
        spark.readStream.schema("word STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    batches: list[dict] = []

    def collect(bdf, bid):
        batches.append({r.word: r.cnt for r in bdf.collect()})

    q = (
        ttl_running_wordcount_stream(stream, ttl_ms=3_600_000)
        .writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", checkpoint_dir("ttlwc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    nonempty = [b for b in batches if b]
    assert nonempty == [
        {"a": 2, "b": 1},  # batch 1: both fresh
        {"a": 1, "b": 2},  # batch 2: a EXPIRED and restarted; b continued
    ]


def test_matchmaker_state_ttl_evicts_idle_books(spark, tmp_path):
    """State TTL on the matchmaker: a resting order book idle past the
    TTL is evicted, so a later matching order finds no counterparty.
    The control run (no TTL) on the same input produces the trade."""
    import pyarrow as pa

    from trisk_spark.streaming.state import matchmaker_stream

    cols = [
        ("sec_code", pa.string()),
        ("trade_dir", pa.string()),
        ("price_cents", pa.int64()),
        ("order_vol", pa.int64()),
        ("tran_maint_code", pa.string()),
        ("order_no", pa.int64()),
        ("seq", pa.int64()),
    ]
    chunks = [
        [("SEC1", "B", 1000, 100, "A", 2, 2)],  # buy rests in the book
        [("SEC99", "B", 500, 100, "A", 3, 3)],  # unrelated batch → SEC1 idle, TTL fires
        [("SEC1", "S", 1000, 100, "A", 4, 4)],  # would match the buy if alive
    ]
    schema_ddl = (
        "sec_code STRING, trade_dir STRING, price_cents BIGINT, order_vol BIGINT,"
        " tran_maint_code STRING, order_no BIGINT, seq BIGINT"
    )

    def run(ttl):
        import time

        src = _write_chunks(
            tmp_path, f"mmttl-{ttl}", cols, chunks
        )
        stream = (
            spark.readStream.schema(schema_ddl)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        trades = []
        seen_rows = {"n": 0}

        def collect(bdf, bid):
            trades.extend(bdf.collect())

        q = (
            matchmaker_stream(stream, state_ttl_ms=ttl)
            .writeStream.outputMode("append")
            .foreachBatch(collect)
            .option("checkpointLocation", checkpoint_dir(f"mmttl{ttl}"))
            .trigger(availableNow=True)
            .start()
        )
        if ttl is None:
            # no timers → availableNow terminates normally
            q.awaitTermination()
        else:
            # processing-time timers keep the query alive on empty
            # batches (same as test_inactivity_sessions_fire_on_timer):
            # poll until all 3 input rows are processed, then stop
            deadline = time.time() + 180
            while time.time() < deadline:
                seen_rows["n"] = sum(
                    int(p["numInputRows"]) for p in q.recentProgress
                )
                if seen_rows["n"] >= 3 or not q.isActive:
                    break
                time.sleep(0.5)
            time.sleep(2)  # let the final batch's sink complete
            q.stop()
            assert seen_rows["n"] >= 3, "stream never drained all chunks"
        return trades

    with_ttl = run(1)  # 1 ms: the book is always expired by the next batch
    assert with_ttl == [], "TTL did not evict the resting book"
    control = run(None)
    assert len(control) == 1 and control[0].buy_no == 2 and control[0].sell_no == 4


def test_inactivity_sessions_fire_on_timer(spark, tmp_path):
    """Timers (SURVEY §2A): per-key processing-time timer closes idle
    sessions. A sentinel final batch guarantees every real key's timer
    fires, so conservation must be exact: each user's events are
    counted exactly once across their emitted sessions."""
    import os
    import time

    import duckdb

    from trisk_spark.streaming.state import inactivity_sessions_stream

    con = duckdb.connect()
    want = {
        u: (n, c)
        for u, n, c in con.execute(
            f"""SELECT user_id, COUNT(*),
                   SUM(CAST(ROUND(value * 100) AS BIGINT))
               FROM read_parquet('{SF}/events.parquet') GROUP BY user_id"""
        ).fetchall()
    }
    rows = con.execute(
        f"""SELECT user_id, value FROM read_parquet('{SF}/events.parquet')
            ORDER BY ts, event_id"""
    ).fetchall()

    import pandas as pd_
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "chunks")
    os.makedirs(src)
    n_chunks = 4
    per = (len(rows) + n_chunks - 1) // n_chunks
    t0 = int(time.time())
    for i in range(n_chunks):
        chunk = rows[i * per : (i + 1) * per]
        tbl = pa.Table.from_pandas(
            pd_.DataFrame(chunk, columns=["user_id", "value"]),
            schema=pa.schema([("user_id", pa.int64()), ("value", pa.float64())]),
        )
        p = os.path.join(src, f"chunk-{i}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, times=(t0 + i * 10, t0 + i * 10))
    # sentinel batch: one event for a user id outside the real range —
    # processed last, so every real key is idle and its timer fires
    sent = pa.Table.from_pandas(
        pd_.DataFrame({"user_id": [-1], "value": [0.0]}),
        schema=pa.schema([("user_id", pa.int64()), ("value", pa.float64())]),
    )
    sp = os.path.join(src, "zz-sentinel.parquet")
    pq.write_table(sent, sp)
    os.utime(sp, times=(t0 + n_chunks * 10, t0 + n_chunks * 10))

    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted = []

    def collect(bdf, bid):
        emitted.extend(bdf.collect())

    # A query with processing-time timers is unbounded by design (it
    # must keep running empty batches so idle keys can fire), so poll
    # until every real user's sessions have closed, then stop.
    q = (
        inactivity_sessions_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", checkpoint_dir("inact"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 240
    while time.time() < deadline:
        closed = {r.user_id for r in emitted}
        closed.discard(-1)
        if closed == set(want):
            break
        if not q.isActive:
            break
        time.sleep(1)
    q.stop()

    got: dict[int, list] = {}
    for r in emitted:
        assert r.closed_by_timeout == "timeout"
        got.setdefault(r.user_id, []).append((r.n_events, r.total_cents))
    got.pop(-1, None)  # sentinel user may or may not have flushed
    assert got, "no timers fired — vacuous"
    for u, sessions in got.items():
        n = sum(s[0] for s in sessions)
        cents = sum(s[1] for s in sessions)
        assert (n, cents) == want[u], f"user {u}: conservation violated"
    assert set(got) == set(want), "some users never closed a session"


def test_partition_custom_exact_contract(spark):
    """Index-exact partitionCustom enforces the reference Partitioner
    contract (DataStream.java:352): pid must be an int in [0, n).
    NULL and out-of-range indexes raise a clear error instead of
    silently wrapping modulo-n or dying as int(None) in the worker."""
    from trisk_spark.operators.partitioning import partition_custom_exact

    df = spark.range(10).toDF("id")

    # out-of-range: ids run to 9, n=4 — must refuse, not wrap % 4
    with pytest.raises(Exception, match="outside"):
        partition_custom_exact(df, F.col("id"), 4).count()

    # NULL pid — must name the contract, not crash as int(None)
    null_pid = F.when(F.col("id") < 5, F.col("id") % 4)
    with pytest.raises(Exception, match="NULL"):
        partition_custom_exact(df, null_pid, 4).count()

    # degenerate partition count is a driver-side error
    with pytest.raises(ValueError, match="positive"):
        partition_custom_exact(df, F.col("id"), 0)

    # the valid path is unchanged
    ok = partition_custom_exact(df, (F.col("id") % 4).cast("int"), 4)
    assert ok.count() == 10


def test_asof_stream_equals_batch(spark):
    """Streaming as-of (one-quote ValueState) must emit exactly the
    batch running-last window's rows — including NULL quotes for clicks
    with no prior purchase."""
    from trisk_spark.operators.multistream import asof_join
    from trisk_spark.streaming.state import asof_stream

    stream = replay_stream(spark, SF, "events", n_chunks=5)
    out = asof_stream(stream)
    emitted = []

    def collect(bdf, bid):
        emitted.extend(bdf.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", checkpoint_dir("asof"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.click_id, r.user_id, r.quote_id, r.quote_value) for r in emitted}
    assert len(got) == len(emitted), "duplicate emit"
    want = {
        (r.click_id, r.user_id, r.quote_id, r.quote_value)
        for r in asof_join(spark, SF).collect()
    }
    assert got == want
    assert any(r[2] is None for r in want), "fixture has no NULL-quote clicks"


def test_socket_text_stream_receives_lines(spark):
    """socketTextStream end-to-end against an in-process localhost
    server — the §2A socket-source row, previously assumed untestable
    in this environment. Spark's socket source is built in (no external
    connector), so a threaded sender exercises the real read path."""
    import socket
    import threading
    import time

    from trisk_spark.streaming.sources import socket_text_stream

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    sent = [f"line-{i}" for i in range(20)]

    def serve():
        conn, _ = srv.accept()
        for s in sent:
            conn.sendall((s + "\n").encode())
        time.sleep(10)  # keep the pipe open until the query drains it
        conn.close()

    threading.Thread(target=serve, daemon=True).start()
    got: list[str] = []
    q = (
        socket_text_stream(spark, "127.0.0.1", port)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: got.extend(r.value for r in bdf.collect()))
        .start()
    )
    try:
        deadline = time.time() + 45
        while time.time() < deadline and len(got) < len(sent):
            time.sleep(0.5)
    finally:
        q.stop()
        srv.close()
    assert sorted(got) == sorted(sent)


def test_pii_scrub_stream_equals_batch(spark):
    """The PII scrub is pure column expressions, so the identical code
    path runs under Structured Streaming: replaying the documents
    corpus through pii_scrub must emit exactly the batch query's rows
    (the streaming member of the r6 curation family)."""
    from trisk_spark.functions.text import pii_scrub
    from trisk_spark.registry import load_all

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        pii_scrub(stream.select("doc_id", "text"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("piistream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: (r.n_emails, r.n_ssns, r.n_phones, r.n_ips, r.redacted)
           for r in emitted}
    want = {r.doc_id: (r.n_emails, r.n_ssns, r.n_phones, r.n_ips, r.redacted)
            for r in load_all()["pii_redact"].fn(spark, SF).collect()}
    assert got == want
    assert len(got) == len(emitted), "a doc_id emitted twice"


def test_curated_parquet_sink_is_exactly_once_on_restart(spark, tmp_path):
    """The curation pipeline's output path: stream documents through
    pii_scrub into source-partitioned parquet. The file sink's commit
    manifest + checkpoint must make a restart with no new data a no-op
    (no re-committed files, no duplicate rows), and the files must read
    back equal to the batch query."""
    from trisk_spark.functions.text import pii_scrub
    from trisk_spark.registry import load_all
    from trisk_spark.streaming.sinks import to_files

    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    # a STABLE source dir (unlike replay_stream's fresh tmp dir): a
    # restarted query must resolve the same source path from its
    # checkpoint
    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.mode("overwrite").parquet(src)

    def run_once():
        stream = spark.readStream.schema(docs.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            to_files(
                pii_scrub(
                    stream.select("doc_id", "source", "text"),
                    keep=("source",),
                ),
                out, ckpt, partition_by="source",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).collect()
    run_once()  # same checkpoint, same data: must commit nothing new
    second = spark.read.parquet(out).collect()
    assert len(second) == len(first), "restart duplicated committed files"

    got = {r.doc_id: (r.n_emails, r.redacted) for r in second}
    want = {
        r.doc_id: (r.n_emails, r.redacted)
        for r in load_all()["pii_redact"].fn(spark, SF).collect()
    }
    assert got == want
    # hive-style partition dirs exist → readers can partition-prune
    import os
    assert any(d.startswith("source=") for d in os.listdir(out))


def test_sequence_pack_stream_equals_batch(spark):
    """Streaming packing: under doc_id-ordered replay, every document's
    (seq_id, seq_offset) equals the batch running-sum window."""
    from trisk_spark.registry import load_all
    from trisk_spark.streaming.state import sequence_pack_stream

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        sequence_pack_stream(stream.select("doc_id", "source", "text"))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("packstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: (r.source, r.n_tokens, r.seq_id, r.seq_offset)
           for r in emitted}
    want = {r.doc_id: (r.source, r.n_tokens, r.seq_id, r.seq_offset)
            for r in load_all()["sequence_pack"].fn(spark, SF).collect()}
    assert got == want
    assert len(got) == len(emitted), "a doc_id emitted twice"


def test_streaming_curation_pipeline_mid_stream_restart(spark, tmp_path):
    """VERDICT r6 item 4: the WHOLE curation chain as one streaming
    query — quality gate → exact-dedup state → split assignment → PII
    scrub → split-partitioned parquet sink — stopped MID-STREAM (half
    the corpus ingested), restarted from the same checkpoint with the
    second half arriving, and the final files must equal the batch
    ``curation_manifest`` image joined with the batch redaction,
    byte-equal per doc. Pins that the r6 pieces compose exactly-once:
    the dedup state AND the file-sink manifest both resume."""
    import pyarrow as pa

    from trisk_spark.registry import load_all
    from trisk_spark.streaming.queries import curated_stream
    from trisk_spark.streaming.sinks import to_files

    SF_LOCAL = SF
    batch_docs = (
        spark.read.parquet(f"{SF_LOCAL}/documents.parquet")
        .orderBy("doc_id")
        .collect()
    )
    schema = [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
    rows = [
        (r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in batch_docs
    ]
    quarter = len(rows) // 4
    wave1 = [rows[:quarter], rows[quarter : 2 * quarter]]
    wave2 = [rows[2 * quarter : 3 * quarter], rows[3 * quarter :]]

    src = _write_chunks(tmp_path, "curate-src", schema, wave1)
    out = str(tmp_path / "curated-out")
    ckpt = str(tmp_path / "curated-ckpt")
    spark_schema = spark.read.parquet(f"{SF_LOCAL}/documents.parquet").schema

    def run_once():
        stream = (
            spark.readStream.schema(spark_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            to_files(curated_stream(stream), out, ckpt, partition_by="split")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # ingest wave 1, then the query STOPS mid-corpus
    mid = spark.read.parquet(out).count()
    _write_chunks(tmp_path, "curate-src", schema, wave2, start=len(wave1))
    run_once()  # restart: same checkpoint, dedup state + sink resume

    got_rows = spark.read.parquet(out).collect()
    got = {
        r.doc_id: (r.source, r.split, r.n_tokens, r.quality, r.redacted)
        for r in got_rows
    }
    assert len(got) == len(got_rows), "restart re-committed a document"
    assert mid < len(got_rows), "second wave never ingested"

    manifest = {
        r.doc_id: (r.source, r.split, r.n_tokens, r.quality)
        for r in load_all()["curation_manifest"].fn(spark, SF_LOCAL).collect()
    }
    redacted = {
        r.doc_id: r.redacted
        for r in load_all()["pii_redact"].fn(spark, SF_LOCAL).collect()
    }
    want = {
        doc_id: (*vals, redacted[doc_id]) for doc_id, vals in manifest.items()
    }
    assert got == want
    # split-partitioned layout on disk → readers partition-prune
    import os

    assert sorted(
        d.split("=")[1] for d in os.listdir(out) if d.startswith("split=")
    ) == sorted({v[1] for v in got.values()})


def test_curated_stream_on_hostile_docs(spark, tmp_path):
    """The streaming curation chain on schema-legal-but-hostile rows
    (NULL text / NULL doc_id / duplicate content / whitespace-only):
    NULL keys dropped, the duplicate's LOWEST doc_id survives under
    ordered replay (first-seen ≡ keep-lowest), and the surviving rows
    equal the shared-expression batch image."""
    import pyarrow as pa

    from trisk_spark.streaming.queries import curated_stream

    schema = [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
    good = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, good, "en", "f", len(good)),
        (2, None, "en", "f", 0),             # NULL text: dropped
        (3, good, "en", "g", len(good)),     # duplicate of 1: deduped
        (None, good, "en", "f", len(good)),  # NULL doc_id: dropped
        (5, "   ", "en", "f", 3),            # word-less: token floor
        (6, "two words", "en", "f", 9),      # under MANIFEST_MIN_TOKENS
        (7, good + " omega extra words here", "en", None, 130),  # NULL source
    ]
    chunks = [rows[:4], rows[4:]]
    src = _write_chunks(tmp_path, "hostile-curate", schema, chunks)
    spark_schema = "doc_id long, text string, lang string, source string, n_chars long"

    emitted = []
    stream = (
        spark.readStream.schema(spark_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        curated_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "hc-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: (r.source, r.split, r.n_tokens) for r in emitted}
    assert set(got) == {1, 7}, got  # dup keeps LOWEST id; gates drop the rest
    assert got[7][0] is None  # NULL source passes through untouched
    # and the streaming rows equal the batch composition of the same
    # shared expressions over the same data
    batch = spark.read.parquet(src)
    from pyspark.sql import functions as F

    from trisk_spark.functions.sampling import (
        MANIFEST_MIN_QUALITY,
        MANIFEST_MIN_TOKENS,
        _split_col,
    )
    from trisk_spark.functions.text import quality_expr

    ws = F.filter(F.split("text", " "), lambda w: w != "")
    want_df = (
        batch.where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "doc_id", "source",
            F.md5(F.lower("text")).alias("h"),
            F.size(ws).cast("bigint").alias("n_tokens"),
            _split_col().alias("split"),
            quality_expr(F.col("text")).alias("q"),
        )
        .where(
            (F.col("n_tokens") >= MANIFEST_MIN_TOKENS)
            & (F.col("q") >= MANIFEST_MIN_QUALITY)
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    want = {
        r.doc_id: (r.source, r.split, r.n_tokens)
        for r in want_df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def test_embed_quantize_stream_equals_batch(spark):
    """int8 quantization is pure column expressions, so the identical
    plan runs under Structured Streaming — the similarity family's
    stateless streaming member (same proof shape as pii_scrub)."""
    from trisk_spark.functions.similarity import _valid_embeddings, quantize_int8
    from trisk_spark.registry import load_all

    stream = replay_stream(spark, SF, "embeddings", n_chunks=4, order_col="vec_id")
    emitted = []
    q = (
        quantize_int8(_valid_embeddings(stream))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("quantstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.vec_id: (r.scale, list(r.qvec), r.recon_mse) for r in emitted}
    want = {
        r.vec_id: (r.scale, list(r.qvec), r.recon_mse)
        for r in quantize_int8(
            _valid_embeddings(table(spark, SF, "embeddings"))
        ).collect()
    }
    assert got == want
    assert len(got) == len(emitted), "a vec_id emitted twice"
    # the registered (driver-window) query is the same values exploded to
    # scalar (vec_id, pos, q) rows — reassembling them must reproduce the
    # library arrays exactly
    reassembled: dict = {}
    for r in sorted(
        load_all()["embed_quantize_int8"].fn(spark, SF).collect(),
        key=lambda r: (r.vec_id, r.pos),
    ):
        e = reassembled.setdefault(r.vec_id, (r.scale, [], r.recon_mse))
        assert r.pos == len(e[1]) + 1, "pos must be dense and 1-based"
        e[1].append(r.q)
    assert reassembled == want


def test_ivf_assign_stream_equals_batch(spark):
    """Streaming IVF assignment: each replayed embedding must land in
    the SAME list the batch fused quantize+assign kernel puts it in
    (broadcast centroid model from the same reference corpus)."""
    import numpy as np

    from trisk_spark.functions.similarity import (
        N_CENTROIDS,
        _quantize_assign_gemm,
        _quantize_np,
        _valid_embeddings,
    )
    from trisk_spark.streaming.queries import ivf_assign_stream

    stream = replay_stream(spark, SF, "embeddings", n_chunks=4, order_col="vec_id")
    emitted = []
    q = (
        ivf_assign_stream(stream, spark, SF)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("ivfassignstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.vec_id: (r.qnorm, r.list_id) for r in emitted}

    ref = _valid_embeddings(table(spark, SF, "embeddings"))
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    raw_cents = (
        ref.where(scale > 0).orderBy("vec_id").limit(N_CENTROIDS)
        .select("vec_id", "embedding").collect()
    )
    cq = _quantize_np(np.array([list(r.embedding) for r in raw_cents], dtype=np.float64))
    cn = np.sqrt((cq * cq).sum(axis=1).astype(np.float64))
    cids = np.array([r.vec_id for r in raw_cents], dtype=np.int64)
    want = {
        r.vec_id: (r.qnorm, r.list_id)
        for r in _quantize_assign_gemm(spark, ref, cq, cn, cids)
        .select("vec_id", "qnorm", "list_id")
        .collect()
    }
    assert got == want
    assert len(got) > 0
    assert len(got) == len(emitted), "a vec_id emitted twice"


def test_ivf_assign_stream_mid_stream_restart_exactly_once(spark, tmp_path):
    """The index-ingest story end-to-end: the streaming IVF assignment
    stopped MID-STREAM (half the corpus indexed), restarted from the
    same checkpoint with the rest arriving, writing the ivf_store
    layout (list_id-partitioned index + centroid model). The store must
    hold every valid vector EXACTLY once with the batch kernel's
    assignment, and ``probe_index`` / ``probe_index_adc`` over the
    STREAM-BUILT store must answer identically to the one-plan
    ``ann_ivf_int8`` / ``ann_ivf_pq`` queries."""
    import pyarrow as pa

    from trisk_spark.functions.ivf_store import probe_index, probe_index_adc
    from trisk_spark.functions.similarity import (
        _int8_centroid_model,
        _quantize_assign_gemm,
        _valid_embeddings,
    )
    from trisk_spark.registry import load_all
    from trisk_spark.streaming.queries import ivf_assign_stream
    from trisk_spark.streaming.sinks import to_files

    batch_emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet").orderBy("vec_id").collect()
    )
    schema = [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
    rows = [
        (r.vec_id, list(r.embedding) if r.embedding is not None else None, r.label)
        for r in batch_emb
    ]
    half = len(rows) // 2
    src = _write_chunks(tmp_path, "ivf-src", schema, [rows[:half]])
    store = str(tmp_path / "ivf-store")
    out = f"{store}/index"
    ckpt = str(tmp_path / "ivf-ckpt")
    spark_schema = spark.read.parquet(f"{SF}/embeddings.parquet").schema

    def run_once():
        stream = (
            spark.readStream.schema(spark_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            to_files(ivf_assign_stream(stream, spark, SF), out, ckpt,
                     partition_by="list_id")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # wave 1 indexed, query stops
    mid = spark.read.parquet(out).count()
    assert 0 < mid < len(rows), "restart fixture did not split the corpus"
    _write_chunks(tmp_path, "ivf-src", schema, [rows[half:]], start=1)
    run_once()  # restart: same checkpoint — no re-emits, no gaps

    got = {
        r.vec_id: (r.qnorm, r.list_id)
        for r in spark.read.parquet(out).collect()
    }
    ref = _valid_embeddings(table(spark, SF, "embeddings"))
    cq, cn, cids, cents = _int8_centroid_model(spark, ref)
    want = {
        r.vec_id: (r.qnorm, r.list_id)
        for r in _quantize_assign_gemm(spark, ref, cq, cn, cids)
        .select("vec_id", "qnorm", "list_id").collect()
    }
    assert got == want
    assert spark.read.parquet(out).count() == len(want), (
        "a vector indexed twice or dropped"
    )
    # the stream-built store IS the ivf_store layout: add the centroid
    # model beside it and the persisted-index probe must reproduce the
    # one-plan query row-for-row
    cents.write.mode("overwrite").parquet(f"{store}/centroids")
    probed = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in probe_index(spark, SF, store).collect()
    )
    direct = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in load_all()["ann_ivf_int8"].fn(spark, SF).collect()
    )
    assert probed == direct and len(probed) > 0
    # and the streamed rows carry the PQ codes: the ADC probe answers
    # from the same store identically to the one-plan ann_ivf_pq
    probed_adc = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in probe_index_adc(spark, SF, store).collect()
    )
    direct_pq = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in load_all()["ann_ivf_pq"].fn(spark, SF).collect()
    )
    assert probed_adc == direct_pq and len(probed_adc) > 0


def test_source_mix_stream_equals_batch(spark):
    """Streaming mix filter: the kept-document set under the broadcast
    rates model must equal the batch keep pass exactly (same md5 ppm
    test, same rates — model built from the same corpus)."""
    from trisk_spark.functions.sampling import _docs, mix_keep_col, source_mix_rates
    from trisk_spark.streaming.queries import source_mix_stream

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        source_mix_stream(stream, spark, SF)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("mixstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: (r.source, r.rate) for r in emitted}

    ref = _docs(spark, SF).where(F.col("source").isNotNull())
    rates = source_mix_rates(ref).select("source", "rate")
    want = {
        r.doc_id: (r.source, r.rate)
        for r in ref.select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .where(mix_keep_col(F.col("rate")))
        .select("doc_id", "source", F.round("rate", 6).alias("rate"))
        .collect()
    }
    assert got == want and len(got) > 0
    assert len(got) == len(emitted), "a doc_id emitted twice"


def test_ts_pattern_alert_stream_equals_batch(spark):
    """Streaming pattern screen: per-user ring state + broadcast probe
    model must emit EXACTLY the batch alert set — every candidate
    window whose rounded z-normalized distance to a probe is at or
    under the threshold, once each."""
    from trisk_spark.functions.timeseries import (
        ts_candidate_distances,
        ts_probes,
        ts_windows,
    )
    from trisk_spark.streaming.state import (
        TS_ALERT_MAX_DIST2,
        ts_pattern_alert_stream,
    )

    ev = table(spark, SF, "events")
    probe_rows = [
        (r.probe_user, r.pmu, r.psd, list(r.pw))
        for r in ts_probes(ev).collect()
    ]
    assert probe_rows, "no probes in fixture — vacuous"

    stream = replay_stream(spark, SF, "events", n_chunks=4)
    emitted = []
    q = (
        ts_pattern_alert_stream(
            stream.select("user_id", "event_id", "value"), probe_rows
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("tsalert"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.probe_user, r.match_user, r.match_seq): r.dist2 for r in emitted
    }
    assert len(got) == len(emitted), "an alert emitted twice"

    want = {
        (r.probe_user, r.match_user, r.match_seq): r.dist2
        for r in ts_candidate_distances(ts_windows(ev), ts_probes(ev))
        .select(
            "probe_user", "match_user", "match_seq",
            F.round("dist2", 6).alias("dist2"),
        )
        .where(F.col("dist2") <= TS_ALERT_MAX_DIST2)
        .collect()
    }
    assert got == want
    assert len(got) > 0, "threshold produced no alerts — vacuous"


def test_minhash_flag_stream_equals_batch(spark):
    """Streaming ingest-dedup flag: the flagged-doc set must equal the
    batch image (docs sharing any LSH band bucket with a different
    doc), and the in-row signature kernel must equal the batch
    explode+grouped-MIN signatures exactly."""
    from trisk_spark.functions.dedup import (
        minhash_bands,
        minhash_signatures,
        minhash_signatures_inrow,
    )
    from trisk_spark.streaming.queries import minhash_flag_stream

    docs = table(spark, SF, "documents").where(F.col("doc_id").isNotNull())
    # signature-form equivalence: array_min in-row ≡ exploded MIN
    inrow = {tuple(r) for r in minhash_signatures_inrow(docs).collect()}
    grouped = {tuple(r) for r in minhash_signatures(docs).collect()}
    assert inrow == grouped and inrow

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        minhash_flag_stream(stream, spark, SF)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("mhflag"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in emitted)
    assert len(got) == len(set(got)), "a doc flagged twice"

    bands = minhash_bands(minhash_signatures_inrow(docs))
    ref = bands.select(
        F.col("doc_id").alias("ref_doc"), "band_idx", "bh"
    )
    want = sorted(
        r.doc_id
        for r in bands.join(ref, ["band_idx", "bh"])
        .where(F.col("doc_id") != F.col("ref_doc"))
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_model_guards_fire_before_collect(spark):
    """The broadcast-model ceilings on the two stream builders must
    fail LOUDLY while the twin builds its model, before any query
    starts (the guard is an assert_true on a cheap count aggregate,
    the batch bigram_lm_score guard). VERDICT r8 #4 + ADVICE r8."""
    from trisk_spark.streaming.queries import (
        bigram_lm_stream,
        keyword_extract_stream,
    )

    from pyspark.errors import SparkRuntimeException

    stream = replay_stream(spark, SF, "documents", n_chunks=2, order_col="doc_id")
    with pytest.raises(SparkRuntimeException, match="model too large"):
        bigram_lm_stream(spark, stream, SF, print, max_model_rows=3)
    with pytest.raises(SparkRuntimeException, match="model too large"):
        keyword_extract_stream(spark, stream, SF, print, max_model_rows=3)


def test_minhash_flag_stream_ttl_variant_and_index_handle(spark):
    """The watermark-TTL variant (dropDuplicatesWithinWatermark) must
    emit the same flagged-doc set as the unbounded-state default when
    the TTL exceeds the run (no state evicted mid-run), and the
    persisted band index must be handed back for caller-side
    unpersist (ADVICE r8: session-lifetime cache leak)."""
    from trisk_spark.functions.dedup import (
        minhash_bands,
        minhash_signatures_inrow,
    )
    from trisk_spark.streaming.queries import minhash_flag_stream

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    handles: list = []
    emitted = []
    q = (
        minhash_flag_stream(stream, spark, SF, dedup_ttl="1 hour",
                            index_out=handles)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("mhflag_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in emitted)
    assert len(got) == len(set(got)), "a doc flagged twice within the TTL"

    docs = table(spark, SF, "documents").where(F.col("doc_id").isNotNull())
    bands = minhash_bands(minhash_signatures_inrow(docs))
    ref = bands.select(F.col("doc_id").alias("ref_doc"), "band_idx", "bh")
    want = sorted(
        r.doc_id
        for r in bands.join(ref, ["band_idx", "bh"])
        .where(F.col("doc_id") != F.col("ref_doc"))
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert got == want and len(got) > 0

    # the caller-side unpersist handle: exactly one persisted frame,
    # cached now, uncached after release
    assert len(handles) == 1 and handles[0].is_cached
    handles[0].unpersist(blocking=True)
    assert not handles[0].is_cached


def test_probe_index_stream_equals_batch(spark, tmp_path):
    """Streaming ANN probes over the persisted IVF index: arriving
    probe vectors, replayed one-per-file across micro-batches, must
    produce the UNION of exactly the batch ``probe_index`` rows — each
    micro-batch routes against the stored centroids and reads the
    index with its own partition-pruned filter (probe independence
    makes the union ≡ the one-batch image)."""
    import os
    import time as _time

    from trisk_spark.functions import ivf_store
    from trisk_spark.functions.similarity import N_PROBES

    path = str(tmp_path / "ivf")
    ivf_store.write_index(spark, SF, path)

    # one parquet file per probe vector, mtime-staggered so the file
    # stream replays them in id order, 2 per micro-batch
    probes_dir = str(tmp_path / "probes")
    emb = table(spark, SF, "embeddings").where(F.col("vec_id") < N_PROBES)
    rows = emb.collect()
    assert len(rows) == N_PROBES
    for i, r in enumerate(rows):
        spark.createDataFrame(
            [(r.vec_id, r.embedding)], "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(probes_dir)
    now = int(_time.time())
    parts = sorted(
        f for f in os.listdir(probes_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(probes_dir, fname), times=(now + i, now + i))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 2)
        .parquet(probes_dir)
    )

    emitted = []
    batches = []

    def sink(bdf, bid):
        got = bdf.collect()
        if got:
            batches.append(bid)
        emitted.extend(got)

    q = (
        ivf_store.probe_index_stream(spark, stream, SF, path, sink)
        .option("checkpointLocation", checkpoint_dir("ivfprobe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "probes all landed in one micro-batch — vacuous"

    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim) for r in emitted
    )
    want = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in ivf_store.probe_index(spark, SF, path).collect()
    )
    assert got == want and len(got) > 0


def test_probe_store_stream_equals_batch(spark, tmp_path):
    """Streaming pattern probes over the persisted SAX window index:
    arriving probe windows, replayed one-per-file across micro-batches,
    must produce the UNION of exactly the batch ``probe_store`` rows —
    each micro-batch attaches stats + SAX word with the batch
    expressions and reads only its words' partitions."""
    import os
    import time as _time

    from trisk_spark.catalog import table as _table
    from trisk_spark.functions import sax_store
    from trisk_spark.functions.timeseries import sax_probe_rows

    path = str(tmp_path / "sax")
    sax_store.write_windows(spark, SF, path)

    probe_rows = sax_probe_rows(_table(spark, SF, "events"))
    assert len(probe_rows) >= 2
    probes_dir = str(tmp_path / "probes")
    for r in probe_rows:
        spark.createDataFrame(
            [(int(r.probe_user), [int(x) for x in r.pw])],
            "probe_user long, w array<long>",
        ).coalesce(1).write.mode("append").parquet(probes_dir)
    now = int(_time.time())
    parts = sorted(
        f for f in os.listdir(probes_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(probes_dir, fname), times=(now + i, now + i))
    stream = (
        spark.readStream.schema("probe_user long, w array<long>")
        .option("maxFilesPerTrigger", 1)
        .parquet(probes_dir)
    )

    emitted = []
    batches = []

    def sink(bdf, bid):
        got = bdf.collect()
        if got:
            batches.append(bid)
        emitted.extend(got)

    q = (
        sax_store.probe_store_stream(spark, stream, path, sink)
        .option("checkpointLocation", checkpoint_dir("saxprobe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "probes all landed in one micro-batch — vacuous"

    got = sorted(
        (r.probe_user, r.rank, r.match_user, r.match_seq, r.dist2)
        for r in emitted
    )
    want = sorted(
        (r.probe_user, r.rank, r.match_user, r.match_seq, r.dist2)
        for r in sax_store.probe_store(spark, SF, path).collect()
    )
    assert got == want and len(got) > 0


def test_semantic_flag_stream_equals_batch(spark):
    """Streaming semantic ingest-dedup flag: the flagged-vector set
    must equal the uncapped batch image (vectors sharing any SRP band
    with a DIFFERENT corpus vector at cosine >= NEAR_DUP_COS), and a
    band collision below the cosine threshold must never flag."""
    from trisk_spark.functions.similarity import (
        NEAR_DUP_COS,
        _dot,
        _scaled,
        _srp_bands,
        _valid_embeddings,
    )
    from trisk_spark.streaming.queries import semantic_flag_stream

    stream = replay_stream(spark, SF, "embeddings", n_chunks=4, order_col="vec_id")
    handles: list = []
    emitted = []
    q = (
        semantic_flag_stream(stream, spark, SF, index_out=handles)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("semflag"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.vec_id for r in emitted)
    assert len(got) == len(set(got)), "a vector flagged twice"

    n = (
        _valid_embeddings(table(spark, SF, "embeddings"))
        .select("vec_id", _scaled(F.col("embedding")).alias("vec"))
        .withColumn("norm", _dot(F.col("vec"), F.col("vec")))
        .where(F.col("norm") > 0)
    )
    a = _srp_bands(n.select("vec_id", "vec")).join(
        n.select("vec_id", "norm"), "vec_id"
    )
    b = a.select(
        F.col("vec_id").alias("ref_id"), F.col("vec").alias("ref_vec"),
        F.col("norm").alias("ref_norm"), "band_idx", "bv",
    )
    cos = _dot(F.col("vec"), F.col("ref_vec")).cast("double") / (
        F.sqrt(F.col("norm").cast("double"))
        * F.sqrt(F.col("ref_norm").cast("double"))
    )
    want = sorted(
        r.vec_id
        for r in a.join(b, ["band_idx", "bv"])
        .where((F.col("vec_id") != F.col("ref_id")) & (cos >= NEAR_DUP_COS))
        .select("vec_id")
        .distinct()
        .collect()
    )
    assert got == want and len(got) > 0
    # sanity: banding alone over-collides — the cosine verify must be
    # doing real work (some band-sharing pair is below the threshold)
    n_band_only = (
        a.join(b, ["band_idx", "bv"])
        .where(F.col("vec_id") != F.col("ref_id"))
        .select("vec_id")
        .distinct()
        .count()
    )
    assert n_band_only > len(want), "cosine verify is vacuous here"

    assert len(handles) == 1 and handles[0].is_cached
    handles[0].unpersist(blocking=True)
    assert not handles[0].is_cached


def test_probe_index_stream_adc_equals_batch(spark, tmp_path):
    """ADC flavor of the streaming probe path: arriving probe vectors
    answered from the persisted PQ codes (8-byte reads from routed
    partitions) must union to exactly the batch ``probe_index_adc``
    image — same probe-independence argument as the int8 flavor."""
    import os
    import time as _time

    from trisk_spark.functions import ivf_store
    from trisk_spark.functions.similarity import N_PROBES

    path = str(tmp_path / "ivf")
    ivf_store.write_index(spark, SF, path)

    probes_dir = str(tmp_path / "probes")
    emb = table(spark, SF, "embeddings").where(F.col("vec_id") < N_PROBES)
    rows = emb.collect()
    for r in rows:
        spark.createDataFrame(
            [(r.vec_id, r.embedding)], "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(probes_dir)
    now = int(_time.time())
    parts = sorted(
        f for f in os.listdir(probes_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(probes_dir, fname), times=(now + i, now + i))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 2)
        .parquet(probes_dir)
    )

    emitted = []
    batches = []

    def sink(bdf, bid):
        got = bdf.collect()
        if got:
            batches.append(bid)
        emitted.extend(got)

    q = (
        ivf_store.probe_index_stream(spark, stream, SF, path, sink, adc=True)
        .option("checkpointLocation", checkpoint_dir("ivfprobeadc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "probes all landed in one micro-batch — vacuous"

    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim) for r in emitted
    )
    want = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in ivf_store.probe_index_adc(spark, SF, path).collect()
    )
    assert got == want and len(got) > 0


def test_source_upsample_stream_equals_batch(spark):
    """Streaming epoch up-sampler: the exploded copy set under the
    broadcast factors model must equal the batch pass exactly (same
    md5 ppm fractional-copy test, same factors — model built from the
    same corpus)."""
    from trisk_spark.functions.sampling import source_upsample
    from trisk_spark.streaming.queries import source_upsample_stream

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        source_upsample_stream(stream, spark, SF)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("upsamplestream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r.doc_id, r.source, r.copy_idx) for r in emitted)
    want = sorted(
        (r.doc_id, r.source, r.copy_idx)
        for r in source_upsample(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_semantic_flag_stream_plan_has_no_stream_stream_join(spark):
    """The arriving side must stay single-sided: norm is recomputed
    in-row on the banded frame, never re-attached via a stateful
    stream-stream self-join whose buffered state would grow with total
    ingested volume (r9 review finding). The only join is the
    stream-static band-index join."""
    from trisk_spark.streaming.queries import semantic_flag_stream

    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{SF}/embeddings.parquet").schema
        ).parquet(SF)
    )
    handles: list = []
    df = semantic_flag_stream(stream, spark, SF, index_out=handles)
    plan = df._jdf.queryExecution().analyzed().toString()
    for h in handles:
        h.unpersist()
    assert "StreamingRelation" in plan
    # the analyzed plan must contain exactly ONE streaming relation —
    # a self-join would scan the stream twice
    assert plan.count("StreamingRelation") == 1, plan


def test_semantic_flag_stream_ttl_variant_runs(spark):
    """dedup_ttl switches the flag state to the watermarked
    dropDuplicatesWithinWatermark — same flags on bounded input."""
    from trisk_spark.streaming.queries import semantic_flag_stream

    stream = replay_stream(spark, SF, "embeddings", n_chunks=2, order_col="vec_id")
    handles: list = []
    emitted = []
    q = (
        semantic_flag_stream(
            stream, spark, SF, index_out=handles, dedup_ttl="10 minutes"
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("semflagttl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    for h in handles:
        h.unpersist()
    got = sorted(r.vec_id for r in emitted)
    assert got and len(got) == len(set(got))


def test_probe_store_stream_drops_malformed_windows(spark, tmp_path):
    """An arriving probe window with the wrong length, a NULL element,
    or a NULL user must be DROPPED, not z-normalized with the wrong
    divisor and scored silently wrong (r9 review finding); valid rows
    in the same batch still answer."""
    from trisk_spark.functions import sax_store
    from trisk_spark.functions.timeseries import TS_WINDOW

    path = str(tmp_path / "sax")
    sax_store.write_windows(spark, SF, path)
    # one valid probe window reconstructed from the raw corpus
    from trisk_spark.functions.timeseries import _ts_raw_windows

    w_row = (
        _ts_raw_windows(table(spark, SF, "events"))
        .select("user_id", "w")
        .first()
    )
    probes_dir = str(tmp_path / "probes")
    rows = [
        (int(w_row.user_id), [int(x) for x in w_row.w]),   # valid
        (999, [1] * (TS_WINDOW - 4)),                      # wrong length
        (998, [1] * (TS_WINDOW - 1) + [None]),             # NULL element
        (None, [1] * TS_WINDOW),                           # NULL user
    ]
    spark.createDataFrame(
        rows, "probe_user long, w array<bigint>"
    ).coalesce(1).write.mode("overwrite").parquet(probes_dir)
    stream = spark.readStream.schema("probe_user long, w array<bigint>").parquet(
        probes_dir
    )
    emitted = []
    q = (
        sax_store.probe_store_stream(
            spark, stream, path, lambda bdf, bid: emitted.extend(bdf.collect())
        )
        .option("checkpointLocation", checkpoint_dir("saxmalformed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    users = {r.probe_user for r in emitted}
    assert users == {int(w_row.user_id)}, users


def test_cluster_cap_stream_single_batch_equals_batch(spark):
    """Streaming cluster-cap gate, one-batch replay: md5-within-batch
    admission makes the single micro-batch reproduce the batch
    sampler's (vec_id, list_id, rank) frame exactly."""
    from trisk_spark.functions.sampling import cluster_cap_sample
    from trisk_spark.streaming.queries import cluster_cap_stream, run_bounded

    stream = replay_stream(
        spark, SF, "embeddings", n_chunks=1, order_col="vec_id"
    )
    emitted = run_bounded(
        cluster_cap_stream(stream, spark, SF),
        checkpoint_dir("clustercapstream"),
        mode="append",
    )
    got = sorted((r.vec_id, r.list_id, r.rank) for _, r in emitted)
    want = sorted(
        (r.vec_id, r.list_id, r.rank)
        for r in cluster_cap_sample(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_cluster_cap_stream_md5_order_restart_equals_batch(spark, tmp_path):
    """Streaming cluster-cap gate across a MID-STREAM RESTART: two
    waves arriving in global md5 order (the batch sampler's own order)
    through the same checkpoint must admit exactly the batch sampler's
    rows — the per-list counters survive the restart, nothing is
    re-admitted, nothing is lost."""
    import hashlib

    import pyarrow as pa

    from trisk_spark.functions.sampling import cluster_cap_sample
    from trisk_spark.streaming.queries import cluster_cap_stream

    rows = [
        (r.vec_id, list(r.embedding) if r.embedding is not None else None,
         r.label)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ]
    rows.sort(
        key=lambda t: (hashlib.md5(str(t[0]).encode()).hexdigest(), t[0])
    )
    schema = [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
    half = len(rows) // 2
    src = _write_chunks(tmp_path, "ccap-src", schema, [rows[:half]])
    ckpt = str(tmp_path / "ccap-ckpt")
    spark_schema = spark.read.parquet(f"{SF}/embeddings.parquet").schema
    emitted = []

    def run_once():
        stream = (
            spark.readStream.schema(spark_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            cluster_cap_stream(stream, spark, SF)
            .writeStream.outputMode("append")
            .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # wave 1 admitted, query stops
    n_wave1 = len(emitted)
    assert 0 < n_wave1, "wave 1 admitted nothing"
    _write_chunks(tmp_path, "ccap-src", schema, [rows[half:]], start=1)
    run_once()  # restart from the same checkpoint

    got = sorted((r.vec_id, r.list_id, r.rank) for r in emitted)
    want = sorted(
        (r.vec_id, r.list_id, r.rank)
        for r in cluster_cap_sample(spark, SF).collect()
    )
    assert got == want and n_wave1 < len(got), (
        "restart re-admitted or dropped rows"
    )


def test_bpe_segment_stream_equals_batch(spark):
    """Streaming BPE tokenize: the in-row merge-fold path must equal
    the batch model-join path document-for-document (same learned
    merge table, shared fold expression) — including out-of-vocab
    handling being moot on a same-corpus replay."""
    from trisk_spark.registry import load_all
    from trisk_spark.streaming.queries import bpe_segment_stream, run_bounded

    stream = replay_stream(spark, SF, "documents", n_chunks=3, order_col="doc_id")
    emitted = run_bounded(
        bpe_segment_stream(stream, spark, SF),
        checkpoint_dir("bpesegstream"),
        mode="append",
    )
    got = sorted((r.doc_id, r.n_words, r.n_bpe_tokens) for _, r in emitted)
    want = sorted(
        (r.doc_id, r.n_words, r.n_bpe_tokens)
        for r in load_all()["bpe_segment"].fn(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_bpe_segment_stream_handles_out_of_vocab_words(spark, tmp_path):
    """An arriving word the reference vocabulary never saw must still
    segment correctly (the in-row fold needs no model): check against
    the pure-Python greedy scan under the same merges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.bpe import EOW
    from trisk_spark.streaming.queries import bpe_segment_stream, run_bounded

    merges = [("a", "b", 9), ("ab", "c", 5), ("x", EOW, 3)]
    docs = {
        "doc_id": [1, 2],
        "text": ["abc abx zzz", None],
        "lang": ["en", "en"],
        "source": ["f", "f"],
        "n_chars": [11, 0],
    }
    src = tmp_path / "docs"
    src.mkdir()
    pq.write_table(pa.table(docs), src / "chunk-000.parquet")
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    emitted = run_bounded(
        bpe_segment_stream(stream, spark, SF, merges=merges),
        checkpoint_dir("bpesegoov"),
        mode="append",
    )
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens) for _, r in emitted}
    # abc -> [ab,c,</w>] -> [abc? no: merge (ab,c) -> [abc,</w>]] = 2
    # abx -> [ab,x,</w>] -> (x,</w>) -> [ab,x</w>] = 2
    # zzz -> [z,z,z,</w>] = 4
    assert got == {1: (3, 2 + 2 + 4), 2: (0, 0)}


def test_socket_text_stream_end_to_end(spark):
    # socketTextStream END-TO-END against a real local TCP peer — the
    # r10 VERDICT listed this row "untested-e2e (no peer in sandbox)",
    # but localhost networking demonstrably works here (the dynamic-
    # controller HTTP test), so the peer can be the test itself: serve
    # lines from an ephemeral port, stream them through the socket
    # source into a memory sink, assert arrival. Debug-source
    # semantics (not replayable, no exactly-once) are the reference's
    # own contract for this source.
    import socket
    import threading
    import time

    from trisk_spark.streaming.sources import socket_text_stream

    lines = ["alpha beta", "gamma", "alpha"]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(30)  # keep the socket open until the query reads

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = (
        socket_text_stream(spark, "127.0.0.1", port)
        .writeStream.format("memory")
        .queryName("sock_e2e")
        .outputMode("append")
        .start()
    )
    try:
        got: set[str] = set()
        deadline = time.time() + 45
        while time.time() < deadline and got != set(lines):
            got = {
                r.value for r in spark.sql("SELECT * FROM sock_e2e").collect()
            }
            time.sleep(0.5)
        assert got == set(lines), got
    finally:
        done.set()
        q.stop()
        srv.close()


def test_shuffle_shards_stream_single_batch_equals_batch(spark):
    """Streaming epoch shuffle, one-batch replay: md5-within-batch
    ordering makes the single micro-batch reproduce the batch
    shuffle_shards (doc_id, shard, pos) frame exactly."""
    from trisk_spark.functions.sampling import shuffle_shards
    from trisk_spark.streaming.queries import (
        run_bounded,
        shuffle_shards_stream,
    )

    stream = replay_stream(spark, SF, "documents", n_chunks=1, order_col="doc_id")
    emitted = run_bounded(
        shuffle_shards_stream(stream),
        checkpoint_dir("shufstream"),
        mode="append",
    )
    got = sorted((r.doc_id, r.shard, r.pos) for _, r in emitted)
    want = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in shuffle_shards(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_shuffle_shards_stream_multi_batch_permutation_invariants(spark):
    """Arbitrary arrival (3 chunks): the online permutation must stay a
    permutation — per-shard positions exactly 1..k, every document
    assigned once, shard assignment identical to the batch op's md5
    arithmetic."""
    from trisk_spark.functions.sampling import shuffle_shards
    from trisk_spark.streaming.queries import (
        run_bounded,
        shuffle_shards_stream,
    )

    stream = replay_stream(spark, SF, "documents", n_chunks=3, order_col="doc_id")
    emitted = run_bounded(
        shuffle_shards_stream(stream),
        checkpoint_dir("shufstream3"),
        mode="append",
    )
    rows = [r for _, r in emitted]
    batch_shard = {
        r.doc_id: r.shard for r in shuffle_shards(spark, SF).collect()
    }
    assert {r.doc_id for r in rows} == set(batch_shard) and rows
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert r.shard == batch_shard[r.doc_id], r
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_ppl_bucket_stream_matches_batch_off_boundary(spark):
    """Streaming perplexity bucketing: cutoffs trained from the batch
    terciles, applied to the replayed reference corpus, must reproduce
    the batch bucket for every document whose score differs from both
    cutoffs (rank ties AT a boundary split by doc_id — invisible to a
    threshold), and the threshold rule itself must hold exactly on
    every emitted row."""
    from trisk_spark.functions.sampling import perplexity_buckets
    from trisk_spark.streaming.queries import ppl_bucket_stream, ppl_cutoffs

    cuts = {
        r.lang: (r.head_min, r.middle_min)
        for r in ppl_cutoffs(spark, SF).collect()
    }
    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        ppl_bucket_stream(
            spark, stream, SF, lambda bdf, bid: emitted.extend(bdf.collect())
        )
        .option("checkpointLocation", checkpoint_dir("pplstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: r for r in emitted}
    assert len(got) == len(emitted), "a doc_id emitted twice"
    batch = {r.doc_id: r for r in perplexity_buckets(spark, SF).collect()}
    assert set(got) == set(batch)
    n_boundary = 0
    for did, r in got.items():
        b = batch[did]
        assert (r.lang, r.lm_score) == (b.lang, b.lm_score)
        hm, mm = cuts[r.lang]
        want = (
            "head"
            if (hm is not None and r.lm_score >= hm)
            else "middle"
            if (mm is not None and r.lm_score >= mm)
            else "tail"
        )
        assert r.bucket == want, (did, r.bucket, want)
        if r.lm_score in (hm, mm):
            n_boundary += 1  # threshold can't see rank tie-breaks here
        else:
            assert r.bucket == b.bucket, (did, r, b)
    # the cutoffs are actual member scores, so boundary docs exist
    assert n_boundary >= 2


def test_line_dedup_stream_equals_batch(spark):
    """line_dedup is pure column expressions, so the identical plan
    runs under Structured Streaming — the in-doc cleanup's stateless
    streaming member (same proof shape as quantize_int8/pii_scrub)."""
    from trisk_spark.functions.text import line_dedup, line_dedup_frame

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        line_dedup_frame(stream.where(F.col("doc_id").isNotNull()))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("linededupstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: (r.clean_text, r.n_lines, r.n_removed) for r in emitted}
    want = {
        r.doc_id: (r.clean_text, r.n_lines, r.n_removed)
        for r in line_dedup(spark, SF).collect()
    }
    assert got == want
    assert len(got) == len(emitted), "a doc_id emitted twice"


def test_ppl_bucket_stream_skips_sub_bigram_docs(spark, tmp_path):
    """Documents with <2 tokens (empty, solo-token, NULL text) carry no
    bigrams: the batch terciles omit them, and the stream kernel's
    guard must too — a dropped guard would emit them with a degenerate
    lm_score and bucket empty junk as 'head'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import perplexity_buckets
    from trisk_spark.streaming.queries import ppl_bucket_stream

    pq.write_table(
        pa.table(
            {
                "doc_id": [1, 2, 3, 4, 10],
                "text": [
                    "",
                    "solo",
                    "two words here and the of",
                    None,
                    "the of and a the of and a",
                ],
                "lang": ["en"] * 5,
                "source": ["s"] * 5,
                "n_chars": [0, 4, 10, None, 20],
            }
        ),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    batch = {r.doc_id: r.bucket for r in perplexity_buckets(spark, sf).collect()}
    assert set(batch) == {3, 10}, "sub-bigram docs must be absent in batch"
    stream = replay_stream(spark, sf, "documents", n_chunks=2, order_col="doc_id")
    emitted = []
    q = (
        ppl_bucket_stream(
            spark, stream, sf, lambda bdf, bid: emitted.extend(bdf.collect())
        )
        .option("checkpointLocation", checkpoint_dir("pplsubbigram"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: r.bucket for r in emitted}
    assert got == batch


def test_gopher_rules_stream_equals_batch(spark):
    """gopher_rules is pure column expressions, so the identical plan
    runs under Structured Streaming — the rule gate applies at ingest
    (same proof shape as quantize_int8/line_dedup)."""
    from trisk_spark.functions.text import gopher_rules, gopher_rules_frame

    stream = replay_stream(spark, SF, "documents", n_chunks=4, order_col="doc_id")
    emitted = []
    q = (
        gopher_rules_frame(stream.where(F.col("doc_id").isNotNull()))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("gopherstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: tuple(r)[1:] for r in emitted}
    want = {r.doc_id: tuple(r)[1:] for r in gopher_rules(spark, SF).collect()}
    assert got == want
    assert len(got) == len(emitted), "a doc_id emitted twice"


def test_bm25_score_stream_equals_batch_pair_scores(spark):
    """Streaming BM25: the in-row tf/score kernel over a same-corpus
    replay must equal the batch relational path (explode + groupBy +
    broadcast joins) document-for-document — same model, same exact
    contribution arithmetic by construction."""
    from trisk_spark.catalog import table as _table
    from trisk_spark.functions.text import bm25_pair_scores
    from trisk_spark.streaming.queries import bm25_score_stream, run_bounded

    stream = replay_stream(spark, SF, "documents", n_chunks=3, order_col="doc_id")
    emitted = run_bounded(
        bm25_score_stream(stream, spark, SF),
        checkpoint_dir("bm25stream"),
        mode="append",
    )
    got = sorted((r.doc_id, r.query_id, r.n_terms, r.score) for _, r in emitted)
    batch = bm25_pair_scores(
        spark, _table(spark, SF, "documents").where(F.col("doc_id").isNotNull())
    )
    want = sorted(
        (r.doc_id, r.query_id, r.n_terms, float(r.s))
        for r in batch.collect()
    )
    assert len(got) > 0 and got == want


def test_bm25_score_stream_skips_terms_absent_from_model(spark, tmp_path):
    """A seed term the reference corpus never saw must be skipped on
    arriving documents (no df row → conservative skip, mirroring the
    batch inner join) while in-model terms still score."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.streaming.queries import bm25_score_stream, run_bounded

    # reference corpus: holds 'spark' and 'stream' but NO 'window'
    ref = {
        "doc_id": [1, 2],
        "text": ["spark stream spark", "spark words here"],
        "lang": ["en"] * 2,
        "source": ["f"] * 2,
        "n_chars": [18, 16],
    }
    pq.write_table(pa.table(ref), tmp_path / "documents.parquet")
    from trisk_spark.functions.text import bm25_model

    model = bm25_model(spark, str(tmp_path))
    assert "window" not in model[0] and "spark" in model[0]

    arriving = spark.createDataFrame(
        [(10, "window window window spark", "en", "f", 26)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    scored = {
        (r.doc_id, r.query_id): r
        for r in bm25_score_stream(arriving, spark, str(tmp_path), model=model).collect()
    }
    # query 1 = (spark, stream, window): only 'spark' can contribute
    r = scored[(10, 1)]
    assert r.n_terms == 1 and r.score > 0


def test_dsir_score_stream_default_bucket_for_unseen_bigrams(spark, tmp_path):
    """An arriving bigram hashing to a bucket the reference corpus
    never populated must take the model's default (zero-count)
    contribution — ln((Tr+B)/(Tt+B)), i.e. unseen mass leans toward
    the SMALLER model (normally the target slice, which holds ~1/10 of
    the corpus) under add-1 smoothing — rather than being dropped or
    crashing."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import dsir_model
    from trisk_spark.streaming.queries import dsir_score_stream

    ref = {
        "doc_id": [0, 1, 2, 3],
        "text": ["aa bb aa bb", "cc dd cc dd", "cc dd", "cc dd cc"],
        "lang": ["en"] * 4,
        "source": ["f"] * 4,
        "n_chars": [0] * 4,
    }
    pq.write_table(pa.table(ref), tmp_path / "documents.parquet")
    model = dsir_model(spark, str(tmp_path))
    # the reference holds at most 4 distinct bigrams: every other
    # bucket carries the zero-count default
    contribs = Counter(model.first()["model"])
    default = contribs.most_common(1)[0][0]
    assert len(contribs) > 1 and default != 0

    arriving = spark.createDataFrame(
        [(9, "zz yy xx ww vv uu", "en", "f", 17)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dsir_score_stream(arriving, spark, str(tmp_path), model=model).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_bigrams == 5
    # all five bigrams are (very likely) unseen → weight = 5 × default
    assert abs(r.dsir_weight - 5 * default / 1e6) < 1e-9
    assert r.target_leaning == (r.dsir_weight > 0)


def test_embedding_health_frame_runs_under_streaming(spark):
    """The health aggregate must run UNCHANGED under Structured
    Streaming (update mode, label-cardinality state): the final state
    per label on a full replay equals the batch report exactly —
    including the distinct-dimension count, which is why the frame
    uses size(collect_set) instead of the unstreamable countDistinct."""
    from trisk_spark.functions.similarity import (
        embedding_health,
        embedding_health_frame,
    )
    from trisk_spark.streaming.queries import final_state, run_bounded

    stream = replay_stream(
        spark, SF, "embeddings", n_chunks=3, order_col="vec_id"
    )
    emitted = run_bounded(
        embedding_health_frame(stream.where(F.col("vec_id").isNotNull())),
        checkpoint_dir("embhealthstream"),
        mode="update",
    )
    got = {
        r["label"]: tuple(r[c] for c in (
            "n_vecs", "n_invalid", "n_zero_norm", "n_distinct_dims",
            "min_norm", "avg_norm", "max_norm",
        ))
        for r in final_state(emitted, ["label"])
    }
    want = {
        r.label: (
            r.n_vecs, r.n_invalid, r.n_zero_norm, r.n_distinct_dims,
            r.min_norm, r.avg_norm, r.max_norm,
        )
        for r in embedding_health(spark, SF).collect()
    }
    assert got == want and len(want) > 0


def test_bm25_and_dsir_stream_duplicate_id_contract(spark, tmp_path):
    """The documented duplicate-id contract, pinned executable: the
    stream twins score each arriving ROW while the batch paths merge
    rows sharing a doc_id — so on a duplicated id the stream emits
    per-row results and the batch one merged row. Id-unique input
    (the dedup_exact_stream ingest invariant) is what makes
    stream≡batch exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import dsir_model, dsir_weights
    from trisk_spark.functions.text import bm25_model, bm25_pair_scores
    from trisk_spark.streaming.queries import bm25_score_stream, dsir_score_stream

    docs = {
        "doc_id": [1, 1, 2],
        "text": ["spark stream", "spark spark spark", "merge sort"],
        "lang": ["en"] * 3,
        "source": ["f"] * 3,
        "n_chars": [0] * 3,
    }
    pq.write_table(pa.table(docs), tmp_path / "documents.parquet")
    sf = str(tmp_path)
    frame = spark.createDataFrame(
        list(zip(docs["doc_id"], docs["text"])), "doc_id long, text string"
    )

    got = bm25_score_stream(frame, spark, sf, model=bm25_model(spark, sf))
    assert got.where(F.col("doc_id") == 1).count() == 2  # per-row
    batch = bm25_pair_scores(
        spark, frame.withColumn("lang", F.lit("en"))
    )
    assert (
        batch.where(F.col("doc_id") == 1).select("query_id").distinct().count()
        == batch.where(F.col("doc_id") == 1).count()
    )  # merged: one row per (query, doc_id)

    dgot = dsir_score_stream(frame, spark, sf, model=dsir_model(spark, sf))
    assert dgot.where(F.col("doc_id") == 1).count() == 2
    assert dsir_weights(spark, sf).where(F.col("doc_id") == 1).count() == 1


def test_bm25_stream_plus_running_topk_equals_batch_ranking(spark):
    """End-to-end streaming retrieval: bm25_score_stream into the
    running_topk_stream leaderboard over a bounded replay must finish
    on EXACTLY the batch bm25_top_docs ranking — scorer twin plus
    rank state op reproduce the full batch operator."""
    from trisk_spark.functions.text import bm25_top_docs
    from trisk_spark.streaming.queries import bm25_score_stream, run_bounded
    from trisk_spark.streaming.state import running_topk_stream

    stream = replay_stream(spark, SF, "documents", n_chunks=3, order_col="doc_id")
    scored = bm25_score_stream(stream, spark, SF).select(
        "query_id", "doc_id", "score"
    )
    emitted = run_bounded(
        running_topk_stream(scored),
        checkpoint_dir("bm25topk"),
        mode="update",
    )
    final: dict = {}
    for _, r in emitted:  # last emission per (query, rank) wins
        final[(r.query_id, r.rank)] = (r.doc_id, r.score)
    want = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_top_docs(spark, SF).collect()
    }
    assert len(want) > 0 and final == want


def test_weighted_sample_stream_reservoir_equals_batch(spark):
    """The E-S reservoir twin: replaying the documents table in chunks
    must leave the reservoir EXACTLY equal to the one-shot batch
    top-M — keys are deterministic (md5-derived, no RNG) and top-M is
    associative under merge, so this is tuple equality, not
    approximation. Intermediate reservoirs must be monotone in key
    quality (each batch can only improve the cut)."""
    from trisk_spark.functions.sampling import (
        weighted_sample,
        weighted_sample_stream,
    )

    stream = replay_stream(spark, SF, "documents", n_chunks=4,
                           order_col="doc_id")
    seen: dict[int, list] = {}

    def sink(df, bid):
        seen[bid] = sorted(map(tuple, df.collect()))

    q = (
        weighted_sample_stream(spark, stream, sink)
        .option("checkpointLocation", checkpoint_dir("wsamp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len(seen) == 4
    batch = sorted(map(tuple, weighted_sample(spark, SF).collect()))
    assert seen[max(seen)] == batch
    # the cut score (worst kept key) never degrades across batches
    cuts = [min(t[4] for t in seen[b]) for b in sorted(seen) if seen[b]]
    assert cuts == sorted(cuts)


def test_margin_mine_stream_equals_batch_image(spark):
    """Streaming margin mining over the static parity sides: the
    probe set replayed in chunks must union to the registered batch
    op's exact image (probes are independent; the sides are static)."""
    from trisk_spark.functions.similarity import (
        MARGIN_PROBE_MAX,
        margin_pair_mining,
    )
    from trisk_spark.functions.similarity import margin_mine_stream
    import os
    import tempfile

    # the batch op's probe set: even vec_id < MARGIN_PROBE_MAX
    probes = (
        table(spark, SF, "embeddings")
        .where(
            (F.pmod(F.col("vec_id"), F.lit(2)) == 0)
            & (F.col("vec_id") < MARGIN_PROBE_MAX)
        )
        .select("vec_id", "embedding")
    )
    pdir = tempfile.mkdtemp(prefix="trisk-margin-probes-")
    probes.repartitionByRange(3, F.col("vec_id")).write.mode(
        "overwrite"
    ).parquet(pdir)

    got = []

    def sink(df, bid):
        got.extend(map(tuple, df.collect()))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
    )
    q = (
        margin_mine_stream(spark, stream, SF, sink)
        .option("checkpointLocation", checkpoint_dir("marginstream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = sorted(map(tuple, margin_pair_mining(spark, SF).collect()))
    assert sorted(got) == want and want


def test_weighted_sample_stream_restart_resumes_reservoir(spark, tmp_path):
    """The durable-reservoir contract: a SECOND stream instance (fresh
    closure — the restart image) with the same checkpoint + reservoir
    path must resume from the persisted M rows, not an empty
    reservoir, and end exactly at the batch image of the full corpus.
    Without reservoir_path this restart would silently forget the
    first run's batches (the documented caveat)."""
    import os

    from trisk_spark.functions.sampling import (
        weighted_sample,
        weighted_sample_stream,
    )

    docs = table(spark, SF, "documents").where(
        F.col("doc_id").isNotNull()
    ).select("doc_id", "text", "lang", "source", "n_chars")
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    half2 = docs.where(F.col("doc_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rpath = str(tmp_path / "reservoir")
    half1.coalesce(1).write.mode("overwrite").parquet(src)

    seen = []

    def sink(df, bid):
        seen.append(sorted(map(tuple, df.collect())))

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            weighted_sample_stream(spark, stream, sink, reservoir_path=rpath)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # first instance: half 1 only
    assert seen and os.path.exists(f"{rpath}/reservoir.csv")
    half2.coalesce(1).write.mode("append").parquet(src)
    seen.clear()
    run_once()  # RESTART: fresh closure, processes only the new file
    final = seen[-1]
    batch = sorted(map(tuple, weighted_sample(spark, SF).collect()))
    assert final == batch


def test_weighted_sample_stream_null_source_reservoir_roundtrip(
    spark, tmp_path
):
    """r15 ADVICE (low): the reservoir CSV round-trip must NOT coerce
    a NULL source to "" — under the old encoding a replayed batch
    re-collected (doc_id, None, ...) which no longer equalled the
    loaded (doc_id, "", ...) tuple, so one document occupied TWO of
    the exactly-M slots and evicted a legitimate row. Forced here by
    the worst case: a fresh-checkpoint restart replays the WHOLE
    corpus into a loaded reservoir (merge idempotence), on a corpus
    whose every source is NULL."""
    from trisk_spark.functions.sampling import (
        weighted_keys_frame,
        weighted_sample_stream,
    )

    m = 10
    docs = spark.createDataFrame(
        [
            (i, None, "quality text body " + " ".join(
                f"w{i}k{k}" for k in range(5 + (i % 7))
            ))
            for i in range(40)
        ],
        "doc_id bigint, source string, text string",
    )
    src = str(tmp_path / "src")
    rpath = str(tmp_path / "reservoir")
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    half1.coalesce(1).write.mode("overwrite").parquet(src)

    seen = []

    def sink(df, bid):
        seen.append([r.asDict() for r in df.collect()])

    schema = "doc_id bigint, source string, text string"

    def run_once(ckpt):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            weighted_sample_stream(
                spark, stream, sink, m=m, reservoir_path=rpath
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once(str(tmp_path / "ckpt1"))  # half 1, reservoir persisted
    assert seen
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    seen.clear()
    # FRESH checkpoint: the second instance replays half 1 AND
    # processes half 2, merging replayed tuples into the loaded
    # reservoir — the exact collision the "" coercion corrupted
    run_once(str(tmp_path / "ckpt2"))
    final = seen[-1]

    assert len(final) == m
    assert len({r["doc_id"] for r in final}) == m, (
        "one document must never occupy two reservoir slots"
    )
    assert all(r["source"] is None for r in final), (
        "NULL source must round-trip as NULL, not ''"
    )
    # stream ≡ batch: equals the top-M of the one-plan key derivation
    rows = weighted_keys_frame(docs).collect()
    top = sorted(rows, key=lambda r: (-r.es_key, r.doc_id))[:m]
    want = [
        {
            "doc_id": r.doc_id, "source": r.source,
            "n_tokens": r.n_tokens, "weight": r.weight,
            "es_key": r.es_key, "rank": i + 1,
        }
        for i, r in enumerate(top)
    ]
    got = sorted(final, key=lambda d: d["rank"])
    assert got == want


def test_funnel_stream_equals_batch_on_ordered_replay(spark):
    """The streaming funnel alerter must emit EXACTLY the batch
    ``funnel_user_times`` unpivoted under a ts-ordered multi-batch
    replay (a time prefix can never later produce a smaller qualified
    stage time), with at most one row per (user, stage) ever."""
    from trisk_spark.catalog import table
    from trisk_spark.functions.funnel import funnel_user_times
    from trisk_spark.streaming.queries import funnel_stream
    from trisk_spark.streaming.sources import checkpoint_dir, replay_stream

    want = set()
    for r in funnel_user_times(table(spark, SF, "events")).collect():
        if r.t1 is not None:
            want.add((r.user_id, "view", 1, r.t1, 0))
        if r.t2 is not None:
            want.add((r.user_id, "click", 2, r.t2, r.t2 - r.t1))
        if r.t3 is not None:
            want.add((r.user_id, "purchase", 3, r.t3, r.t3 - r.t2))
    assert want  # non-vacuous: the corpus produces conversions

    emitted = []
    q = (
        funnel_stream(replay_stream(spark, SF, "events", n_chunks=5))
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.stage, r.stage_idx, r.us, r.wait_us) for r in emitted}
    assert len(got) == len(emitted), "a (user, stage) alert fired twice"
    assert got == want


def test_ts_acf_stream_converges_to_batch(spark):
    """The running ACF monitor's LAST emission per (user, lag) must
    equal the batch ts_acf (to its 6-decimal display rounding) after a
    seq-ordered 5-chunk replay drains — the integer moment state makes
    the running value exactly the batch value at end-of-stream."""
    from trisk_spark.functions.timeseries import ts_acf
    from trisk_spark.streaming.queries import ts_acf_stream
    from trisk_spark.streaming.sources import checkpoint_dir, replay_stream

    want = {(r.user_id, r.lag): r.acf for r in ts_acf(spark, SF).collect()}
    assert want  # non-vacuous

    emitted = []
    # order_col=event_id: the op's moment math needs per-user SEQ
    # order across batches — ts order only coincides with it on this
    # corpus, so pin the property actually required
    q = (
        ts_acf_stream(
            replay_stream(
                spark, SF, "events", n_chunks=5, order_col="event_id"
            )
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda bdf, bid: emitted.append(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("acf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got: dict = {}
    for batch in emitted:
        for r in batch:  # later batches overwrite — last emission wins
            got[(r.user_id, r.lag)] = r.acf
    assert set(got) == set(want)
    for key, acf in got.items():
        assert abs(acf - want[key]) < 1e-6, (key, acf, want[key])
