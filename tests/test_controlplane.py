"""Control-plane tests: reconfiguration under load with exact-result
invariants (stronger than the reference's grep-for-exceptions check —
ResultCheckingThread.java:9-26 — which only asserts the absence of
errors; we assert the outputs).

Scenarios mirror SURVEY.md §2C:
  * StockController schedule (rebalance/scale-out/scale-out/scale-in)
    over a stateful running wordcount — final counts must equal batch
    (Spark-owned aggregation state: replayed).
  * The same schedule over the keyed-state matchmaker — state migrates
    by key: trades equal batch exactly once, and each resume reads the
    seed, not the history.
  * Stateless rescale resumes from the SAME checkpoint — no replay, no
    duplicate emission (decided from the checkpoint: no state listed).
  * A new key-group deal at an unchanged partition count resumes the
    same checkpoint: Spark's state layout does not change.
  * A resume with nothing new to read, migrated or in place, starts
    no query; a build whose source ignores the cut replays instead.
  * A checkpoint left by a reconfiguration is deleted; a carried seed
    moves with the checkpoint that reads it.
  * The query's own session writes checkpoints through the FileSystem
    manager; the caller's session keeps its conf.
  * Keyed state with processing-time timeouts still drains and returns.
  * Rules change-of-logic hot-swap — new rules next batch, no restart.
  * Plan primitives: tags, diff kinds, key-group dealing.
  * StreamSwitch policy decisions from synthetic progress.

The longer reconfiguration-under-load drives are in the slow lane.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from trisk_spark.catalog import table
from trisk_spark.controlplane import (
    ExecutionPlan,
    ManagedQuery,
    ProgressMonitor,
    RulesManagedQuery,
    StagedReplay,
    StockController,
    StreamSwitchPolicy,
    affected_remap,
    round_robin,
    run_scripted,
)
from trisk_spark.controlplane.plan import (
    KEY_MAPPING,
    KEY_STATE_ALLOCATION,
    REDISTRIBUTE,
    UDF,
)
from trisk_spark.controlplane.metrics import Progress
from trisk_spark.operators.fraud import Rule, evaluate_rules, transactions
from trisk_spark.registry import load_all
from trisk_spark.sources.stock import stock_orders
from trisk_spark.streaming.state import matchmaker_stream

SF = "/root/testdata/sf0.001"


def _final_counts(emitted) -> dict[str, int]:
    latest: dict[str, int] = {}
    for _inc, _bid, row in emitted:
        latest[row.word] = row.cnt
    return latest


@pytest.mark.slow
def test_stock_controller_schedule_preserves_results(spark):
    docs = table(spark, SF, "documents")
    staged = StagedReplay(docs, "doc_id", n_chunks=10)

    def build(sp, plan):
        stream = staged.stream(sp)
        return (
            stream.select(F.explode(F.split("text", " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
        )

    mq = ManagedQuery(spark, "wc-stock", build, parallelism=4)
    run_scripted(mq, staged, StockController(), chunks_per_stage=2)

    want = {
        r.word: r.cnt
        for r in (
            docs.select(F.explode(F.split("text", " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
    }
    assert _final_counts(mq.emitted) == want
    # the full schedule ran: rebalance + 2 scale-outs + scale-in
    assert len(mq.reconfig_log) == 4
    assert mq.plan.operators["main"].parallelism == 5  # 4 +1 +1 -1
    # the rebalance keeps the partition count and resumes in place; the
    # scale events re-shard the aggregation state via replay
    assert [e["mode"] for e in mq.reconfig_log] == ["resume", "replay", "replay", "replay"]


@pytest.mark.slow
def test_stateless_rescale_resumes_same_checkpoint_no_duplicates(spark):
    events = table(spark, SF, "events")
    staged = StagedReplay(events, "ts", n_chunks=4)

    def build(sp, plan):
        s = staged.stream(sp)
        return s.where(F.col("event_type") == "click").select("event_id", "user_id")

    mq = ManagedQuery(
        spark, "stateless-rescale", build, mode="append", parallelism=2
    )
    staged.stage(2)
    mq.run_available()
    ckpt_before = mq.checkpoint
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(4))
    entry = mq.apply(plan)
    assert not entry["state_replayed"]
    assert mq.checkpoint == ckpt_before  # resumed, not replayed
    staged.stage(4)
    mq.run_available()

    got = sorted(r.event_id for _i, _b, r in mq.emitted)
    want = sorted(
        r.event_id for r in events.where(F.col("event_type") == "click").collect()
    )
    assert got == want  # exactly-once across the rescale


def _offset_log_partitions(checkpoint: str) -> set[str]:
    """``spark.sql.shuffle.partitions`` as recorded in every batch of a
    stream checkpoint's offset log."""
    offsets = os.path.join(checkpoint, "offsets")
    out = set()
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                meta = json.loads(f.read().splitlines()[1])
            out.add(meta["conf"]["spark.sql.shuffle.partitions"])
    return out


def test_rescale_records_new_parallelism_and_leaves_callers_conf(spark):
    events = table(spark, SF, "events")
    staged = StagedReplay(events, "ts", n_chunks=4)

    def build(sp, plan):
        return staged.stream(sp).groupBy("event_type").agg(F.count("*").alias("cnt"))

    callers = spark.conf.get("spark.sql.shuffle.partitions")
    mq = ManagedQuery(spark, "rescale-conf", build, parallelism=2)
    staged.stage(2)
    mq.run_available()
    assert _offset_log_partitions(mq.checkpoint) == {"2"}
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(3))
    assert mq.apply(plan)["state_replayed"]
    staged.stage(4)
    mq.run_available()
    assert _offset_log_partitions(mq.checkpoint) == {"3"}
    assert spark.conf.get("spark.sql.shuffle.partitions") == callers


def _matchmaker_query(spark, staged, name: str) -> ManagedQuery:
    def build(sp, plan):
        return matchmaker_stream(stock_orders(staged.stream(sp)))

    return ManagedQuery(spark, name, build, mode="append", parallelism=2)


def _staged_keys(spark, staged) -> int:
    """Order books among the chunks staged so far."""
    paths = [os.path.join(staged.pantry, c) for c in staged.chunks[: staged.staged]]
    return stock_orders(spark.read.parquet(*paths)).select("sec_code").distinct().count()


def _trades(emitted) -> Counter:
    return Counter(tuple(r) for _inc, _bid, r in emitted)


def _checkpoints(base) -> list[str]:
    """The checkpoint directories left under ``base``."""
    return sorted(os.path.join(base, d) for d in os.listdir(base) if d.startswith("trisk-ckpt-"))


def test_matchmaker_rescale_migrates_keyed_state(spark, tmp_path, monkeypatch):
    """StockController over the keyed-state matchmaker, drained and
    resumed stage by stage: the rebalance keeps the partition count and
    resumes the same checkpoint; each rescale moves the books by key (no
    replay); a resume with nothing new staged starts no query, the seed
    folds in the next drain, and the trades equal batch
    ``stock_matchmaker`` as a multiset — nothing re-emitted. Every
    checkpoint left behind is deleted: only the current one remains."""
    monkeypatch.setenv("TRISK_CHECKPOINT_BASE", str(tmp_path))
    staged = StagedReplay(table(spark, SF, "events"), "ts", n_chunks=5)
    mq = _matchmaker_query(spark, staged, "mm-migrate")
    controller = StockController()
    keys, started = [], []
    for stage in range(1, 6):
        staged.stage(stage)
        mq.run_available()
        plan = mq.get_plan_copy()
        if controller.on_stage(stage, plan, mq.operator):
            keys.append(_staged_keys(spark, staged))
            mq.apply(plan)
            mq.run_available()  # resume, nothing new staged
            started.append(mq.query is not None)

    batch = load_all()["stock_matchmaker"].fn(spark, SF).collect()
    assert _trades(mq.emitted) == Counter(tuple(r) for r in batch)
    assert len(mq.reconfig_log) == 4
    assert started == [False] * 4  # no resume had anything to read
    rebalance, *rescales = mq.reconfig_log
    assert rebalance["mode"] == "resume" and rebalance["state_rows"] == 0
    assert rebalance["input_rows"] == 0
    for entry, n_keys in zip(rescales, keys[1:]):
        assert entry["mode"] == "migrate" and not entry["state_replayed"]
        assert entry["state_rows"] == n_keys
        assert entry["input_rows"] <= entry["state_rows"]
    assert _offset_log_partitions(mq.checkpoint) == {"3"}  # 2, 2, 3, 4, 3
    assert _checkpoints(tmp_path) == [mq.checkpoint]


def test_key_group_deal_at_same_parallelism_resumes_in_place(spark):
    """A new key-group deal over an unchanged partition count leaves
    Spark's state layout (hash(key) mod partitions) as it was: the
    matchmaker resumes the same checkpoint with nothing snapshotted, and
    the trades equal batch ``stock_matchmaker``."""
    staged = StagedReplay(table(spark, SF, "events"), "ts", n_chunks=2)
    mq = _matchmaker_query(spark, staged, "mm-deal")
    staged.stage(1)
    mq.run_available()
    ckpt = mq.checkpoint
    plan = mq.get_plan_copy()
    plan.assign_workload("main", affected_remap(plan.operators["main"].key_groups, 2))
    entry = mq.apply(plan)
    assert entry["kinds"] == [KEY_STATE_ALLOCATION]
    assert entry["mode"] == "resume" and entry["state_rows"] == 0
    assert mq.checkpoint == ckpt and mq.seed is None
    assert not os.path.exists(os.path.join(ckpt, "seed"))
    staged.stage(2)
    mq.run_available()

    assert _offset_log_partitions(mq.checkpoint) == {"2"}
    batch = load_all()["stock_matchmaker"].fn(spark, SF).collect()
    assert _trades(mq.emitted) == Counter(tuple(r) for r in batch)


def test_managed_query_session_renames_checkpoints_without_forking(spark):
    """The query's own session writes checkpoints through Spark's
    FileSystem-based manager (``File.renameTo``); the caller's session
    never gets that conf."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    cls = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    callers = spark.conf.get(key, None)
    mq = ManagedQuery(spark, "fs-manager", lambda sp, plan: None)
    assert mq.session.conf.get(key, None) == cls
    assert spark.conf.get(key, None) == callers != cls
    spark._jvm.java.lang.Class.forName(cls)  # the installed jar has it


def test_back_to_back_applies_carry_the_pending_seed(spark, tmp_path, monkeypatch):
    """Two reconfigurations with no batch between them: the second
    carries the first's seed and cut forward, so every key keeps its
    books. The seed moves with the checkpoint that reads it, which
    stays the only one left through the drain that folds the seed and
    the restarts after it."""
    monkeypatch.setenv("TRISK_CHECKPOINT_BASE", str(tmp_path))
    staged = StagedReplay(table(spark, SF, "events"), "ts", n_chunks=3)
    mq = _matchmaker_query(spark, staged, "mm-carry")
    staged.stage(1)
    mq.run_available()
    for p in (3, 4):
        plan = mq.get_plan_copy()
        plan.assign_workload("main", round_robin(p))
        mq.apply(plan)
    first, second = mq.reconfig_log
    assert first["mode"] == second["mode"] == "migrate"
    assert second["state_rows"] == first["state_rows"] == _staged_keys(spark, staged)
    assert _checkpoints(tmp_path) == [mq.checkpoint]
    assert mq.seed == os.path.join(mq.checkpoint, "seed") and os.path.isdir(mq.seed)
    for stage in (2, 3):  # the drain that folds the seed, then a restart
        staged.stage(stage)
        mq.run_available()
        assert _checkpoints(tmp_path) == [mq.checkpoint]

    assert _offset_log_partitions(mq.checkpoint) == {"4"}
    batch = load_all()["stock_matchmaker"].fn(spark, SF).collect()
    assert _trades(mq.emitted) == Counter(tuple(r) for r in batch)


def test_migrated_resume_with_nothing_new_starts_nothing(spark):
    """A migrate with no input staged beyond the cut: the resume starts
    no query and the new checkpoint stays unrun; the seed folds in the
    next drain, and the trades equal batch ``stock_matchmaker``."""
    staged = StagedReplay(table(spark, SF, "events"), "ts", n_chunks=2)
    mq = _matchmaker_query(spark, staged, "mm-lazy")
    staged.stage(1)
    mq.run_available()
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(3))
    entry = mq.apply(plan)
    assert entry["mode"] == "migrate"
    mq.run_available()
    assert mq.query is None
    assert not os.path.isdir(os.path.join(mq.checkpoint, "offsets"))
    assert entry["input_rows"] == 0 and "resume_s" in entry
    staged.stage(2)
    mq.run_available()

    assert mq.query is not None and entry["input_rows"] == 0
    assert _offset_log_partitions(mq.checkpoint) == {"3"}
    batch = load_all()["stock_matchmaker"].fn(spark, SF).collect()
    assert _trades(mq.emitted) == Counter(tuple(r) for r in batch)


def test_source_ignoring_the_cut_falls_back_to_replay(spark, tmp_path, monkeypatch):
    """A build that reads the live dir itself never reports its pending
    input, so it would re-read what the seed already holds: the resume
    replays instead, the checkpoint holding the dropped seed is deleted,
    and the counts equal batch."""
    from trisk_spark.streaming.state import running_wordcount_stream

    monkeypatch.setenv("TRISK_CHECKPOINT_BASE", str(tmp_path))
    events = table(spark, SF, "events")
    staged = StagedReplay(events, "ts", n_chunks=2)

    def build(sp, plan):
        stream = sp.readStream.schema(staged.schema).parquet(staged.live)
        return running_wordcount_stream(stream.select(F.col("event_type").alias("word")))

    mq = ManagedQuery(spark, "cut-blind", build, parallelism=2)
    staged.stage(1)
    mq.run_available()
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(3))
    assert mq.apply(plan)["mode"] == "migrate"  # the checkpoint's verdict
    staged.stage(2)
    mq.run_available()
    assert mq.reconfig_log[-1]["mode"] == "replay"
    assert _checkpoints(tmp_path) == [mq.checkpoint]
    want = {
        r.event_type: r.cnt
        for r in events.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert _final_counts(mq.emitted) == want


def test_keyed_state_folds_the_seed_once_before_input(spark, tmp_path):
    """``keyed_state`` under a seed: a key's seed is its state before its
    first input row; a seed-only key is stored without calling ``fn``;
    seed and input keep their int64 values exact past 2**53."""
    import pandas as pd

    from trisk_spark.session import sibling_session
    from trisk_spark.streaming.queryable import read_keyed_state
    from trisk_spark.streaming.sources import checkpoint_dir
    from trisk_spark.streaming.state import SEED_CONF, keyed_state, seed_rows

    big = 2**60 + 1
    spark.createDataFrame([(1, big), (2, 5)], "k long, v long").write.parquet(
        str(tmp_path / "in")
    )
    seed_rows(
        spark.createDataFrame(
            [((1,), ((big, 1),)), ((3,), ((7, 2),))],
            "key struct<k: long>, value struct<groupState: struct<total: long, n: long>>",
        )
    ).write.parquet(str(tmp_path / "seed"))

    def fn(key, pdfs, state):
        total, n = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            assert list(pdf.columns) == ["k", "v"] and str(pdf["v"].dtype) == "int64"
            total, n = total + sum(int(v) for v in pdf["v"]), n + len(pdf)
        state.update((total, n))
        yield pd.DataFrame({"k": [key[0]], "total": [total], "n": [n]})

    sp = sibling_session(spark, {SEED_CONF: str(tmp_path / "seed")})
    stream = sp.readStream.schema("k long, v long").parquet(str(tmp_path / "in"))
    ckpt = checkpoint_dir("seed-fold")
    rows = []
    keyed_state(
        stream, "k", fn, "k long, total long, n long", "total long, n long", "update"
    ).writeStream.outputMode("update").foreachBatch(
        lambda b, _i: rows.extend(b.collect())
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start().awaitTermination()

    assert sorted(tuple(r) for r in rows) == [(1, 2 * big, 2), (2, 5, 1)]
    state = read_keyed_state(spark, ckpt).select("key.k", "value.groupState.*")
    assert sorted(tuple(r) for r in state.collect()) == [(1, 2 * big, 2), (2, 5, 1), (3, 7, 2)]


def test_keyed_state_outside_the_helper_falls_back_to_replay(spark):
    """A build that calls applyInPandasWithState itself never reads the
    seed; the resume notices before it starts and replays instead."""
    from trisk_spark.streaming.state import _WC_OUT, _WC_STATE, _running_count_fn

    events = table(spark, SF, "events")
    staged = StagedReplay(events, "ts", n_chunks=2)

    def build(sp, plan):
        words = staged.stream(sp).select(F.col("event_type").alias("word"))
        return words.groupBy("word").applyInPandasWithState(
            _running_count_fn, _WC_OUT, _WC_STATE, "update", "NoTimeout"
        )

    mq = ManagedQuery(spark, "raw-keyed", build, parallelism=2)
    staged.stage(1)
    mq.run_available()
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(3))
    assert mq.apply(plan)["mode"] == "migrate"  # the checkpoint's verdict
    staged.stage(2)
    mq.run_available()
    assert mq.reconfig_log[-1]["mode"] == "replay"
    assert mq.reconfig_log[-1]["state_replayed"]
    want = {
        r.event_type: r.cnt
        for r in events.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert _final_counts(mq.emitted) == want


def test_keyed_state_with_timeouts_replays(spark):
    """The migrated row would not carry the event-time timer, so keyed
    state with timeouts re-shards by replay."""
    from trisk_spark.streaming.state import event_time_sessions_stream

    staged = StagedReplay(table(spark, SF, "events"), "ts", n_chunks=2)
    mq = ManagedQuery(
        spark,
        "timeout-keyed",
        lambda sp, plan: event_time_sessions_stream(staged.stream(sp)),
        mode="append",
        parallelism=2,
    )
    staged.stage(1)
    mq.run_available()
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(3))
    entry = mq.apply(plan)
    assert entry["mode"] == "replay" and entry["state_replayed"]
    assert mq.seed is None and mq.cut == []


def test_matchmaker_with_processing_time_timeouts_drains(spark):
    """Processing-time timeouts make Spark plan an empty batch after
    every batch, so an availableNow incarnation never ends by itself:
    ``run_available`` still returns once the staged input is drained,
    and the trades equal batch ``stock_matchmaker``."""
    staged = StagedReplay(table(spark, SF, "events"), "ts", n_chunks=2)

    def build(sp, plan):
        return matchmaker_stream(
            stock_orders(staged.stream(sp)), state_ttl_ms=3_600_000
        )

    mq = ManagedQuery(spark, "mm-ttl", build, mode="append", parallelism=2)
    for stage in (1, 2):
        staged.stage(stage)
        mq.run_available()
    batch = load_all()["stock_matchmaker"].fn(spark, SF).collect()
    assert _trades(mq.emitted) == Counter(tuple(r) for r in batch)


def test_stateless_build_rescale_resumes_without_duplicates(spark):
    """A projection-only build left at the ManagedQuery defaults: its
    checkpoint holds no state, so a rescale resumes the same checkpoint
    — every row arrives exactly once."""
    events = table(spark, SF, "events")
    staged = StagedReplay(events, "ts", n_chunks=2)
    mq = ManagedQuery(
        spark,
        "projection-rescale",
        lambda sp, plan: staged.stream(sp).select("event_id"),
        mode="append",
        parallelism=2,
    )
    staged.stage(1)
    mq.run_available()
    ckpt = mq.checkpoint
    plan = mq.get_plan_copy()
    plan.assign_workload("main", round_robin(3))
    assert mq.apply(plan)["mode"] == "resume"
    assert mq.checkpoint == ckpt
    staged.stage(2)
    mq.run_available()
    got = Counter(r.event_id for _i, _b, r in mq.emitted)
    assert got == Counter(r.event_id for r in events.select("event_id").collect())


@pytest.mark.slow
def test_rules_hot_swap_takes_effect_next_batch_without_restart(spark):
    events = table(spark, SF, "events")
    staged = StagedReplay(events, "ts", n_chunks=2)

    def build(sp, plan):
        return transactions(staged.stream(sp))

    def evaluate(batch_df, rules):
        if not rules:
            return batch_df.limit(0).select(
                F.lit(0).alias("rule_id"), F.lit("").alias("grouping_key")
            )
        return evaluate_rules(batch_df, rules).select("rule_id", "grouping_key")

    mq = RulesManagedQuery(
        spark, "fd-rules", build, evaluate=evaluate, mode="append"
    )
    v1 = [Rule(1, "payee_id", "COUNT", "1 day", ">", 0)]
    v2 = [Rule(9, "beneficiary_id", "COUNT", "1 day", ">", 0)]
    plan = mq.get_plan_copy()
    plan.assign_execution_logic("main", rules=v1)
    mq.apply(plan)
    inc_before = mq.incarnation
    staged.stage(1)
    mq.run_available()
    plan = mq.get_plan_copy()
    plan.assign_execution_logic("main", rules=v2)
    entry = mq.apply(plan)
    assert not entry["state_replayed"]  # rules live outside engine state
    staged.stage(2)
    mq.run_available()

    by_inc: dict[int, set[int]] = {}
    for inc, _bid, row in mq.emitted:
        by_inc.setdefault(inc, set()).add(row.rule_id)
    assert by_inc[inc_before] == {1}
    assert by_inc[mq.incarnation] == {9}


def test_plan_primitives_tags_and_diff():
    plan = ExecutionPlan.single("op", 4)
    assert sorted(plan.operators["op"].key_groups) == [0, 1, 2, 3]
    assert sum(len(v) for v in plan.operators["op"].key_groups.values()) == 128

    p2 = plan.copy()
    p2.assign_workload("op", round_robin(6))
    assert p2.operators["op"].parallelism == 6
    assert "op" in p2.transformations[REDISTRIBUTE]
    d = plan.diff(p2)
    assert d["op"] == {KEY_STATE_ALLOCATION, KEY_MAPPING}

    p3 = plan.copy()
    p3.assign_execution_logic("op", version=2)
    assert plan.diff(p3)["op"] == {UDF}

    p4 = plan.copy()
    p4.assign_resources("op", {0: "slot-a"})
    assert plan.diff(p4) == {}  # placement is a documented no-op

    assert plan.diff(plan.copy()) == {}


def test_affected_remap_bounds_blast_radius():
    """trisk.reconfig.affected_tasks: a remap touching N tasks must
    leave every other task's key groups untouched and still move state
    (BASELINE.md 'affected tasks per reconfig' row, sweep 2→10)."""
    plan = ExecutionPlan.single("op", 10)
    before = plan.operators["op"].key_groups
    for n in (2, 4, 6, 8, 10):
        dist = affected_remap(before, n)
        moved = [t for t in before if sorted(before[t]) != sorted(dist[t])]
        assert set(moved) <= set(sorted(before)[:n]), "blast radius exceeded"
        assert moved, f"n={n}: nothing moved"
        # the deal is still a partition of all 128 key groups
        seen = sorted(kg for kgs in dist.values() for kg in kgs)
        assert seen == list(range(128))
        # and the diff engine classifies it as a state move, not a rescale
        p2 = plan.copy()
        p2.assign_workload("op", dist)
        kinds = plan.diff(p2)["op"]
        assert KEY_STATE_ALLOCATION in kinds and KEY_MAPPING not in kinds


@pytest.mark.parametrize(
    "durations,parallelism,expect",
    [
        ([6000, 6000, 6000, 6000], 4, "up"),      # >90% of 5s budget
        ([1000, 1000, 1000, 1000], 4, "down"),    # <50% of budget
        ([3500, 3500, 3500, 3500], 4, None),      # inside band: hold
    ],
)
def test_streamswitch_policy(durations, parallelism, expect):
    policy = StreamSwitchPolicy(target_batch_ms=5000)
    hist = [
        Progress(
            batch_id=i,
            num_input_rows=1000,
            input_rows_per_second=1000.0,
            process_rows_per_second=800.0,
            batch_duration_ms=d,
        )
        for i, d in enumerate(durations)
    ]
    got = policy.decide(hist, parallelism)
    if expect is None:
        assert got is None
    elif expect == "up":
        assert got is not None and got > parallelism
    else:
        assert got is not None and got < parallelism


@pytest.mark.slow
def test_state_size_sweep_invariant_results_and_timing(spark):
    """SD microbench (StatefulDemoLongRun.java:54-160): per-key payload
    state swept over sizes; results must be payload-invariant and every
    run must record the rescale's timing entry (BASELINE.md 'per-key
    state size sweep' row)."""
    from trisk_spark.controlplane import state_size_sweep

    sizes = (1024, 100 * 1024)  # 1 KiB and 100 KiB bracket the sweep
    records = state_size_sweep(spark, SF, sizes=sizes, n_chunks=4)

    events = table(spark, SF, "events")
    want = {
        r.user_id: r.cnt
        for r in events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    for rec in records:
        assert rec["final_counts"] == want, (
            f"{rec['per_key_bytes']}B payload changed results"
        )
        # exactly one rescale; the keyed payload state migrated by key
        # (every user has state by the barrier); timing fields recorded
        assert len(rec["reconfig_log"]) == 1
        entry = rec["reconfig_log"][0]
        assert entry["mode"] == "migrate"
        assert entry["state_rows"] == len(want)
        assert {"sync_s", "update_s", "kinds", "resume_s", "input_rows"} <= set(entry)
        assert rec["drive_s"] > 0
    assert [r["per_key_bytes"] for r in records] == list(sizes)


@pytest.mark.slow
def test_dynamic_controller_submission_over_http(spark):
    """StreamManager.registerNewController (REST + in-memory compile,
    StreamManager.java:1037-1059 / ByteClassLoader.java:111-124): submit
    controller SOURCE over HTTP, resolve it from the registry, and drive
    a real managed query with it."""
    import json
    import urllib.request

    from trisk_spark.controlplane import get_controller, serve_submissions

    srv = serve_submissions()
    port = srv.server_address[1]
    try:
        source = (
            "from trisk_spark.controlplane.plan import round_robin\n"
            "class SubmittedRescale:\n"
            "    def on_stage(self, stage, plan, op):\n"
            "        if stage == 1:\n"
            "            p = plan.operators[op].parallelism\n"
            "            plan.assign_workload(op, round_robin(p + 2))\n"
            "            return True\n"
            "        return False\n"
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/controllers",
            data=json.dumps(
                {"name": "sub-rescale", "source": source,
                 "class_name": "SubmittedRescale"}
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert json.load(resp)["registered"] == "sub-rescale"
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/controllers"
        ) as resp:
            assert "sub-rescale" in json.load(resp)["controllers"]

        ctl = get_controller("sub-rescale")
        events = table(spark, SF, "events")
        staged = StagedReplay(events, "ts", n_chunks=4)

        def build(sp, plan):
            return (
                staged.stream(sp)
                .groupBy("event_type")
                .agg(F.count("*").alias("cnt"))
            )

        mq = ManagedQuery(spark, "sub-ctl", build, parallelism=2)
        run_scripted(mq, staged, ctl, chunks_per_stage=2)
        assert mq.plan.operators["main"].parallelism == 4  # 2 + 2
        assert len(mq.reconfig_log) == 1
        want = {
            r.event_type: r.cnt
            for r in events.groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        latest = {}
        for _inc, _bid, row in mq.emitted:
            latest[row.event_type] = row.cnt
        assert latest == want
    finally:
        srv.shutdown()


@pytest.mark.slow
def test_progress_monitor_attaches(spark):
    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    try:
        events = table(spark, SF, "events")
        staged = StagedReplay(events, "ts", n_chunks=2)
        staged.stage(2)

        def build(sp, plan):
            return staged.stream(sp).select("event_id")

        mq = ManagedQuery(spark, "mon", build, mode="append")
        mq.run_available()
        deadline = __import__("time").time() + 15
        while not mon.history and __import__("time").time() < deadline:
            __import__("time").sleep(0.2)
        assert mon.history, "listener saw no progress events"
        assert sum(p.num_input_rows for p in mon.history) > 0
    finally:
        spark.streams.removeListener(mon)
