"""Managed streaming query: the runtime half of the control plane.

Reference protocol (ReconfigurationCoordinator.java:60-1010):
prepareExecutionPlan (diff) → synchronizeTasks (pause at a consistent
barrier) → update{KeyMapping,State,TaskResources,Function} → resumeTasks.

Spark image: every micro-batch boundary is the barrier. "Pause" =
stop the StreamingQuery (Spark quiesces at the batch edge); "migrate
state" = either resume from the same checkpoint (layout unchanged) or
re-shard by replaying the checkpointed source into a fresh checkpoint
with the new shuffle-partition count — Structured Streaming pins the
state-store partition count at first run, so a layout change *requires*
replay; the deterministic replayable source makes it exactly-once
correct (SURVEY.md §7.6). "Resume" = start() again.

StagedReplay makes reconfiguration points deterministic for tests: the
file-stream source sees chunk files appear in stages; each availableNow
incarnation drains what is staged, the controller reconfigures between
incarnations — a real pause/reconfigure/resume cycle, not a mock.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from trisk_spark.controlplane.plan import (
    KEY_MAPPING,
    KEY_STATE_ALLOCATION,
    UDF,
    ExecutionPlan,
)
from trisk_spark.session import sibling_session
from trisk_spark.streaming.sources import checkpoint_dir


class StagedReplay:
    """Chunk a batch table into files revealed in stages.

    The file-replay image of the reference's paced sources
    (SSERealRateSourceFunctionKV.java:29+): the stream only ever sees
    the staged prefix, so "reconfigure after batch k" is deterministic.
    """

    def __init__(self, df: DataFrame, order_col: str, n_chunks: int = 8):
        self.pantry = tempfile.mkdtemp(prefix="trisk-stage-src-")
        self.live = tempfile.mkdtemp(prefix="trisk-stage-live-")
        from pyspark.sql import functions as F

        df.orderBy(order_col).repartitionByRange(n_chunks, F.col(order_col)).write.mode(
            "overwrite"
        ).parquet(self.pantry)
        self.chunks = sorted(
            f
            for f in os.listdir(self.pantry)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        self.schema = df.sparkSession.read.parquet(self.pantry).schema
        self.staged = 0

    def stage(self, upto: int) -> None:
        """Reveal chunks [staged, upto) to the live dir with increasing
        mtimes (FileStreamSource orders by mtime)."""
        upto = min(upto, len(self.chunks))
        base = int(time.time())
        for i in range(self.staged, upto):
            dst = os.path.join(self.live, self.chunks[i])
            shutil.copy(os.path.join(self.pantry, self.chunks[i]), dst)
            os.utime(dst, times=(base + i * 10, base + i * 10))
        self.staged = max(self.staged, upto)

    def stream(self, spark: SparkSession, files_per_trigger: int = 1) -> DataFrame:
        return (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(self.live)
        )


class ManagedQuery:
    """A streaming query under control-plane management.

    ``build(spark, plan)`` returns the streaming DataFrame, built on the
    incarnation's sibling session (the plan's parallelism as its shuffle
    partitions; the caller's session is never written); output goes
    through foreachBatch into ``self.emitted`` as
    ``(incarnation, batch_id, Row)`` so tests can check invariants across
    reconfigurations (the reference checks per-key monotonic counters in
    task logs — ResultCheckingThread.java:9-26; we check exact results).
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[SparkSession, ExecutionPlan], DataFrame],
        *,
        operator: str = "main",
        mode: str = "update",
        stateful: bool = True,
        parallelism: int = 4,
    ):
        self.spark = spark
        self.name = name
        self.build = build
        self.operator = operator
        self.mode = mode
        self.stateful = stateful
        self.plan = ExecutionPlan.single(operator, parallelism)
        self.checkpoint = checkpoint_dir(name)
        self.emitted: list[tuple[int, int, Any]] = []
        self.reconfig_log: list[dict[str, Any]] = []
        self.incarnation = 0
        self.query = None

    # ------------------------------------------------------ sink -----

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        inc = self.incarnation
        for row in self._transform_batch(batch_df).collect():
            self.emitted.append((inc, batch_id, row))

    def _transform_batch(self, batch_df: DataFrame) -> DataFrame:
        """Hook for per-batch logic that reads the CURRENT plan (the
        broadcast-rules path); identity here."""
        return batch_df

    # --------------------------------------------------- lifecycle ---

    def run_available(self) -> None:
        """One availableNow incarnation: drain whatever the source has,
        then stop at the batch boundary (quiesced)."""
        op = self.plan.operators[self.operator]
        # the incarnation's own session carries the plan's parallelism;
        # the caller's streaming listeners still see the query
        sp = sibling_session(
            self.spark, {"spark.sql.shuffle.partitions": str(op.parallelism)}
        )
        for listener in self.spark._jsparkSession.streams().listListeners():
            sp._jsparkSession.streams().addListener(listener)
        df = self.build(sp, self.plan)
        self.query = (
            df.writeStream.outputMode(self.mode)
            .foreachBatch(self._sink)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        self.query.awaitTermination()

    def get_plan_copy(self) -> ExecutionPlan:
        return self.plan.copy()

    # ----------------------------------------------- reconfigure -----

    def apply(self, new_plan: ExecutionPlan) -> dict[str, Any]:
        """ReconfigurationExecutor.execute: diff, quiesce, migrate,
        ready-to-resume. Returns the timing entry (timer.output image)."""
        t0 = time.time()
        diff = self.plan.diff(new_plan)
        kinds = diff.get(self.operator, set())
        if self.query is not None and self.query.isActive:
            self.query.stop()  # barrier: Spark stops at the batch edge
            self.query.awaitTermination()
        t_sync = time.time()
        replayed = False
        if kinds & {KEY_STATE_ALLOCATION, KEY_MAPPING} and self.stateful:
            # State layout change: re-shard by replay into a fresh
            # checkpoint (state-store partition count is pinned at first
            # run — SURVEY.md §7.6).
            self.checkpoint = checkpoint_dir(self.name)
            replayed = True
        if UDF in kinds and self.stateful and self._logic_changes_state_shape(new_plan):
            self.checkpoint = checkpoint_dir(self.name)
            replayed = True
        self.plan = new_plan
        self.incarnation += 1
        entry = {
            "kinds": sorted(kinds),
            "sync_s": round(t_sync - t0, 4),
            "update_s": round(time.time() - t_sync, 4),
            "state_replayed": replayed,
            "incarnation": self.incarnation,
        }
        self.reconfig_log.append(entry)
        return entry

    def _logic_changes_state_shape(self, new_plan: ExecutionPlan) -> bool:
        """Generic UDF swaps on stateful queries rebuild state (the
        snapshot→rebuild→restore path, StreamTask.java:619-700);
        subclasses with per-batch logic (rules) return False."""
        return True


class RulesManagedQuery(ManagedQuery):
    """Change-of-logic without restart: the FD/Megaphone path.

    The build fn returns the raw input stream; rule evaluation happens
    per micro-batch in the sink against the *current* plan's
    ``logic["rules"]`` — the Spark image of BroadcastState rule updates
    (MegaphoneEvaluator.java:90-115): a new rule set takes effect at the
    next micro-batch, zero downtime, no state rebuild.
    """

    def __init__(self, *args: Any, evaluate: Callable[[DataFrame, Any], DataFrame], **kw: Any):
        super().__init__(*args, **kw)
        self.evaluate = evaluate

    def _transform_batch(self, batch_df: DataFrame) -> DataFrame:
        rules = self.plan.operators[self.operator].logic.get("rules", [])
        return self.evaluate(batch_df, rules)

    def _logic_changes_state_shape(self, new_plan: ExecutionPlan) -> bool:
        return False  # rules live outside engine state
