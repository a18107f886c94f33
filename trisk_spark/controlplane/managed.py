"""Managed streaming query: the runtime half of the control plane.

Reference protocol (ReconfigurationCoordinator.java:60-1010):
prepareExecutionPlan (diff) → synchronizeTasks (pause at a consistent
barrier) → update{KeyMapping,State,TaskResources,Function} → resumeTasks.

Spark image: every micro-batch boundary is the barrier. "Pause" =
stop the StreamingQuery (Spark quiesces at the batch edge). Structured
Streaming pins the state-store partition count at a checkpoint's first
run, so a layout change on a stateful query starts a fresh checkpoint,
and ``apply`` picks how the state reaches it (the entry's ``mode``)
from the operators the old checkpoint's ``state-metadata`` lists:

* ``migrate`` — the query's only stateful operator is the library's
  keyed state (``streaming.state.keyed_state``, no timeouts): the
  barrier snapshot of that state (the state-store reader, key by key)
  is written under the new checkpoint as seed rows, and the new
  incarnation reads only the seed and the input the old checkpoint
  never committed (its ``sources`` log names what it did). The cost
  follows the state moved, not the history (Flink's keyed-state
  redistribution, VLDB'17; the offset/commit logs of SIGMOD'18).
* ``replay`` — Spark-owned state (aggregations, dedup, joins), keyed
  state with timeouts (the migrated row does not carry the timer) and
  state-shaping UDF swaps: the new checkpoint replays the source from
  its start; the deterministic replayable source makes that
  exactly-once correct (SURVEY.md §7.6).
* ``resume`` — the checkpoint holds no state (a stateless query), or
  nothing stateful changes layout: the same checkpoint.

"Resume" = the next ``run_available``, which fills in the entry's
``resume_s`` and ``input_rows``.

StagedReplay makes reconfiguration points deterministic for tests: the
file-stream source sees chunk files appear in stages; each availableNow
incarnation drains what is staged in one micro-batch, the controller
reconfigures between incarnations — a real pause/reconfigure/resume
cycle, not a mock.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time
from typing import Any, Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from trisk_spark.controlplane.plan import (
    KEY_MAPPING,
    KEY_STATE_ALLOCATION,
    UDF,
    ExecutionPlan,
)
from trisk_spark.session import sibling_session
from trisk_spark.streaming.queryable import read_keyed_state
from trisk_spark.streaming.sources import checkpoint_dir
from trisk_spark.streaming.state import SEED_CONF, seed_rows

#: Session conf listing (JSON) the source files an incarnation's lineage
#: already consumed; ``StagedReplay.stream`` leaves them out. Set, like
#: ``SEED_CONF``, only on a ManagedQuery's own sibling session.
CUT_CONF = "trisk.managed.cut"


class StagedReplay:
    """Chunk a batch table into files revealed in stages.

    The file-replay image of the reference's paced sources
    (SSERealRateSourceFunctionKV.java:29+): the stream only ever sees
    the staged prefix, so "reconfigure after stage k" is deterministic.
    Pacing is by stage: a micro-batch reads every chunk staged so far.
    """

    def __init__(self, df: DataFrame, order_col: str, n_chunks: int = 8):
        self.pantry = tempfile.mkdtemp(prefix="trisk-stage-src-")
        self.live = tempfile.mkdtemp(prefix="trisk-stage-live-")
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

    def stream(self, spark: SparkSession) -> DataFrame:
        """The live dir as a file stream, less the chunks the session's
        source cut (``CUT_CONF``) names as already consumed."""
        reader = spark.readStream.schema(self.schema)
        cut = set(json.loads(spark.conf.get(CUT_CONF, None) or "[]"))
        rest = [c for c in self.chunks if os.path.join(self.live, c) not in cut]
        if len(rest) < len(self.chunks):
            # a name no chunk has keeps the filter valid once all are cut
            reader = reader.option("pathGlobFilter", "{%s}" % ",".join(rest or ["-"]))
        return reader.parquet(self.live)


def _last_commit(checkpoint: str) -> int | None:
    """The last batch id a checkpoint committed (None: none)."""
    commits = os.path.join(checkpoint, "commits")
    ids = [int(f) for f in os.listdir(commits) if f.isdigit()] if os.path.isdir(commits) else []
    return max(ids, default=None)


def _committed_files(checkpoint: str, last: int) -> set[str]:
    """Local paths of the files a checkpoint's file sources read in
    batches up to ``last`` (its ``sources/*`` logs, ``.compact`` files
    included: they repeat every entry they fold in)."""
    out = set()
    for log in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        if not os.path.basename(log).removesuffix(".compact").isdigit():
            continue
        with open(log) as f:
            for line in f.read().splitlines()[1:]:  # line 0: log version
                entry = json.loads(line)
                if entry["batchId"] <= last:
                    out.add(unquote(urlparse(entry["path"]).path))
    return out


def _await_drained(query) -> None:
    """Wait for an availableNow incarnation to end. Keyed state with
    processing-time timeouts makes Spark plan an empty batch after
    every batch (an idle key may time out), so such an incarnation never
    ends by itself: it is stopped once a batch that read nothing has
    completed with the same event-time watermark as the batch before
    it — every source is drained and nothing but the clock can change.
    A failed batch still raises here. The stop may interrupt the next
    empty batch; it is not committed, so the next incarnation runs it
    again."""
    while not query.awaitTermination(0.5):
        last = query.recentProgress[-2:]
        if (
            len(last) == 2
            and last[1]["numInputRows"] == 0
            and all(s["startOffset"] == s["endOffset"] for s in last[1]["sources"])
            and last[0]["eventTime"].get("watermark")
            == last[1]["eventTime"].get("watermark")
        ):
            query.stop()


class ManagedQuery:
    """A streaming query under control-plane management.

    ``build(spark, plan)`` returns the streaming DataFrame, built on the
    query's own sibling session (the plan's parallelism as its shuffle
    partitions, plus the migration seed and source cut; the caller's
    session is never written); output goes through foreachBatch into
    ``self.emitted`` as ``(incarnation, batch_id, Row)`` so tests can
    check invariants across reconfigurations (the reference checks
    per-key monotonic counters in task logs —
    ResultCheckingThread.java:9-26; we check exact results).
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[SparkSession, ExecutionPlan], DataFrame],
        *,
        operator: str = "main",
        mode: str = "update",
        parallelism: int = 4,
    ):
        self.spark = spark
        self.session = sibling_session(spark, {})
        self.name = name
        self.build = build
        self.operator = operator
        self.mode = mode
        self.plan = ExecutionPlan.single(operator, parallelism)
        self.checkpoint = checkpoint_dir(name)
        # what the current checkpoint starts from: a seed dir of migrated
        # keyed state (None: empty state) with its row count, and the
        # source files consumed before it
        self.seed: str | None = None
        self.state_rows = 0
        self.cut: list[str] = []
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
        t0 = time.time()
        df = self._build()
        fresh = self.seed and _last_commit(self.checkpoint) is None
        if fresh and self.seed not in df._jdf.queryExecution().logical().toString():
            # the build keeps its state outside ``keyed_state`` and never
            # reads the seed: rebuild the state by replay instead
            self.seed, self.cut = None, []
            self.checkpoint = checkpoint_dir(self.name)
            self.reconfig_log[-1].update(mode="replay", state_rows=0, state_replayed=True)
            df = self._build()
        self.query = (
            df.writeStream.outputMode(self.mode)
            .foreachBatch(self._sink)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(self.query)
        entry = self.reconfig_log[-1] if self.reconfig_log else {}
        if entry and "resume_s" not in entry:
            entry["resume_s"] = round(time.time() - t0, 4)
            entry["input_rows"] = sum(p["numInputRows"] for p in self.query.recentProgress)

    def _build(self) -> DataFrame:
        """``build`` on the query's session, configured for the current
        checkpoint; the caller's streaming listeners see the query."""
        sp = self.session
        sp.conf.set(
            "spark.sql.shuffle.partitions", str(self.plan.operators[self.operator].parallelism)
        )
        for key, value in ((SEED_CONF, self.seed), (CUT_CONF, self.cut and json.dumps(self.cut))):
            if value:
                sp.conf.set(key, value)
            else:
                sp.conf.unset(key)
        mine = sp._jsparkSession.streams()
        have = list(mine.listListeners())
        for listener in self.spark._jsparkSession.streams().listListeners():
            if listener not in have:
                mine.addListener(listener)
        return self.build(sp, self.plan)

    def get_plan_copy(self) -> ExecutionPlan:
        return self.plan.copy()

    # ----------------------------------------------- reconfigure -----

    def apply(self, new_plan: ExecutionPlan) -> dict[str, Any]:
        """ReconfigurationExecutor.execute: diff, quiesce, migrate,
        ready-to-resume. Returns the timing entry (timer.output image);
        the next ``run_available`` adds ``resume_s`` and ``input_rows``."""
        t0 = time.time()
        diff = self.plan.diff(new_plan)
        kinds = diff.get(self.operator, set())
        if self.query is not None and self.query.isActive:
            self.query.stop()  # barrier: Spark stops at the batch edge
            self.query.awaitTermination()
        t_sync = time.time()
        mode, state_rows = "resume", 0
        relayout = bool(kinds & {KEY_STATE_ALLOCATION, KEY_MAPPING})
        reshape = UDF in kinds and self._logic_changes_state_shape(new_plan)
        if relayout or reshape:
            # the stateful operators the old checkpoint lists; none (a
            # stateless query): resume the same checkpoint
            last, ops = _last_commit(self.checkpoint), None
            if last is not None:
                meta = self.session.read.format("state-metadata").load(self.checkpoint)
                ops = [op.operatorName for op in meta.collect()]
            if ops != []:
                old, self.checkpoint = self.checkpoint, checkpoint_dir(self.name)
                if not reshape and self._migrate(old, last, ops):
                    mode, state_rows = "migrate", self.state_rows
                else:
                    mode, self.seed, self.cut = "replay", None, []
        self.plan = new_plan
        self.incarnation += 1
        entry = {
            "kinds": sorted(kinds),
            "mode": mode,
            "state_rows": state_rows,
            "sync_s": round(t_sync - t0, 4),
            "update_s": round(time.time() - t_sync, 4),
            "state_replayed": mode == "replay",
            "incarnation": self.incarnation,
        }
        self.reconfig_log.append(entry)
        return entry

    def _migrate(self, old: str, last: int | None, ops: list[str] | None) -> bool:
        """Seed the new checkpoint with ``old``'s keyed state (``ops``,
        as of its ``last`` committed batch) and cut the source at what
        ``old`` committed. False: the state cannot move by key, so the
        caller replays."""
        if last is None:
            # ``old`` never committed a batch: its pending seed and cut
            # (if any) carry forward unchanged
            return self.seed is not None
        if ops != ["applyInPandasWithState"]:
            return False
        state = read_keyed_state(self.session, old, batch_id=last)
        if state.schema["value"].dataType.fieldNames() != ["groupState"]:
            return False  # a timeout timestamp rides along: not migrated
        seed = os.path.join(self.checkpoint, "seed")
        rows = Observation("seed")
        seed_rows(state).observe(rows, F.count(F.lit(1)).alias("n")).write.parquet(seed)
        self.seed, self.state_rows = seed, rows.get["n"]
        self.cut = sorted(set(self.cut) | _committed_files(old, last))
        return True

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
