"""Controllers: scripted reconfiguration scenarios.

Reference registry (StreamManager.java:193-207) ships DummyController,
StockController (scripted: rebalance@5s, +1 scale@100s, +1@200s,
−1@400s — udm/StockController.java:24-39), PerformanceEvaluator
(periodic remap/rescale/logic/noop every trisk.reconfig.interval —
udm/PerformanceEvaluator.java:26-62), and more.

Here a controller maps a *stage index* (batch-boundary position in a
StagedReplay drive) to plan mutations — time-compressed but the same
schedules; `run_scripted` is the drive loop: stage chunks → drain →
let the controller mutate a plan copy → apply → repeat.
"""

from __future__ import annotations

from typing import Callable

from trisk_spark.controlplane.managed import ManagedQuery, StagedReplay
from trisk_spark.controlplane.plan import ExecutionPlan, round_robin


class DummyController:
    """No-op controller (udm/DummyController)."""

    def on_stage(self, stage: int, plan: ExecutionPlan, op: str) -> bool:
        return False


class StockController:
    """The reference's scripted stock scenario, batch-indexed:
    rebalance@1, scale-out@2, scale-out@3, scale-in@4
    (udm/StockController.java:24-39, time-compressed)."""

    def on_stage(self, stage: int, plan: ExecutionPlan, op: str) -> bool:
        p = plan.operators[op].parallelism
        if stage == 1:  # load-balance: rotate the key-group deal (a real
            # move — same parallelism, different task←key-group map)
            dist = {t: [] for t in range(p)}
            for kg in range(128):
                dist[(kg + 1) % p].append(kg)
            plan.assign_workload(op, dist)
            return True
        if stage in (2, 3):  # scale-out +1
            plan.assign_workload(op, round_robin(p + 1))
            return True
        if stage == 4:  # scale-in −1
            plan.assign_workload(op, round_robin(max(1, p - 1)))
            return True
        return False


class PerformanceEvaluator:
    """Periodic reconfiguration cycle: remap → rescale → change-of-logic
    → noop, one per stage (udm/PerformanceEvaluator.java:26-62's four
    test types, deterministic order instead of config-chosen)."""

    def __init__(self, logic_fn: Callable[[int], dict] | None = None):
        self.logic_fn = logic_fn or (lambda stage: {"version": stage})

    def on_stage(self, stage: int, plan: ExecutionPlan, op: str) -> bool:
        kind = stage % 4
        p = plan.operators[op].parallelism
        if kind == 1:  # remap
            plan.assign_workload(op, round_robin(p))
        elif kind == 2:  # rescale
            plan.assign_workload(op, round_robin(p + 1))
        elif kind == 3:  # change of logic
            plan.assign_execution_logic(op, **self.logic_fn(stage))
        else:  # noop
            return False
        return True


def run_scripted(
    mq: ManagedQuery,
    staged: StagedReplay,
    controller,
    *,
    chunks_per_stage: int = 2,
) -> None:
    """Drive loop: reveal chunks stage by stage; between stages the
    controller mutates a plan copy and the managed query applies it at
    the (naturally quiesced) batch boundary — the
    synchronize→update→resume protocol at micro-batch granularity."""
    n_stages = (len(staged.chunks) + chunks_per_stage - 1) // chunks_per_stage
    for stage in range(n_stages):
        staged.stage((stage + 1) * chunks_per_stage)
        mq.run_available()
        plan = mq.get_plan_copy()
        if controller.on_stage(stage + 1, plan, mq.operator):
            mq.apply(plan)
    # A trailing reconfig that moved state needs one more incarnation on
    # the new layout (the resume half of the protocol; a replay
    # re-emits there).
    if mq.reconfig_log and mq.reconfig_log[-1]["mode"] != "resume":
        mq.run_available()
