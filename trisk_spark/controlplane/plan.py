"""Execution-plan abstraction: the "Trisk" object.

Reference: controlplane/abstraction/OperatorDescriptor.java:74-127 holds
per-operator parallelism, UDF, key-state distribution
Map<taskId, List<keyGroupId>> and task resources; TriskImpl.java:129-303
exposes assignWorkload / assignExecutionLogic / assignResources / update,
each accumulating tagged transformations that the runtime later diffs
and applies (AbstractCoordinator.java:95-160).

Spark mapping: "task" = shuffle partition of the stateful stage;
"key group" = one of MAX_PARALLELISM hash buckets (the reference
hard-codes 128 — KeyGroupRangeAssignment.java:31); parallelism =
spark.sql.shuffle.partitions of the sibling session each managed-query
incarnation is built on (the caller's session keeps its own value), and
the stream's offset log records it at first run. The distribution
map is intent: Spark's HashPartitioning lays state out by hash(key)
mod the partition count, so a new deal at the same parallelism
(``KEY_STATE_ALLOCATION`` alone) leaves the layout as it is and the
query resumes its checkpoint; only a parallelism change
(``KEY_MAPPING``) restarts with the new partition count and lets the
state land on the new layout — keyed state as migrated seed rows,
Spark-owned state by replay (controlplane/managed.py).
"""

from __future__ import annotations

import copy as _copy
from dataclasses import dataclass, field
from typing import Any, Callable

MAX_PARALLELISM = 128  # key groups; KeyGroupRangeAssignment.java:31 (1 << 7)

# Transformation tags — TriskImpl.java:152-158,172-175,219-226.
REDISTRIBUTE = "redistribute"
REMAPPING = "remapping"
REDEPLOYING = "redeploying"
UPDATE_LOGIC = "updateExecutionLogic"

# Diff kinds — AbstractCoordinator.java:95-160.
UDF = "UDF"
KEY_STATE_ALLOCATION = "KEY_STATE_ALLOCATION"
KEY_MAPPING = "KEY_MAPPING"


def round_robin(n_tasks: int, max_parallelism: int = MAX_PARALLELISM) -> dict[int, list[int]]:
    """Deal key groups round-robin over tasks — StockController.java:65
    (scalingByParallelism deals 128 groups the same way)."""
    dist: dict[int, list[int]] = {t: [] for t in range(n_tasks)}
    for kg in range(max_parallelism):
        dist[kg % n_tasks].append(kg)
    return dist


def affected_remap(
    current: dict[int, list[int]], n_affected: int
) -> dict[int, list[int]]:
    """Bounded-blast-radius remap: rotate key groups among only the
    first ``n_affected`` tasks, leaving every other task's allocation
    untouched — the reference's ``trisk.reconfig.affected_tasks`` knob
    (readme config table; micro-bench sweeps 2→10 affected tasks). The
    migration cost of the resulting plan is proportional to the state
    held by the affected tasks, not the whole job."""
    n_affected = min(n_affected, len(current))
    tasks = sorted(current)[:n_affected]
    dist = {t: sorted(kgs) for t, kgs in current.items()}
    rotated = {tasks[i]: dist[tasks[(i + 1) % n_affected]] for i in range(n_affected)}
    dist.update(rotated)
    return dist


@dataclass
class OperatorDesc:
    """Per-operator slice of the plan (OperatorDescriptor.java:74-127)."""

    name: str
    parallelism: int
    key_groups: dict[int, list[int]] = field(default_factory=dict)
    logic: dict[str, Any] = field(default_factory=dict)
    resources: dict[int, str] = field(default_factory=dict)  # task -> slot

    def __post_init__(self) -> None:
        if not self.key_groups:
            self.key_groups = round_robin(self.parallelism)


class ExecutionPlan:
    """Mutable copy-on-read plan; controllers mutate a copy and submit
    (TriskImpl.getExecutionPlanCopy → mutate → execute)."""

    def __init__(self, operators: dict[str, OperatorDesc]):
        self.operators = operators
        # tag -> {op_name: [affected task ids]}
        self.transformations: dict[str, dict[str, list[int]]] = {}

    @classmethod
    def single(cls, name: str, parallelism: int) -> "ExecutionPlan":
        return cls({name: OperatorDesc(name, parallelism)})

    def copy(self) -> "ExecutionPlan":
        p = ExecutionPlan(_copy.deepcopy(self.operators))
        return p

    def _tag(self, tag: str, op: str, tasks: list[int]) -> None:
        self.transformations.setdefault(tag, {})[op] = tasks

    # ------------------------------------------------ primitives -----

    def assign_workload(self, op: str, distribution: dict[int, list[int]]) -> None:
        """Redistribute key groups among tasks; a different map size is a
        rescale (TriskImpl.java:129-160)."""
        desc = self.operators[op]
        affected = sorted(set(distribution) | set(desc.key_groups))
        desc.key_groups = {t: sorted(kgs) for t, kgs in distribution.items()}
        desc.parallelism = len(distribution)
        self._tag(REDISTRIBUTE, op, affected)
        self._tag(REMAPPING, op, affected)

    def assign_execution_logic(self, op: str, **logic: Any) -> None:
        """Hot-swap operator logic/params (TriskImpl.java:163-176)."""
        self.operators[op].logic = dict(logic)
        self._tag(UPDATE_LOGIC, op, sorted(self.operators[op].key_groups))

    def assign_resources(self, op: str, placement: dict[int, str]) -> None:
        """Task placement (TriskImpl.java:182-231). Spark's scheduler owns
        placement — recorded for plan parity, applied as a no-op."""
        self.operators[op].resources = dict(placement)
        self._tag(REDEPLOYING, op, sorted(placement))

    def update(self, fn: Callable[["ExecutionPlan"], None]) -> "ExecutionPlan":
        """User-defined transform (TriskImpl.java:299-303)."""
        fn(self)
        return self

    # ------------------------------------------------------ diff -----

    def diff(self, new: "ExecutionPlan") -> dict[str, set[str]]:
        """What changed per operator — AbstractCoordinator.java:95-160
        (UDF / KEY_STATE_ALLOCATION / KEY_MAPPING)."""
        out: dict[str, set[str]] = {}
        for name, old_op in self.operators.items():
            new_op = new.operators.get(name)
            if new_op is None:
                continue
            kinds = set()
            if old_op.logic != new_op.logic:
                kinds.add(UDF)
            if old_op.key_groups != new_op.key_groups:
                kinds.add(KEY_STATE_ALLOCATION)
            if old_op.parallelism != new_op.parallelism:
                kinds.add(KEY_MAPPING)
            if kinds:
                out[name] = kinds
        return out
