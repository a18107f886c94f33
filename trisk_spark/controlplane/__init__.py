"""Control plane: the Spark-native image of Trisk's StreamManager
(SURVEY.md §2C).

The reference's contribution is a task-centric abstraction of a running
job ("Trisk" = TriskImpl.java) plus three live-reconfiguration
primitives — redistribute workload, redeploy, change-of-logic — applied
via a pause-at-barrier / migrate / resume protocol
(ReconfigurationCoordinator.java).

Spark's micro-batch model gives the barrier for free: every batch
boundary is a consistent quiesce point. The mapping (SURVEY.md §3.2):

| Trisk primitive            | here                                     |
|----------------------------|------------------------------------------|
| assignWorkload (key remap) | shuffle-partition change; keyed state     |
|                            | migrates by key (barrier snapshot seeds   |
|                            | the new checkpoint, the source is cut at  |
|                            | what the old one committed); Spark-owned  |
|                            | state re-shards by checkpointed replay;   |
|                            | a stateless query resumes in place        |
| assignExecutionLogic       | rules re-read per micro-batch (no restart)|
|                            | or stop→rebuild→resume for real UDF swaps |
| assignResources (placement)| documented no-op (Spark scheduler's job)  |
| StreamSwitch auto-scaler   | StreamingQueryListener + DS2-style policy |
"""

from trisk_spark.controlplane.plan import (
    ExecutionPlan,
    OperatorDesc,
    affected_remap,
    round_robin,
)
from trisk_spark.controlplane.managed import ManagedQuery, RulesManagedQuery, StagedReplay
from trisk_spark.controlplane.metrics import ProgressMonitor, StreamSwitchPolicy
from trisk_spark.controlplane.controllers import (
    DummyController,
    PerformanceEvaluator,
    StockController,
    run_scripted,
)
from trisk_spark.controlplane.microbench import (
    RescaleOnce,
    payload_state_stream,
    state_size_sweep,
)
from trisk_spark.controlplane.submission import (
    get_controller,
    list_controllers,
    serve_submissions,
    submit_controller,
)

__all__ = [
    "ExecutionPlan",
    "OperatorDesc",
    "round_robin",
    "affected_remap",
    "ManagedQuery",
    "RulesManagedQuery",
    "StagedReplay",
    "ProgressMonitor",
    "StreamSwitchPolicy",
    "DummyController",
    "PerformanceEvaluator",
    "StockController",
    "run_scripted",
    "RescaleOnce",
    "payload_state_stream",
    "state_size_sweep",
    "submit_controller",
    "get_controller",
    "list_controllers",
    "serve_submissions",
]
