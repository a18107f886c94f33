"""StatefulDemo per-key state-size microbench (SURVEY §2B "SD").

The reference's reconfiguration-cost yardstick is a long-running job
whose ONLY state is a fixed-size payload per key, swept over sizes
(reference examples/.../flinkapp/StatefulDemoLongRun.java:54-160: the
``perKeySize`` config drives a byte[] ValueState; the job is then
rescaled and the controlplane timing log shows how migration cost
scales with state volume).

Spark image: a GroupState op holding (counter, payload bytes) per key,
driven through the same ``run_scripted`` loop as the real queries with
a mid-drive rescale. The reconfig timing log plus the post-reconfig
drain time are the measurements; the counter doubles as the correctness
invariant (final counts must equal the batch groupBy regardless of
payload size — state volume must never change results).

At 100 TB the interesting number is exactly this curve. The payload
op keeps its state through ``keyed_state``, so the rescale migrates it
by key: the barrier snapshot is read from the state store, written as
seed rows under the new checkpoint and folded in by the first batch of
the new incarnation, which reads no history (ManagedQuery, mode
``migrate``). Migration cost therefore follows the state moved —
linear in keys × per-key payload, not in the events drained — the
reference's state redistribution without its custom migration RPC.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from trisk_spark.catalog import table
from trisk_spark.controlplane.controllers import run_scripted
from trisk_spark.controlplane.managed import ManagedQuery, StagedReplay
from trisk_spark.controlplane.plan import ExecutionPlan, round_robin
from trisk_spark.streaming.state import keyed_state

_PAYLOAD_OUT = StructType(
    [StructField("user_id", LongType()), StructField("cnt", LongType())]
)
_PAYLOAD_STATE = StructType(
    [StructField("cnt", LongType()), StructField("payload", BinaryType())]
)

DEFAULT_SWEEP = (1024, 10 * 1024, 100 * 1024)  # 1 / 10 / 100 KiB


def payload_state_fn(per_key_bytes: int):
    """Counter + fixed-size payload per key (StatefulDemoLongRun's
    byte[] ValueState): the payload carries no information — it exists
    to give every key ``per_key_bytes`` of checkpointed state."""
    blob = bytes(per_key_bytes)

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cnt = state.get[0] if state.exists else 0
        cnt += sum(len(p) for p in pdfs)
        state.update((cnt, blob))
        yield pd.DataFrame({"user_id": [key[0]], "cnt": [cnt]})

    return fn


def payload_state_stream(events: DataFrame, per_key_bytes: int) -> DataFrame:
    return keyed_state(
        events,
        "user_id",
        payload_state_fn(per_key_bytes),
        _PAYLOAD_OUT,
        _PAYLOAD_STATE,
        "update",
    )


class RescaleOnce:
    """Scripted controller: one scale-out (+1) after the first stage —
    the minimal reconfiguration the sweep needs to price."""

    def on_stage(self, stage: int, plan: ExecutionPlan, op: str) -> bool:
        if stage == 1:
            p = plan.operators[op].parallelism
            plan.assign_workload(op, round_robin(p + 1))
            return True
        return False


def state_size_sweep(
    spark: SparkSession,
    sf_dir: str,
    sizes: tuple[int, ...] = DEFAULT_SWEEP,
    n_chunks: int = 4,
    parallelism: int = 2,
) -> list[dict[str, Any]]:
    """Run the SD job once per payload size; each run rescales mid-drive.

    Returns one record per size: final per-key counts (the invariant),
    the reconfig log (mode, seed rows, timings) and the total drive
    wall time (which includes the migrated resume — the cost that
    scales with per-key state)."""
    events = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out: list[dict[str, Any]] = []
    for size in sizes:
        staged = StagedReplay(events, "ts", n_chunks=n_chunks)

        def build(sp, plan, _staged=staged, _size=size):
            return payload_state_stream(_staged.stream(sp), _size)

        mq = ManagedQuery(
            spark,
            f"sd-{size}",
            build,
            mode="update",
            parallelism=parallelism,
        )
        t0 = time.time()
        run_scripted(mq, staged, RescaleOnce(), chunks_per_stage=2)
        drive_s = round(time.time() - t0, 4)
        final: dict[int, int] = {}
        for _inc, _bid, row in mq.emitted:
            final[row.user_id] = row.cnt
        out.append(
            {
                "per_key_bytes": size,
                "final_counts": final,
                "reconfig_log": mq.reconfig_log,
                "drive_s": drive_s,
            }
        )
    return out
