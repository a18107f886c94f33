"""Sinks, side outputs, late-data handling, and the one micro-batch
runner (SURVEY.md §2A Sinks + split/select + allowedLateness rows).

Reference surface: addSink/print/writeAsText/Kafka producer/DummySink
(DataStream.java:1001-1318); side outputs via OutputTag
(SingleOutputStreamOperator.java:399); sideOutputLateData
(WindowedStream.java:177).

Spark image: print, DummySink and the Kafka producer are plain
``writeStream.format("console"|"noop"|"kafka")`` calls and need no
wrapper; the file sink is ``to_files``. ``per_batch`` runs a batch
stage over each micro-batch and hands its result to a sink: every
library stream twin and store stream verb that works per batch goes
through it, so the batch cache and the store-family replay guard
exist once. One foreachBatch fan-out serves side outputs (each batch
routed to N sinks by predicate — the split/select pattern); late rows
are captured by an anti-join against the watermark *before* Spark
drops them (Spark has no native late-data side output — documented
divergence, closed here)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from trisk_spark.functions import storefs


def to_files(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    partition_by: str | None = None,
):
    """writeAsText/writeAsCsv (DataStream.java:1071,1117), generalized
    to columnar formats (append-only by Spark's file-sink contract).

    ``partition_by`` writes hive-style directories (e.g. source= or
    split=) — the 100 TB output layout for curated corpora: readers
    partition-prune, and the file sink's manifest (_spark_metadata +
    the checkpoint) makes restarts exactly-once — a resumed query never
    re-commits a batch's files (pytest-pinned restart test)."""
    w = (
        df.writeStream.outputMode("append")
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    return w


def per_batch(
    stream: DataFrame,
    stage: Callable[[DataFrame, int], DataFrame | None],
    sink: Callable[[DataFrame, int], None],
    watermark: str | None = None,
):
    """Run ``stage(batch_df, batch_id)`` on each micro-batch and hand
    its result to ``sink(result_df, batch_id)``; a stage that returns
    None has nothing to sink. The micro-batch is cached for the call,
    so a stage with several consumers reads it once; the sink must
    therefore fully materialize the result inside the call (the cache
    is dropped when it returns).

    ``watermark`` names a store directory and turns on the
    store-family replay guard: a batch at or below the store's
    persisted batch-id watermark is skipped entirely (no stage, no
    sink); otherwise the stage runs, the watermark is written, and
    only then is the sink called. Returns the append-mode
    ``DataStreamWriter`` ready to ``.start()``."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if watermark is not None:
            wm = storefs.read_ingest_watermark(watermark)
            if wm is not None and batch_id <= wm:
                return
        batch_df = batch_df.persist()
        try:
            out = stage(batch_df, batch_id)
            if watermark is not None:
                storefs.write_ingest_watermark(watermark, batch_id)
            if out is not None:
                sink(out, batch_id)
        finally:
            batch_df.unpersist()

    return stream.writeStream.outputMode("append").foreachBatch(run)


def side_output_fanout(
    df: DataFrame,
    routes: dict[str, F.Column],
    sink: Callable[[str, DataFrame, int], None],
    checkpoint: str,
    mode: str = "append",
):
    """Side outputs / split-select: route each micro-batch to named
    outputs by predicate; rows matching no route go to the implicit
    'main' output (OutputTag semantics — a row can match several tags,
    like multiple getSideOutput calls).

    ``sink(tag, batch_df, batch_id)`` is invoked once per route per
    batch. One pass over the cached batch per route — the batch is
    scanned from memory, not recomputed."""

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            matched = None
            for tag, pred in routes.items():
                sink(tag, batch_df.where(pred), batch_id)
                matched = pred if matched is None else (matched | pred)
            rest = batch_df.where(~matched) if matched is not None else batch_df
            sink("main", rest, batch_id)
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.outputMode(mode)
        .foreachBatch(fan_out)
        .option("checkpointLocation", checkpoint)
    )


def with_late_data_capture(
    events: DataFrame,
    ts_col: str,
    delay: str,
    on_late: Callable[[DataFrame, int], None],
    checkpoint: str,
):
    """sideOutputLateData: split each micro-batch on the current
    watermark *before* the windowed aggregation drops late rows; late
    rows go to ``on_late`` (the dead-letter), on-time rows pass through.

    Returns (on_time_stream_writer_factory) pattern inverted: this is a
    foreachBatch wrapper, so the caller aggregates INSIDE on_time
    handling. Simpler contract: returns a writer that calls
    ``on_late(late_df, batch_id)`` and yields nothing for on-time rows —
    compose by running the main windowed query separately with the same
    watermark (Spark evaluates watermarks identically for both runs of
    the deterministic source).

    The threshold is tracked batch-to-batch like the engine's own
    watermark (max event time seen minus delay) and PERSISTED next to
    the checkpoint (atomic rename), so a restarted query resumes with
    the last threshold instead of re-classifying everything as on-time.
    Caveat: this mirrors, not reads, the main query's engine watermark —
    both are max(ts)-delay over the same deterministic source, but an
    engine that delays watermark updates by a batch can momentarily
    diverge; rows near the boundary may be captured here yet still
    accepted by the main query (safe direction: dead-letter, not drop)."""
    import datetime
    import json
    import os

    wm_path = os.path.join(checkpoint, "late-capture-watermark.json")
    wm: dict = {"current": None}
    if os.path.exists(wm_path):
        with open(wm_path) as f:
            raw = json.load(f).get("watermark")
        if raw:
            wm["current"] = datetime.datetime.fromisoformat(raw)

    def split(batch_df: DataFrame, batch_id: int) -> None:
        threshold = wm["current"]
        batch_df.persist()
        try:
            if threshold is not None:
                late = batch_df.where(F.col(ts_col) < F.lit(threshold))
                on_late(late, batch_id)
            mx = batch_df.agg(F.max(ts_col)).collect()[0][0]
        finally:
            batch_df.unpersist()
        if mx is not None:
            new_wm = mx - datetime.timedelta(seconds=_interval_seconds(delay))
            if threshold is None or new_wm > threshold:
                wm["current"] = new_wm
                tmp = wm_path + ".tmp"
                os.makedirs(checkpoint, exist_ok=True)
                with open(tmp, "w") as f:
                    json.dump({"watermark": new_wm.isoformat()}, f)
                os.replace(tmp, wm_path)

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(split)
        .option("checkpointLocation", checkpoint)
    )


def _interval_seconds(delay: str) -> int:
    n, unit = delay.split()
    mult = {
        "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    }[unit]
    return int(n) * mult
