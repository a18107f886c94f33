"""Persisted SAX window index: the write-time/store half of the
time-series subsequence-search story that ``ts_subsequence_sax``
executes in one plan — the exact analog of ``ivf_store`` for the ANN
family (VERDICT r8 next-round #2).

At 100 TB the window index is not rebuilt per probe — it is WRITTEN
once (z-normalizable windows with their stats, partitioned by SAX
word) and every probe reads ONLY its word's partitions:

  * ``write_windows``: one user_id shuffle builds the sliding windows,
    stats + SAX word run as ONE Arrow numpy pass
    (``timeseries.ts_sax_windows_gemm`` — bit-exact with the JVM
    expression form, pytest-pinned), sunk as parquet
    ``partitionBy("word")``. The partition column IS the SAX bucket,
    so the directory layout is an inverted file per word — at most
    ALPHABET^SEGMENTS (= 256) partitions.
  * ``probe_store``: derives the probe rows (driver-held, ≤n_probes —
    the knn/centroid collect class), reads the index with a STATIC
    ``word IN (...)`` partition filter — Spark prunes the non-probed
    word directories at planning time (pinned: the scan's
    PartitionFilters carry word and the probe reads ~1/256th of the
    data per distinct probe word) — and finishes with the SAME
    broadcast-equi-join scoring + top-K as ``ts_subsequence_sax``
    (shared ``sax_score_topk``), so probe-over-store ≡ the one-plan
    query row-for-row (pytest-pinned).

The probe words cross the driver as ≤n_probes integers — a routing
decision, the same driver-held-model class as the IVF routed lists;
window rows never reach the driver.

Reference: the reference has no time-series store (beyond-reference
mandate, SURVEY.md §7 step 7); the layout follows the classic iSAX
index design (one file per word) re-expressed as Spark partitioned
parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import table
from trisk_spark.functions.ivf_store import MAX_PROBE_BATCH_ROWS
from trisk_spark.functions.timeseries import (
    N_TS_PROBES,
    TS_WINDOW,
    _ts_raw_windows,
    attach_window_stats,
    sax_probe_rows,
    sax_probes_df,
    sax_score_topk,
    sax_word_col,
    ts_sax_windows_gemm,
)
from trisk_spark.streaming.sinks import per_batch

#: Ceiling on the per-micro-batch probe-row collect in
#: ``probe_store_stream``: each probe row carries a TS_WINDOW-element
#: array, so a misbehaving producer flooding the probe topic would
#: otherwise become driver memory. The cap value and fail-loud
#: contract are shared with the ANN store's probe guard (ONE tunable
#: for both stores — see ``ivf_store.MAX_PROBE_BATCH_ROWS`` for the
#: sizing rationale); the collect here is ``limit(cap + 1)``-bounded,
#: so the guard caps driver memory even while detecting the overflow.
MAX_STREAM_PROBE_ROWS = MAX_PROBE_BATCH_ROWS


def _collect_probe_rows(df: DataFrame, max_rows: int):
    """Bounded driver-side collect for a probe micro-batch: reads at
    most ``max_rows + 1`` rows and RAISES if the batch exceeds the cap
    (fail loud, never silently truncate a probe set)."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"probe micro-batch exceeds {max_rows} rows — refusing the "
            "driver-side collect; split the probe stream or raise "
            "max_probe_rows"
        )
    return rows


def write_windows(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build and persist the SAX window index for the events corpus at
    ``sf_dir``: ``<path>/windows`` holds (user_id, seq, w, mu, sd)
    parquet partitioned by word. One kernel pass over the window
    stream; the partitioned write shuffles nothing (each task writes
    its rows into per-word directories, bounded by the 256-word
    alphabet)."""
    ev = table(spark, sf_dir, "events")
    sx = ts_sax_windows_gemm(spark, _ts_raw_windows(ev))
    sx.write.mode("overwrite").partitionBy("word").parquet(f"{path}/windows")


def probe_store(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    n_probes: int = N_TS_PROBES,
) -> DataFrame:
    """Top-K subsequence search over the PERSISTED window index: derive
    the probe set (user_id < ``n_probes`` from ``sf_dir``), statically
    prune the index read to the probe words, and run the shared
    broadcast-equi-join scoring. Returns the same (probe_user,
    match_user, match_seq, dist2, rank) frame as
    ``ts_subsequence_sax``."""
    ev = table(spark, sf_dir, "events")
    probe_rows = sax_probe_rows(ev, n_probes)
    return _probe_rows_over_store(spark, probe_rows, path)


def _probe_rows_over_store(spark: SparkSession, probe_rows, path: str):
    """Shared tail of the batch and per-micro-batch store probes:
    driver-held probe rows → static word partition filter → shared
    broadcast-equi-join scoring."""
    words = sorted({int(r.pword) for r in probe_rows})
    sx = spark.read.parquet(f"{path}/windows").where(
        # an empty probe batch (streaming) routes nowhere: read nothing
        F.col("word").isin(words) if words else F.lit(False)
    )
    return sax_score_topk(sax_probes_df(spark, probe_rows), sx)


def probe_store_stream(
    spark: SparkSession,
    probe_windows_stream: DataFrame,
    path: str,
    sink,
    max_probe_rows: int = MAX_STREAM_PROBE_ROWS,
):
    """Streaming subsequence-pattern probes over the persisted window
    index — "screen this just-observed pattern against the stored
    corpus": each micro-batch of arriving probe windows
    ((probe_user, w) cents arrays) gets its stats + SAX word attached
    by the SAME JVM expressions as the batch build, and the store is
    read with that batch's OWN static ``word IN (...)`` partition
    filter (``foreachBatch`` — per-batch pruning that a declarative
    stream-static join cannot express, the ``probe_index_stream``
    pattern). Probes are independent rows, so the union of per-batch
    results equals the one-batch image (stream≡batch pytest-pinned
    against ``probe_store``).

    ``sink(result_df, batch_id)`` receives each batch's (probe_user,
    match_user, match_seq, dist2, rank) frame. Returns the
    ``DataStreamWriter`` ready to ``.start()``.

    The per-batch probe collect is bounded by ``max_probe_rows``
    (default ``MAX_STREAM_PROBE_ROWS``) and RAISES past it — a flooded
    probe topic fails loud instead of becoming driver memory."""

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # validity gate for ARRIVING windows (the batch path guarantees
        # size == TS_WINDOW by construction in _ts_raw_windows; a
        # malformed producer row would otherwise z-normalize with the
        # wrong divisor and score silently wrong — r9 review finding)
        valid = batch_df.select("probe_user", "w").where(
            F.col("probe_user").isNotNull()
            & F.col("w").isNotNull()
            & (F.size("w") == TS_WINDOW)
            & ~F.exists("w", lambda x: x.isNull())
        )
        probe_rows = _collect_probe_rows(
            attach_window_stats(valid)
            .withColumn("word", sax_word_col())
            .select(
                "probe_user",
                F.col("w").alias("pw"),
                F.col("mu").alias("pmu"),
                F.col("sd").alias("psd"),
                F.col("word").alias("pword"),
            ),
            max_probe_rows,
        )
        return _probe_rows_over_store(spark, probe_rows, path)

    return per_batch(probe_windows_stream, stage, sink)


def store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Window-index health table — ``ivf_store.index_stats``'s mirror
    for the SAX store: one row (n_words, n_windows, min_word,
    max_word, avg_word, imbalance) over the persisted per-word
    partition sizes. The operational pre-probe check: a hot word
    (imbalance ≫ 1 — e.g. a flat-signal corpus collapsing onto few
    SAX words) turns a word-pruned probe into a near-full scan, and
    the fix (more PAA segments / a finer alphabet, then rewrite)
    should be triggered by this number, not discovered from a slow
    probe. One partial-agg pass over the (partition-local) word
    column; word-cardinality-sized intermediate (≤ 256 rows)."""
    per = (
        spark.read.parquet(f"{path}/windows")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n").cast("bigint").alias("n_windows"),
        F.min("n").cast("bigint").alias("min_word"),
        F.max("n").cast("bigint").alias("max_word"),
        F.round(F.avg("n"), 6).alias("avg_word"),
        F.round(
            F.max("n") / (F.sum("n") / F.count("*")), 6
        ).alias("imbalance"),
    )
