"""Multi-stream / keyed-window operators from SURVEY.md §2A that the
earlier modules don't cover as standalone queries:

  * intervalJoin (KeyedStream.java:415,543) — keyed time-bounded join;
  * minBy/maxBy (KeyedStream.java:850,875) — running per-key argmin/max;
  * coGroup (CoGroupedStreams.java:287) — two-input grouped apply,
    outer-capable, realized with Spark's native cogroup+applyInPandas;
  * countWindow (KeyedStream.java:643,653) — per-key fixed-count
    windows (no native Spark equivalent → rank arithmetic in batch,
    counter state in streaming).

All on the ``events`` table: clicks joined/cogrouped with purchases.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from trisk_spark.catalog import table
from trisk_spark.numeric import cents as _cents
from trisk_spark.operators.stateful import key_runs
from trisk_spark.registry import register

# ---------------------------------------------------- interval join --

INTERVAL_JOIN_SQL = """
SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
  CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'click') a
JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
"""


@register("interval_join", oracle=INTERVAL_JOIN_SQL)
def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed time-bounded join: each click matched to the same user's
    purchases within [ts, ts+1h] — the reference's intervalJoin with
    bounds (0, +1 hour).

    Plan: equi-key on user_id (one shuffle per side, co-partitioned
    sort-merge join) with the time bound as a residual range predicate —
    exactly what Spark's streaming interval join does with watermarks;
    at scale the range residual keeps state bounded, and neither side is
    broadcast because both are event-scale."""
    ev = table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("a_ts")
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts")).alias("gap_s"),
        )
    )


# ------------------------------------------------------ minBy/maxBy --

# Deterministic argmin/argmax: lexicographic (value, event_id) order on
# both engines (max_by/arg_max are tie-nondeterministic — SURVEY §5 rule).
# NULL-valued events are excluded from argmin/argmax entirely (standard
# aggregate null semantics; Spark's struct ordering would otherwise
# sort them FIRST while DuckDB sorts them LAST).
MINBY_MAXBY_SQL = """
WITH ranked AS (
  SELECT event_type, event_id, value,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC,  event_id ASC) AS rn_min,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn_max
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
  MIN(CASE WHEN rn_min = 1 THEN event_id END) AS min_event_id,
  CAST(ROUND(MIN(CASE WHEN rn_min = 1 THEN value END), 6) AS DOUBLE) AS min_value,
  MIN(CASE WHEN rn_max = 1 THEN event_id END) AS max_event_id,
  CAST(ROUND(MIN(CASE WHEN rn_max = 1 THEN value END), 6) AS DOUBLE) AS max_value
FROM ranked GROUP BY event_type
"""


@register("minby_maxby", oracle=MINBY_MAXBY_SQL)
def minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key argmin/argmax record selection (KeyedStream.minBy/maxBy,
    used as running aggregates in the reference; here the batch fixpoint).

    Plan: single shuffle on event_type; struct MIN/MAX gives the argmin
    with a deterministic (value, id) tie-break and full map-side partial
    aggregation — no window sort, no second shuffle."""
    ev = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vmin = F.min(F.struct(F.col("value"), F.col("event_id"))).alias("lo")
    vmax = F.max(
        F.struct(F.col("value"), (-F.col("event_id")).alias("neg_id"))
    ).alias("hi")
    return (
        ev.groupBy("event_type")
        .agg(vmin, vmax)
        .select(
            "event_type",
            F.col("lo.event_id").alias("min_event_id"),
            F.round(F.col("lo.value"), 6).alias("min_value"),
            (-F.col("hi.neg_id")).alias("max_event_id"),
            F.round(F.col("hi.value"), 6).alias("max_value"),
        )
    )


# ---------------------------------------------------------- coGroup --

_COGROUP_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_clicks", LongType()),
        StructField("n_purchases", LongType()),
    ]
)


def _cogroup_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Full-outer grouped apply: both sides of one key arrive together
    (empty frame when a side has no rows — the outer-join capability
    CoGroupedStreams documents). Each side is pre-aggregated to at most
    ONE row per key before the cogroup, so the Arrow batch per group is
    ≤ 2 rows regardless of key skew."""
    uid = left["user_id"].iloc[0] if len(left) else right["user_id"].iloc[0]
    n_clicks = int(left["n"].sum()) if len(left) else 0
    n_purch = int(right["n"].sum()) if len(right) else 0
    return pd.DataFrame(
        {"user_id": [uid], "n_clicks": [n_clicks], "n_purchases": [n_purch]}
    )


COGROUP_SQL = """
WITH c AS (SELECT user_id, COUNT(*) AS n_clicks FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL
           GROUP BY user_id),
p AS (SELECT user_id, COUNT(*) AS n_purchases FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
  COALESCE(n_clicks, 0) AS n_clicks,
  COALESCE(n_purchases, 0) AS n_purchases
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


@register("cogroup_apply", oracle=COGROUP_SQL)
def cogroup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-input grouped apply via Spark's native cogroup — the
    reference's coGroup().where().equalTo().apply(), outer-capable.

    Plan: each side is pre-aggregated to one row per key (map-side
    partial combine in the JVM), THEN cogrouped — both sides shuffle
    once on user_id, co-partitioned, and the Arrow batch per group is
    ≤ 2 rows, so a hot key cannot blow a Python worker (the pre-r6
    variant shipped every raw event of the key into pandas). At 100 TB:
    this exact op with a cheap per-key fn should be the DataFrame
    full-outer join (the oracle SQL *is* the fast plan) — cogroup is
    the escape hatch for arbitrary per-key two-input logic, kept here
    to pin the API's semantics; pre-reducing each side before the
    cogroup is the standard bound for reducible per-key logic."""
    # NULL hardening (matches the oracle CTEs): cogroup co-groups NULL
    # keys into ONE Arrow batch, but SQL's FULL OUTER JOIN keeps the two
    # NULL-key sides as separate never-matching rows.
    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        clicks.groupBy("user_id")
        .cogroup(purch.groupBy("user_id"))
        .applyInPandas(_cogroup_fn, _COGROUP_SCHEMA)
    )


# ------------------------------------------------------ countWindow --

COUNT_WINDOW_N = 5

COUNT_WINDOW_SQL = f"""
WITH seq AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS seq
  FROM events WHERE ts IS NOT NULL
),
w AS (SELECT user_id, seq // {COUNT_WINDOW_N} AS win, value FROM seq)
SELECT user_id, CAST(win AS BIGINT) AS win, COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM w GROUP BY user_id, win
HAVING COUNT(*) = {COUNT_WINDOW_N}
"""


@register("count_window", oracle=COUNT_WINDOW_SQL)
def count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key count windows of {COUNT_WINDOW_N} events in (ts, id)
    order, emitting only complete windows — KeyedStream.countWindow's
    trigger-at-N semantics (the streaming form is counter state in
    streaming/state.py's pattern).

    Plan: one shuffle on user_id; the rank is a per-partition sort
    within the window operator (no global sort); the aggregate reuses
    the same partitioning — Spark plans both stages in one exchange."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "value",
            ((F.row_number().over(w) - 1) / COUNT_WINDOW_N).cast("bigint").alias("win"),
        )
        .groupBy("user_id", "win")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .where(F.col("n") == COUNT_WINDOW_N)
    )


# ------------------------------------------- evictor (last-N) window --

EVICT_N = 5  # CountEvictor size: keep the last 5 elements per key

SLIDING_COUNT_WINDOW_SQL = f"""
SELECT user_id, event_id,
  CAST(ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
       / COUNT(*) OVER w / 100, 4) AS DOUBLE) AS avg_last_{EVICT_N}
FROM events WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {EVICT_N - 1} PRECEDING AND CURRENT ROW)
"""


@register("sliding_count_window", oracle=SLIDING_COUNT_WINDOW_SQL)
def sliding_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-evictor window: per key, on every event, aggregate over the
    last EVICT_N elements — countWindow(size, slide=1) with a
    CountEvictor (api/windowing/evictors/CountEvictor; SURVEY §2A
    'Evictors'). Values summed in integer cents so frame order can't
    change the float result; streaming form:
    streaming/state.sliding_count_avg_stream (list-state ring buffer).

    Plan: one shuffle on user_id + an in-partition running frame — no
    self-join, no second exchange."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EVICT_N - 1), 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(cents).over(w).cast("double") / F.count("*").over(w) / 100, 4
        ).alias(f"avg_last_{EVICT_N}"),
    )


# ------------------------------------------- evictor (time) window --

TIME_EVICTOR_SQL = """
SELECT user_id, event_id, COUNT(*) OVER w AS n_last_hour,
  CAST(ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
       / 100, 2) AS DOUBLE) AS sum_last_hour
FROM events WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@register("time_evictor_window", oracle=TIME_EVICTOR_SQL)
def time_evictor_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeEvictor (api/windowing/evictors/TimeEvictor; SURVEY §2A
    'Evictors'): per key, on every event, aggregate over elements whose
    timestamp falls in the trailing hour. Batch image = a RANGE frame
    keyed on event time; ts ties are peer rows in the frame on both
    engines, and integer-cent summation makes the result frame-order
    independent.

    Plan: one shuffle on user_id + an in-partition sort; the running
    range frame is a single pass — no self-join on the time bound."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum(cents).over(w).cast("double") / 100, 2).alias(
            "sum_last_hour"
        ),
    )


# ------------------------------------------------------ delta trigger --

DELTA_THRESHOLD = 30.0  # fire when |value - last_fired_value| > threshold

DELTA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
    ]
)


def delta_cols(pdf: pd.DataFrame) -> tuple[np.ndarray, list[list]]:
    """Events → ``delta_fold``'s columns: event_id and the value in
    integer cents (exact, so the fold and its stream state agree)."""
    return pdf["user_id"].to_numpy(), [pdf["event_id"].tolist(), _cents(pdf["value"]).tolist()]


def delta_fold(last: int | None, cols: list[list]):
    """DeltaTrigger (api/windowing/triggers/DeltaTrigger; SURVEY §2A
    'Triggers') for one user_id's events in (ts, event_id) order: fire
    whenever the value deviates from the last *fired* value by more than
    DELTA_THRESHOLD; a fresh key's first element always fires. ``last``
    is the last fired value in cents, or ``None``; the output column is
    the fired event_ids."""
    thresh = int(round(DELTA_THRESHOLD * 100))
    fired = []
    for eid, cents in zip(*cols):
        if last is None or abs(cents - last) > thresh:
            fired.append(eid)
            last = cents
    return last, (fired,)


DELTA_TRIGGER_SQL = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
),
walk AS (
  SELECT user_id, rn, event_id, cents AS anchor, TRUE AS fired
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.event_id,
    CASE WHEN ABS(s.cents - w.anchor) > {int(round(DELTA_THRESHOLD * 100))}
         THEN s.cents ELSE w.anchor END,
    ABS(s.cents - w.anchor) > {int(round(DELTA_THRESHOLD * 100))}
  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT user_id, event_id FROM walk WHERE fired
"""


@register("delta_trigger", oracle=DELTA_TRIGGER_SQL)
def delta_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-trigger firings per key. The fire decision depends on the
    previous *emitted* row — a sequential fold — so the SQL oracle is a
    recursive CTE walking each key in (ts, event_id) order, carrying
    the last-fired value as the recursion's running anchor (one
    iteration per per-key row index; fine at oracle scale). Also
    verified by the pure-Python replay oracle in tests/test_stateful.py
    and the stream≡batch test in tests/test_streaming_extras.py.

    Plan: one shuffle on user_id (hash repartition), a spillable
    sortWithinPartitions on (user_id, ts, event_id) — no second
    exchange — then ``delta_fold`` through the ``key_runs`` mapInPandas
    driver, which carries the last-fired value across Arrow batches. A
    hot user_id at any skew costs sort spill, not executor OOM.
    Streaming variant, on the same fold:
    trisk_spark.streaming.state.delta_trigger_stream."""
    ev = (
        table(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select("user_id", "ts", "event_id", "value")
    )
    part = ev.repartition("user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )
    return part.mapInPandas(key_runs(delta_fold, delta_cols, DELTA_SCHEMA), DELTA_SCHEMA)


# ------------------------------------------------------ delta evictor --

DELTA_EVICT_THRESHOLD = 30.0  # evict when |value - last_value| >= threshold

DELTA_EVICTOR_SQL = f"""
WITH seq AS (
  SELECT user_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS s,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
),
w AS (
  SELECT user_id, s // {COUNT_WINDOW_N} AS win, s, cents,
    last_value(cents) OVER (PARTITION BY user_id, s // {COUNT_WINDOW_N}
      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS last_cents,
    COUNT(*) OVER (PARTITION BY user_id, s // {COUNT_WINDOW_N}) AS wn
  FROM seq
)
SELECT user_id, CAST(win AS BIGINT) AS win, COUNT(*) AS n_kept,
  CAST(ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS DOUBLE) AS total_kept
FROM w
WHERE wn = {COUNT_WINDOW_N}
  AND ABS(cents - last_cents) < {int(round(DELTA_EVICT_THRESHOLD * 100))}
GROUP BY user_id, win
"""


@register("delta_evictor_window", oracle=DELTA_EVICTOR_SQL)
def delta_evictor_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeltaEvictor (api/windowing/evictors/DeltaEvictor.java; SURVEY
    §2A 'Evictors' — completes the Count/Time/Delta trio): before a
    count window of {COUNT_WINDOW_N} fires, evict every element whose
    delta from the window's LAST element reaches the threshold, then
    aggregate the survivors. Deltas are exact integer cents.

    Plan: one shuffle on user_id; the window id, the per-window last
    value, and the final aggregate all reuse that partitioning
    (user_id ⊂ every later grouping key) — no second exchange."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        (F.row_number().over(wseq) - 1).alias("s"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("win", (F.col("s") / COUNT_WINDOW_N).cast("bigint"))
    wfull = (
        Window.partitionBy("user_id", "win")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wcnt = Window.partitionBy("user_id", "win")
    thresh_cents = int(round(DELTA_EVICT_THRESHOLD * 100))
    return (
        seq.withColumn("last_cents", F.last("cents").over(wfull))
        .withColumn("wn", F.count("*").over(wcnt))
        .where(
            (F.col("wn") == COUNT_WINDOW_N)
            & (F.abs(F.col("cents") - F.col("last_cents")) < thresh_cents)
        )
        .groupBy("user_id", "win")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("total_kept"),
        )
    )


# ------------------------------------- continuous event-time trigger --

CONT_FIRE_MS = 900_000  # ContinuousEventTimeTrigger interval: 15 min
WIN_MS = 3_600_000  # tumbling window: 1 h

CONTINUOUS_TRIGGER_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms,
    epoch_ms(ts) // {WIN_MS} * {WIN_MS} AS w0,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
firsts AS (
  SELECT user_id, w0, MIN(ms) AS first_ms FROM e GROUP BY user_id, w0
),
fires AS (
  SELECT user_id, w0,
    unnest(range((first_ms // {CONT_FIRE_MS} + 1) * {CONT_FIRE_MS},
                 w0 + {WIN_MS} + 1, {CONT_FIRE_MS})) AS fire_ms
  FROM firsts
)
SELECT f.user_id, f.w0 AS window_start_ms, f.fire_ms,
  COUNT(*) AS n,
  CAST(ROUND(CAST(SUM(e.cents) AS DOUBLE) / 100, 2) AS DOUBLE) AS total
FROM fires f JOIN e ON f.user_id = e.user_id AND f.w0 = e.w0
WHERE e.ms < f.fire_ms
GROUP BY f.user_id, f.w0, f.fire_ms
"""


@register("continuous_trigger", oracle=CONTINUOUS_TRIGGER_SQL)
def continuous_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ContinuousEventTimeTrigger (api/windowing/triggers/
    ContinuousEventTimeTrigger.java; SURVEY §2A 'Triggers'): a tumbling
    1 h window fires EARLY every 15 min of event time — each fire emits
    the running aggregate of elements seen before the fire timestamp;
    the fire at window end is the ON_TIME result. Batch image: fire
    times are the interval boundaries from the first element to window
    end, exactly the timers the Flink trigger registers.

    Plan: one shuffle on user_id+window for the firsts aggregate, fires
    exploded from a 4-element sequence, then a co-partitioned join back
    to the window's elements (both sides clustered on (user_id, w0)) and
    a final aggregate on the same keys — the join adds no exchange
    beyond the two aggregate shuffles."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        (F.unix_millis("ts") / WIN_MS).cast("bigint").alias("wi"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn("w0", F.col("wi") * WIN_MS).drop("wi")
    firsts = e.groupBy("user_id", "w0").agg(F.min("ms").alias("first_ms"))
    fires = firsts.select(
        "user_id",
        "w0",
        F.explode(
            F.sequence(
                ((F.col("first_ms") / CONT_FIRE_MS).cast("bigint") + 1)
                * CONT_FIRE_MS,
                F.col("w0") + WIN_MS,
                F.lit(CONT_FIRE_MS),
            )
        ).alias("fire_ms"),
    )
    return (
        fires.join(e, ["user_id", "w0"])
        .where(F.col("ms") < F.col("fire_ms"))
        .groupBy("user_id", F.col("w0").alias("window_start_ms"), "fire_ms")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("total"),
        )
    )


# -------------------------------------------------- purging trigger --

PURGING_TRIGGER_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ms,
    epoch_ms(ts) // {WIN_MS} * {WIN_MS} AS w0,
    (epoch_ms(ts) // {CONT_FIRE_MS} + 1) * {CONT_FIRE_MS} AS fire_ms,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT user_id, w0 AS window_start_ms, fire_ms,
  COUNT(*) AS n,
  CAST(ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS DOUBLE) AS total
FROM e GROUP BY user_id, w0, fire_ms
"""


@register("purging_trigger", oracle=PURGING_TRIGGER_SQL)
def purging_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PurgingTrigger.of(ContinuousEventTimeTrigger) (api/windowing/
    triggers/PurgingTrigger.java): every 15-min fire PURGES the window
    state, so each fire emits only the elements that arrived since the
    previous fire (panes, not running totals). Batch image: each
    element belongs to exactly one pane — the first fire boundary after
    its timestamp — so the whole operator is ONE grouped aggregate.

    Plan: single shuffle on (user_id, window, pane); purge semantics
    turn the trigger into a plain partitionable groupBy — strictly
    cheaper than the non-purging variant at any scale."""
    ev = table(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    return (
        ev.select(
            "user_id",
            ((ms / WIN_MS).cast("bigint") * WIN_MS).alias("window_start_ms"),
            (((ms / CONT_FIRE_MS).cast("bigint") + 1) * CONT_FIRE_MS).alias(
                "fire_ms"
            ),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("user_id", "window_start_ms", "fire_ms")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("cents").cast("double") / 100, 2).alias("total"),
        )
    )


# --------------------------------------------------------- as-of join --

ASOF_JOIN_SQL = """
WITH q AS (
  SELECT user_id, ts, event_id AS quote_id, value AS quote_value
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase'
          AND ts IS NOT NULL AND user_id IS NOT NULL)
  WHERE rn = 1
),
p AS (
  SELECT event_id AS click_id, user_id, ts FROM events
  WHERE event_type = 'click'
    AND ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT p.click_id, p.user_id, q.quote_id, q.quote_value
FROM p ASOF LEFT JOIN q
  ON p.user_id = q.user_id AND p.ts >= q.ts
"""


@register("asof_join", oracle=ASOF_JOIN_SQL)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click picks up the user's most recent purchase
    at-or-before its timestamp (left semantics — clicks with no prior
    purchase keep NULLs). The classic time-series point-in-time join;
    the oracle is DuckDB's native ASOF LEFT JOIN.

    Spark has no asof operator, and the naive range join explodes to
    one row per (probe, every-earlier-quote) before picking the max.
    Spark-first image: tag quotes and probes, union them, exactly ONE
    shuffle on user_id with a partition-local sort on (ts, side,
    quote_id), and a running last(quote, ignorenulls) window — linear
    in rows, state is one quote per key, the same shape the 100 TB
    path wants (and the same trick the streaming side gets for free
    from ordered state). Ties: side=0 sorts quotes before probes at
    equal ts ("at or before"), and quote_id asc within equal ts makes
    `last` pick the largest event_id — the same row ASOF's per-(user,
    ts) dedup keeps, with no pre-dedup aggregate (which would cost a
    second exchange on (user_id, ts)).
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").where(
        # NULL hardening (matches the oracle CTEs): a NULL ts would sort
        # FIRST in the running-last window and become a matchable
        # "earliest" quote, and Spark's window partitionBy groups NULL
        # user_ids together — both diverge from SQL's NULL-never-matches.
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    quotes = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("quote_id"),
        F.col("value").alias("quote_value"),
        F.lit(None).cast("long").alias("click_id"),
    )
    probes = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("quote_id"),
        F.lit(None).cast("double").alias("quote_value"),
        F.col("event_id").alias("click_id"),
    )
    u = quotes.unionByName(probes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "quote_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE last() over a struct set only on quote rows: two independent
    # last(col, ignorenulls) calls could pick quote_id and quote_value
    # from DIFFERENT rows when a quote's value is NULL (chimera row).
    q = F.when(F.col("side") == 0, F.struct("quote_id", "quote_value"))
    return (
        u.withColumn("m", F.last(q, ignorenulls=True).over(w))
        .where(F.col("side") == 1)
        .select(
            "click_id",
            "user_id",
            F.col("m.quote_id").alias("quote_id"),
            F.col("m.quote_value").alias("quote_value"),
        )
    )
