"""Custom keyed-state streaming operators — the engine's mapping of the
reference's state primitives (SURVEY.md §2A "Stateful processing"):

  ValueState/ReducingState → per-key state tuple field
  MapState (order books)   → array<struct> state fields (the book)
  buffered ListState       → array<struct> state field

Implementation: ``applyInPandasWithState`` (GroupState) — the Spark
3.4+ Arrow-batched keyed-state API, reached only through
``keyed_state``, which also folds in keyed state migrated by a rescale
(controlplane/managed.py). Spark 4's successor,
``transformWithStateInPandas`` (StatefulProcessor), needs
``google.protobuf`` for its Python protocol, which this environment
lacks, so no operator here uses it.

All processors are deterministic given per-key seq order; bounded-replay
equivalence against the batch operators is tested in
tests/test_streaming.py. The matchmaker, emit-once join and delta
trigger run the very folds their batch queries run (operators/
stateful.py, operators/multistream.py): here each micro-batch of a key
is sorted and folded from its GroupState value (``_fold``).
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from trisk_spark.numeric import cents as _cents
from trisk_spark.operators.multistream import (
    COUNT_WINDOW_N,
    DELTA_EVICT_THRESHOLD,
    DELTA_SCHEMA,
    EVICT_N,
    delta_cols,
    delta_fold,
)
from trisk_spark.operators.stateful import (
    EMIT_ONCE_SCHEMA,
    TRADE_SCHEMA,
    emit_cols,
    emit_once_fold,
    frame,
    match_fold,
    order_cols,
)

#: Session conf naming a parquet directory of ``seed_rows``: migrated
#: keyed state. ManagedQuery sets it on the sibling session it builds an
#: incarnation on; a caller's session never carries it.
SEED_CONF = "trisk.keyedState.seed"
_SEED_COL = "__trisk_seed"


def seed_rows(store: DataFrame) -> DataFrame:
    """A state-store read of keyed state (``queryable.read_keyed_state``)
    as the rows ``keyed_state`` folds in: the key columns plus the state
    value as a one-element array. Arrow converts a struct column's
    fields over a whole chunk, so the input rows' nulls would turn the
    seed's integral fields into floats; an array's elements convert on
    their own."""
    return store.select("key.*", F.array(F.col("value.groupState")).alias(_SEED_COL))


def keyed_state(
    df: DataFrame,
    keys: str | list[str],
    fn,
    out: StructType | str,
    state: StructType | str,
    mode: str,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandasWithState(fn, ...)``: the one way
    the library keeps keyed state.

    When the session carries a migrated snapshot (``SEED_CONF``), its
    rows stream in unioned with the input in front of the operator;
    each key's seed is folded into its state exactly once, in the first
    batch of the new incarnation, before any of that key's input. A key
    with only a seed row is folded and not passed to ``fn``."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    spark = df.sparkSession
    seed = spark.conf.get(SEED_CONF, None)
    if seed:
        state_type = state if isinstance(state, StructType) else StructType.fromDDL(state)
        seed_schema = StructType(
            [df.schema[k] for k in keys] + [StructField(_SEED_COL, ArrayType(state_type))]
        )
        # Arrow hands pandas an integral or boolean column that holds a
        # null as float64/object (exact only below 2**53): seed rows carry
        # zeros there, so the input chunks they share keep their dtypes
        zeros = [
            F.lit(0).cast(f.dataType).alias(f.name)  # false for a boolean
            for f in df.schema
            if f.name not in keys and isinstance(f.dataType, (IntegralType, BooleanType))
        ]
        seeds = spark.readStream.schema(seed_schema).parquet(seed).select("*", *zeros)
        df = df.unionByName(seeds, allowMissingColumns=True)
        fn = _seeded(fn, state_type)
    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=timeout,
    )


def _seeded(fn, state_type: StructType):
    """``fn`` behind the seed fold: a key's seed row becomes its state,
    then ``fn`` sees the key's input chunks as it would without seeds."""

    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        chunks = []
        for pdf in pdfs:
            seed = pdf[_SEED_COL].notna()
            if seed.any():
                value = pdf[_SEED_COL][seed].iloc[0][0]
                state.update(tuple(_state_value(value[f.name], f.dataType) for f in state_type))
                pdf = pdf[~seed].reset_index(drop=True)
            if len(pdf):
                chunks.append(pdf.drop(columns=_SEED_COL))
        if chunks:
            yield from fn(key, iter(chunks), state)

    return run


def _fold(fold, cols, by, pdfs: Iterator[pd.DataFrame], state):
    """One key's micro-batch through its operator fold (operators/
    stateful.py): the chunks concatenated and sorted by ``by``, then
    folded from ``state``. Returns the fold's (state, output columns)."""
    _, data = cols(pd.concat(list(pdfs)).sort_values(by))
    return fold(state, data)


def _emitted(schema: StructType, key, out: list[list]) -> Iterator[pd.DataFrame]:
    """A fold's output columns as ``key``'s rows: one frame, or none."""
    if out[0]:
        yield frame(schema, [[key[0]] * len(out[0]), *out])


def _state_value(v, t: DataType):
    """A seed value as Arrow hands it to pandas (structs as dicts, arrays
    as ndarrays, numpy scalars, nulls as None) → the value a GroupState
    read of the same state holds (Rows, lists, Python scalars). Integral
    fields of array elements come as floats where a sibling element
    holds a null there; they are ints again."""
    if v is None:
        return None
    if isinstance(t, StructType):
        return Row(**{f.name: _state_value(v[f.name], f.dataType) for f in t})
    if isinstance(t, ArrayType):
        return [_state_value(x, t.elementType) for x in v]
    if isinstance(t, IntegralType):
        return int(v)
    return v.item() if isinstance(v, np.generic) else v


_BOOK_ENTRY = StructType(
    [
        StructField("price", LongType()),
        StructField("seq", LongType()),
        StructField("vol", LongType()),
        StructField("order_no", LongType()),
    ]
)

#: Matchmaker state: both books as arrays of (price, seq, vol, order_no).
MATCH_STATE = StructType(
    [
        StructField("buys", ArrayType(_BOOK_ENTRY)),
        StructField("sells", ArrayType(_BOOK_ENTRY)),
    ]
)


def _matchmaker_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """``operators/stateful.match_fold`` on keyed state: the open books
    are MATCH_STATE rows of (price, seq, vol, order_no) between
    micro-batches and heaps inside the fold (the buy heap keys on
    -price)."""
    buys, sells = state.get if state.exists else ([], [])
    books = ([[-p, s, v, n] for p, s, v, n in buys or []], [list(e) for e in sells or []])
    for book in books:
        heapq.heapify(book)
    (buys, sells), trades = _fold(match_fold, order_cols, "seq", pdfs, books)
    state.update(([(-p, s, v, n) for p, s, v, n in buys], [tuple(e) for e in sells]))
    yield from _emitted(TRADE_SCHEMA, key, trades)


def _matchmaker_ttl_fn(ttl_ms: int):
    """Wrap the matchmaker with state TTL (StateTtlConfig.java
    equivalent): any key idle for ttl_ms has its books EVICTED — the
    timeout callback removes state instead of emitting. Each data batch
    re-arms the clock (OnCreateAndWrite update semantics)."""

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # TTL expiry: drop the books
            return
            yield  # generator marker
        yield from _matchmaker_fn(key, pdfs, state)
        state.setTimeoutDuration(ttl_ms)

    return fn


def matchmaker_stream(orders: DataFrame, state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming order-book matchmaker over a stock-order stream
    (schema from sources/stock.py): persistent per-sec_code books,
    price-time priority, partial fills; emits trades append-only.

    ``state_ttl_ms`` enables state TTL (reference
    flink-core/.../state/StateTtlConfig.java; SURVEY §2A 'state TTL'):
    books for keys idle longer than the TTL are evicted — without it,
    inactive securities would pin their open books forever."""
    if state_ttl_ms is None:
        return keyed_state(orders, "sec_code", _matchmaker_fn, TRADE_SCHEMA, MATCH_STATE, "append")
    return keyed_state(
        orders,
        "sec_code",
        _matchmaker_ttl_fn(state_ttl_ms),
        TRADE_SCHEMA,
        MATCH_STATE,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


# ------------------------------------------------ running word count --

_WC_OUT = StructType(
    [StructField("word", StringType()), StructField("cnt", LongType())]
)
_WC_STATE = StructType([StructField("cnt", LongType())])


def _running_count_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = sum(len(p) for p in pdfs)
    total = (state.get[0] if state.exists else 0) + n
    state.update((total,))
    yield pd.DataFrame({"word": [key[0]], "cnt": [total]})


def running_wordcount_stream(words: DataFrame) -> DataFrame:
    """ReducingState word count (StatefulWordCount.java:102-135): one
    counter per word, emit the running total on every update."""
    return keyed_state(words, "word", _running_count_fn, _WC_OUT, _WC_STATE, "update")


# ------------------------------------------------- emit-once join ----

_BUF_ENTRY = StructType(
    [StructField("auction_id", LongType()), StructField("seq", LongType())]
)
_EMIT_STATE = StructType(
    [
        StructField("seen", LongType()),
        StructField("buf", ArrayType(_BUF_ENTRY)),
    ]
)


def _emit_once_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """``operators/stateful.emit_once_fold`` on keyed state: (person
    seen as 0/1, buffered (auction_id, seq) pairs)."""
    seen, buf = state.get if state.exists else (0, [])
    fresh = (bool(seen), [tuple(b) for b in buf or []])
    (seen, buf), out = _fold(emit_once_fold, emit_cols, "seq", pdfs, fresh)
    state.update((int(seen), buf))
    yield from _emitted(EMIT_ONCE_SCHEMA, key, out)


def emit_once_join_stream(tagged: DataFrame) -> DataFrame:
    """`tagged`: streaming DF (key, side, auction_id, seq) — the
    union-tagged two-input stream (ConnectedStreams/CoFlatMap
    equivalent, SURVEY §2A 'connect')."""
    return keyed_state(tagged, "key", _emit_once_fn, EMIT_ONCE_SCHEMA, _EMIT_STATE, "append")


def stateful_session_confs(spark) -> None:
    """RocksDB state store, for large keyed state kept with
    ``applyInPandasWithState``."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


# ---------------------------------------------- count windows --------

_CW_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("win", LongType()),
        StructField("n", LongType()),
        StructField("total_cents", LongType()),
    ]
)
# (next window index, events so far in it, value sum so far in cents)
_CW_STATE = StructType(
    [
        StructField("win", LongType()),
        StructField("n", LongType()),
        StructField("sum_cents", LongType()),
    ]
)


def _count_window_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Count-window with a fire-at-N trigger (KeyedStream.countWindow
    + Query11's MaxLogEventsTrigger, Query11.java:93-144): buffer per
    key, emit one aggregate row the moment the window has N events;
    the partial window stays in state (never emitted — PURGE on fire).
    Values are summed in integer cents so replay order can't change
    the float result."""
    win, n, s = state.get if state.exists else (0, 0, 0)
    out: list[tuple[int, int, int, int]] = []
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for cents in _cents(batch["value"]):
        n += 1
        s += int(cents)
        if n == COUNT_WINDOW_N:
            out.append((key[0], win, n, s))
            win, n, s = win + 1, 0, 0
    state.update((win, n, s))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "win", "n", "total_cents"])


def count_window_stream(events: DataFrame) -> DataFrame:
    """Per-key count windows over an events stream; fires exactly when
    the N-th event arrives (count trigger), append output. Batch
    equivalent: operators/multistream.count_window."""
    return keyed_state(
        events,
        "user_id",
        _count_window_fn,
        _CW_OUT,
        _CW_STATE,
        "append",
    )


# ------------------------------------- evictor (last-N) sliding avg --

_SLIDE_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("avg_last_5", DoubleType()),
    ]
)
_SLIDE_STATE = StructType([StructField("ring", ArrayType(LongType()))])


def _sliding_count_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """CountEvictor ring buffer: keep the last EVICT_N-1 values in list
    state; each arriving event emits the aggregate over itself plus the
    retained window, then evicts the oldest (SURVEY §2A 'Evictors' —
    emulated in a state op, the documented divergence closed)."""
    ring = list(state.get[0] or []) if state.exists else []
    out: list[tuple[int, int, float]] = []
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for eid, cents in zip(
        batch["event_id"], _cents(batch["value"])
    ):
        ring.append(int(cents))
        if len(ring) > EVICT_N:
            ring.pop(0)  # the evictor
        out.append((key[0], int(eid), round(sum(ring) / len(ring) / 100, 4)))
    state.update((ring[-(EVICT_N - 1):] if EVICT_N > 1 else [],))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "avg_last_5"])


def sliding_count_avg_stream(events: DataFrame) -> DataFrame:
    """Streaming count-evictor window; batch equivalent:
    operators/multistream.sliding_count_window."""
    return keyed_state(
        events,
        "user_id",
        _sliding_count_fn,
        _SLIDE_OUT,
        _SLIDE_STATE,
        "append",
    )


# ------------------------------------------------------ delta trigger --

# last fired value in integer hundredths so state round-trips exactly
_DELTA_STATE = StructType([StructField("last_cents", LongType())])


def _delta_trigger_stream_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """``operators/multistream.delta_fold`` on keyed value state: the
    last fired value in cents."""
    last = state.get[0] if state.exists else None
    last, out = _fold(delta_fold, delta_cols, ["ts", "event_id"], pdfs, last)
    if last is not None:
        state.update((last,))
    yield from _emitted(DELTA_SCHEMA, key, out)


def delta_trigger_stream(events: DataFrame) -> DataFrame:
    """Streaming delta trigger; batch equivalent:
    operators/multistream.delta_trigger."""
    return keyed_state(
        events,
        "user_id",
        _delta_trigger_stream_fn,
        DELTA_SCHEMA,
        _DELTA_STATE,
        "append",
    )


# ------------------------------------- timers: inactivity sessions --

_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("closed_by_timeout", StringType()),
    ]
)
_SESS_STATE = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)

IDLE_TIMEOUT_MS = 1  # fire on the first batch after the key goes idle


def _inactivity_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """KeyedProcessFunction with a processing-time timer
    (KeyedProcessFunction.java:52 Context.timerService(); SURVEY §2A
    'Timers'): each record (re)arms a per-key timer; when the timer
    fires with no new records, the buffered session is emitted and
    state cleared. GroupState's timeout callback IS the timer — the
    fn is invoked with hasTimedOut and an empty batch."""
    if state.hasTimedOut:
        n, cents = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
                "closed_by_timeout": ["timeout"],
            }
        )
        return
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(_cents(pdf["value"]).sum())
    state.update((n, cents))
    state.setTimeoutDuration(IDLE_TIMEOUT_MS)  # re-arm the timer
    return
    yield  # generator marker: the data path emits nothing


def inactivity_sessions_stream(events: DataFrame) -> DataFrame:
    """Per-key inactivity sessions closed by processing-time timers."""
    return keyed_state(
        events,
        "user_id",
        _inactivity_fn,
        _SESS_OUT,
        _SESS_STATE,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


# --------------------------------- event-time timers: sessions ------

SESSION_GAP_MS = 30 * 60 * 1000  # 30-minute session gap

_ET_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("session_end_ms", LongType()),
    ]
)
# (n, cents, last event-time ms) of the one open session per key
_ET_SESS_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("last_ms", LongType()),
    ]
)


def _event_session_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key EVENT-TIME timer (KeyedProcessFunction.java:52
    ``Context.timerService().registerEventTimeTimer``; SURVEY §2A
    'Timers'): each record extends the open session and (re)arms a
    timer at last_event_ts + gap; when the WATERMARK passes the timer
    (GroupStateTimeout.EventTimeTimeout — no wall clock involved), the
    session closes and is emitted. An event arriving after an in-data
    gap (before the watermark caught up) closes the previous session
    inline — exactly Flink's timer-based session windows. Fully
    deterministic under replay: everything is driven by event time."""
    gap = SESSION_GAP_MS
    if state.hasTimedOut:
        n, cents, last = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
                "session_end_ms": [last + gap],
            }
        )
        return
    n, cents, last = state.get if state.exists else (0, 0, None)
    out: list[tuple[int, int, int, int]] = []
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ms = (batch["ts"].astype("int64") // 1_000_000).tolist()
    csum = _cents(batch["value"]).tolist()
    for t, c in zip(ms, csum):
        if last is not None and t - last > gap:
            out.append((key[0], n, cents, last + gap))  # in-data gap close
            n, cents = 0, 0
        n += 1
        cents += int(c)
        last = t
    state.update((n, cents, last))
    # Arm the event-time timer at session end; Spark requires it to be
    # beyond the current watermark — push to wm+1 when the watermark
    # already passed (the close then fires on the next microbatch).
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(last + gap, wm + 1))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "n_events", "total_cents", "session_end_ms"]
        )


def event_time_sessions_stream(
    events: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Event-time session windows closed by per-key event-time timers —
    the watermark, not the wall clock, drives the callbacks. Input needs
    ``ts`` (timestamp), ``event_id``, ``user_id``, ``value``."""
    return keyed_state(
        events.withWatermark("ts", watermark_delay),
        "user_id",
        _event_session_fn,
        _ET_SESS_OUT,
        _ET_SESS_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ----------------------------------- delta evictor (count window) ---

_DE_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("win", LongType()),
        StructField("n_kept", LongType()),
        StructField("total_kept", DoubleType()),
    ]
)
# (next window index, buffered cents of the partial window)
_DE_STATE = StructType(
    [
        StructField("win", LongType()),
        StructField("buf", ArrayType(LongType())),
    ]
)


def _delta_evictor_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """DeltaEvictor on count windows (evictors/DeltaEvictor.java):
    buffer N elements per key; at fire, evict every element whose
    integer-cent delta from the window's LAST element reaches the
    threshold, emit the survivors' aggregate, purge. Batch twin:
    operators/multistream.delta_evictor_window (same fold)."""
    thresh = int(round(DELTA_EVICT_THRESHOLD * 100))
    win, buf = (state.get[0], list(state.get[1] or [])) if state.exists else (0, [])
    out: list[tuple[int, int, int, float]] = []
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for cents in _cents(batch["value"]):
        buf.append(int(cents))
        if len(buf) == COUNT_WINDOW_N:
            last = buf[-1]
            kept = [c for c in buf if abs(c - last) < thresh]
            out.append(
                (key[0], win, len(kept), round(sum(kept) / 100, 2))
            )
            win, buf = win + 1, []
    state.update((win, buf))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "win", "n_kept", "total_kept"])


def delta_evictor_stream(events: DataFrame) -> DataFrame:
    """Streaming DeltaEvictor count window; batch equivalent:
    operators/multistream.delta_evictor_window."""
    return keyed_state(
        events,
        "user_id",
        _delta_evictor_fn,
        _DE_OUT,
        _DE_STATE,
        "append",
    )


# --------------------------- continuous event-time trigger (stream) --

_CT_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("window_start_ms", LongType()),
        StructField("fire_ms", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)
_CT_WIN = StructType(
    [
        StructField("w0", LongType()),
        StructField("last_fired", LongType()),  # 0 = nothing fired yet
        StructField("first_ms", LongType()),
    ]
)
_CT_PANE = StructType(
    [
        StructField("w0", LongType()),
        StructField("fire", LongType()),  # pane's fire boundary (pane end)
        StructField("n", LongType()),
        StructField("cents", LongType()),
    ]
)
_CT_STATE = StructType(
    [
        StructField("wins", ArrayType(_CT_WIN)),
        StructField("panes", ArrayType(_CT_PANE)),
    ]
)


def _ct_fire_due(wins, panes, wm):
    """Fire every pending boundary ≤ wm across all open windows; returns
    (rows, surviving wins, surviving panes). Pure — shared by the data
    and timeout paths."""
    from trisk_spark.operators.multistream import CONT_FIRE_MS, WIN_MS

    rows = []
    new_wins = []
    done_w0 = set()
    for w0, last_fired, first_ms in wins:
        b = (
            last_fired + CONT_FIRE_MS
            if last_fired
            else (first_ms // CONT_FIRE_MS + 1) * CONT_FIRE_MS
        )
        while b <= min(wm, w0 + WIN_MS):
            n = sum(p[2] for p in panes if p[0] == w0 and p[1] <= b)
            cents = sum(p[3] for p in panes if p[0] == w0 and p[1] <= b)
            rows.append((w0, b, n, cents))
            last_fired = b
            b += CONT_FIRE_MS
        if last_fired >= w0 + WIN_MS:
            done_w0.add(w0)  # window complete: final fire emitted
        else:
            new_wins.append((w0, last_fired, first_ms))
    new_panes = [p for p in panes if p[0] not in done_w0]
    return rows, new_wins, new_panes


def _continuous_trigger_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """ContinuousEventTimeTrigger as an event-time-timer state op
    (triggers/ContinuousEventTimeTrigger.java:52 registers a timer every
    interval; the WATERMARK fires it): per-pane partial aggregates
    accumulate in state; each watermark advance fires all due
    boundaries with the cumulative aggregate of panes before them —
    identical semantics to the batch image
    (operators/multistream.continuous_trigger), proven by the
    stream≡batch test."""
    from trisk_spark.operators.multistream import CONT_FIRE_MS, WIN_MS

    if state.exists:
        wins = [tuple(w) for w in (state.get[0] or [])]
        panes = [tuple(p) for p in (state.get[1] or [])]
    else:
        wins, panes = [], []

    if not state.hasTimedOut:
        batch = pd.concat(list(pdfs))
        ms_list = (batch["ts"].astype("int64") // 1_000_000).tolist()
        cents_list = _cents(batch["value"]).tolist()
        pane_map = {(p[0], p[1]): [p[2], p[3]] for p in panes}
        win_map = {w[0]: [w[1], w[2]] for w in wins}
        for t, c in zip(ms_list, cents_list):
            w0 = t // WIN_MS * WIN_MS
            fire = (t // CONT_FIRE_MS + 1) * CONT_FIRE_MS
            agg = pane_map.setdefault((w0, fire), [0, 0])
            agg[0] += 1
            agg[1] += int(c)
            if w0 not in win_map:
                win_map[w0] = [0, t]
            elif t < win_map[w0][1]:
                win_map[w0][1] = t
        wins = [(w0, lf, fm) for w0, (lf, fm) in win_map.items()]
        panes = [(w0, f, n, c) for (w0, f), (n, c) in pane_map.items()]

    wm = state.getCurrentWatermarkMs()
    rows, wins, panes = _ct_fire_due(wins, panes, wm)
    if wins:
        state.update((wins, panes))
        # next pending boundary; Spark needs a timestamp beyond the wm
        nxt = min(
            (
                (lf + CONT_FIRE_MS)
                if lf
                else (fm // CONT_FIRE_MS + 1) * CONT_FIRE_MS
            )
            for _w0, lf, fm in wins
        )
        state.setTimeoutTimestamp(max(nxt, wm + 1))
    else:
        state.remove()
    if rows:
        yield pd.DataFrame(
            [(key[0], w0, b, n, round(c / 100, 2)) for w0, b, n, c in rows],
            columns=["user_id", "window_start_ms", "fire_ms", "n", "total"],
        )


def continuous_trigger_stream(
    events: DataFrame, watermark_delay: str = "1 minute"
) -> DataFrame:
    """Streaming ContinuousEventTimeTrigger; batch equivalent:
    operators/multistream.continuous_trigger. Input needs ``ts``,
    ``user_id``, ``value``."""
    return keyed_state(
        events.withWatermark("ts", watermark_delay),
        "user_id",
        _continuous_trigger_fn,
        _CT_OUT,
        _CT_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# --------------------------- streaming near-dup (simhash bands) -----

_ND_OUT = StructType(
    [
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
        StructField("hamming", LongType()),
    ]
)
_ND_MEMBER = StructType(
    [StructField("doc_id", LongType()), StructField("fp", LongType())]
)
_ND_STATE = StructType([StructField("ms", ArrayType(_ND_MEMBER))])


def _near_dup_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-LSH-bucket membership state: each arriving (doc_id, fp) is
    Hamming-checked against the bucket's resident members, emits its
    near-dup pairs, and joins the bucket — bounded at BUCKET_CAP exactly
    like the batch op (a doc arriving at a full bucket neither pairs nor
    joins: only capped members participate, matching the batch
    truncation rule)."""
    from trisk_spark.functions.dedup import BUCKET_CAP, HAMMING_MAX

    ms = [tuple(m) for m in (state.get[0] or [])] if state.exists else []
    out: list[tuple[int, int, int]] = []
    batch = pd.concat(list(pdfs)).sort_values("doc_id")
    for doc_id, fp in zip(batch["doc_id"], batch["fp"]):
        if len(ms) >= BUCKET_CAP:
            break  # bucket truncated: later docs are outside the deal
        doc_id, fp = int(doc_id), int(fp)
        for m_id, m_fp in ms:
            h = bin(m_fp ^ fp).count("1")
            if m_id < doc_id and h <= HAMMING_MAX:
                out.append((m_id, doc_id, h))
        ms.append((doc_id, fp))
    state.update((ms,))
    if out:
        yield pd.DataFrame(out, columns=["doc_a", "doc_b", "hamming"])


def simhash_near_dup_stream(docs: DataFrame) -> DataFrame:
    """STREAMING near-duplicate detection — the streaming member of the
    simhash family (batch: functions/dedup.dedup_simhash, same bands,
    same Hamming bound, same bucket cap): fingerprints are computed
    ROW-LOCALLY (with_simhash_fp — zero shuffle before keying), docs
    fan out to their 4 band buckets, each bucket holds its member
    fingerprints in keyed state, and new arrivals emit their near-dup
    pairs immediately. A pair agreeing on several bands is emitted once
    PER agreeing band with an identical payload (at-least-once; chaining
    the engine's dropDuplicates behind applyInPandasWithState trips a
    ColumnarBatchRow/UnsafeRow cast in Spark 4.1 — dedup downstream or
    in the sink). Under doc_id-ordered replay the emitted pair SET
    equals the batch operator exactly."""
    from trisk_spark.functions.dedup import (
        BAND_BITS,
        SIMHASH_BANDS,
        with_simhash_fp,
    )
    from pyspark.sql import functions as F

    fps = with_simhash_fp(docs).select("doc_id", "fp")
    bands = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("fp"), BAND_BITS * b)
                        .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
                        .alias("bv"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.band_idx", "band.bv")
    return keyed_state(
        bands,
        ["band_idx", "bv"],
        _near_dup_fn,
        _ND_OUT,
        _ND_STATE,
        "append",
    )


# --------------------------------------- state TTL (event-time) -----

_TTL_WC_OUT = StructType(
    [
        StructField("word", StringType()),
        StructField("cnt", LongType()),
    ]
)
_TTL_WC_STATE = StructType(
    [StructField("cnt", LongType()), StructField("last_ms", LongType())]
)


def ttl_wordcount_fn(ttl_ms: int):
    """Running word count whose counter EXPIRES if the key is idle for
    ttl_ms of EVENT time (StateTtlConfig with OnCreateAndWrite update
    semantics, mapped to event time so replays are deterministic): on
    access, state older than the TTL is treated as absent and the count
    restarts from zero."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cnt, last = state.get if state.exists else (0, None)
        batch = pd.concat(list(pdfs)).sort_values("ts")
        ms = (batch["ts"].astype("int64") // 1_000_000).tolist()
        for t in ms:
            if last is not None and t - last > ttl_ms:
                cnt = 0  # TTL expiry: previous state invisible
            cnt += 1
            last = t
        state.update((cnt, last))
        yield pd.DataFrame({"word": [key[0]], "cnt": [cnt]})

    return fn


def ttl_running_wordcount_stream(words: DataFrame, ttl_ms: int) -> DataFrame:
    """ReducingState word count + state TTL: counts restart when a key
    is idle beyond the TTL. Input needs ``word`` and ``ts``."""
    return keyed_state(
        words,
        "word",
        ttl_wordcount_fn(ttl_ms),
        _TTL_WC_OUT,
        _TTL_WC_STATE,
        "update",
    )


# ------------------------------------------------- as-of join stream --

_ASOF_OUT = StructType(
    [
        StructField("click_id", LongType()),
        StructField("user_id", LongType()),
        StructField("quote_id", LongType()),
        StructField("quote_value", DoubleType()),
    ]
)
# last quote per key: (event-time ms, event_id, value)
_ASOF_STATE = StructType(
    [
        StructField("ms", LongType()),
        StructField("quote_id", LongType()),
        StructField("quote_value", DoubleType()),
    ]
)


def _asof_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """As-of join as keyed ValueState: quotes overwrite the last-quote
    state (greater (ts, event_id) wins — the batch twin's tie rule);
    probes emit with whatever quote the state holds. In-order replay
    makes this exactly the batch running-last window
    (operators/multistream.asof_join)."""
    if state.exists:
        q_ms, q_id, q_val = state.get
    else:
        q_ms, q_id, q_val = None, None, None
    batch = pd.concat(list(pdfs)).sort_values(["ms", "side", "event_id"])
    out: dict[str, list] = {
        "click_id": [], "user_id": [], "quote_id": [], "quote_value": []
    }
    for side, eid, ms, val in zip(
        batch["side"], batch["event_id"], batch["ms"], batch["value"]
    ):
        if side == 0:
            if q_ms is None or (int(ms), int(eid)) > (q_ms, q_id):
                # NULL-valued quotes still become the latest quote
                # (matching ASOF semantics) — carry None, don't crash
                q_ms, q_id = int(ms), int(eid)
                q_val = None if pd.isna(val) else float(val)
        else:
            out["click_id"].append(int(eid))
            out["user_id"].append(int(key[0]))
            out["quote_id"].append(q_id)
            out["quote_value"].append(q_val)
    if q_ms is not None:
        state.update((q_ms, q_id, q_val))
    yield pd.DataFrame(out)


def asof_stream(events: DataFrame) -> DataFrame:
    """Streaming as-of join over the tagged click/purchase stream;
    batch equivalent: operators/multistream.asof_join. State is ONE
    quote per key — the bounded-state shape the batch docstring
    promises the streaming side."""
    tagged = events.where(
        F.col("event_type").isin("purchase", "click")
        # NULL hardening (mirrors the batch twin): a NULL ts would make
        # unix_millis NULL and int(ms) raise in the kernel; a NULL
        # user_id group would make int(key[0]) raise. SQL semantics
        # drop both anyway (NULL never matches).
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        F.when(F.col("event_type") == "purchase", F.lit(0))
        .otherwise(F.lit(1))
        .alias("side"),
        "event_id",
        "value",
    )
    return keyed_state(tagged, "user_id", _asof_fn, _ASOF_OUT, _ASOF_STATE, "append")


# --------------------------------- streaming sequence packing -------

_PACK_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_tokens", LongType()),
        StructField("seq_id", LongType()),
        StructField("seq_offset", LongType()),
    ]
)
# running token offset per source shard
_PACK_STATE = StructType([StructField("off", LongType())])


def _pack_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-source running token offset as keyed ValueState: each doc is
    appended at the current offset, gets (offset // capacity,
    offset % capacity), and advances the offset. Under doc_id-ordered
    replay this equals the batch running-sum window exactly
    (functions/sampling.sequence_pack); state is ONE bigint per
    shard."""
    from trisk_spark.functions.sampling import PACK_CAPACITY

    off = int(state.get[0]) if state.exists else 0
    src = key[0]
    # Concat every Arrow chunk of the micro-batch and sort ONCE by
    # doc_id (house pattern — a per-chunk sort would let out-of-order
    # doc_ids split across chunks diverge from the batch running-sum
    # window even though the disorder is intra-batch recoverable).
    # Cross-batch order still requires doc_id-ordered replay (docstring).
    pdf = pd.concat(list(pdfs)).sort_values("doc_id")
    out = {"doc_id": [], "source": [], "n_tokens": [],
           "seq_id": [], "seq_offset": []}
    for doc_id, nt in zip(pdf["doc_id"], pdf["n_tokens"]):
        nt = int(nt)
        out["doc_id"].append(int(doc_id))
        out["source"].append(src)
        out["n_tokens"].append(nt)
        out["seq_id"].append(off // PACK_CAPACITY)
        out["seq_offset"].append(off % PACK_CAPACITY)
        off += nt
    yield pd.DataFrame(out)
    state.update((off,))


def sequence_pack_stream(docs: DataFrame) -> DataFrame:
    """STREAMING sequence packing — the ingest-time image of
    functions/sampling.sequence_pack: as documents arrive, each source
    shard's running token offset lives in keyed state, so packing
    assignments stream out without re-reading the corpus. NULL doc_id
    rows are dropped like the batch twin; token counting is the same
    JVM expression so the kernel only folds integers."""
    from pyspark.sql import functions as F

    toks = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast(
        "bigint"
    )
    d = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", "source", toks.alias("n_tokens")
    )
    return keyed_state(d, "source", _pack_fn, _PACK_OUT, _PACK_STATE, "append")


# ----------------------------- time-series pattern alerts (r8) -------

#: alert when a window's z-normalized squared distance to any probe is
#: at or under this (calibrated on the corpus: top matches land 5-12,
#: uncorrelated windows ≈ 2·W = 32)
TS_ALERT_MAX_DIST2 = 12.0

_TS_RING_ENTRY = StructType(
    [StructField("seq", LongType()), StructField("cents", LongType())]
)
_TS_STATE = StructType([StructField("ring", ArrayType(_TS_RING_ENTRY))])
_TS_OUT = StructType(
    [
        StructField("probe_user", LongType()),
        StructField("match_user", LongType()),
        StructField("match_seq", LongType()),
        StructField("dist2", DoubleType()),
    ]
)


def ts_pattern_alert_fn(probes, max_dist2: float = TS_ALERT_MAX_DIST2):
    """Build the keyed state function for streaming pattern alerts.
    ``probes`` is the driver-held probe model: a list of
    (probe_user, pmu, psd, pw_list) tuples (the ``ts_probes`` rows,
    collected once — the broadcast-model pattern of the LM scorer).

    State is a ring of the last TS_WINDOW (seq, cents) pairs per user
    — the ListState evictor pattern (SURVEY §2A). Each arriving event
    completes at most one new window; full windows are scored against
    every probe with EXACTLY the batch arithmetic (exact int sums,
    fixed-order double mean/sd, left-fold distance, shortest-repr
    Decimal ROUND_HALF_UP — F.round's BigDecimal.valueOf semantics) and windows at or under ``max_dist2``
    emit an alert row."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from trisk_spark.functions.timeseries import TS_WINDOW

    six = Decimal("0.000001")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        ring: list = (
            [tuple(r) for r in (state.get[0] or [])] if state.exists else []
        )
        batch = pd.concat(list(pdfs))
        batch = batch[batch["value"].notna() & batch["event_id"].notna()]
        batch = batch.sort_values("event_id")
        out: list[tuple[int, int, int, float]] = []
        user = key[0]
        for seq, cents in zip(batch["event_id"], _cents(batch["value"])):
            ring.append((int(seq), int(cents)))
            if len(ring) > TS_WINDOW:
                ring.pop(0)
            if len(ring) < TS_WINDOW:
                continue
            vals = [c for _, c in ring]
            s = sum(vals)
            sq = sum(c * c for c in vals)
            mu = float(s) / TS_WINDOW
            m2 = float(sq) / TS_WINDOW
            var = m2 - mu * mu
            if var <= 0:
                continue
            sd = math.sqrt(var)
            for probe_user, pmu, psd, pw_list in probes:
                if probe_user == user:
                    continue
                acc = 0.0
                for x, y in zip(pw_list, vals):
                    e = (x - pmu) / psd - (y - mu) / sd
                    acc += e * e
                d6 = float(Decimal(repr(acc)).quantize(six, ROUND_HALF_UP))
                if d6 <= max_dist2:
                    out.append((int(probe_user), int(user), ring[0][0], d6))
        state.update(([list(r) for r in ring],))
        if out:
            yield pd.DataFrame(
                out, columns=["probe_user", "match_user", "match_seq", "dist2"]
            )

    return fn


def ts_pattern_alert_stream(
    events: DataFrame, probes, max_dist2: float = TS_ALERT_MAX_DIST2
) -> DataFrame:
    """Streaming z-normalized pattern screen over per-user value
    streams — the alerting deployment of
    ``functions/timeseries.ts_subsequence_match``: probe windows are a
    write-once broadcast model; per-user ListState holds only the last
    TS_WINDOW (seq, cents) pairs (bounded, evictor-style); every
    completed window is scored with the exact batch arithmetic and
    matches under the threshold emit append-only alerts
    (stream≡batch pytest-pinned)."""
    return keyed_state(
        events.where(F.col("user_id").isNotNull()),
        "user_id",
        ts_pattern_alert_fn(probes, max_dist2),
        _TS_OUT,
        _TS_STATE,
        "append",
    )


# --------------------------------------- running top-k leaderboard --

# Generic keyed streaming top-k: the windowed-rank class Structured
# Streaming has no native operator for (rank over a stream needs
# state), kept as a bounded per-key leaderboard in GroupState — the
# deployment partner the streaming retrieval scorers
# (bm25_score_stream, dsir_score_stream) document pairing with. State
# per key is EXACTLY k (id, score) pairs; every batch that touches a
# key re-emits its full leaderboard (update semantics — the
# final-state reduction per (key, rank) is the batch-comparable
# image). Ordering is (score DESC, id ASC) on doubles; the 1e-6
# decimal grid the scorers emit maps injectively to doubles at any
# realistic score magnitude, so the stream order equals the batch
# decimal order (pinned by the end-to-end bm25 test).

TOPK_K = 5

_TOPK_OUT = StructType(
    [
        StructField("query_id", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        StructField("rank", IntegerType()),
    ]
)
_TOPK_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("scores", ArrayType(DoubleType())),
    ]
)


def _topk_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    k = TOPK_K
    ids, scores = ([], [])
    if state.exists:
        ids, scores = list(state.get[0] or []), list(state.get[1] or [])
    entries = {int(i): float(s) for i, s in zip(ids, scores)}
    for pdf in pdfs:
        for i, s in zip(pdf["doc_id"], pdf["score"]):
            i, s = int(i), float(s)
            # a doc re-arriving keeps its best score (id-unique input
            # makes this moot; documented stream contract)
            if i not in entries or s > entries[i]:
                entries[i] = s
    board = sorted(entries.items(), key=lambda e: (-e[1], e[0]))[:k]
    state.update(([i for i, _ in board], [s for _, s in board]))
    yield pd.DataFrame(
        [
            (key[0], i, s, r + 1)
            for r, (i, s) in enumerate(board)
        ],
        columns=["query_id", "doc_id", "score", "rank"],
    )


def running_topk_stream(scored: DataFrame, k: int = TOPK_K) -> DataFrame:
    """Running per-key top-k over a (query_id, doc_id, score) stream:
    each batch merges its arrivals into the k-entry GroupState
    leaderboard and re-emits the key's current ranking (update mode).
    Composes with ``bm25_score_stream`` to reproduce the batch
    ``bm25_top_docs`` ranking end-to-end on a bounded replay
    (pytest-pinned); any (key, id, score) stream renamed to these
    columns gets the same leaderboard."""
    if k != TOPK_K:  # the state schema is fixed; k rides the constant
        raise ValueError("running_topk_stream is pinned to TOPK_K")
    return keyed_state(scored, "query_id", _topk_fn, _TOPK_OUT, _TOPK_STATE, "update")
