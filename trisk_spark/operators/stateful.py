"""Custom stateful operators — the reference's heart (SURVEY.md §2B SE,
Q3-emit-once, SD): semantics Spark's built-in operators can't express,
each written once as a columnar fold over one key's run in order.

A fold is ``fold(state, cols) -> (state, out_cols)``: ``cols`` are one
key's rows, already sorted, as plain Python column lists; ``state`` is
what the key carried in (``None`` for a fresh key); ``out_cols`` are the
output columns after the key. Two drivers call the same fold:

  * batch: ``key_runs``, the ``mapInPandas`` partition driver over a
    partition hash-shuffled on the key and sorted by (key, order), so
    state carries across Arrow batch boundaries and resets on a key
    change. Peak memory is one Arrow batch plus one key's open state,
    not the hottest key's history; a hot key costs sort spill.
  * stream: the ``keyed_state`` functions in
    ``trisk_spark.streaming.state``, which turn the ``GroupState`` value
    into fold state and write the result back every micro-batch.

The folds here are the matchmaker (``match_fold``) and emit-once
(``emit_once_fold``); the delta trigger's (``delta_fold``) lives beside
its batch query in ``operators/multistream.py``. The batch queries
register ``oracle=None`` or a closed-form SQL oracle; the matchmaker's
reference is the structurally different list-scan in
tests/test_stateful.py.
"""

from __future__ import annotations

import heapq
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from trisk_spark.catalog import table
from trisk_spark.registry import register
from trisk_spark.sources.stock import stock_orders

#: a fold's column prep: an Arrow batch → (key array, fold column lists)
Cols = Callable[[pd.DataFrame], "tuple[np.ndarray, list[list]]"]


def frame(schema: StructType, cols: list[list]) -> pd.DataFrame:
    """Output column lists → a frame typed for ``schema`` (also when
    empty)."""
    return pd.DataFrame(
        {
            f.name: np.array(c, dtype=np.int64 if isinstance(f.dataType, LongType) else object)
            for f, c in zip(schema.fields, cols)
        }
    )


_NO_KEY = object()


def key_runs(fold, cols: Cols, schema: StructType):
    """The batch driver: a ``mapInPandas`` function over a partition
    sorted by (key, order) with each key contiguous. Per Arrow batch it
    takes the columns once (``cols``), cuts the batch where the key
    changes and folds each run, carrying the state into the next batch
    while the key continues. ``schema``'s first column is the key."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last, state = _NO_KEY, None
        for pdf in batches:
            keys, data = cols(pdf)
            out: list[list] = [[] for _ in schema.fields]
            n = len(keys)
            starts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist()] if n else []
            for lo, hi in zip(starts, [*starts[1:], n]):
                k = keys[lo]
                if k != last:
                    last, state = k, None
                state, got = fold(state, [c[lo:hi] for c in data])
                if got[0]:
                    out[0].extend([k] * len(got[0]))
                    for acc, c in zip(out[1:], got):
                        acc.extend(c)
            yield frame(schema, out)

    run.__name__ = fold.__name__  # the name Spark's plan and UI show
    return run


# -------------------------------------------------------- matchmaker --

TRADE_SCHEMA = StructType(
    [
        StructField("sec_code", StringType()),
        StructField("buy_no", LongType()),
        StructField("sell_no", LongType()),
        StructField("trade_price", LongType()),
        StructField("trade_vol", LongType()),
        StructField("match_seq", LongType()),
    ]
)

_CANCELS = ("D", "X", "")


def order_cols(pdf: pd.DataFrame) -> tuple[np.ndarray, list[list]]:
    """Stock orders → ``match_fold``'s columns. Cancels (tran_maint_code
    in {'D','X',''}, StatefulStockExchange.java:37-39, :131-133) and
    orders without a price (``stock_orders`` maps a NULL, NaN or ±Inf
    value to a NULL ``price_cents``) are dropped here, once per batch:
    they never touch the books, and a key whose rows are all dropped has
    empty books, so dropping them cannot change a reset. Plain numpy,
    not pandas indexing: the stream calls this once per key and
    micro-batch, on a few rows."""
    code, price = pdf["tran_maint_code"].to_numpy(), pdf["price_cents"].to_numpy()
    live = ~pd.isna(price)
    for c in _CANCELS:
        live &= code != c
    return pdf["sec_code"].to_numpy()[live], [
        pdf["trade_dir"].to_numpy()[live].tolist(),
        *(
            pdf[c].to_numpy()[live].astype(np.int64).tolist()
            for c in ("price_cents", "order_vol", "seq", "order_no")
        ),
    ]


def match_fold(books, cols: list[list]):
    """The order-book fold for one sec_code's orders in seq order.
    ``books`` is (buy heap of [-price, seq, vol, order_no], sell heap of
    [price, seq, vol, order_no]), or ``None`` for empty books; the
    output columns are TRADE_SCHEMA's after ``sec_code``.

    Semantics per StatefulStockExchange.java:125-215 /
    InAppStatefulStockExchange.java:76-122:
      * buy order: match against the sell book while the best sell price
        <= buy price; sell order: match against the buy book while the
        best buy price >= sell price;
      * partial fills leave the residual volume on the larger side
        (:226-244); full fills remove both;
      * a trade executes at the resting order's price.

    Matching priority is price-time (best price, then lowest seq) — the
    reference iterates a Java HashMap whose order is unspecified; we fix
    the deterministic, economically-standard order and document the
    divergence."""
    buys, sells = books or ([], [])
    out = o_bno, o_sno, o_price, o_vol, o_seq = [], [], [], [], []
    for tdir, price, vol, seq, no in zip(*cols):
        if tdir == "B":
            while vol > 0 and sells and sells[0][0] <= price:
                best = sells[0]
                t = best[2] if best[2] < vol else vol
                o_bno.append(no)
                o_sno.append(best[3])
                o_price.append(best[0])
                o_vol.append(t)
                o_seq.append(seq)
                vol -= t
                best[2] -= t
                if best[2] == 0:
                    heapq.heappop(sells)
            if vol > 0:
                heapq.heappush(buys, [-price, seq, vol, no])
        else:
            while vol > 0 and buys and -buys[0][0] >= price:
                best = buys[0]
                t = best[2] if best[2] < vol else vol
                o_bno.append(best[3])
                o_sno.append(no)
                o_price.append(-best[0])
                o_vol.append(t)
                o_seq.append(seq)
                vol -= t
                best[2] -= t
                if best[2] == 0:
                    heapq.heappop(buys)
            if vol > 0:
                heapq.heappush(sells, [price, seq, vol, no])
    return (buys, sells), out


@register("stock_matchmaker", oracle=None)
def stock_matchmaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SE matchmaker (flagship): per-sec_code order books with
    price-time priority matching and partial fills.

    Plan: one shuffle on sec_code (hash repartition — all rows of a key
    land in one partition), a spillable sortWithinPartitions on
    (sec_code, seq) (no second exchange), then ``match_fold`` through
    the ``key_runs`` mapInPandas driver, which carries each key's open
    books across Arrow batches — the batch image of the keyed MapState
    operator (StatefulStockExchange.java:104-121). The Python worker
    never holds more than one Arrow batch (spark.sql.execution.arrow.
    maxRecordsPerBatch) plus the open books. Streaming variant, on the
    same fold: trisk_spark.streaming.state.matchmaker_stream.
    """
    orders = stock_orders(table(spark, sf_dir, "events"))
    part = orders.repartition("sec_code").sortWithinPartitions("sec_code", "seq")
    return part.mapInPandas(key_runs(match_fold, order_cols, TRADE_SCHEMA), TRADE_SCHEMA)


# ------------------------------------------------ Q3 emit-once join --

EMIT_ONCE_SCHEMA = StructType(
    [
        StructField("seller", LongType()),
        StructField("auction_id", LongType()),
        StructField("emit_seq", LongType()),
    ]
)


def emit_cols(pdf: pd.DataFrame) -> tuple[np.ndarray, list[list]]:
    """Tagged (key, side, auction_id, seq) rows → ``emit_once_fold``'s
    columns."""
    return pdf["key"].to_numpy(), [pdf[c].tolist() for c in ("side", "auction_id", "seq")]


def emit_once_fold(state, cols: list[list]):
    """The asymmetric incremental join of Query3.java:99-155 for one
    seller key in seq order: the person is stored forever; an auction
    arriving after its person emits at once; auctions arriving before
    it buffer and flush exactly once, at the person's seq, when the
    first person row arrives. ``state`` is (person seen, buffered
    (auction_id, seq) pairs), or ``None`` for a fresh key; the output
    columns are (auction_id, emit_seq). The buffer is the semantics'
    inherent state, not the key's history: once the person arrives the
    key streams with O(1) state."""
    seen, buf = state or (False, [])
    out = aids, seqs = [], []
    for side, aid, seq in zip(*cols):
        if side == "P":
            if not seen:
                seen = True
                aids.extend(a for a, _ in buf)
                seqs.extend([seq] * len(buf))
                buf = []
        elif seen:
            aids.append(int(aid))
            seqs.append(seq)
        else:
            buf.append((int(aid), seq))
    return (seen, buf), out
EMIT_ONCE_SQL = """
WITH p AS (
  SELECT user_id AS key, MIN(event_id) AS pseq
  FROM events
  WHERE event_type = 'signup' AND user_id IS NOT NULL
  GROUP BY user_id
),
a AS (
  SELECT user_id AS key, event_id AS auction_id, event_id AS seq
  FROM events
  WHERE event_type IN ('view','click') AND event_id % 10 = 4
    AND user_id IS NOT NULL
)
SELECT a.key AS seller, a.auction_id,
       CASE WHEN a.seq > p.pseq THEN a.seq ELSE p.pseq END AS emit_seq
FROM a JOIN p USING (key)
"""


@register("q3_emit_once_join", oracle=EMIT_ONCE_SQL)
def q3_emit_once_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nexmark Q3's true streaming semantics: emit-once incremental join
    (Query3.java:99-155) replayed in batch as a tagged-union fold.

    Built as: tag person/auction rows, union, shuffle once on the join
    key, partition-local sort, then ``emit_once_fold`` through the
    ``key_runs`` mapInPandas driver (bounded memory: one Arrow batch
    plus one key's pre-person buffer). Streaming variant, on the same
    fold: trisk_spark.streaming.state.emit_once_join_stream. The
    SQL-joinable image of Q3 is `nexmark_q3`; this operator checks the
    *emit* semantics (each auction emitted at most once, at the right
    point in the sequence).

    Oracle: because the derivation keeps exactly ONE person row per key
    (first signup), the fold's emit rule has a closed form — an auction
    emits iff its key has a person, at emit_seq = max(auction seq,
    first-person seq) — which the SQL states directly. The engine runs
    the general sequential fold (the structural difference is what
    keeps the oracle from self-confirming); a pure-pandas test runs the
    fold through both drivers on multi-person sequences the corpus
    derivation can't produce.
    """
    # NULL hardening (matches the oracle CTEs): Spark's groupBy co-groups
    # NULL keys, so a NULL-user signup + NULL-user auction would emit a
    # row that SQL's JOIN USING (key) never matches.
    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    # Tagged union: persons = first signup per user (tag P, seq = event_id
    # of that signup); auctions = view/click events in category 4 (tag A).
    persons = (
        ev.where(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.min("event_id").alias("seq"))
        .select("key", F.lit("P").alias("side"), F.lit(None).cast("long").alias("auction_id"), "seq")
    )
    aucts = (
        ev.where(F.col("event_type").isin("view", "click"))
        .where(F.col("event_id") % 10 == 4)
        .select(
            F.col("user_id").alias("key"),
            F.lit("A").alias("side"),
            F.col("event_id").alias("auction_id"),
            F.col("event_id").alias("seq"),
        )
    )
    tagged = persons.unionByName(aucts)
    # one shuffle on key, spillable partition-local sort on (key, seq):
    # a hot seller costs sort spill, not a whole-group materialization
    part = tagged.repartition("key").sortWithinPartitions("key", "seq")
    fold = key_runs(emit_once_fold, emit_cols, EMIT_ONCE_SCHEMA)
    return part.mapInPandas(fold, EMIT_ONCE_SCHEMA)
