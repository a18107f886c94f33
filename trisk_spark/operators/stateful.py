"""Custom stateful operators — the reference's heart (SURVEY.md §2B SE,
Q3-emit-once, SD): semantics Spark's built-in operators can't express,
implemented as Arrow-batched ``applyInPandas`` over a keyed group, with
the fold order fixed by an explicit ``seq`` column.

Scale notes: ``applyInPandas`` keeps the data partitioned by key — each
group is processed on its executor, nothing is collected to the driver.
The per-key fold is O(n log n) in orders per key (heap-based books);
with sec_code cardinality ≈ 50-5000 and AQE skew handling the shuffle is
balanced. At 100 TB one would bound per-key history (the streaming
variant in trisk_spark.streaming.state holds only open books, not
history).

These register ``oracle=None`` (not SQL-expressible); correctness is a
pure-Python replay-fold oracle in tests/test_stateful.py.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

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


def match_orders(
    rows: Iterator[dict],
    buy_book: list | None = None,
    sell_book: list | None = None,
) -> Iterator[dict]:
    """Pure-Python order-book fold for ONE sec_code, in seq order.
    Pass ``buy_book``/``sell_book`` to carry open books across chunks
    of the same key: the streaming matchmaker
    (``streaming.state._matchmaker_fn``) seeds them from its keyed
    state every micro-batch and writes them back. With the defaults
    the fold is self-contained. The bounded-memory batch path
    (``_match_partition``) inlines this fold columnar; tests hold the
    two equal.

    Semantics per StatefulStockExchange.java:125-215 /
    InAppStatefulStockExchange.java:76-122:
      * rows with tran_maint_code in {'D','X',''} are dropped (cancels;
        :37-39, :131-133);
      * buy order: match against sell book while best sell price <=
        buy price; sell order: match against buy book while best buy
        price >= sell price;
      * partial fills leave the residual volume on the larger side
        (:226-244); full fills remove both;
      * trade executes at the resting order's price.

    Matching priority is price-time (best price, then lowest seq) — the
    reference iterates a Java HashMap whose order is unspecified; we fix
    the deterministic, economically-standard order and document the
    divergence.
    """
    if buy_book is None:
        buy_book = []  # (-price, seq, [vol, order_no])
    if sell_book is None:
        sell_book = []  # (price, seq, [vol, order_no])
    for r in rows:
        code = r["tran_maint_code"]
        if code in ("D", "X", ""):
            continue
        price, vol, seq, no = (
            int(r["price_cents"]),
            int(r["order_vol"]),
            int(r["seq"]),
            int(r["order_no"]),
        )
        if r["trade_dir"] == "B":
            while vol > 0 and sell_book and sell_book[0][0] <= price:
                s_price, s_seq, s_rest = sell_book[0]
                traded = min(vol, s_rest[0])
                yield {
                    "sec_code": r["sec_code"],
                    "buy_no": no,
                    "sell_no": s_rest[1],
                    "trade_price": s_price,
                    "trade_vol": traded,
                    "match_seq": seq,
                }
                vol -= traded
                s_rest[0] -= traded
                if s_rest[0] == 0:
                    heapq.heappop(sell_book)
            if vol > 0:
                heapq.heappush(buy_book, (-price, seq, [vol, no]))
        else:
            while vol > 0 and buy_book and -buy_book[0][0] >= price:
                b_neg_price, b_seq, b_rest = buy_book[0]
                traded = min(vol, b_rest[0])
                yield {
                    "sec_code": r["sec_code"],
                    "buy_no": b_rest[1],
                    "sell_no": no,
                    "trade_price": -b_neg_price,
                    "trade_vol": traded,
                    "match_seq": seq,
                }
                vol -= traded
                b_rest[0] -= traded
                if b_rest[0] == 0:
                    heapq.heappop(buy_book)
            if vol > 0:
                heapq.heappush(sell_book, (price, seq, [vol, no]))


_EMPTY_TRADES = {
    "sec_code": "str", "buy_no": "int64", "sell_no": "int64",
    "trade_price": "int64", "trade_vol": "int64", "match_seq": "int64",
}


def _match_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Bounded-memory matchmaker kernel: the partition arrives sorted by
    (sec_code, seq) with every sec_code's rows contiguous (hash
    repartition on sec_code), so open books carry across Arrow batch
    boundaries and reset on key change. Peak memory is O(one Arrow
    batch + open books), NOT O(hottest key's full order history) — the
    pre-r5 applyInPandas variant materialized the whole group.

    The fold is ``match_orders``'s exact semantics INLINED columnar
    (r8): cancels drop in one vectorized mask (they never touch books,
    and a key whose rows are all cancels has empty books, so skipping
    them cannot change a reset), rows stream through ``zip`` over the
    column arrays instead of per-row dicts, and trades accumulate into
    column lists — 3.2 s → 0.70 s at sf0.1, ~140k orders/s
    (PERF_NOTES r8), giving the reference's 60k orders/s design point
    >2× margin under suite load. Equivalence with ``match_orders`` is gated by the
    replay-fold oracle (tests/test_stateful.py) and the hypothesis
    property suite."""
    key = None
    buy_book: list = []
    sell_book: list = []
    for pdf in batches:
        live = pdf[~pdf["tran_maint_code"].isin(("D", "X", ""))]
        o_sec: list = []
        o_bno: list = []
        o_sno: list = []
        o_price: list = []
        o_vol: list = []
        o_seq: list = []
        for sec, price, vol, seq, no, tdir in zip(
            live["sec_code"].to_numpy(),
            live["price_cents"].to_numpy(),
            live["order_vol"].to_numpy(),
            live["seq"].to_numpy(),
            live["order_no"].to_numpy(),
            live["trade_dir"].to_numpy(),
        ):
            if sec != key:
                key = sec
                buy_book, sell_book = [], []
            price, vol, seq, no = int(price), int(vol), int(seq), int(no)
            if tdir == "B":
                while vol > 0 and sell_book and sell_book[0][0] <= price:
                    s_price, _s_seq, s_rest = sell_book[0]
                    t = s_rest[0] if s_rest[0] < vol else vol
                    o_sec.append(sec)
                    o_bno.append(no)
                    o_sno.append(s_rest[1])
                    o_price.append(s_price)
                    o_vol.append(t)
                    o_seq.append(seq)
                    vol -= t
                    s_rest[0] -= t
                    if s_rest[0] == 0:
                        heapq.heappop(sell_book)
                if vol > 0:
                    heapq.heappush(buy_book, (-price, seq, [vol, no]))
            else:
                while vol > 0 and buy_book and -buy_book[0][0] >= price:
                    b_neg, _b_seq, b_rest = buy_book[0]
                    t = b_rest[0] if b_rest[0] < vol else vol
                    o_sec.append(sec)
                    o_bno.append(b_rest[1])
                    o_sno.append(no)
                    o_price.append(-b_neg)
                    o_vol.append(t)
                    o_seq.append(seq)
                    vol -= t
                    b_rest[0] -= t
                    if b_rest[0] == 0:
                        heapq.heappop(buy_book)
                if vol > 0:
                    heapq.heappush(sell_book, (price, seq, [vol, no]))
        if o_sec:
            yield pd.DataFrame(
                {
                    "sec_code": o_sec,
                    "buy_no": o_bno,
                    "sell_no": o_sno,
                    "trade_price": o_price,
                    "trade_vol": o_vol,
                    "match_seq": o_seq,
                }
            )
        else:
            yield pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in _EMPTY_TRADES.items()}
            )


@register("stock_matchmaker", oracle=None)
def stock_matchmaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SE matchmaker (flagship): per-sec_code order books with
    price-time priority matching and partial fills.

    Plan: one shuffle on sec_code (hash repartition — all rows of a key
    land in one partition), a spillable sortWithinPartitions on
    (sec_code, seq) (no second exchange), then an Arrow-batched
    mapInPandas fold that streams batches through per-key open books —
    the batch image of the keyed MapState operator
    (StatefulStockExchange.java:104-121). A hot sec_code at any skew
    costs sort spill, not executor OOM: the Python worker never holds
    more than one Arrow batch (spark.sql.execution.arrow.
    maxRecordsPerBatch) plus the open-book residue. Streaming variant:
    trisk_spark.streaming.state.matchmaker_stream.
    """
    orders = stock_orders(table(spark, sf_dir, "events"))
    part = orders.repartition("sec_code").sortWithinPartitions("sec_code", "seq")
    return part.mapInPandas(_match_partition, TRADE_SCHEMA)


# ------------------------------------------------ Q3 emit-once join --

EMIT_ONCE_SCHEMA = StructType(
    [
        StructField("seller", LongType()),
        StructField("auction_id", LongType()),
        StructField("emit_seq", LongType()),
    ]
)


def _emit_once_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Replay the asymmetric incremental join of Query3.java:99-155 for
    one seller key: person stored forever; an auction arriving after its
    person emits immediately; auctions arriving before buffer and flush
    exactly once when the person arrives."""
    pdf = pdf.sort_values("seq")
    person_seen = False
    buffered: list[tuple[int, int]] = []
    out = []
    for r in pdf.itertuples(index=False):
        if r.side == "P":
            if not person_seen:
                person_seen = True
                for auction_id, _ in buffered:
                    out.append((r.key, auction_id, r.seq))
                buffered.clear()
        else:
            if person_seen:
                out.append((r.key, r.auction_id, r.seq))
            else:
                buffered.append((r.auction_id, r.seq))
    return pd.DataFrame(out, columns=["seller", "auction_id", "emit_seq"]).astype(
        "int64"
    )


def _emit_once_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Bounded-memory emit-once kernel (the stock_matchmaker pattern):
    the partition arrives sorted by (key, seq) with each key contiguous,
    so (person_seen, buffered-auctions) carries across Arrow batch
    boundaries and resets on key change. Peak memory is O(one Arrow
    batch + one key's PRE-PERSON auction buffer) — the buffer is the
    semantics' inherent state (auctions that must wait for their
    person), not the key's full history; once the person arrives the
    key streams with O(1) state. Same fold as ``_emit_once_group``
    (the pytest replay oracle runs both against each other)."""
    key = None
    person_seen = False
    pseq = 0
    buffered: list[int] = []
    for pdf in batches:
        out: list[tuple[int, int, int]] = []
        for k, side, aid, seq in zip(
            pdf["key"], pdf["side"], pdf["auction_id"], pdf["seq"]
        ):
            if k != key:
                key = k
                person_seen = False
                buffered = []
            if side == "P":
                if not person_seen:
                    person_seen = True
                    pseq = int(seq)
                    out.extend((int(k), a, pseq) for a in buffered)
                    buffered = []
            else:
                if person_seen:
                    out.append((int(k), int(aid), int(seq)))
                else:
                    buffered.append(int(aid))
        yield pd.DataFrame(
            out, columns=["seller", "auction_id", "emit_seq"]
        ).astype("int64")


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
    key, partition-local sort, streaming ordered fold in mapInPandas
    (bounded memory — see ``_emit_once_partition``). The SQL-joinable image
    of Q3 is `nexmark_q3`; this operator checks the *emit* semantics
    (each auction emitted at most once, at the right point in the
    sequence).

    Oracle: because the derivation keeps exactly ONE person row per key
    (first signup), the fold's emit rule has a closed form — an auction
    emits iff its key has a person, at emit_seq = max(auction seq,
    first-person seq) — which the SQL states directly. The engine runs
    the general sequential fold (the structural difference is what
    keeps the oracle from self-confirming); the replay-fold pytest
    covers multi-person sequences the corpus derivation can't produce.
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
    # Bounded-memory fold (stock_matchmaker pattern): one shuffle on
    # key, spillable partition-local sort on (key, seq), streaming
    # mapInPandas — a hot seller costs sort spill, not a whole-group
    # pandas materialization.
    part = tagged.repartition("key").sortWithinPartitions("key", "seq")
    return part.mapInPandas(_emit_once_partition, EMIT_ONCE_SCHEMA)
