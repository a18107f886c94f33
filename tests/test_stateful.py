"""Replay-fold oracles for the stateful operators (SURVEY.md §5: "pure-
Python folds over the ordered input, compared row-for-row").

The oracle implementations here are deliberately *structurally
different* from the engine's (list-scan vs heap; dict-vs-buffer) so a
shared bug can't self-confirm. Each engine fold runs through both of its
drivers — the batch ``key_runs`` kernel and the stream's ``keyed_state``
function — on the same rows (``batch_run`` and ``stream_run``).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from trisk_spark.registry import load_all

from .conftest import SF_DIR

QUERIES = load_all()


def _stock_orders_rows(sf_dir: str):
    """Derive the stock-order stream exactly as sources/stock.py does,
    independently via DuckDB."""
    con = duckdb.connect()
    return con.execute(
        f"""
        SELECT event_id AS order_no,
               'SEC' || CAST(user_id % 50 AS VARCHAR) AS sec_code,
               CASE WHEN event_id % 2 = 0 THEN 'B' ELSE 'S' END AS trade_dir,
               CASE WHEN isnan(value) OR isinf(value) THEN NULL
                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS price_cents,
               (event_id % 10 + 1) * 100 AS order_vol,
               CASE WHEN event_id % 20 = 19 THEN 'D' ELSE 'A' END AS tran_maint_code,
               event_id AS seq
        FROM read_parquet('{sf_dir}/events.parquet')
        ORDER BY event_id
        """
    ).fetchall()


def _oracle_match(rows):
    """List-scan order matching: same semantics as the engine's heap
    implementation, different data structure. Cancels and orders without
    a price never reach the books."""
    books: dict[str, dict[str, list]] = {}
    trades = []
    for order_no, sec, side, price, vol, code, seq in rows:
        if code in ("D", "X", "") or price is None:
            continue
        b = books.setdefault(sec, {"B": [], "S": []})
        if side == "B":
            # match against sells: lowest price first, then lowest seq
            while vol > 0:
                cands = [o for o in b["S"] if o[0] <= price]
                if not cands:
                    break
                best = min(cands, key=lambda o: (o[0], o[1]))
                t = min(vol, best[2])
                trades.append((sec, order_no, best[3], best[0], t, seq))
                vol -= t
                best[2] -= t
                if best[2] == 0:
                    b["S"].remove(best)
            if vol > 0:
                b["B"].append([price, seq, vol, order_no])
        else:
            while vol > 0:
                cands = [o for o in b["B"] if o[0] >= price]
                if not cands:
                    break
                best = min(cands, key=lambda o: (-o[0], o[1]))
                t = min(vol, best[2])
                trades.append((sec, best[3], order_no, best[0], t, seq))
                vol -= t
                best[2] -= t
                if best[2] == 0:
                    b["B"].remove(best)
            if vol > 0:
                b["S"].append([price, seq, vol, order_no])
    return sorted(trades)


class GroupStateStub:
    """The part of ``GroupState`` a ``keyed_state`` function reads."""

    exists, get = False, None

    def update(self, value):
        self.exists, self.get = True, value


def _pieces(pdf: pd.DataFrame, cuts) -> list[pd.DataFrame]:
    bounds = [0, *sorted(min(c, len(pdf)) for c in cuts), len(pdf)]
    return [pdf.iloc[lo:hi].reset_index(drop=True) for lo, hi in zip(bounds, bounds[1:])]


def batch_run(kernel, pdf: pd.DataFrame, cuts=()) -> list[tuple]:
    """A ``key_runs`` kernel over ``pdf`` (sorted by key, then order)
    cut into Arrow batches at ``cuts``."""
    out = pd.concat(list(kernel(iter(_pieces(pdf, cuts)))), ignore_index=True)
    return sorted(map(tuple, out.astype(object).values.tolist()))


def stream_run(fn, key: str, pdf: pd.DataFrame, cuts=()) -> list[tuple]:
    """A ``keyed_state`` function over ``pdf`` (in arrival order) cut
    into micro-batches at ``cuts``: per micro-batch, one call per key
    with that key's rows and state."""
    states: dict = {}
    out = []
    for batch in _pieces(pdf, cuts):
        for k, rows in batch.groupby(key, sort=False):
            out.extend(fn((k,), iter([rows]), states.setdefault(k, GroupStateStub())))
    if not out:
        return []
    return sorted(map(tuple, pd.concat(out).astype(object).values.tolist()))


def test_matchmaker_matches_replay_oracle(spark):
    engine = sorted(
        tuple(r)
        for r in QUERIES["stock_matchmaker"].fn(spark, SF_DIR).collect()
    )
    oracle = _oracle_match(_stock_orders_rows(SF_DIR))
    assert len(engine) == len(oracle)
    assert engine == oracle


def test_matchmaker_invariants(spark):
    rows = QUERIES["stock_matchmaker"].fn(spark, SF_DIR).collect()
    assert rows, "expected trades at sf0.001"
    for r in rows:
        assert r.trade_vol > 0
        assert r.buy_no != r.sell_no
        # buy orders are even event_ids, sells odd (derivation rule)
        assert r.buy_no % 2 == 0 and r.sell_no % 2 == 1
    # volume conservation per order: traded ≤ order volume
    import collections

    traded = collections.Counter()
    for r in rows:
        traded[r.buy_no] += r.trade_vol
        traded[r.sell_no] += r.trade_vol
    for order_no, vol in traded.items():
        assert vol <= (order_no % 10 + 1) * 100, f"order {order_no} overfilled"


def test_emit_once_join(spark):
    """Every auction appears at most once; auctions of sellers with no
    signup never appear; emit order respects the fold."""
    out = QUERIES["q3_emit_once_join"].fn(spark, SF_DIR).collect()
    auction_ids = [r.auction_id for r in out]
    assert len(auction_ids) == len(set(auction_ids)), "auction emitted twice"

    # independent recompute via DuckDB
    con = duckdb.connect()
    expected = con.execute(
        f"""
        WITH p AS (SELECT user_id, MIN(event_id) AS pseq
                   FROM read_parquet('{SF_DIR}/events.parquet')
                   WHERE event_type = 'signup' GROUP BY user_id),
        a AS (SELECT user_id, event_id FROM read_parquet('{SF_DIR}/events.parquet')
              WHERE event_type IN ('view','click') AND event_id % 10 = 4)
        SELECT a.event_id FROM a JOIN p ON a.user_id = p.user_id
        """
    ).fetchall()
    assert sorted(auction_ids) == sorted(e[0] for e in expected)


def test_delta_trigger_matches_replay_fold(spark):
    """Independent oracle: itertools.groupby fold over DuckDB-ordered
    rows (engine: ``delta_fold``). The same rows also run through both
    of the fold's drivers in pure pandas, cut into Arrow batches mid-key
    and into micro-batches."""
    from itertools import groupby

    from trisk_spark.operators.multistream import (
        DELTA_SCHEMA,
        DELTA_THRESHOLD,
        delta_cols,
        delta_fold,
    )
    from trisk_spark.operators.stateful import key_runs
    from trisk_spark.streaming.state import _delta_trigger_stream_fn

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM read_parquet('{SF_DIR}/events.parquet')
        ORDER BY user_id, ts, event_id
        """
    ).fetchall()
    thresh = int(round(DELTA_THRESHOLD * 100))
    want = set()
    for uid, grp in groupby(rows, key=lambda r: r[0]):
        last = None
        for _, eid, cents in grp:
            if last is None or abs(cents - last) > thresh:
                want.add((uid, eid))
                last = cents
    got = {
        (r.user_id, r.event_id)
        for r in QUERIES["delta_trigger"].fn(spark, SF_DIR).collect()
    }
    assert got == want
    assert len(want) < len(rows), "trigger never suppressed — vacuous"

    events = con.execute(
        f"""
        SELECT user_id, ts, event_id, value FROM read_parquet('{SF_DIR}/events.parquet')
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
        """
    ).df()
    by_key = events.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    cuts = range(7, len(events), 97)
    kernel = key_runs(delta_fold, delta_cols, DELTA_SCHEMA)
    assert batch_run(kernel, by_key, cuts) == sorted(want)
    arrival = events.sort_values(["ts", "event_id"]).reset_index(drop=True)
    assert stream_run(_delta_trigger_stream_fn, "user_id", arrival, cuts) == sorted(want)


def test_matchmaker_hot_key_is_chunked(spark):
    """Bounded-memory property: one hot sec_code at ~10x the others must
    stream through the mapInPandas kernel in MULTIPLE Arrow batches
    (books carried across chunk boundaries), and the result must equal
    the single-pass pure-Python fold. maxRecordsPerBatch is forced tiny
    so the hot key cannot fit one batch — if the kernel ever regresses
    to whole-group materialization this test stops exercising the
    carry-over path and the value compare breaks."""
    from trisk_spark.operators.stateful import (
        TRADE_SCHEMA,
        key_runs,
        match_fold,
        order_cols,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        n_hot, n_cold = 1000, 100
        rows = []
        for i in range(n_hot + n_cold):
            sec = "HOT" if i < n_hot else f"C{i % 7}"
            rows.append((i, sec, "B" if i % 2 == 0 else "S",
                         1000 + (i * 37) % 200, (i % 10 + 1) * 100,
                         "D" if i % 20 == 19 else "A", i))
        df = spark.createDataFrame(
            rows,
            "order_no long, sec_code string, trade_dir string, "
            "price_cents long, order_vol long, tran_maint_code string, seq long",
        )
        part = df.repartition("sec_code").sortWithinPartitions("sec_code", "seq")
        engine = sorted(
            tuple(r)
            for r in part.mapInPandas(
                key_runs(match_fold, order_cols, TRADE_SCHEMA), TRADE_SCHEMA
            ).collect()
        )
        oracle = _oracle_match(
            [(r[0], r[1], r[2], r[3], r[4], r[5], r[6]) for r in sorted(rows)]
        )
        assert engine, "hot-key corpus produced no trades — vacuous"
        assert engine == oracle
    finally:
        spark.conf.set(key, old)


def test_emit_once_fold_handles_multi_person_sequences():
    """The corpus derivation keeps one person per key (which is what
    makes the closed-form SQL oracle valid); the fold must also handle
    the general reference sequence — repeated person rows where only
    the FIRST flushes the buffer and later ones are ignored. Both
    drivers run it: the batch kernel that ships in the registered
    query, across a mid-key Arrow-batch split and a key boundary to
    exercise its carry/reset state, and the stream's keyed-state
    function, across micro-batches."""
    from trisk_spark.operators.stateful import (
        EMIT_ONCE_SCHEMA,
        emit_cols,
        emit_once_fold,
        key_runs,
    )
    from trisk_spark.streaming.state import _emit_once_fn

    kernel = key_runs(emit_once_fold, emit_cols, EMIT_ONCE_SCHEMA)

    rows = pd.DataFrame(
        {
            "key": [7] * 6,
            "side": ["A", "P", "A", "P", "A", "P"],
            "auction_id": [100, None, 101, None, 102, None],
            "seq": [1, 2, 3, 4, 5, 6],
        }
    )
    want = [(7, 100, 2), (7, 101, 3), (7, 102, 5)]
    assert batch_run(kernel, rows) == want
    assert stream_run(_emit_once_fn, "key", rows, [1, 3]) == want

    # second key whose auctions all precede its person — flushed at the
    # person row even though the key starts mid-stream
    rows2 = pd.DataFrame(
        {
            "key": [9] * 3,
            "side": ["A", "A", "P"],
            "auction_id": [200, 201, None],
            "seq": [1, 2, 3],
        }
    )
    part = pd.concat([rows, rows2], ignore_index=True)
    # split mid-key-7 AND mid-key-9: state must carry across batches
    want = [(7, 100, 2), (7, 101, 3), (7, 102, 5), (9, 200, 3), (9, 201, 3)]
    assert batch_run(kernel, part, [3, 8]) == want
    arrival = part.sort_values("seq", kind="stable").reset_index(drop=True)
    assert stream_run(_emit_once_fn, "key", arrival, [2, 5]) == want


def test_matchmaker_skips_orders_without_a_price(spark, tmp_path):
    """``stock_orders`` maps a NULL, NaN or ±Inf value to a NULL
    ``price_cents``; such an order never reaches the books, like a
    cancel (the fold used to raise on ``int(nan)``)."""
    from .test_parity_edges import _write_events

    rows = [
        (i, i, i % 3, "view", 100.0 + (i * 7) % 11 / 10)
        for i in range(40)
    ]
    rows += [(40, 40, 1, "view", None), (41, 41, 1, "view", float("nan")),
             (42, 42, 2, "view", float("inf")), (43, 43, 1, "view", 100.5)]
    _write_events(tmp_path, rows)
    got = sorted(
        tuple(r) for r in QUERIES["stock_matchmaker"].fn(spark, str(tmp_path)).collect()
    )
    want = _oracle_match(_stock_orders_rows(str(tmp_path)))
    assert want, "corpus produced no trades — vacuous"
    assert got == want
