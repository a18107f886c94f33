"""Property-based tests (hypothesis) for the invariants that have an
independent oracle implementation: randomized inputs probe the corners
the fixed corpora never reach. No SparkSession needed — these exercise
the pure-Python kernels and the DuckDB oracle SQL directly, so they run
in seconds and can afford many examples.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings, strategies as st

# --------------------------------------------------- cents rounding --


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(
        st.decimals(
            min_value="-1000", max_value="1000", places=3, allow_nan=False
        ).map(float),
        # exact half-cent grid — the divergence zone for banker's rounding
        st.integers(min_value=-200_000, max_value=200_000).map(lambda k: k / 200),
    )
)
def test_cents_matches_duckdb_round(v):
    from trisk_spark.numeric import cents

    got = int(cents(pd.Series([v])).iloc[0])
    want = duckdb.sql(f"SELECT CAST(ROUND(CAST({v!r} AS DOUBLE) * 100) AS BIGINT)").fetchone()[0]
    assert got == want, (v, got, want)


# ---------------------------------------------- order-book matching --

_order = st.tuples(
    st.integers(0, 49),                 # order_no/seq source (made unique below)
    st.sampled_from(["S0", "S1"]),      # sec_code
    st.sampled_from(["B", "S"]),        # direction
    st.sampled_from([*range(95, 106), None]),  # price_cents (narrow → many crosses; None = no price)
    st.integers(1, 5).map(lambda v: v * 100),   # volume
    st.sampled_from(["A", "A", "A", "D"]),      # occasional cancel
)
_cuts = st.lists(st.integers(0, 40), max_size=6)


@settings(max_examples=100, deadline=None)
@given(st.lists(_order, min_size=1, max_size=40), _cuts, _cuts)
def test_match_fold_equals_list_scan_oracle(raw, arrow_cuts, micro_cuts):
    """Engine heap fold vs the structurally different list-scan oracle
    (tests/test_stateful._oracle_match) on random order streams —
    partial fills, cancels, orders without a price, price ties and
    multi-key interleaving — through both drivers: the batch kernel
    with the partition cut into Arrow batches at drawn points, and the
    stream's keyed-state function with the stream cut into micro-batches
    at drawn points."""
    from trisk_spark.operators.stateful import (
        TRADE_SCHEMA,
        key_runs,
        match_fold,
        order_cols,
    )
    from trisk_spark.streaming.state import _matchmaker_fn

    from .test_stateful import _oracle_match, batch_run, stream_run

    rows = [
        (i, sec, d, p, v, code, i)
        for i, (_, sec, d, p, v, code) in enumerate(raw)
    ]
    oracle = _oracle_match(rows)
    orders = pd.DataFrame(
        rows,
        columns=["order_no", "sec_code", "trade_dir", "price_cents",
                 "order_vol", "tran_maint_code", "seq"],
    )
    # the batch partition arrives sorted by (sec_code, seq); the stream
    # in seq order
    part = orders.sort_values(["sec_code", "seq"]).reset_index(drop=True)
    kernel = key_runs(match_fold, order_cols, TRADE_SCHEMA)
    assert batch_run(kernel, part, arrow_cuts) == oracle
    assert stream_run(_matchmaker_fn, "sec_code", orders, micro_cuts) == oracle


# ------------------------------------------- winnowing guarantee ----


@settings(max_examples=30, deadline=None)
@given(
    st.integers(0, 40),     # offset of the shared run in doc A
    st.integers(0, 40),     # offset in doc B
    st.integers(0, 2**31),  # filler seed
)
def test_winnowing_guarantee_randomized(off_a, off_b, seed):
    """Any two docs sharing a verbatim run >= SUBSTR_K+SUBSTR_W-1 chars
    MUST pair regardless of alignment/filler — checked through the
    DuckDB oracle SQL, which tests/test_plans proved equal to the Spark
    plan. Fillers are distinct alphabets so no accidental shared gram
    can mask a missed guarantee pair."""
    import random

    from trisk_spark.functions.dedup import SUBSTR_DEDUP_SQL, SUBSTR_K, SUBSTR_W

    rng = random.Random(seed)
    shared = "".join(rng.choice("abcdefgh") for _ in range(SUBSTR_K + SUBSTR_W - 1))
    filler_a = "".join(rng.choice("ijklmnop") for _ in range(100))
    filler_b = "".join(rng.choice("qrstuvwx") for _ in range(100))
    text_a = filler_a[:off_a] + shared + filler_a[off_a:]
    text_b = filler_b[:off_b] + shared + filler_b[off_b:]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, ?), (2, ?)) AS t(doc_id, text)",
        [text_a, text_b],
    )
    pairs = con.execute(SUBSTR_DEDUP_SQL).fetchall()
    assert any(p[0] == 1 and p[1] == 2 for p in pairs), (
        f"guaranteed {SUBSTR_K + SUBSTR_W - 1}-char run missed at "
        f"offsets ({off_a}, {off_b})"
    )


# ------------------------------------------- chunking and packing ---

_doc_text = st.lists(
    st.sampled_from(["alpha", "beta", "gg", "", " "]), min_size=0, max_size=40
).map(" ".join)


@settings(max_examples=60, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=8))
def test_doc_chunk_oracle_covers_every_token_exactly(texts):
    """The DuckDB oracle (the contract both engines hash-match) must
    chunk so that token positions [1, nt] are covered, chunk sizes stay
    within CHUNK_TOKENS, stride-aligned prefixes reconstruct the doc,
    and chunk_text re-tokenizes to exactly its slice."""
    from trisk_spark.functions.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        DOC_CHUNK_SQL,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    rows = con.execute(DOC_CHUNK_SQL).fetchall()
    by_doc: dict[int, list] = {}
    for doc_id, ci, start, n, chunk_text in rows:
        by_doc.setdefault(doc_id, []).append((ci, start, n, chunk_text))
    for i, t in enumerate(texts):
        words = [w for w in t.split(" ") if w != ""]
        chunks = sorted(by_doc.get(i, []))
        if not words:
            assert chunks == []
            continue
        nt = len(words)
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        covered = set()
        for ci, start, n, chunk_text in chunks:
            assert start == ci * CHUNK_STRIDE + 1
            assert 1 <= n <= CHUNK_TOKENS
            assert chunk_text.split(" ") == words[start - 1 : start - 1 + n]
            covered.update(range(start, start + n))
        assert covered == set(range(1, nt + 1)), "token coverage hole"
        # last chunk must reach the end; a further chunk would be empty
        last_start = chunks[-1][1]
        assert last_start <= nt


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]), _doc_text),
        min_size=1,
        max_size=12,
    )
)
def test_sequence_pack_oracle_matches_running_fold(rows):
    """Packing invariants on the oracle: per-source offsets follow the
    running token sum in doc_id order, seq_offset < capacity, and the
    total token count is conserved (no token lost or duplicated)."""
    from trisk_spark.functions.sampling import PACK_CAPACITY, SEQUENCE_PACK_SQL

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, source VARCHAR, text VARCHAR)")
    for i, (src, t) in enumerate(rows):
        con.execute("INSERT INTO documents VALUES (?, ?, ?)", [i, src, t])
    got = con.execute(
        SEQUENCE_PACK_SQL + " ORDER BY source, doc_id"
    ).fetchall()
    run: dict[str, int] = {}
    for doc_id, source, n_tokens, seq_id, seq_offset in got:
        words = [w for w in rows[doc_id][1].split(" ") if w != ""]
        assert n_tokens == len(words)
        start = run.get(source, 0)
        assert seq_id == start // PACK_CAPACITY
        assert seq_offset == start % PACK_CAPACITY
        run[source] = start + n_tokens
    assert len(got) == len(rows), "a document vanished from the packing"


# ------------------------------------------------ PII count staging ---

_pii_text = st.lists(
    st.sampled_from([
        "word", "x.y@z.example.com", "555-1234", "123-45-6789",
        "10.0.0.1", "555-1234@spam.example.net", "9.9.9.9.9", "-", ".",
    ]),
    min_size=0, max_size=12,
).map(" ".join)


@settings(max_examples=80, deadline=None)
@given(_pii_text)
def test_pii_counts_equal_inserted_tags(text):
    """The staged counts (each pattern counted on the PREVIOUS
    redaction stage's output) must equal the number of tags actually
    present in the redacted string — including overlap shapes like a
    phone-shaped email local part, which is an email and only an
    email. Runs the ORACLE (the contract both engines hash-match)."""
    from trisk_spark.functions.text import PII_REDACT_SQL

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, ?)", [text])
    row = con.execute(PII_REDACT_SQL).fetchone()
    doc_id, n_em, n_ssn, n_ph, n_ip, red = row
    assert n_em == red.count("<EMAIL>")
    assert n_ssn == red.count("<SSN>")
    assert n_ph == red.count("<PHONE>")
    assert n_ip == red.count("<IP>")


# ------------------------------------------------------ PQ kernels --

_int8_vec = st.lists(
    st.integers(min_value=-127, max_value=127), min_size=64, max_size=64
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_int8_vec, min_size=1, max_size=12),
    st.lists(_int8_vec, min_size=1, max_size=16),
)
def test_pq_encode_matches_brute_argmin(rows, cwrows):
    # the subspace-blocked encode must agree with a literal per-
    # subspace brute-force argmin (ties to the smallest codeword id),
    # and reconstruction norms with a literal reassembly — on ANY
    # int8 matrix, not just the fixture corpus
    import numpy as np

    from trisk_spark.functions.pq import (
        PQ_DSUB,
        PQ_M,
        _pq_codebook,
        _pq_encode_np,
    )

    Q = np.array(rows, dtype=np.int64)
    cq = np.array(cwrows, dtype=np.int64)
    cb = _pq_codebook(cq)
    codes, recon = _pq_encode_np(Q, cb)
    for i in range(Q.shape[0]):
        rec_parts = []
        for s in range(PQ_M):
            sub = Q[i, s * PQ_DSUB:(s + 1) * PQ_DSUB]
            dists = [
                int(((sub - cb[s][w]) ** 2).sum())
                for w in range(cb.shape[1])
            ]
            want = min(range(len(dists)), key=lambda w: (dists[w], w))
            assert codes[i, s] == want, (i, s, dists)
            rec_parts.append(cb[s][codes[i, s]])
        rec = np.concatenate(rec_parts)
        assert int((rec * rec).sum()) == int(recon[i])


@settings(max_examples=60, deadline=None)
@given(_int8_vec, st.lists(_int8_vec, min_size=1, max_size=16))
def test_pq_adc_identity_on_any_probe(probe, cwrows):
    # ADC lookup-table sum == dot(probe, reconstruction) for every
    # probe/codebook pair — the defining PQ identity, randomized
    import numpy as np

    from trisk_spark.functions.pq import (
        PQ_DSUB,
        PQ_M,
        _pq_codebook,
        _pq_encode_np,
    )

    p = np.array(probe, dtype=np.int64)
    cq = np.array(cwrows, dtype=np.int64)
    cb = _pq_codebook(cq)
    codes, _ = _pq_encode_np(cq, cb)  # encode the codeword rows themselves
    for i in range(cq.shape[0]):
        lut = sum(
            int(cb[s][codes[i, s]] @ p[s * PQ_DSUB:(s + 1) * PQ_DSUB])
            for s in range(PQ_M)
        )
        rec = np.concatenate([cb[s][codes[i, s]] for s in range(PQ_M)])
        assert lut == int(rec @ p)


# ------------------------------------------- upsample epoch arithmetic --


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),  # doc_id
            st.integers(min_value=1, max_value=10**7),          # source tok
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_upsample_epoch_count_matches_duckdb(docs):
    # the fractional-copy decision (60-bit md5 prefix -> ppm bucket vs
    # (factor - floor(factor))·1e6) must agree with DuckDB's identical
    # expression for ANY doc_id and token mass — the exact arithmetic
    # source_upsample/training_plan/pack_plan all key epochs from
    import math

    from trisk_spark.functions.sampling import MAX_EPOCHS, MIX_PPM

    max_tok = max(tok for _, tok in docs)
    for doc_id, tok in docs:
        factor = min(MAX_EPOCHS, max_tok / tok)
        ppm, frac = duckdb.sql(
            f"""SELECT CAST(CONCAT('0x', substr(md5(CAST({doc_id} AS VARCHAR)), 1, 15))
                     AS BIGINT) % {MIX_PPM},
                   LEAST({MAX_EPOCHS}, CAST({max_tok} AS DOUBLE) / {tok})"""
        ).fetchone()
        assert frac == factor  # identical IEEE double on both sides
        # CAST to DOUBLE: a bare float literal parses as DECIMAL in
        # DuckDB (overflows in the ppm multiply); the production SQL
        # reads factor from a DOUBLE column
        want_n = duckdb.sql(
            f"""SELECT CAST(FLOOR(CAST({factor!r} AS DOUBLE)) AS BIGINT)
                 + CASE WHEN CAST(CONCAT('0x', substr(md5(CAST({doc_id} AS VARCHAR)), 1, 15)) AS BIGINT) % {MIX_PPM}
                          < (CAST({factor!r} AS DOUBLE)
                             - FLOOR(CAST({factor!r} AS DOUBLE))) * {MIX_PPM}.0
                        THEN 1 ELSE 0 END"""
        ).fetchone()[0]
        got_n = math.floor(factor) + (
            1 if ppm < (factor - math.floor(factor)) * MIX_PPM else 0
        )
        assert got_n == want_n
        assert 1 <= got_n <= math.ceil(MAX_EPOCHS)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_oracle_replace_equals_greedy_scan(word_rows):
    """The bpe_segment oracle's novel move — greedy left-to-right BPE
    merging as delimiter-wrapped string ``replace`` in DuckDB — must
    equal the textbook greedy scan (``bpe_replay``) on ARBITRARY small
    corpora, not just the shipped ones: tiny alphabets maximize
    repeated/overlapping/self-adjacent pairs (aa+aa chains, merged
    symbols re-pairing), exactly where a replace-based rewrite could
    diverge from the scan."""
    import duckdb

    from trisk_spark.functions.bpe import EOW, bpe_replay, bpe_segment_sql

    word_cnt: dict[str, int] = {}
    for w, c in word_rows:
        word_cnt[w] = word_cnt.get(w, 0) + c

    n_merges = 6
    merges = bpe_replay(word_cnt, n_merges=n_merges)
    # apply the replay's merges with the textbook greedy scan
    seg = {}
    for w in word_cnt:
        syms = list(w) + [EOW]
        for left, right, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        seg[w] = len(syms)

    # one doc per distinct word, repeated cnt times — word_counts of
    # this corpus is exactly word_cnt
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{' '.join([w] * c)}')"
            for i, (w, c) in enumerate(sorted(word_cnt.items()))
        )
        + ") AS t(doc_id, text)"
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(bpe_segment_sql(n_merges=n_merges)).fetchall()
    }
    want = {
        i: (c, c * seg[w])
        for i, (w, c) in enumerate(sorted(word_cnt.items()))
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=10_000),
    k=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=200, deadline=None)
def test_tercile_formula_balanced_and_monotone(n, k):
    """The perplexity-bucket tile formula tile = (k*(rank-1)) // n must
    partition ranks 1..n into k contiguous runs whose sizes differ by
    at most 1 and never skip a tile while earlier tiles are unfilled —
    the pure-arithmetic contract both engines evaluate identically."""
    tiles = [(k * (r - 1)) // n for r in range(1, n + 1)]
    assert tiles == sorted(tiles), "tiles not monotone along the rank"
    assert tiles[0] == 0 and max(tiles) <= k - 1
    sizes = [tiles.count(t) for t in range(k)]
    filled = [s for s in sizes if s]
    assert max(filled) - min(filled) <= 1, (n, k, sizes)
    # when n >= k every tile is non-empty
    if n >= k:
        assert all(sizes), (n, k, sizes)


# ------------------------------------- BM25 exact-rational identity --


@settings(max_examples=300, deadline=None)
@given(
    tf=st.integers(min_value=1, max_value=10_000),
    dl=st.integers(min_value=1, max_value=1_000_000),
    n=st.integers(min_value=1, max_value=10_000_000),
    t=st.integers(min_value=1, max_value=10_000_000_000),
    df=st.integers(min_value=1, max_value=10_000_000),
)
def test_bm25_integer_rearrangement_is_textbook_formula(tf, dl, n, t, df):
    """The engine's all-BIGINT BM25 operands (text.py's family
    comment: sat = 44·tf·T / (20·tf·T + 6·T + 18·dl·N), idf =
    ln((2N+2)/(2df+1))) must BE the textbook Robertson/Lucene formula
    at k1 = 1.2, b = 0.75 — the algebraic scaling by 20·T and the
    (N+1)/(df+0.5) collapse proven over randomized operands, not just
    the corpus the oracles run on."""
    import math

    from hypothesis import assume

    assume(df <= n)
    sat_int = (44 * tf * t) / (20 * tf * t + 6 * t + 18 * dl * n)
    k1, b = 1.2, 0.75
    avgdl = t / n
    sat_txt = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert abs(sat_int - sat_txt) <= 1e-12 * max(1.0, sat_txt)
    idf_int = math.log((2 * n + 2) / (2 * df + 1))
    idf_txt = math.log(1 + (n - df + 0.5) / (df + 0.5))
    assert abs(idf_int - idf_txt) <= 1e-12 * max(1.0, abs(idf_txt))
    # saturation is bounded by k1+1 and monotone-increasing in tf
    assert 0 < sat_int < k1 + 1
    assert sat_int < (44 * (tf + 1) * t) / (20 * (tf + 1) * t + 6 * t + 18 * dl * n)


# ---------------------------------------- DSIR contribution identity --


@settings(max_examples=300, deadline=None)
@given(
    ct=st.integers(min_value=0, max_value=10_000_000),
    cr=st.integers(min_value=0, max_value=10_000_000),
    tt_extra=st.integers(min_value=0, max_value=1_000_000_000),
    tr_extra=st.integers(min_value=0, max_value=1_000_000_000),
)
def test_dsir_contribution_is_log_likelihood_ratio(ct, cr, tt_extra, tr_extra):
    """The single-ln product form ln(((ct+1)/(Tt+B))·((Tr+B)/(cr+1)))
    (sampling.py's family comment) must equal log p_target − log p_raw
    under add-1 smoothing over B buckets, and move the right way:
    up in target evidence, down in raw evidence. Totals are generated
    as count + extra so Tt ≥ ct, Tr ≥ cr by construction."""
    import math

    from trisk_spark.functions.sampling import DSIR_BUCKETS as B

    tt, tr = ct + tt_extra, cr + tr_extra
    one_ln = math.log(((ct + 1) / (tt + B)) * ((tr + B) / (cr + 1)))
    two_ln = math.log((ct + 1) / (tt + B)) - math.log((cr + 1) / (tr + B))
    assert abs(one_ln - two_ln) <= 1e-9 * max(1.0, abs(two_ln))
    up = math.log(((ct + 2) / (tt + B)) * ((tr + B) / (cr + 1)))
    down = math.log(((ct + 1) / (tt + B)) * ((tr + B) / (cr + 2)))
    assert up > one_ln > down


# ------------------------------------------- scaled-integer L2 norm --


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-10.0, max_value=10.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_scaled_integer_norm_tracks_true_l2(vec):
    """embedding_health's norm — sqrt of the FLOOR(x·1e6)² BIGINT fold,
    rounded back to micro-units — must sit within the flooring error
    bound of the true L2 norm: per element the scaled value is off by
    < 1 micro-unit, so the norm is off by < sqrt(dim) micro-units
    (triangle inequality), plus the half-unit final rounding."""
    import math

    micro = [math.floor(x * 1_000_000) for x in vec]
    n2 = sum(m * m for m in micro)
    nm = round(math.sqrt(float(n2)))  # micro-units
    true_norm = math.sqrt(sum(x * x for x in vec))
    bound = math.sqrt(len(vec)) + 0.5  # micro-units
    assert abs(nm - true_norm * 1_000_000) <= bound + 1e-6 * true_norm * 1e6
