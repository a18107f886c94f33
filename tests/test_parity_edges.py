"""Edge-input parity regressions from the round-5 code review: inputs
the driver-generated corpora happen not to contain today (half-cent
values, NULL values, empty documents, degenerate embedding corpora) but
whose schemas allow — each was a latent engine-vs-oracle divergence.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from trisk_spark.registry import load_all

from .conftest import assert_matches_oracle

QUERIES = load_all()
# retired-to-library rows (tpch_q10) keep their plan/parity pins here
from trisk_spark.registry import load_library  # noqa: E402

QUERIES.update({n: q for n, q in load_library().items() if n not in QUERIES})

_T0 = datetime.datetime(2024, 1, 1)


def _write_events(tmp_path, rows):
    """rows: (event_id, minutes_offset, user_id, event_type, value
    [, props])."""
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [_T0 + datetime.timedelta(minutes=r[1]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(
                [r[5] if len(r) > 5 else "{}" for r in rows], pa.string()
            ),
        }
    )
    pq.write_table(tab, tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    return con


def test_time_evictor_hour_bound_is_sub_second(spark, tmp_path):
    # an event 3600.3 s back is outside the trailing hour: a frame over
    # whole seconds (unix_timestamp) counted it as inside
    qd = QUERIES["time_evictor_window"]
    con = _write_events(
        tmp_path,
        [
            (1, 0, 7, "view", 1.0),
            (2, 3600.3 / 60, 7, "view", 2.0),
            (3, 7200.2 / 60, 7, "view", 4.0),
        ],
    )
    got = sorted(tuple(r) for r in qd.fn(spark, str(tmp_path)).collect())
    assert got == [(7, 1, 1, 1.0), (7, 2, 1, 2.0), (7, 3, 2, 6.0)]
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_delta_trigger_half_cent_rounding(spark, tmp_path):
    # value*100 landing exactly on .5 (e.g. 0.125 -> 12.5): pandas
    # .round() is half-to-even, DuckDB/Spark ROUND half-away-from-zero —
    # the kernel must use the shared half-away helper or fire decisions
    # diverge right at the threshold
    rows = [
        (1, 0, 7, "view", 0.125),     # 12.5 -> 13 half-away, 12 banker's
        (2, 1, 7, "view", 30.125),    # 3012.5 -> 3013 vs 3012
        (3, 2, 7, "view", 0.135),     # 13.5 -> 14 vs 14 (even)
        (4, 3, 7, "view", 60.255),
        (5, 4, 8, "view", 0.005),     # 0.5 -> 1 vs 0
        (6, 5, 8, "view", 30.005),
    ]
    con = _write_events(tmp_path, rows)
    qd = QUERIES["delta_trigger"]
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_asof_join_null_value_quote(spark, tmp_path):
    # a purchase with NULL value must still become the latest quote
    # (its id matched, value NULL) — two independent last(ignorenulls)
    # windows would stitch the new id to the OLD value (chimera row)
    rows = [
        (1, 0, 7, "purchase", 5.0),
        (2, 10, 7, "purchase", None),
        (3, 20, 7, "click", 1.0),
        (4, 5, 9, "click", 1.0),      # click with no prior purchase
    ]
    con = _write_events(tmp_path, rows)
    qd = QUERIES["asof_join"]
    out = {r.click_id: (r.quote_id, r.quote_value)
           for r in qd.fn(spark, str(tmp_path)).collect()}
    assert out[3] == (2, None), "NULL-value quote not matched whole-row"
    assert out[4] == (None, None)
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_asof_stream_null_value_quote(spark, tmp_path):
    # the streaming twin carries the NULL through state, not a crash
    from trisk_spark.streaming.sources import checkpoint_dir
    from trisk_spark.streaming.state import asof_stream

    rows = [
        (1, 0, 7, "purchase", 5.0),
        (2, 10, 7, "purchase", None),
        (3, 20, 7, "click", 1.0),
    ]
    _write_events(tmp_path, rows)
    # file-stream source wants a directory; tmp_path holds only the
    # events parquet
    stream = spark.readStream.schema(
        spark.read.parquet(f"{tmp_path}/events.parquet").schema
    ).parquet(str(tmp_path))
    emitted = []

    q = (
        asof_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", checkpoint_dir("asof-null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.click_id, r.quote_id, r.quote_value) for r in emitted}
    assert got == {(3, 2, None)}


def test_media_byte_features_empty_document(spark, tmp_path):
    # empty text must histogram to all zeros on both engines (the first
    # oracle counted a phantom bin0 byte via string_split('','')→[''];
    # the hex-slice oracle's range(1,1) yields no rows by construction)
    docs = {
        "doc_id": [1, 2],
        "text": ["", "abc"],
        "lang": ["en"] * 2,
        "source": ["fixture"] * 2,
        "n_chars": [0, 3],
    }
    pq.write_table(pa.table(docs), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    qd = QUERIES["media_byte_features"]
    rows = {r.doc_id: r for r in qd.fn(spark, str(tmp_path)).collect()}
    assert rows[1].n_bytes == 0 and rows[1].bin0 == 0
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_cosine_lsh_degenerate_conf_reaches_production_path(spark):
    # the spillable row_number cap must be wirable without code: the
    # session conf flips the registered query onto the window path
    import re

    from .test_plans import static_plan

    key = "spark.trisk.cosineLsh.expectDegenerate"
    spark.conf.set(key, "true")
    try:
        plan = static_plan(spark, "cosine_near_dup_lsh")
        assert re.findall(r"^\(\d+\) Window$", plan, __import__("re").M), (
            "conf did not reach the degenerate path"
        )
    finally:
        spark.conf.set(key, "false")


def test_media_byte_features_non_ascii_bytes(spark, tmp_path):
    # the byte histogram is over UTF-8 BYTES; a per-char ascii() oracle
    # would count codepoints instead. 'héllo…' has 2- and 3-byte chars.
    texts = ["héllo…", "", "plain ascii"]
    docs = {
        "doc_id": [1, 2, 3],
        "text": texts,
        "lang": ["xx"] * 3,
        "source": ["fixture"] * 3,
        "n_chars": [len(t) for t in texts],
    }
    pq.write_table(pa.table(docs), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    qd = QUERIES["media_byte_features"]
    rows = {r.doc_id: r for r in qd.fn(spark, str(tmp_path)).collect()}
    assert rows[1].n_bytes == len(texts[0].encode())  # 9 bytes, 7 chars
    assert rows[1].bin7 > 0, "multibyte continuation bytes not counted"
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_media_frame_oracle_ascii_boundary(spark):
    """MEDIA_FRAME_SAMPLE_SQL's oracle slices text as VARCHAR, which is
    byte-exact ONLY for pure-ASCII corpora (DuckDB v1.0.0 has no
    md5(BLOB), so a byte-exact frame-hash oracle is inexpressible). If
    this guard ever fails, the driver corpus grew non-ASCII text: move
    media_frame_sample to a rows-only oracle or redefine frame_md5 as
    md5-of-hex on both engines before trusting its parity row."""
    from trisk_spark.catalog import table as _table

    from pyspark.sql import functions as F

    non_ascii = (
        _table(spark, SF_DIR := "/root/testdata/sf0.01", "documents")
        .where(F.octet_length("text") != F.length("text"))
        .count()
    )
    assert non_ascii == 0, (
        "documents corpus is no longer pure ASCII — media_frame_sample's "
        "char-sliced oracle is now unsound; see this test's docstring"
    )


_TEXT_FAMILY = [
    "token_count", "quality_score", "lang_id", "doc_fingerprint",
    "dedup_exact", "dedup_bag", "dedup_minhash_lsh", "dedup_simhash",
    "ngram_jaccard", "ngram_counts", "repetition_ratio",
    "media_byte_features", "media_metadata", "dedup_substring",
    "train_split", "split_rollup", "source_quality_rollup",
    "decontaminate_flags", "media_frame_sample",
    "pii_redact", "url_normalize", "wordcount", "wordcount_two_input",
    "dedup_clusters", "sequence_pack", "length_percentiles",
    "doc_chunk", "source_cap_sample", "curation_manifest",
    "bpe_token_estimate", "bigram_lm_score", "media_decode_checksum",
    "keyword_extract", "source_mix_sample", "bpe_segment",
]


@pytest.fixture(scope="module")
def hostile_docs(tmp_path_factory):
    """NULL, empty, whitespace-only, and sub-shingle-length documents —
    every one allowed by the schema, none present in the driver
    corpora. Round-5 finds fixed here: Spark sequence(1,0) descending
    emitted phantom NULL shingles for short docs; DuckDB
    array_to_string([]) is NULL vs Spark concat_ws '' for word-less
    bags; ANSI division by zero in quality_score; NULL blobs crashing
    media kernels."""
    tmp = tmp_path_factory.mktemp("hostile-docs")
    docs = {
        "text": [
            "alpha beta gamma delta epsilon words here now",
            None,
            "alpha beta gamma delta epsilon words here now",
            "",
            "two words",
            "   ",
            # natural PII in the text body (not just the derived
            # contact line) — exercises every redaction pattern plus
            # the SSN-before-phone ordering on an SSN-shaped id, and a
            # messy URL for url_normalize's text-independence check
            "mail a.b-c%d@Sub.Example.ORG or 555-1234 ssn 123-45-6789 "
            "host 192.168.0.1 see HTTPS://WWW.Foo.COM:443/A/?ref=x#f",
            # NULL lang + NULL source: url_normalize's coalesce paths,
            # source_quality_rollup's NULL group
            "plain words only",
            # NULL doc_id: Spark windows order NULL keys FIRST, DuckDB
            # LAST — any doc_id-ordered window op (sequence_pack,
            # source_cap_sample) diverges unless NULL ids are excluded
            # on both engines
            "null id words here",
            # NEGATIVE doc_id: % 3 + 1 hits array index 0 in the media
            # view (ANSI element_at throws; DuckDB indexes from the
            # END) — the person-state crash class on the documents side
            "negative id words",
            # r7 curation probes (VERDICT item 8):
            # a MULTI-document NULL-source shard with PACK_CAPACITY-
            # boundary documents — sequence_pack must group the NULL
            # shard identically on both engines AND roll seq_id over
            # exactly at the 2048-token boundary (doc 10 is exactly
            # capacity-sized, doc 11 one over); source_cap_sample's
            # md5-order rank runs inside the NULL shard too
            " ".join(f"t{i}" for i in range(2048)),
            " ".join(f"u{i}" for i in range(2049)),
            # long enough for a real image row (doc_id 12 % 3 == 0,
            # width 96, img_h 3) so media_decode_checksum's hostile
            # path decodes real pixels, not an empty result
            "abcdefgh " * 34,
            # a source ('h') whose n_chars are ALL NULL: Spark
            # percentile and DuckDB quantile_cont must both yield a
            # NULL-percentile row, not drop the group
            "all null chars one",
            "all null chars two",
            # partial-NULL n_chars inside source 'g'
            "partial null chars",
            # single-token doc in bigram_lm_score's REFERENCE slice
            # (doc_id % 10 == 0): no bigrams, but its token still
            # belongs to the vocabulary — an engine counting distinct
            # tokens over bigram members only would compute V one low
            "solotoken",
        ],
        "doc_id": [1, 2, 3, 4, 5, 6, 7, 8, None, -6, 10, 11, 12, 13, 14, 15, 20],
        "lang": ["en"] * 6 + [None, None, "en", "en"] + ["en"] * 7,
        "source": ["f"] * 6 + ["g", None, "f", "f"]
        + [None, None, None, "h", "h", "g", "f"],
        "n_chars": [45, 0, 45, 0, 9, 3, 103, 16, 18, 17]
        + [12000, 12010, 306, None, None, None, 9],
    }
    pq.write_table(pa.table(docs), tmp / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp}/documents.parquet')"
    )
    return str(tmp), con


@pytest.mark.parametrize("name", _TEXT_FAMILY)
def test_text_family_parity_on_hostile_corpus(spark, hostile_docs, name):
    sf_dir, con = hostile_docs
    qd = QUERIES[name]
    assert_matches_oracle(qd.fn(spark, sf_dir), con, qd.oracle)


_EVENTS_FAMILY = [
    "nexmark_q1", "nexmark_q2", "nexmark_q3", "nexmark_q5", "nexmark_q8",
    "nexmark_q11", "keyed_agg", "tumbling_window_agg",
    "decimal_accumulators", "props_rollup", "interval_join", "asof_join",
    "minby_maxby", "cogroup_apply", "count_window", "sliding_count_window",
    "time_evictor_window", "delta_trigger", "delta_evictor_window",
    "continuous_trigger", "purging_trigger", "async_enrich",
    "fraud_alerts", "q3_emit_once_join", "keyed_running_reduce",
    "all_window_agg", "ts_subsequence_match", "ts_subsequence_sax",
]


@pytest.fixture(scope="module")
def hostile_events(tmp_path_factory):
    """Events with NULL ts / user_id / event_type / value / props and a
    half-cent value — schema-legal shapes absent from the driver
    corpora. Round-5 finds fixed here: NULL-ts ordering (Spark NULLS
    FIRST vs DuckDB NULLS LAST) skewing every ts-ordered window; NULL
    measurements flipping struct-argmin/argmax between engines; the
    delta kernel crashing on NULL keys and values; phantom NULL-window
    groups in unfiltered window oracles."""
    tmp = tmp_path_factory.mktemp("hostile-events")
    rows = [
        (i, _T0 + datetime.timedelta(minutes=i), i % 5,
         ["view", "click", "purchase", "signup"][i % 4], 10.0 + i, '{"k": 1}')
        for i in range(40)
    ]
    rows += [
        (100, None, 1, "view", 5.0, "{}"),
        (101, _T0, None, "click", 5.0, "{}"),
        (102, _T0, 2, None, 5.0, "{}"),
        (103, _T0, 3, "purchase", None, "{}"),
        (104, _T0, 4, "view", 7.0, None),
        (105, _T0 + datetime.timedelta(minutes=2), 2, "view", 0.125, "{}"),
        # round-6 asof/emit-once NULL-key shapes: a NULL-ts purchase must
        # not become a matchable "earliest" quote (Spark sorts NULL ts
        # FIRST in a running-last window), a NULL-ts click must not probe,
        # and NULL-user purchase/signup/auction rows must not co-group
        # with NULL-user clicks (SQL's joins never match NULL keys)
        (106, None, 1, "purchase", 9.0, "{}"),
        (107, None, 1, "click", 1.0, "{}"),
        (108, _T0 + datetime.timedelta(minutes=1), None, "purchase", 9.0, "{}"),
        (109, _T0, None, "signup", 0.0, "{}"),
        (114, _T0 + datetime.timedelta(minutes=1), None, "view", 1.0, "{}"),
        # round-6: NEGATIVE user_id / value — user_id % 10 + 1 hits 0,
        # where Spark's element_at ERRORS (ANSI "indices start at 1")
        # but DuckDB's list[0] quietly returns NULL; negative values
        # probe sign-sensitive rounding and running aggregates
        (115, _T0 + datetime.timedelta(minutes=3), -1, "view", -2.5, "{}"),
        (116, _T0 + datetime.timedelta(minutes=4), -11, "click", -0.125, "{}"),
        # negative-user signup/purchase: reaches the person-view state
        # derivation (element_at on user_id % 10 + 1) and the matchmaker
        (117, _T0 + datetime.timedelta(minutes=5), -1, "signup", 1.0, "{}"),
        (118, _T0 + datetime.timedelta(minutes=6), -11, "purchase", 3.0, "{}"),
    ]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tab, tmp / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp}/events.parquet')"
    )
    return str(tmp), con


@pytest.mark.parametrize("name", _EVENTS_FAMILY)
def test_events_family_parity_on_hostile_corpus(spark, hostile_events, name):
    sf_dir, con = hostile_events
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf_dir)
    if qd.oracle is None:
        sdf.collect()  # kernels must at least not crash on hostile rows
        return
    assert_matches_oracle(sdf, con, qd.oracle)


_SIM_FAMILY = [
    "knn_bruteforce", "cosine_near_dup_exact", "cosine_near_dup_lsh",
    "ann_lsh_bucketed", "ann_ivf", "knn_label_vote", "ivf_refine",
    "ivf_refine_iters", "embed_quantize_int8", "ann_ivf_int8",
    "dedup_semantic", "pq_encode", "ann_ivf_pq",
]

_DIM = 64


@pytest.fixture(scope="module")
def hostile_embeddings(tmp_path_factory):
    """Embeddings with every schema-legal-but-degenerate shape the
    driver corpus lacks: NULL embedding, zero vector, all-|x|<1e-6
    vector (floors to a zero SCALED vector — zero norm after scaling
    even though the raw floats are nonzero), wrong-length vector, empty
    vector, NULL element, NULL vec_id, NULL label. Each was a latent
    engine-vs-oracle divergence: DuckDB's list_sum skips NULL-padded
    products where Spark's aggregate() propagates NULL, and 0/0 cosines
    rank as NULL rows in top-k windows."""
    import random

    rng = random.Random(42)
    ids: list[int | None] = []
    vecs: list[list[float | None] | None] = []
    labels: list[int | None] = []

    def add(i, v, lab):
        ids.append(i)
        vecs.append(v)
        labels.append(lab)

    for i in range(44):
        add(i, [rng.uniform(-0.3, 0.3) for _ in range(_DIM)], i % 5)
    # planted near-dup pair (cosine ~1) to put rows over NEAR_DUP_COS
    base = vecs[40]
    vecs[41] = [x + rng.uniform(-0.005, 0.005) for x in base]
    add(100, None, 1)                               # NULL embedding
    add(101, [0.0] * _DIM, 2)                       # zero vector
    add(102, [1e-9] * _DIM, 3)                      # sub-scale -> zero norm
    add(103, [0.1] * (_DIM // 2), 4)                # wrong length
    add(104, [], 0)                                 # empty vector
    add(105, [0.1] * 10 + [None] + [0.1] * (_DIM - 11), 1)  # NULL element
    add(None, [0.2] * _DIM, 2)                      # NULL vec_id
    add(106, [rng.uniform(-0.3, 0.3) for _ in range(_DIM)], None)  # NULL label
    # negative vec_id (r6): rank/probe/centroid orderings must agree
    add(-7, [rng.uniform(-0.3, 0.3) for _ in range(_DIM)], 3)

    tmp = tmp_path_factory.mktemp("hostile-emb")
    tab = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(tab, tmp / "embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp}/embeddings.parquet')"
    )
    return str(tmp), con


@pytest.mark.parametrize("name", _SIM_FAMILY)
def test_similarity_family_parity_on_hostile_corpus(
    spark, hostile_embeddings, name
):
    sf_dir, con = hostile_embeddings
    qd = QUERIES[name]
    assert_matches_oracle(qd.fn(spark, sf_dir), con, qd.oracle)


def test_hostile_embeddings_still_produce_results(spark, hostile_embeddings):
    # the validity gate must drop ONLY the 7 degenerate rows — the 46
    # valid vectors (incl. the negative-id one, which is also a probe
    # since -7 < N_PROBES) still rank, pair, and vote
    sf_dir, _ = hostile_embeddings
    knn = QUERIES["knn_bruteforce"].fn(spark, sf_dir).collect()
    assert {r.query_id for r in knn} == set(range(5)) | {-7}
    assert all(
        len([r for r in knn if r.query_id == q]) == 10
        for q in list(range(5)) + [-7]
    )
    pairs = QUERIES["cosine_near_dup_exact"].fn(spark, sf_dir).collect()
    assert any({r.vec_a, r.vec_b} == {40, 41} for r in pairs), (
        "planted near-dup pair must survive the validity gate"
    )


# ------------------------------------------ hostile relational corpus --

_RELATIONAL_FAMILY = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q7", "tpch_q10",
    "tpch_q14", "tpch_q18", "top_orders_per_customer", "revenue_rollup",
    "semi_join_orders", "customers_without_orders",
]


@pytest.fixture(scope="module")
def hostile_relational(tmp_path_factory):
    """The real sf0.001 TPC-H tables plus schema-legal hostile rows the
    generated corpora never contain: NULL join keys (o_custkey,
    l_orderkey, c_custkey), NULL dates, NULL measures, NULL group-by
    columns (l_returnflag/l_linestatus for the ROLLUP NULL-vs-subtotal
    ambiguity, o_orderpriority, c_nationkey), price ties inside one
    customer's top-3 window, dangling foreign keys both directions, and
    a NULL p_type against Q14's LIKE. Every relational-family query must
    agree with DuckDB on this corpus — the r4 breakage class (NULL
    probing) applied to the join/agg family."""
    import shutil

    tmp = tmp_path_factory.mktemp("hostile-rel")
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "supplier", "part", "customer",
              "orders", "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", tmp / f"{t}.parquet")

    def _append(name, rows):
        path = tmp / f"{name}.parquet"
        tab = pq.read_table(path)
        extra = pa.table(
            {c: pa.array([r[i] for r in rows], tab.schema.field(c).type)
             for i, c in enumerate(tab.schema.names)}
        )
        pq.write_table(pa.concat_tables([tab, extra]), path)

    d = datetime.datetime(1996, 6, 1)
    # orders: (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
    #          o_orderdate, o_orderpriority)
    _append("orders", [
        (900001, None, "O", 111.11, d, "1-URGENT"),      # NULL custkey
        (900002, 1, None, None, None, None),             # NULL everything else
        (None, 2, "F", 222.22, d, "2-HIGH"),             # NULL orderkey
        (900004, 3, "O", 5555.55, d, "3-MEDIUM"),        # tie pair a
        (900005, 3, "O", 5555.55, d, "3-MEDIUM"),        # tie pair b
        (900006, 999999, "O", 333.33, d, "4-NOT SPEC"),  # dangling custkey
        (-900007, -5, "O", -44.44, d, "5-LOW"),          # negative keys/price
    ])
    # lineitem: (l_orderkey, l_partkey, l_suppkey, l_linenumber,
    #            l_quantity, l_extendedprice, l_discount, l_tax,
    #            l_returnflag, l_linestatus, l_shipdate)
    _append("lineitem", [
        (None, 1, 1, 1, 5.0, 1000.0, 0.06, 0.02, "N", "O", d),   # NULL orderkey
        (900001, 1, 1, 1, None, None, None, None, None, None, None),  # NULL msrs
        (900002, None, None, 2, 10.0, 2000.0, 0.07, 0.03, None, None, d),
        (999990, 2, 2, 1, 3.0, 500.0, 0.05, 0.01, "R", "F", d),  # dangling order
        (900004, 2, 2, 1, 0.0, 0.0, 0.0, 0.0, "A", "F", d),      # zero measures
        # negative quantity/price/discount (returns/credits shapes)
        (-900007, 2, 2, 1, -3.0, -500.0, -0.05, 0.01, "R", "F", d),
    ])
    # customer: (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    _append("customer", [
        (None, "cust-null-key", 1, 100.0, "BUILDING"),   # NULL custkey
        (880001, "cust-null-rest", None, None, None),    # NULL nation/bal/seg
        (880002, "cust-no-orders", 2, 50.0, "MACHINERY"),
    ])
    _append("supplier", [(None, "supp-null-key", None, None)])
    _append("part", [(770001, "part-null-type", "Brand#00", None, None, None)])
    _append("nation", [(None, "NULLLAND", None)])

    con = duckdb.connect()
    for t in ("region", "nation", "supplier", "part", "customer",
              "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')"
        )
    return str(tmp), con


@pytest.mark.parametrize("name", _RELATIONAL_FAMILY)
def test_relational_family_parity_on_hostile_corpus(
    spark, hostile_relational, name
):
    sf_dir, con = hostile_relational
    qd = QUERIES[name]
    assert_matches_oracle(qd.fn(spark, sf_dir), con, qd.oracle)


def test_normalize_url_preserves_non_tracking_params(spark):
    # r6 review finds: an unanchored '(utm_|ref)=' regex ate 'href='
    # suffixes and fused adjacent keys; consecutive tracking params
    # must also vanish in one pass (replaceAll resumes after a match)
    from pyspark.sql import functions as F

    from trisk_spark.functions.text import normalize_url_col

    cases = [
        ("https://x.org/p?href=foo&a=1", "https://x.org/p?href=foo&a=1"),
        ("https://x.org/p?pref=1&xref=2", "https://x.org/p?pref=1&xref=2"),
        ("https://x.org/p?utm_a=1&utm_b=2&utm_c=3", "https://x.org/p"),
        ("https://x.org/p?utm_a=1&id=5&ref=x&z=2", "https://x.org/p?id=5&z=2"),
        ("https://x.org/p?ref=only", "https://x.org/p"),
        ("HTTP://WWW.Foo.COM:80/A?ref=x#f", "http://foo.com/A"),
        ("https://a.b:443/", "https://a.b/"),
    ]
    df = spark.createDataFrame(cases, "raw string, want string").select(
        "want", normalize_url_col(F.col("raw")).alias("got")
    )
    for r in df.collect():
        assert r.got == r.want, f"{r.got!r} != {r.want!r}"


def test_decode_pgm_accepts_any_8bit_maxval():
    # spec-conforming P5 with maxval < 255 is still one byte per pixel
    import numpy as np

    from trisk_spark.functions.multimodal import decode_pgm

    img = decode_pgm(b"P5\n2 2\n100\n" + bytes([0, 50, 99, 100]))
    assert img is not None and img.shape == (2, 2)
    assert img.tolist() == [[0, 50], [99, 100]]
    # maxval >= 256: two-byte big-endian samples, scaled by maxval
    # (was a None -> silent canvas fallback before r7)
    img16 = decode_pgm(b"P5\n2 2\n256\n" + bytes([0, 0, 1, 0, 0, 128, 1, 0]))
    assert img16 is not None and img16.dtype == np.uint8
    assert img16.tolist() == [
        [0, (256 * 255) // 256], [(128 * 255) // 256, (256 * 255) // 256]
    ]
    assert decode_pgm(b"P5\n2 2\n0\n" + bytes(4)) is None


def test_props_rollup_hostile_json_payloads(spark, tmp_path):
    # schema-legal-but-hostile props: malformed JSON ERRORS DuckDB's
    # json_extract_string while Spark NULLs; a float/non-numeric k
    # ROUNDS or ERRORS under DuckDB's CAST while Spark NULLs — both
    # engines must gate identically (json_valid + integral regex)
    rows = [
        (1, 0, 7, "view", 1.0, '{"k": 7}'),
        (2, 1, 7, "view", 1.0, "{bad json"),
        (3, 2, 7, "view", 1.0, None),
        (4, 3, 7, "view", 1.0, '{"k": 2.9}'),
        (5, 4, 8, "click", 1.0, '{"k": "notnum"}'),
        (6, 5, 8, "click", 1.0, '{"k": null}'),
        (7, 6, 8, "click", 1.0, "[]"),
        (8, 7, 8, "click", 1.0, '{"k": -12}'),
        (9, 8, 9, "buy", 1.0, '"str"'),
        # shapes where the two JSON PARSERS disagree (lenient Spark vs
        # strict DuckDB) — the regex extraction must treat identically:
        (10, 9, 9, "buy", 1.0, "{'k': 7}"),          # single quotes
        (11, 10, 9, "buy", 1.0, '{"k": 7} trailing'),  # trailing garbage
        (12, 11, 9, "buy", 1.0, '{"k": 7,}'),        # trailing comma
        (13, 12, 9, "buy", 1.0, '{"k": 7\n}'),       # newline after digits
        # 20-digit integral k: passes a naive integral regex but the
        # ANSI cast hard-fails BOTH engines — digits are bounded at 18
        (14, 13, 9, "buy", 1.0, '{"k": 99999999999999999999}'),
    ]
    con = _write_events(tmp_path, rows)
    qd = QUERIES["props_rollup"]
    out = {r.event_type: (r.n, r.k_total, r.k_min, r.k_max)
           for r in qd.fn(spark, str(tmp_path)).collect()}
    assert out["view"] == (4, 7, 7, 7), "only the integral k may count"
    assert out["click"] == (4, -12, -12, -12)
    # regex extraction: rows 10-13 all carry a plainly-integral "k"->7
    # (the single-quoted payload has no \"k\" so it does NOT match);
    # the 20-digit row is out of bounds -> NULL
    assert out["buy"] == (6, 21, 7, 7)
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_bid_price_nan_inf_values(spark, tmp_path):
    # a NaN or Infinity measurement must become a NULL price, not an
    # ANSI cast error (CAST(NaN AS BIGINT) hard-fails BOTH engines);
    # NaN/Inf stay raw in `value`-aggregating queries, which both
    # engines propagate identically — only the cents casts need guards
    rows = [
        (1, 0, 7, "view", 1.25),
        (2, 1, 7, "view", float("nan")),
        (3, 2, 7, "view", float("inf")),
        (4, 3, 7, "view", float("-inf")),
        (5, 4, 8, "view", None),
        # finite but huge: *100 overflows BIGINT — the ANSI cast would
        # hard-fail both engines without the magnitude bound
        (6, 5, 8, "view", 1.0e18),
    ]
    con = _write_events(tmp_path, rows)
    for name in ("nexmark_q1", "nexmark_q2"):
        qd = QUERIES[name]
        assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)
    q1 = {r.auction: r.price_eur
          for r in QUERIES["nexmark_q1"].fn(spark, str(tmp_path)).collect()}
    assert all(q1[a] is None for a in (2, 3, 4, 6))


@pytest.mark.slow
def test_substring_dedup_caps_fingerprints_on_huge_documents(spark, tmp_path):
    # a multi-MB document must cost O(SUBSTR_MAX_CHARS) fingerprint
    # memory, not O(len): only the first cap-window is fingerprinted
    # (identical on both engines), so a duplicate run INSIDE the cap
    # still pairs while one starting beyond it is (documented) missed
    from trisk_spark.functions.dedup import SUBSTR_MAX_CHARS

    shared = "the very same forty-plus character duplicated run " * 2
    big_a = shared + "a" * (SUBSTR_MAX_CHARS * 2)
    big_b = shared + "b" * (SUBSTR_MAX_CHARS * 2)
    # duplicate run hidden BEYOND the cap in otherwise-unique prefixes
    tail_a = "x" * SUBSTR_MAX_CHARS + " zz " + shared
    tail_b = "y" * SUBSTR_MAX_CHARS + " qq " + shared
    docs = {
        "doc_id": [1, 2, 3, 4],
        "text": [big_a, big_b, tail_a, tail_b],
        "lang": ["en"] * 4,
        "source": ["f"] * 4,
        "n_chars": [len(big_a), len(big_b), len(tail_a), len(tail_b)],
    }
    pq.write_table(pa.table(docs), tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    qd = QUERIES["dedup_substring"]
    got = {(r.doc_a, r.doc_b) for r in qd.fn(spark, str(tmp_path)).collect()}
    assert (1, 2) in got, "in-cap duplicate run must still pair"
    assert (3, 4) not in got, "beyond-cap run should be (documented) missed"
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_bigram_lm_model_size_guard_fires(spark):
    # the LM broadcast must fail LOUDLY past the ceiling instead of
    # silently building an over-broadcast plan (VERDICT r7 #8): the
    # guard rides the vocab aggregate (total reference tokens upper-
    # bound the c12/c1 row counts) — no extra scan
    import pytest

    from trisk_spark.functions.text import bigram_lm_score

    from .conftest import SF_DIR

    with pytest.raises(Exception, match="model too large"):
        bigram_lm_score(spark, SF_DIR, max_model_rows=3).collect()
    # default ceiling: untouched behavior
    assert bigram_lm_score(spark, SF_DIR).count() > 0


def test_source_mix_sample_moves_toward_uniform_budget(spark, tmp_path):
    # a corpus with one oversized source must downsample it toward the
    # uniform token budget while undersized sources keep everything
    # (rate exactly 1.0), and the keep decision must be reproducible
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.registry import load_all

    from .conftest import assert_matches_oracle

    rows = []
    for i in range(400):  # 'web' dominates: ~20 tokens per doc
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(20)), "web"))
    for i in range(400, 420):  # small curated source
        rows.append((i, " ".join(f"c{i}x{j}" for j in range(20)), "books"))
    docs = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array([r[2] for r in rows]),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    qd = load_all()["source_mix_sample"]
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)

    out = {r.source: r for r in qd.fn(spark, str(tmp_path)).collect()}
    # target = 8400/2 = 4200 tokens; web has 8000 -> rate 0.525
    assert out["books"].rate == 1.0 and out["books"].n_kept == 20
    assert 0.4 < out["web"].rate < 0.65
    # the hash sample should land near rate * n_docs (ppm hashing is
    # uniform-ish; wide tolerance, this is not a statistical test)
    assert 120 <= out["web"].n_kept <= 300
    assert out["web"].tokens_kept == out["web"].n_kept * 20
    # deterministic: a second run keeps the identical sample
    again = {r.source: r for r in qd.fn(spark, str(tmp_path)).collect()}
    assert {s: (r.n_kept, r.tokens_kept) for s, r in out.items()} == {
        s: (r.n_kept, r.tokens_kept) for s, r in again.items()
    }


def test_ts_kernel_cents_overflow_guard_fires(spark):
    # the numpy int64 sum-of-squares in the time-series kernels must
    # fail LOUDLY past the int64 bound instead of silently wrapping
    # (ADVICE r8: Spark's ANSI fold throws, DuckDB promotes to
    # HUGEINT, numpy wraps — a silent three-engine divergence)
    import numpy as np
    import pytest as _pytest

    from trisk_spark.functions.timeseries import (
        TS_WINDOW,
        _check_cents_bound,
        ts_candidate_distances_gemm,
        ts_sax_windows_gemm,
    )

    big = 10**9  # dim * big^2 = 1.6e19 > 2^63
    _check_cents_bound(np.array([[1, -5, 7]], dtype=np.int64))  # fine
    with _pytest.raises(OverflowError, match="bound exceeded"):
        _check_cents_bound(np.array([[big]], dtype=np.int64))

    raw = spark.createDataFrame(
        [(1, 0, [big + i for i in range(TS_WINDOW)])],
        "user_id long, seq long, w array<long>",
    )
    with _pytest.raises(Exception, match="bound exceeded"):
        ts_sax_windows_gemm(spark, raw).collect()
    probe = [(0, 0.0, 1.0, list(range(TS_WINDOW)))]
    with _pytest.raises(Exception, match="bound exceeded"):
        ts_candidate_distances_gemm(spark, raw, probe).collect()


def test_ts_motif_discord_planted_and_hostile(spark, tmp_path):
    """Matrix-profile discovery on a crafted corpus: a planted repeat
    (two identical non-overlapping windows → the motif, exact dist2 0)
    and a planted spike (→ the discord), amid hostile series shapes —
    constant values (sd=0, every window excluded), too-few events (no
    windows), too-few windows (no non-overlapping pair), NULL ids and
    values, and GAPPED event ids (seq arithmetic over-admits pairs the
    row-position exclusion zone must reject — rn, not seq, is the
    overlap test). Value assertions AND full DuckDB parity."""
    import duckdb as _duckdb

    from trisk_spark.functions.timeseries import (
        TS_DISCORD_SQL,
        TS_MOTIF_SAX_SQL,
        TS_MOTIF_SQL,
        TS_WINDOW,
        ts_discord,
        ts_motif,
        ts_motif_sax,
    )

    pattern = [(((i * 29) % 41) - 20) / 100.0 for i in range(TS_WINDOW)]
    noise = lambda i: (((i * i * 13 + i * 7) % 101) - 50) / 100.0  # noqa: E731
    rows = []
    seqs7 = []
    for i in range(90):  # user 7: the target series, gapped event ids
        seq = 1000 + i * 7 + (i % 3)
        seqs7.append(seq)
        if 10 <= i < 10 + TS_WINDOW:
            v = pattern[i - 10]
        elif 50 <= i < 50 + TS_WINDOW:
            v = pattern[i - 50]
        elif 75 <= i < 79:
            v = 80.0 + i  # the spike: no other stretch looks like it
        else:
            v = noise(i)
        rows.append((seq, _T0 + datetime.timedelta(minutes=i), 7, "view", v))
    rows += [(2000 + i, _T0, 1, "view", 3.25) for i in range(40)]  # constant
    rows += [(3000 + i, _T0, 2, "view", noise(i)) for i in range(10)]  # <W
    rows += [  # exactly W+5 events: windows exist, no pair is W apart
        (4000 + i, _T0, 3, "view", noise(i + 17)) for i in range(TS_WINDOW + 5)
    ]
    rows += [(5000, _T0, None, "view", 1.0), (5001, _T0, 4, "view", None),
             (None, _T0, 4, "view", 1.0)]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tab, tmp_path / "events.parquet")
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    sf = str(tmp_path)

    motif = ts_motif(spark, sf)
    assert_matches_oracle(motif, con, TS_MOTIF_SQL)
    top = motif.orderBy("rank").first()
    assert (top.user_id, top.seq_a, top.seq_b) == (7, seqs7[10], seqs7[50])
    assert top.dist2 == 0.0

    # the SAX-bucketed path can never prune an exact repeat (identical
    # windows share a word by construction): planted pair stays rank 1
    sax = ts_motif_sax(spark, sf)
    assert_matches_oracle(sax, con, TS_MOTIF_SAX_SQL)
    stop = sax.orderBy("rank").first()
    assert (stop.user_id, stop.seq_a, stop.seq_b) == (7, seqs7[10], seqs7[50])
    assert stop.dist2 == 0.0

    discord = ts_discord(spark, sf)
    assert_matches_oracle(discord, con, TS_DISCORD_SQL)
    spike_covering = set(seqs7[75 - TS_WINDOW + 1 : 79])  # windows w/ a spike row
    out = discord.orderBy("rank").collect()
    # z-normalization bounds dist² at 64 (‖z‖² = W exactly on both
    # sides) and flattens raw magnitude: spike windows place IN the
    # top-5 but uncorrelated noise windows legitimately compete, so
    # rank 1 is not pinned to the spike — presence + ordering are
    assert any(r.seq in spike_covering for r in out)
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    assert all(0.0 < r.dist2 < 64.0 for r in out)
    assert out[0].dist2 > 10.0  # a real discord, not a near-match
    # only user 7 can appear at all: 1 is constant, 2 short, 3 pairless
    assert {r.user_id for r in out} == {7}
    assert {r.user_id for r in motif.collect()} == {7}


def test_event_funnel_strict_order_and_ties(spark, hostile_events, tmp_path):
    """The funnel is STRICT first-touch: an out-of-order purchase
    (before the user's first qualified click) never counts, and a
    same-microsecond event does NOT convert (value-based strictly-after
    — the only tie-deterministic rule cross-engine). Hand-computed
    expectations on a crafted corpus, plus full parity there AND on the
    shared hostile events fixture (NULL ids/ts/types, negative users)."""
    import duckdb as _duckdb

    from trisk_spark.functions.funnel import EVENT_FUNNEL_SQL, event_funnel

    t = lambda s: _T0 + datetime.timedelta(seconds=s)  # noqa: E731
    rows = [
        # user 1: purchase BEFORE any click (must not count), then the
        # ordered journey completes later: t1=2, t2=3, t3=4
        (10, t(1), 1, "purchase", 1.0),
        (11, t(2), 1, "view", 1.0),
        (12, t(3), 1, "click", 1.0),
        (13, t(4), 1, "purchase", 1.0),
        # user 2: click in the SAME microsecond as the first view —
        # not strictly after, so stage 2 is never reached even though
        # a later purchase exists
        (20, t(10), 2, "view", 1.0),
        (21, t(10), 2, "click", 1.0),
        (22, t(11), 2, "purchase", 1.0),
        # user 3: clicks/purchases but NO view — reaches nothing
        (30, t(20), 3, "click", 1.0),
        (31, t(21), 3, "purchase", 1.0),
        # user 4: view then click, purchase only BEFORE the click
        (40, t(30), 4, "view", 1.0),
        (41, t(31), 4, "purchase", 1.0),
        (42, t(32), 4, "click", 1.0),
        # hostile: NULLs never join the funnel
        (50, None, 5, "view", 1.0),
        (51, t(40), None, "view", 1.0),
        (52, t(41), 5, None, 1.0),
    ]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tab, tmp_path / "events.parquet")
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    sdf = event_funnel(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, EVENT_FUNNEL_SQL)
    got = {r.stage: r for r in sdf.collect()}
    # stage 1: users 1, 2, 4 (user 3 has no view; NULL rows dropped)
    assert got["view"].n_users == 3 and got["view"].sum_wait_us == 0
    # stage 2: users 1 and 4 (user 2's click ties the view µs)
    assert got["click"].n_users == 2
    assert got["click"].sum_wait_us == 3_000_000  # 1s (u1) + 2s (u4)
    assert got["click"].avg_wait_us == 1_500_000
    # stage 3: user 1 only (u4's purchase precedes its click; u2 never
    # reached stage 2, so its purchase can't convert)
    assert got["purchase"].n_users == 1
    assert got["purchase"].sum_wait_us == 1_000_000

    # the shared hostile fixture (NULL ts/user/type, negative users,
    # ts ties at _T0) must hold parity too
    sf_dir, hcon = hostile_events
    assert_matches_oracle(
        event_funnel(spark, sf_dir), hcon, EVENT_FUNNEL_SQL
    )


def test_user_retention_cohorts_and_day_buckets(spark, hostile_events, tmp_path):
    """Retention is exact integer epoch-day arithmetic: a return on
    cohort_day+8 is NOT day-7 retention, a same-day second event is
    not a return, and cohorts split by FIRST active day. Hand-computed
    on a crafted corpus + parity there AND on the hostile fixture."""
    import duckdb as _duckdb

    from trisk_spark.functions.funnel import (
        USER_RETENTION_SQL,
        user_retention,
    )

    d = lambda k, s=0: _T0 + datetime.timedelta(days=k, seconds=s)  # noqa: E731
    rows = [
        # user 1: cohort day 0, returns day 1 AND day 7
        (10, d(0), 1, "view", 1.0), (11, d(1), 1, "click", 1.0),
        (12, d(7), 1, "view", 1.0),
        # user 2: cohort day 0, two events SAME day then day 8 — no
        # day-1, no day-7 (day 8 is not day 7)
        (20, d(0), 2, "view", 1.0), (21, d(0, 60), 2, "click", 1.0),
        (22, d(8), 2, "view", 1.0),
        # user 3: cohort day 1 (different cohort), returns day 2
        (30, d(1), 3, "view", 1.0), (31, d(2), 3, "purchase", 1.0),
        # hostile NULLs stay out
        (40, None, 4, "view", 1.0), (41, d(0), None, "view", 1.0),
    ]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tab, tmp_path / "events.parquet")
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    sdf = user_retention(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, USER_RETENTION_SQL)
    got = {r.cohort_day: r for r in sdf.collect()}
    day0 = min(got)
    assert sorted(got) == [day0, day0 + 1]
    assert (got[day0].n_users, got[day0].retained_d1,
            got[day0].retained_d7) == (2, 1, 1)
    assert (got[day0 + 1].n_users, got[day0 + 1].retained_d1,
            got[day0 + 1].retained_d7) == (1, 1, 0)

    sf_dir, hcon = hostile_events
    assert_matches_oracle(
        user_retention(spark, sf_dir), hcon, USER_RETENTION_SQL
    )


def test_ts_acf_known_series_and_hostile(spark, hostile_events, tmp_path):
    """ACF ground truth: an alternating ±a series of even length n has
    exact rational autocorrelations r_k = (-1)^k (n-k)/n (mean exactly
    zero, all moments exact integers). Also pins: constant series drop
    (zero variance), n=3 series get lags 1-2 only (the n>k filter),
    NULLs stay out — and parity on the shared hostile fixture, whose
    half-cent values (0.125 → 12.5 cents) the ≥16-event window family
    never quantizes (no full window forms around them) but an n≥2 op
    does: scale-0 DOUBLE ROUND is half-away-from-zero on BOTH engines
    (verified), and this test locks that agreement in."""
    import duckdb as _duckdb

    from trisk_spark.functions.timeseries import TS_ACF_SQL, ts_acf

    rows = []
    n = 20
    for i in range(n):  # user 1: alternating ±1.00
        rows.append((100 + i, _T0, 1, "view", 1.0 if i % 2 == 0 else -1.0))
    rows += [(200 + i, _T0, 2, "view", 3.25) for i in range(10)]  # constant
    rows += [(300 + i, _T0, 3, "view", float(i * i % 7)) for i in range(3)]
    rows += [(400, _T0, None, "view", 1.0), (401, _T0, 4, "view", None),
             (None, _T0, 4, "view", 1.0)]
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tab, tmp_path / "events.parquet")
    con = _duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    sdf = ts_acf(spark, str(tmp_path))
    assert_matches_oracle(sdf, con, TS_ACF_SQL)
    got = {(r.user_id, r.lag): r.acf for r in sdf.collect()}
    for k in (1, 2, 3, 4):
        want = ((-1) ** k) * (n - k) / n
        assert abs(got[(1, k)] - want) < 1e-9, (k, got[(1, k)], want)
    assert not any(u == 2 for u, _ in got)          # constant: dropped
    assert {k for u, k in got if u == 3} == {1, 2}  # n=3: lags 1-2 only

    sf_dir, hcon = hostile_events
    assert_matches_oracle(ts_acf(spark, sf_dir), hcon, TS_ACF_SQL)


def test_ts_motif_windows_cap_guard_fires():
    # the O(m²) pair kernel must refuse a series past
    # TS_MOTIF_MAX_WINDOWS loudly (the _check_cents_bound pattern) —
    # long series belong on the SAX-word pair-bucketed path
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from trisk_spark.functions.timeseries import (
        TS_MOTIF_MAX_WINDOWS,
        TS_WINDOW,
        _ts_pair_topk_kernel,
    )

    n = TS_MOTIF_MAX_WINDOWS + 1
    pdf = pd.DataFrame(
        {
            "user_id": np.full(n, 1, dtype=np.int64),
            "seq": np.arange(n, dtype=np.int64),
            "rn": np.arange(1, n + 1, dtype=np.int64),
            "w": [[0] * TS_WINDOW] * n,
        }
    )
    with _pytest.raises(OverflowError, match="TS_MOTIF_MAX_WINDOWS"):
        _ts_pair_topk_kernel(discord=False)(pdf)


def test_curation_manifest_semantic_parity_on_hostile_corpus(
    spark, hostile_docs, hostile_embeddings, tmp_path
):
    # the composed manifest reads BOTH hostile tables at once: the
    # documents side carries every text edge case, the embeddings side
    # every degenerate vector (incl. the planted near-dup pair 40/41 —
    # only doc 41 can lose a semantic cluster here, and only if doc 41
    # exists in the manifest). Parity must hold on the union corpus.
    import shutil

    docs_dir, _ = hostile_docs
    emb_dir, _ = hostile_embeddings
    shutil.copy(f"{docs_dir}/documents.parquet", tmp_path / "documents.parquet")
    shutil.copy(f"{emb_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    qd = QUERIES["curation_manifest_semantic"]
    assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


def test_cluster_cap_sample_parity_on_hostile_corpus(
    spark, hostile_embeddings
):
    # the library op rides the same hostile corpus as the registered
    # similarity family: degenerate embeddings (NULL vector/element,
    # wrong length, zero and sub-scale vectors, NULL/negative vec_id)
    # must be dropped or ranked identically by both engines
    from trisk_spark.functions.sampling import (
        cluster_cap_sample,
        cluster_cap_sql,
    )

    sf_dir, con = hostile_embeddings
    assert_matches_oracle(
        cluster_cap_sample(spark, sf_dir), con, cluster_cap_sql()
    )


def test_source_upsample_parity_and_epoch_semantics(spark):
    # the repeat-epoch up-sampler (library op, like cluster_cap_sample):
    # full DuckDB oracle parity, plus the defining properties — every
    # doc appears at least once, copy_idx is dense 0..n-1, per-doc
    # copies never exceed ceil(factor) <= MAX_EPOCHS, and at least one
    # source actually repeats (non-vacuous on this corpus)
    import math

    from pyspark.sql import functions as F

    from trisk_spark.catalog import table as _table
    from trisk_spark.functions.sampling import (
        MAX_EPOCHS,
        SOURCE_UPSAMPLE_SQL,
        source_upsample,
        source_upsample_factors,
    )

    SF = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    sdf = source_upsample(spark, SF)
    assert_matches_oracle(sdf, con, SOURCE_UPSAMPLE_SQL)

    rows = sdf.collect()
    per_doc: dict[int, list[int]] = {}
    src_of: dict[int, str] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
        src_of[r.doc_id] = r.source
    docs = _table(spark, SF, "documents").where(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    factors = {
        r.source: r.factor
        for r in source_upsample_factors(docs).collect()
    }
    assert set(per_doc) == {
        r.doc_id for r in docs.select("doc_id").collect()
    }, "a document vanished or appeared from nowhere"
    for d, idxs in per_doc.items():
        assert sorted(idxs) == list(range(len(idxs))), (d, idxs)
        assert len(idxs) <= math.ceil(factors[src_of[d]]) <= MAX_EPOCHS
    assert any(len(v) > 1 for v in per_doc.values()), (
        "no source repeated — the fixture corpus makes this vacuous"
    )


def test_source_upsample_parity_on_hostile_corpus(spark, hostile_docs):
    # NULL doc_id/source, empty text, NULL text: dropped or factored
    # identically on both engines
    from trisk_spark.functions.sampling import (
        SOURCE_UPSAMPLE_SQL,
        source_upsample,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(source_upsample(spark, sf_dir), con, SOURCE_UPSAMPLE_SQL)


def test_source_upsample_plan_one_shuffle_broadcast_factors(spark):
    # per-source token agg is the only exchange pair; the factors table
    # joins back broadcast; the copy explosion is map-side Generate
    import re

    from trisk_spark.functions.sampling import source_upsample
    from .test_plans import no_auto_broadcast

    SF = "/root/testdata/sf0.001"
    with no_auto_broadcast(spark):
        plan = source_upsample(spark, SF)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert re.findall(r"^\(\d+\) Generate$", plan, re.M), plan
    assert plan.count("hashpartitioning(source") <= 2, plan


@pytest.mark.slow
def test_training_plan_parity_and_composition_semantics(spark):
    # the capstone composition (manifest − semantic dups − cluster-cap
    # overflow + epochs): fully-composed oracle parity, plus the
    # stage-subset and epoch invariants
    import math

    from trisk_spark.functions.sampling import (
        MAX_EPOCHS,
        training_plan,
        training_plan_sql,
    )
    from trisk_spark.registry import load_all

    SF = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    plan = training_plan(spark, SF)
    assert_matches_oracle(plan, con, training_plan_sql())

    rows = plan.collect()
    assert rows, "empty plan — fixture corpus eliminated everything"
    sem = {
        r.doc_id
        for r in load_all()["curation_manifest_semantic"].fn(spark, SF).collect()
    }
    assert {r.doc_id for r in rows} <= sem, (
        "plan contains docs the semantic manifest removed"
    )
    for r in rows:
        if r.split == "train":
            assert 1 <= r.epochs <= math.ceil(MAX_EPOCHS)
        else:
            assert r.epochs == 1
    assert any(r.epochs > 1 for r in rows if r.split == "train"), (
        "no source repeated — epochs stage vacuous on this corpus"
    )


def test_training_plan_parity_on_hostile_union_corpus(
    spark, hostile_docs, hostile_embeddings, tmp_path
):
    # both hostile tables at once, like the composed-manifest test:
    # text edge cases on the documents side, degenerate vectors on the
    # embeddings side (incl. the planted near-dup pair)
    import shutil

    from trisk_spark.functions.sampling import (
        training_plan,
        training_plan_sql,
    )

    docs_dir, _ = hostile_docs
    emb_dir, _ = hostile_embeddings
    shutil.copy(f"{docs_dir}/documents.parquet", tmp_path / "documents.parquet")
    shutil.copy(
        f"{emb_dir}/embeddings.parquet", tmp_path / "embeddings.parquet"
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    assert_matches_oracle(
        training_plan(spark, str(tmp_path)), con, training_plan_sql()
    )


@pytest.mark.slow
def test_pack_plan_parity_and_packing_invariants(spark):
    # plan → batches: composed-oracle parity plus the packing
    # invariants — every train doc appears exactly `epochs` times,
    # offsets are dense per shard, and no sequence offset reaches the
    # capacity
    from trisk_spark.functions.sampling import (
        PACK_CAPACITY,
        pack_plan,
        pack_plan_sql,
        training_plan,
    )

    SF = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    packed = pack_plan(spark, SF)
    assert_matches_oracle(packed, con, pack_plan_sql())

    rows = packed.collect()
    copies: dict[int, int] = {}
    for r in rows:
        copies[r.doc_id] = copies.get(r.doc_id, 0) + 1
        assert 0 <= r.seq_offset < PACK_CAPACITY
    want = {
        r.doc_id: r.epochs
        for r in training_plan(spark, SF).collect()
        if r.split == "train"
    }
    assert copies == want and any(v > 1 for v in want.values())


def test_pq_encode_trained_parity_on_hostile_corpus(
    spark, hostile_embeddings
):
    # the Lloyd-replay oracle must survive degenerate corpora: with
    # fewer valid rows than PQ_KSUB the codebook keeps LIMIT
    # semantics, clusters can be empty (the keep-previous-codeword
    # M-step branch on BOTH engines), and every floored mean must land
    # on the same integer under numpy's floor-div vs the SQL shim
    from trisk_spark.functions.pq import pq_encode_trained

    sf_dir, con = hostile_embeddings
    qd = QUERIES["pq_encode_trained"]
    assert_matches_oracle(pq_encode_trained(spark, sf_dir), con, qd.oracle)


@pytest.mark.slow
def test_training_plan_family_parity_on_hostile_union_corpus(
    spark, hostile_docs, hostile_embeddings, tmp_path
):
    # the composed plan artifacts read BOTH hostile tables at once
    # (the curation_manifest_semantic union-corpus test extended to
    # the full composition: semantic losers, cluster-cap overflow,
    # epoch factors over the surviving train split, and the packed
    # sequences)
    import shutil

    docs_dir, _ = hostile_docs
    emb_dir, _ = hostile_embeddings
    shutil.copy(f"{docs_dir}/documents.parquet", tmp_path / "documents.parquet")
    shutil.copy(f"{emb_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    for name in ("training_plan", "pack_plan", "training_plan_over_store"):
        qd = QUERIES[name]
        assert_matches_oracle(qd.fn(spark, str(tmp_path)), con, qd.oracle)


@pytest.mark.slow
def test_curation_funnel_parity_and_monotonicity(spark):
    # the funnel's full DuckDB oracle must match at SF_DIR, and the
    # stages must be monotone non-increasing (a stage that GAINS rows
    # means the composed filters diverged)
    from trisk_spark.functions.sampling import (
        curation_funnel,
        curation_funnel_sql,
    )

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    sdf = curation_funnel(spark, "/root/testdata/sf0.001")
    assert_matches_oracle(sdf, con, curation_funnel_sql())
    r = sdf.collect()[0]
    assert r.n_docs >= r.n_manifest >= r.n_after_semantic >= r.n_after_cap
    assert r.n_after_cap == r.n_train + r.n_val + r.n_test
    assert r.n_after_semantic < r.n_manifest or r.n_after_cap < r.n_after_semantic, (
        "funnel is vacuous on this corpus: no stage removes anything"
    )
    assert r.train_tokens > 0


@pytest.mark.slow
def test_curation_funnel_parity_on_hostile_union_corpus(
    spark, hostile_docs, hostile_embeddings, tmp_path
):
    import shutil

    from trisk_spark.functions.sampling import (
        curation_funnel,
        curation_funnel_sql,
    )

    docs_dir, _ = hostile_docs
    emb_dir, _ = hostile_embeddings
    shutil.copy(f"{docs_dir}/documents.parquet", tmp_path / "documents.parquet")
    shutil.copy(f"{emb_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    assert_matches_oracle(
        curation_funnel(spark, str(tmp_path)), con, curation_funnel_sql()
    )


# ------------------- two-pass prefix sum / partial top-K (r11) --------
# The r10 VERDICT's one named scale-killer: per-source running-sum
# windows serialized a dominant source through one task. The fix is a
# sharded two-pass prefix sum (sequence_pack/pack_plan) and a partial
# top-K (source_cap_sample) that must be BIT-IDENTICAL to the single
# plans — pinned here against the DuckDB oracle on the hostile corpus
# (NULL sources exercise the null-safe offsets join; the
# capacity-boundary docs exercise seq_id rollover across shards).


def test_sequence_pack_sharded_matches_oracle_on_hostile(spark, hostile_docs):
    sf_dir, con = hostile_docs
    from trisk_spark.functions.sampling import sequence_pack

    qd = QUERIES["sequence_pack"]
    assert_matches_oracle(sequence_pack(spark, sf_dir, n_shards=4), con, qd.oracle)


def test_source_cap_partial_topk_matches_oracle_on_hostile(spark, hostile_docs):
    sf_dir, con = hostile_docs
    from trisk_spark.functions.sampling import source_cap_sample

    qd = QUERIES["source_cap_sample"]
    assert_matches_oracle(
        source_cap_sample(spark, sf_dir, shard_chars=1), con, qd.oracle
    )


def test_pack_plan_sharded_tail_matches_default(spark):
    # the pack_plan packing tail through the sharded prefix sum ==
    # the registered (driver-hash-green) default, row for row
    from trisk_spark.functions.sampling import (
        _doc_id_bounds,
        _docs,
        _pack_sequences,
        PACK_CAPACITY,
        training_plan,
    )

    sf = "/root/testdata/sf0.001"
    bounds = _doc_id_bounds(_docs(spark, sf))
    plan = training_plan(spark, sf)
    sharded = sorted(
        map(tuple, _pack_sequences(plan, PACK_CAPACITY, bounds, n_shards=4).collect())
    )
    default = sorted(map(tuple, QUERIES["pack_plan"].fn(spark, sf).collect()))
    assert sharded == default and len(sharded) > 0


def test_pack_shard_fanout_engages_at_scale():
    # the adaptive rule itself: small spans keep the single optimal
    # window; a billion-id corpus fans ~1000-way; the offsets table
    # stays bounded by PACK_MAX_SHARDS no matter the span
    from trisk_spark.functions.sampling import (
        PACK_MAX_SHARDS,
        PACK_SHARD_MIN_SPAN,
        _pack_n_shards,
    )

    assert _pack_n_shards(None, None) == 1          # empty corpus
    assert _pack_n_shards(0, 4999) == 1             # sf0.1-sized
    assert _pack_n_shards(0, PACK_SHARD_MIN_SPAN - 2) == 1
    assert _pack_n_shards(0, 2 * PACK_SHARD_MIN_SPAN) == 2
    assert _pack_n_shards(0, 10**9) > 900           # 1B docs: ~1000-way
    assert _pack_n_shards(0, 10**15) == PACK_MAX_SHARDS  # offsets bounded


def test_shuffle_shards_parity_and_permutation(spark, hostile_docs):
    # the epoch shuffle must match its DuckDB oracle on the hostile
    # corpus (NULL/negative ids) AND be a true permutation: positions
    # within each shard are exactly 1..len(shard)
    sf_dir, con = hostile_docs
    from trisk_spark.functions.sampling import (
        SHUFFLE_SHARDS_SQL,
        shuffle_shards,
    )

    sdf = shuffle_shards(spark, sf_dir)
    assert_matches_oracle(sdf, con, SHUFFLE_SHARDS_SQL)
    rows = sdf.collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert len(rows) == len({r.doc_id for r in rows}), "doc duplicated"
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_footer_bounds_match_agg_and_fall_back(spark, tmp_path):
    # the zero-job footer-stats bounds must agree with the distributed
    # agg on real corpora, and return None (-> fallback) when the
    # column is missing or the path is not parquet
    import pyarrow as pa
    import pyarrow.parquet as pq2

    from trisk_spark.functions.sampling import (
        _doc_id_bounds,
        _docs,
        _footer_doc_id_bounds,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        foot = _footer_doc_id_bounds(f"{sf}/documents.parquet")
        agg = _doc_id_bounds(_docs(spark, sf))  # no path: pure agg
        assert foot == agg and foot[0] is not None, sf
    # missing column -> None
    pq2.write_table(pa.table({"x": [1, 2]}), tmp_path / "nodoc.parquet")
    assert _footer_doc_id_bounds(str(tmp_path / "nodoc.parquet")) is None
    # non-parquet path -> None (exception swallowed, fallback signaled)
    (tmp_path / "junk").write_text("not parquet")
    assert _footer_doc_id_bounds(str(tmp_path / "junk")) is None


def test_budget_trim_parity_and_boundary(spark, hostile_docs):
    # global-ordered prefix trim: DuckDB oracle (the NAIVE global
    # window) must match the bucketed two-pass plan bit-for-bit, on
    # the hostile corpus too; and the budget semantics hold — kept
    # tokens minus the boundary doc fit under the budget, dropping the
    # boundary doc's worth, and no dropped doc outranks a kept one
    import duckdb

    from trisk_spark.functions.sampling import (
        BUDGET_TRIM_SQL,
        TRIM_BUDGET_TOKENS,
        budget_trim,
    )

    sf_dir, con = hostile_docs
    sdf = budget_trim(spark, sf_dir)
    assert_matches_oracle(sdf, con, BUDGET_TRIM_SQL)

    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    kept = budget_trim(spark, "/root/testdata/sf0.001").collect()
    assert_matches_oracle(
        budget_trim(spark, "/root/testdata/sf0.001"), con2, BUDGET_TRIM_SQL
    )
    total = sum(r.n_tokens for r in kept)
    boundary = min(kept, key=lambda r: (r.quality, -r.doc_id))
    assert total - boundary.n_tokens < TRIM_BUDGET_TOKENS <= total
    # worst kept quality >= best dropped quality (ties by doc_id)
    all_ids = {r.doc_id for r in kept}
    from trisk_spark.functions.text import _SW_SQL

    dropped_best = con2.execute(f"""
      WITH scored AS (SELECT doc_id,
        0.5*LEAST(len(ws)/64.0,1.0)
        + 0.3*(1.0 - CAST(len(list_filter(ws, w -> w IN {_SW_SQL}))
                     AS DOUBLE)/len(ws))
        + 0.2*LEAST((CAST(length(text)-len(ws)+1 AS DOUBLE)/len(ws))/8.0,1.0) AS q
        FROM (SELECT doc_id, text, list_filter(string_split(text,' '), w -> w <> '') AS ws
              FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        WHERE len(ws) >= 1)
      SELECT MAX(q) FROM scored WHERE doc_id NOT IN ({','.join(str(i) for i in all_ids)})
    """).fetchone()[0]
    # worst KEPT quality must beat (or tie) the best dropped quality —
    # the prefix property; quality column is rounded to 4 decimals, so
    # compare with that tolerance
    assert dropped_best is None or dropped_best <= min(
        r.quality for r in kept
    ) + 1e-4


def test_sequence_pack_forced_shards_on_empty_corpus(spark, tmp_path):
    # explicit n_shards on a corpus with no usable ids must return the
    # same empty frame as the default path, not throw on NoneType
    # bounds (r11 review finding)
    docs = {
        "doc_id": [None, None],
        "text": ["a b", "c d"],
        "lang": ["en"] * 2,
        "source": ["f"] * 2,
        "n_chars": [3, 3],
    }
    pq.write_table(pa.table(docs), tmp_path / "documents.parquet")
    from trisk_spark.functions.sampling import sequence_pack

    assert sequence_pack(spark, str(tmp_path), n_shards=8).count() == 0


def test_plan_store_query_memoizes_per_session(spark):
    # repeat registered-query calls must reuse the (session, corpus)
    # store instead of re-deriving the semantic chain — the store
    # economics the docstring promises
    from trisk_spark.functions.sampling import (
        _PLAN_STORES,
        training_plan_over_store_query,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, training_plan_over_store_query(spark, sf).collect()))
    path1 = _PLAN_STORES.peek(spark, sf)
    b = sorted(map(tuple, training_plan_over_store_query(spark, sf).collect()))
    path2 = _PLAN_STORES.peek(spark, sf)
    assert a == b and len(a) > 0
    assert path1 == path2, "store rebuilt instead of memoized"


def test_training_plan_budget_parity_on_hostile_union(
    spark, hostile_docs, hostile_embeddings, tmp_path
):
    # the budget-constrained plan composes the full chain + the shared
    # bucketed global-prefix kernel; the oracle is the plan CTEs + the
    # NAIVE budget window, so hostile-union parity proves both the
    # composition and the kernel at once. Boundary property: the
    # epoch-weighted cost minus the boundary row fits under budget.
    import shutil

    from trisk_spark.functions.sampling import (
        TRIM_BUDGET_TOKENS,
        training_plan_budget,
        training_plan_budget_sql,
    )

    docs_dir, _ = hostile_docs
    emb_dir, _ = hostile_embeddings
    shutil.copy(f"{docs_dir}/documents.parquet", tmp_path / "documents.parquet")
    shutil.copy(f"{emb_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    assert_matches_oracle(
        training_plan_budget(spark, str(tmp_path)), con, training_plan_budget_sql()
    )
    kept = training_plan_budget(spark, "/root/testdata/sf0.001").collect()
    assert kept
    total = sum(r.n_tokens * r.epochs for r in kept)
    boundary = min(kept, key=lambda r: (r.quality, -r.doc_id))
    assert total - boundary.n_tokens * boundary.epochs < TRIM_BUDGET_TOKENS <= total


def test_perplexity_buckets_parity_and_tiles(spark, hostile_docs, duck):
    # CCNet head/middle/tail: the bucketed two-pass per-language rank
    # must match the NAIVE per-language window oracle bit-for-bit, on
    # the hostile corpus (NULL lang partition, solo-token ref doc) and
    # on real corpora; tiles are balanced and monotone along the rank
    from trisk_spark.functions.sampling import (
        perplexity_buckets,
        ppl_buckets_sql,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(perplexity_buckets(spark, sf_dir), con, ppl_buckets_sql())

    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(perplexity_buckets(spark, sf), duck(sf), ppl_buckets_sql())

    rows = perplexity_buckets(spark, sf).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.lang_rank)
        n = len(rs)
        # ranks contiguous 1..n
        assert [r.lang_rank for r in rs] == list(range(1, n + 1)), lang
        # scores non-increasing along the rank
        scores = [r.lm_score for r in rs]
        assert all(a >= b for a, b in zip(scores, scores[1:])), lang
        # buckets monotone head -> middle -> tail and balanced +-1
        tiles = [order[r.bucket] for r in rs]
        assert tiles == sorted(tiles), lang
        sizes = [tiles.count(t) for t in (0, 1, 2)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)

    # the materialization barrier must not change results
    lazy = perplexity_buckets(spark, sf, materialize=False).collect()
    assert sorted(map(tuple, lazy)) == sorted(map(tuple, rows))


def test_canonical_by_quality_parity_and_argmax(spark, hostile_docs, duck):
    # quality-aware canonical selection: struct-MAX argmax must match
    # the oracle's ROW_NUMBER (q DESC, doc_id) exactly, incl. the
    # hostile corpus's identical-text pair; the canonical is a member
    # of its own cluster with the max quality, one per component
    from trisk_spark.functions.dedup import _canonical_sql, canonical_by_quality

    sf_dir, con = hostile_docs
    assert_matches_oracle(canonical_by_quality(spark, sf_dir), con, _canonical_sql())

    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(canonical_by_quality(spark, sf), duck(sf), _canonical_sql())

    rows = canonical_by_quality(spark, sf).collect()
    assert rows, "sf0.001 must contain near-duplicate clusters"
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        canon = {r.canonical_id for r in members}
        assert len(canon) == 1, comp
        cid = canon.pop()
        assert cid in {r.doc_id for r in members}, "canonical not a member"
        flags = [r for r in members if r.is_canonical]
        assert len(flags) == 1 and flags[0].doc_id == cid
        best_q = max(r.quality for r in members)
        assert flags[0].quality == best_q
        # ties break by smallest doc_id
        tied = [r.doc_id for r in members if r.quality == best_q]
        assert cid == min(tied)


def test_gopher_rules_parity_and_crafted_lines(spark, hostile_docs, duck, tmp_path):
    # Gopher rule flags: hostile corpus + a crafted multiline corpus
    # (bullets, ellipses, symbols, non-alpha words — line shapes the
    # synthetic corpus can't produce) must match the oracle exactly,
    # and the composite gate must fire per-rule as designed
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.text import GOPHER_RULES_SQL, gopher_rules

    sf_dir, con = hostile_docs
    assert_matches_oracle(gopher_rules(spark, sf_dir), con, GOPHER_RULES_SQL)
    assert_matches_oracle(
        gopher_rules(spark, "/root/testdata/sf0.001"),
        duck("/root/testdata/sf0.001"),
        GOPHER_RULES_SQL,
    )

    good = "the quick brown fox jumps of and over the lazy dog " * 6
    crafted = {
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": [
            good,  # passes every rule
            "- one\n- two\n- three\n" + good,  # bullet lines, under 90%... all 3 of 15ish lines? no: 3 bullet lines + 1 text line
            "#### #### #### " + good,  # symbol ratio pushed up
            "zz " * 60,  # no stopwords, fails stop_hits + alpha ok
            "wait...\nmore...\nno...\n" + good,  # ellipsis lines
            "123 456 789 " * 20 + good,  # non-alpha words dilute alpha_frac
        ],
        "lang": ["en"] * 6,
        "source": ["c"] * 6,
        "n_chars": [1, 2, 3, 4, 5, 6],
    }
    pq.write_table(pa.table(crafted), tmp_path / "documents.parquet")
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    sdf = gopher_rules(spark, str(tmp_path))
    assert_matches_oracle(sdf, con2, GOPHER_RULES_SQL)
    rows = {r.doc_id: r for r in sdf.collect()}
    assert rows[1].passes
    assert rows[2].bullet_line_frac and rows[2].bullet_line_frac > 0
    assert rows[3].symbol_ratio > 0.1 and not rows[3].passes
    assert rows[4].stop_hits == 0 and not rows[4].passes
    assert rows[5].ellipsis_line_frac and rows[5].ellipsis_line_frac > 0
    assert rows[6].alpha_word_frac < 1.0


def test_contamination_report_parity_and_consistency(spark, hostile_docs, duck):
    # per-source eval-overlap rollup must match the oracle (hostile:
    # NULL source group, sub-shingle docs) and stay consistent with
    # the flags it rolls up
    from trisk_spark.functions.dedup import (
        DECONTAM_BENCH_MAX_ID,
        _contamination_report_sql,
        contamination_report,
        decontaminate_flags,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(
        contamination_report(spark, sf_dir), con, _contamination_report_sql()
    )
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(
        contamination_report(spark, sf), duck(sf), _contamination_report_sql()
    )
    rows = contamination_report(spark, sf).collect()
    flags = decontaminate_flags(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_eligible = docs.where(
        docs.doc_id.isNotNull() & (docs.doc_id >= DECONTAM_BENCH_MAX_ID)
    ).count()
    assert sum(r.n_docs for r in rows) == n_eligible
    assert sum(r.n_contaminated for r in rows) == len(flags)
    assert sum(r.total_shared for r in rows) == sum(f.n_shared for f in flags)
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_docs
        assert r.max_shared <= r.total_shared


def test_line_dedup_parity_and_first_occurrence(spark, hostile_docs, tmp_path):
    # in-doc duplicate-line removal: the in-row positional-filter must
    # match the explode+window oracle on crafted multiline docs
    # (duplicate lines, duplicate EMPTY lines, whitespace-only lines,
    # NULL text) and keep first occurrences in order
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.text import LINE_DEDUP_SQL, line_dedup

    sf_dir, con = hostile_docs
    assert_matches_oracle(line_dedup(spark, sf_dir), con, LINE_DEDUP_SQL)

    from trisk_spark.functions.text import LINE_DEDUP_MAX_LINES

    # doc 6 crosses the per-row CPU cap: duplicates BELOW the cap are
    # removed, everything past it is kept verbatim (including a line
    # that duplicates a pre-cap one)
    over_cap = (
        ["dup", "keep-a", "dup"]
        + [f"l{i}" for i in range(LINE_DEDUP_MAX_LINES - 3)]
        + ["dup", "tail-b", "tail-b"]
    )
    crafted = {
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": [
            "alpha\nbeta\nalpha\ngamma\nbeta\nalpha",
            "menu\nbody one\nmenu\nbody two\nmenu\nfooter\nfooter",
            "a\n\nb\n\n\nc",  # duplicate empty lines collapse to one
            None,
            "solo",
            "\n".join(over_cap),
        ],
        "lang": ["en"] * 6,
        "source": ["c"] * 6,
        "n_chars": [1, 2, 3, None, 4, 5],
    }
    pq.write_table(pa.table(crafted), tmp_path / "documents.parquet")
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    sdf = line_dedup(spark, str(tmp_path))
    assert_matches_oracle(sdf, con2, LINE_DEDUP_SQL)
    rows = {r.doc_id: r for r in sdf.collect()}
    assert rows[1].clean_text == "alpha\nbeta\ngamma" and rows[1].n_removed == 3
    assert rows[2].clean_text == "menu\nbody one\nbody two\nfooter"
    assert rows[3].clean_text == "a\n\nb\nc" and rows[3].n_removed == 2
    assert rows[4].clean_text == "" and rows[4].n_lines == 1
    assert rows[5].clean_text == "solo" and rows[5].n_removed == 0
    # the over-cap doc: the pre-cap 'dup' duplicate is removed, the
    # past-cap 'dup' and the duplicated 'tail-b' are kept verbatim
    r6 = rows[6].clean_text.split("\n")
    assert r6.count("dup") == 2 and r6.count("tail-b") == 2
    assert rows[6].n_removed == 1 and rows[6].n_lines == len(over_cap)
    # order-preserving first occurrence on every doc (python replay of
    # the capped rule)
    for did, text in zip(crafted["doc_id"], crafted["text"]):
        seen: set = set()
        out: list = []
        for i, line in enumerate((text or "").split("\n")):
            if i >= LINE_DEDUP_MAX_LINES or line not in seen:
                out.append(line)
            seen.add(line)
        assert rows[did].clean_text == "\n".join(out), did


def test_cross_split_leakage_parity_and_straddle(spark, hostile_docs, duck):
    # near-dup pairs straddling splits: oracle parity (hostile incl.
    # the identical-text pair) + python recompute from the pair and
    # split ops it composes
    from trisk_spark.functions.dedup import dedup_minhash_lsh
    from trisk_spark.functions.sampling import (
        cross_split_leakage,
        cross_split_leakage_sql,
        train_split,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(
        cross_split_leakage(spark, sf_dir), con, cross_split_leakage_sql()
    )
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(
        cross_split_leakage(spark, sf), duck(sf), cross_split_leakage_sql()
    )
    rows = cross_split_leakage(spark, sf).collect()
    assert rows, "sf0.001 must contain straddling near-dup pairs"
    split = {r.doc_id: r.split for r in train_split(spark, sf).collect()}
    want = {
        (p.doc_a, p.doc_b, split[p.doc_a], split[p.doc_b])
        for p in dedup_minhash_lsh(spark, sf).collect()
        if split[p.doc_a] != split[p.doc_b]
    }
    got = {(r.doc_a, r.doc_b, r.split_a, r.split_b) for r in rows}
    assert got == want
    for r in rows:
        assert r.split_a != r.split_b


def test_ngram_novelty_parity_and_bounds(spark, hostile_docs, duck):
    # reference-slice novelty: shuffle-join membership must match the
    # oracle on hostile (negative ids hit the pmod path; sub-shingle
    # docs absent) and real corpora; ratios bounded and consistent
    from trisk_spark.functions.dedup import (
        NGRAM_NOVELTY_SQL,
        NOVELTY_REF_MOD,
        ngram_novelty,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(ngram_novelty(spark, sf_dir), con, NGRAM_NOVELTY_SQL)
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(ngram_novelty(spark, sf), duck(sf), NGRAM_NOVELTY_SQL)
    rows = ngram_novelty(spark, sf).collect()
    assert rows
    for r in rows:
        assert r.doc_id % NOVELTY_REF_MOD != 0, "reference docs must be absent"
        assert 0 <= r.n_novel <= r.n_shingles
        assert r.novelty == round(r.n_novel / r.n_shingles, 4)


def test_source_divergence_parity_and_drift(spark, hostile_docs, duck, tmp_path):
    # per-source KL vs corpus: hostile parity (NULL-source group rides
    # the null-safe joins), plus a crafted corpus where one source is
    # plainly off-distribution and must dominate the ranking
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import (
        SOURCE_DIVERGENCE_SQL,
        source_divergence,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(
        source_divergence(spark, sf_dir), con, SOURCE_DIVERGENCE_SQL
    )
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(source_divergence(spark, sf), duck(sf), SOURCE_DIVERGENCE_SQL)
    for r in source_divergence(spark, sf).collect():
        # KL >= 0 up to the 1e-6 grid rounding (per-term round + floor)
        assert r.kl_divergence >= -2e-6, r

    on_dist = "the quick brown fox jumps of and over the lazy dog"
    crafted = {
        "doc_id": list(range(8)),
        "text": [on_dist] * 6 + ["zz qq xx vv kk jj ww yy"] * 2,
        "lang": ["en"] * 8,
        "source": ["a", "a", "a", "b", "b", "b", "weird", "weird"],
        "n_chars": [1] * 8,
    }
    pq.write_table(pa.table(crafted), tmp_path / "documents.parquet")
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    sdf = source_divergence(spark, str(tmp_path))
    assert_matches_oracle(sdf, con2, SOURCE_DIVERGENCE_SQL)
    kl = {r.source: r.kl_divergence for r in sdf.collect()}
    assert kl["weird"] > kl["a"] and kl["weird"] > kl["b"]
    assert kl["weird"] > 0.5  # plainly off-distribution


def test_minhash_estimate_parity_and_band_floor(spark, hostile_docs, duck):
    # signature-agreement estimator: oracle parity, pair set identical
    # to the registered candidate op, and every candidate agrees on at
    # least one full band (that's what made it a candidate)
    from trisk_spark.functions.dedup import (
        N_PERMS,
        ROWS_PER_BAND,
        _minhash_estimate_sql,
        dedup_minhash_lsh,
        minhash_jaccard_estimate,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(
        minhash_jaccard_estimate(spark, sf_dir), con, _minhash_estimate_sql()
    )
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(
        minhash_jaccard_estimate(spark, sf), duck(sf), _minhash_estimate_sql()
    )
    rows = minhash_jaccard_estimate(spark, sf).collect()
    assert rows
    cand = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf).collect()}
    assert {(r.doc_a, r.doc_b) for r in rows} == cand
    for r in rows:
        assert ROWS_PER_BAND <= r.n_agree <= N_PERMS, r
        assert r.est_jaccard == round(r.n_agree / N_PERMS, 4)


def test_bm25_parity_hostile_and_crafted_saturation(spark, hostile_docs, duck, tmp_path):
    # BM25 retrieval: hostile corpus (zero seed-term hits → both
    # engines must agree on the empty result), sf0.001, and a crafted
    # corpus that exercises tf saturation, length normalization, and
    # the (score, doc_id) tie-break — shapes the synthetic corpus
    # can't isolate
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.text import (
        BM25_QUERIES,
        BM25_TOP_DOCS_SQL,
        BM25_TOP_K,
        bm25_top_docs,
    )

    sf_dir, con = hostile_docs
    assert_matches_oracle(bm25_top_docs(spark, sf_dir), con, BM25_TOP_DOCS_SQL)
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(bm25_top_docs(spark, sf), duck(sf), BM25_TOP_DOCS_SQL)

    pad = "filler words only " * 40  # no seed terms
    crafted = {
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": [
            "spark stream window",            # all 3 terms of query 1, short
            "spark " * 10,                     # tf=10 single term, dl=10
            "spark",                           # tf=1 single term, dl=1
            "spark " * 10 + pad,               # tf=10 but LONG: length-normalized down
            "spark stream window",             # exact duplicate of doc 1: score tie
            None,                              # counts toward N/avgdl only
        ],
        "lang": ["en"] * 6,
        "source": ["c"] * 6,
        "n_chars": [0] * 6,
    }
    pq.write_table(pa.table(crafted), tmp_path / "documents.parquet")
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    sdf = bm25_top_docs(spark, str(tmp_path))
    assert_matches_oracle(sdf, con2, BM25_TOP_DOCS_SQL)
    rows = sorted(
        (r for r in sdf.collect() if r.query_id == 1),
        key=lambda r: r.rank,
    )
    assert len(rows) <= BM25_TOP_K
    by_doc = {r.doc_id: r for r in rows}
    # 3-term match outranks every single-term doc
    assert rows[0].doc_id in (1, 5) and rows[0].n_terms == 3
    # identical docs score identically; tie breaks on doc_id
    assert by_doc[1].score == by_doc[5].score
    assert by_doc[1].rank < by_doc[5].rank
    # tf saturation: tf=10 beats tf=1 at comparable length, but not 10×
    assert by_doc[2].score > by_doc[3].score
    k1 = 1.2
    assert by_doc[2].score < by_doc[3].score * (k1 + 1)
    # length normalization: same tf, longer doc scores lower
    assert by_doc[2].score > by_doc[4].score
    # every emitted term count is within the query's arity
    for r in sdf.collect():
        assert 1 <= r.n_terms <= max(len(t) for t in BM25_QUERIES.values())
        assert r.score > 0


def test_dsir_weights_parity_and_discrimination(spark, hostile_docs, duck, tmp_path):
    # DSIR importance weights: hostile corpus + sf0.001 parity, then a
    # crafted corpus where the target slice (doc_id % 10 == 0) has a
    # DISTINCT vocabulary — target-vocab documents must weigh positive
    # (target_leaning), raw-vocab documents negative; the synthetic
    # corpus is homogeneous so discrimination needs this fixture
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import dsir_weights, dsir_weights_sql

    sf_dir, con = hostile_docs
    assert_matches_oracle(dsir_weights(spark, sf_dir), con, dsir_weights_sql())
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(dsir_weights(spark, sf), duck(sf), dsir_weights_sql())

    tgt = "quantum flux lattice boson hadron " * 8
    raw = "menu login cart checkout footer " * 8
    crafted = {
        # ids 0,10,20 are the target slice; 1..4 raw
        "doc_id": [0, 10, 20, 1, 2, 3, 4],
        "text": [tgt, tgt, tgt + raw, raw, raw, tgt, raw + "quantum flux"],
        "lang": ["en"] * 7,
        "source": ["c"] * 7,
        "n_chars": [0] * 7,
    }
    pq.write_table(pa.table(crafted), tmp_path / "documents.parquet")
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    sdf = dsir_weights(spark, str(tmp_path))
    assert_matches_oracle(sdf, con2, dsir_weights_sql())
    w = {r.doc_id: r for r in sdf.collect()}
    # pure target-vocab docs lean target, pure raw-vocab docs lean raw
    assert w[0].target_leaning and w[0].dsir_weight > 0
    assert not w[1].target_leaning and w[1].dsir_weight < 0
    # a RAW-slice doc written in target vocabulary is exactly what DSIR
    # selects: it must out-weigh every boilerplate doc
    assert w[3].target_leaning and w[3].dsir_weight > w[1].dsir_weight
    # weight scales with evidence: full boilerplate beats a doc with a
    # few target words mixed in... i.e. the mixed doc is LESS negative
    assert w[4].dsir_weight > w[1].dsir_weight or w[4].target_leaning


def test_embedding_health_parity_and_degenerate_counts(spark, hostile_embeddings, duck):
    # the health report must agree with the oracle on the hostile
    # corpus (whose degenerate shapes are exactly what it exists to
    # count) AND attribute each planted defect to the right label
    from trisk_spark.functions.similarity import EMB_HEALTH_SQL, embedding_health

    sf_dir, con = hostile_embeddings
    assert_matches_oracle(embedding_health(spark, sf_dir), con, EMB_HEALTH_SQL)
    sf = "/root/testdata/sf0.001"
    assert_matches_oracle(embedding_health(spark, sf), duck(sf), EMB_HEALTH_SQL)

    h = {r.label: r for r in embedding_health(spark, sf_dir).collect()}
    # label 1: NULL embedding (id 100) + NULL element (id 105) → 2 invalid
    assert h[1].n_invalid == 2
    # label 2: zero vector (id 101); the NULL-vec_id row is excluded
    assert h[2].n_zero_norm == 1
    # label 3: sub-scale vector floors to zero norm
    assert h[3].n_zero_norm == 1
    # label 4: wrong-length vector is VALID here but flagged by the
    # ragged-dimension count
    assert h[4].n_distinct_dims == 2 and h[4].n_invalid == 0
    # label 0: empty vector → zero norm + ragged
    assert h[0].n_zero_norm == 1 and h[0].n_distinct_dims == 2
    # NULL label forms its own group
    assert None in h and h[None].n_vecs == 1
    # the driver corpus is unit-normalized: every label's mean norm
    # sits on 1.0 at the 1e-6 grid
    for r in embedding_health(spark, sf).collect():
        assert abs(r.avg_norm - 1.0) < 1e-4 and r.n_invalid == 0


def test_weighted_sample_is_weight_proportional_and_budgeted(
    spark, tmp_path
):
    """Efraimidis-Spirakis properties on a two-class fixture: the
    sample is EXACTLY M docs (the Bernoulli samplers can't promise
    that), the high-quality class is overrepresented relative to its
    population share, repeat runs are identical (no-RNG keys), the
    top-M plans as TakeOrderedAndProject (never a global sort), and
    the oracle agrees on the fixture corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import (
        WEIGHTED_SAMPLE_M,
        weighted_sample,
        WEIGHTED_SAMPLE_SQL,
    )

    from .conftest import assert_matches_oracle

    rows = []
    for i in range(300):  # high quality: 70 long distinct words
        rows.append((i, " ".join(f"verylongword{i}x{j}" for j in range(70)), "hi"))
    for i in range(300, 600):  # low quality: 8 short stopword-heavy words
        rows.append((i, "the a of and the a " + f"w{i} x", "lo"))
    docs = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
        "lang": pa.array(["en"] * len(rows)),
        "source": pa.array([r[2] for r in rows]),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(docs, tmp_path / "documents.parquet")
    sf = str(tmp_path)

    out = weighted_sample(spark, sf).collect()
    assert len(out) == WEIGHTED_SAMPLE_M  # the exact budget
    n_hi = sum(1 for r in out if r.source == "hi")
    # population is 50/50; quality weights (~0.9 vs ~0.2) must tilt
    # the without-replacement draw decisively toward the hi class
    assert n_hi > 0.6 * WEIGHTED_SAMPLE_M, n_hi
    assert {r.rank for r in out} == set(range(1, WEIGHTED_SAMPLE_M + 1))

    # determinism: md5-derived keys, no RNG anywhere
    again = weighted_sample(spark, sf).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # scale shape: global top-M must be TakeOrderedAndProject
    plan = weighted_sample(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:500]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    assert_matches_oracle(weighted_sample(spark, sf), con, WEIGHTED_SAMPLE_SQL)


def test_margin_and_weighted_sample_hostile_inputs(spark, tmp_path):
    """Degenerate corpora must yield empty/clean frames, not errors or
    NULL-ranked rows: all-invalid embeddings, a single-sided corpus
    (side B empty -> no candidates), NULL/empty texts, and an empty
    documents table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.sampling import weighted_sample
    from trisk_spark.functions.similarity import DIM, margin_pair_mining

    # 1. embeddings: NULLs, wrong dims, zero vectors, and only EVEN ids
    #    (side B empty) — margin mining must return an empty frame
    emb = pa.table({
        "vec_id": pa.array([0, 2, 4, 6], pa.int64()),
        "embedding": [None, [0.0] * DIM, [1.0] * 3, [0.5] * DIM],
        "label": pa.array([0] * 4, pa.int64()),
    })
    sf1 = tmp_path / "one_sided"
    sf1.mkdir()
    pq.write_table(emb, sf1 / "embeddings.parquet")
    out = margin_pair_mining(spark, str(sf1))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "match_id", "cosine_sim", "margin", "accepted"
    ]

    # 2. documents: NULL text, empty text, whitespace-only — all carry
    #    zero weight and must be excluded, leaving an empty sample
    docs = pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": [None, "", "   "],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
        "n_chars": pa.array([0, 0, 3], pa.int64()),
    })
    sf2 = tmp_path / "hostile_docs"
    sf2.mkdir()
    pq.write_table(docs, sf2 / "documents.parquet")
    assert weighted_sample(spark, str(sf2)).count() == 0

    # 3. fully empty tables
    sf3 = tmp_path / "empty"
    sf3.mkdir()
    pq.write_table(docs.slice(0, 0), sf3 / "documents.parquet")
    pq.write_table(emb.slice(0, 0), sf3 / "embeddings.parquet")
    assert weighted_sample(spark, str(sf3)).count() == 0
    assert margin_pair_mining(spark, str(sf3)).count() == 0


def test_source_overlap_matrix_finds_planted_cross_source_dup(
    spark, tmp_path
):
    """A near-identical document planted in TWO sources must surface as
    exactly one cross-source row (n_pairs 1, both docs involved,
    density over n_a·n_b), within-source duplication as a same-source
    row (density over n·(n−1)/2), unrelated sources absent, and the
    oracle must agree on the fixture corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.dedup import (
        SOURCE_OVERLAP_SQL,
        source_overlap_matrix,
    )

    from .conftest import assert_matches_oracle

    dup = " ".join(f"shared{i % 23} words here" for i in range(40))
    rows = [
        (1, dup, "web"),
        (2, dup + " tail", "books"),          # cross-source near-dup
        (3, dup + " other tail", "web"),      # within-source near-dup of 1
    ]
    rows += [
        (10 + i, " ".join(f"u{10 + i}w{j}" for j in range(40)), "code")
        for i in range(4)                      # unrelated source
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array([r[2] for r in rows]),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    out = {
        (r.source_a, r.source_b): r
        for r in source_overlap_matrix(spark, sf).collect()
    }
    cross = out[("books", "web")]
    # doc 2 (books) near-dups BOTH web docs 1 and 3 -> 2 cross pairs
    assert cross.n_pairs == 2 and cross.n_docs_involved == 3
    assert cross.n_docs_a == 1 and cross.n_docs_b == 2  # books=1, web=2
    assert cross.pair_density == 1.0  # 2 pairs / (1*2) possible
    within = out[("web", "web")]
    assert within.n_pairs == 1  # docs 1 and 3
    assert within.pair_density == 1.0  # 1 pair / C(2,2)=1 possible
    assert not any("code" in k for k in out)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    assert_matches_oracle(
        source_overlap_matrix(spark, sf), con, SOURCE_OVERLAP_SQL
    )


# ------------------- r16: phrase/proximity + quality calibration ------


def test_phrase_search_planted_semantics(spark, tmp_path):
    """Both counting semantics on a planted corpus: consecutive
    matches outrank windowed ones, ordered-window matches require the
    ORDER, the window bound is real, partial term sets never match,
    and the probe document never retrieves itself. Oracle agrees on
    the fixture corpus (the value-hash gate, non-vacuously)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.text import (
        PHRASE_SEARCH_SQL,
        phrase_search,
    )

    from .conftest import assert_matches_oracle

    # doc 0 is the ONLY probe (ids 1..7 absent): phrase = tokens[2:5]
    rows = [
        (0, "pad pad alpha beta gamma tail tail tail"),
        # exact consecutive, twice -> n_exact=2, rank 1
        (100, "alpha beta gamma filler alpha beta gamma end"),
        # exact consecutive, once -> rank 2
        (101, "intro alpha beta gamma outro words here"),
        # ordered within the 6-token window, never consecutive:
        # alpha . beta . gamma spans 5 -> n_exact=0, n_prox=1, rank 3
        (102, "alpha x beta y gamma closing words here"),
        # all three terms inside a window but OUT OF ORDER -> no match
        (103, "beta alpha gamma and then some more text"),
        # in order but beta sits PAST the 6-token window -> no match
        (104, "alpha f1 f2 f3 f4 f5 beta gamma more"),
        # only two of the three terms -> no match
        (105, "alpha beta delta epsilon zeta eta theta"),
    ]
    docs = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
        "lang": pa.array(["en"] * len(rows)),
        "source": pa.array(["s"] * len(rows)),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(docs, tmp_path / "documents.parquet")
    sf = str(tmp_path)

    out = {r.doc_id: r for r in phrase_search(spark, sf).collect()}
    assert set(out) == {100, 101, 102}, sorted(out)
    assert all(r.phrase == "alpha beta gamma" for r in out.values())
    assert (out[100].n_exact, out[100].rank) == (2, 1)
    assert (out[101].n_exact, out[101].rank) == (1, 2)
    assert (out[102].n_exact, out[102].n_prox, out[102].rank) == (0, 1, 3)
    # a consecutive match IS a windowed match
    assert all(r.n_prox >= r.n_exact for r in out.values())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    assert_matches_oracle(phrase_search(spark, sf), con, PHRASE_SEARCH_SQL)


def test_phrase_search_stream_equals_batch_image(spark, tmp_path):
    """Arriving documents scanned per micro-batch against the frozen
    watchlist must union to the batch kernel's image over the same
    corpus (documents are independent rows)."""
    from pyspark.sql import functions as F

    from trisk_spark.functions.text import (
        _phrase_probes,
        phrase_search_frame,
        phrase_search_stream,
    )
    from trisk_spark.streaming.sources import checkpoint_dir

    from .conftest import SF_DIR

    sf = SF_DIR
    corpus = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    pdir = str(tmp_path / "docs")
    corpus.repartitionByRange(3, F.col("doc_id")).write.mode(
        "overwrite"
    ).parquet(pdir)

    got = []

    def sink(df, bid):
        got.extend(map(tuple, df.collect()))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
    )
    q = (
        phrase_search_stream(spark, stream, sf, sink)
        .option("checkpointLocation", checkpoint_dir("phrasestream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    probes = _phrase_probes(spark, sf)
    want = sorted(
        map(tuple, phrase_search_frame(spark, corpus, probes).collect())
    )
    assert sorted(got) == want and want


def test_quality_calibrate_flips_and_exactness(spark, tmp_path):
    """The calibration semantics on a skewed two-source corpus: a
    boilerplate source whose EVERY doc fails the global median still
    keeps its own top half under calibration (and a clean source's
    bottom half loses its global pass) — the flip set is exactly what
    a threshold choice decides about. Per-source keep counts are the
    exact ceil(n/2) the rank test implies; a single-doc source keeps
    its doc. Oracle agrees on the fixture corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.text import (
        QUALITY_CALIBRATE_SQL,
        quality_calibrate,
    )

    from .conftest import assert_matches_oracle

    rows = []
    for i in range(100):  # clean: long distinct-word docs, quality varies
        rows.append(
            (i, " ".join(f"cleanword{i}x{j}" for j in range(40 + i % 40)),
             "clean")
        )
    for i in range(100, 200):  # boiler: short stopword-heavy docs
        rows.append(
            (i, "the a of and " + " ".join(f"w{j}" for j in range(2 + i % 7)),
             "boiler")
        )
    rows.append((500, " ".join(f"solo{j}" for j in range(30)), "solo"))
    docs = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
        "lang": pa.array(["en"] * len(rows)),
        "source": pa.array([r[2] for r in rows]),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(docs, tmp_path / "documents.parquet")
    sf = str(tmp_path)

    out = quality_calibrate(spark, sf).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)

    # every boiler doc fails the global gate; the clean class carries it
    assert all(r.keep_global == 0 for r in by_src["boiler"])
    # ...yet calibration keeps exactly its top half: the rank test
    # 2*(rank-1) >= n-1 admits ceil(n/2) docs of every source
    for src, rs in by_src.items():
        n = len(rs)
        assert sum(r.keep_calibrated for r in rs) == (n + 1) // 2, src
    # flips exist in BOTH directions
    assert any(r.flipped and r.keep_calibrated for r in by_src["boiler"])
    assert any(r.flipped and not r.keep_calibrated for r in by_src["clean"])
    # the single-doc source keeps its doc under calibration (rank 1 of 1)
    solo = by_src["solo"][0]
    assert (solo.src_rank, solo.src_n, solo.keep_calibrated) == (1, 1, 1)
    # all-integer contract: no floats anywhere in the schema
    schema = quality_calibrate(spark, sf).schema
    assert all(f.dataType.typeName() in ("long", "integer", "string")
               for f in schema.fields), schema

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    assert_matches_oracle(
        quality_calibrate(spark, sf), con, QUALITY_CALIBRATE_SQL
    )


def test_phrase_and_calibrate_hostile_inputs(spark, tmp_path):
    """Degenerate corpora must yield empty/clean frames, not errors:
    NULL/empty/whitespace texts, a corpus with NO eligible probe doc
    (phrase_search's probe set empty), duplicate terms inside a
    phrase, and a corpus where every doc is word-less (calibration's
    median over an empty quantized set)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.text import (
        PHRASE_SEARCH_SQL,
        QUALITY_CALIBRATE_SQL,
        phrase_search,
        quality_calibrate,
    )

    from .conftest import assert_matches_oracle

    def write(rows, d):
        docs = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array([r[2] for r in rows]),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
        })
        p = tmp_path / d
        p.mkdir()
        pq.write_table(docs, p / "documents.parquet")
        return str(p)

    # 1. no eligible probe (every doc_id < 8 has < 5 tokens or NULL
    #    text) -> empty frame on both engines, schema intact
    sf1 = write(
        [(0, "too short", "s"), (1, None, "s"), (2, "   ", "s"),
         (100, "alpha beta gamma delta epsilon zeta", "s")],
        "noprobe",
    )
    out = phrase_search(spark, sf1)
    assert out.count() == 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf1}/documents.parquet')"
    )
    assert_matches_oracle(out, con, PHRASE_SEARCH_SQL)

    # 2. duplicate terms INSIDE the phrase (probe tokens[2:5] =
    #    "dup dup tail") + hostile texts in the corpus
    sf2 = write(
        [(0, "pad pad dup dup tail after words pad", "s"),
         (100, "dup dup tail exact match here pad pad", "s"),
         (101, "dup x dup y tail windowed match pad", "s"),
         (102, None, "s"), (103, "", "s")],
        "dupterms",
    )
    got = {r.doc_id: r for r in phrase_search(spark, sf2).collect()}
    assert got[100].n_exact == 1 and got[101].n_exact == 0
    assert got[101].n_prox == 1
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf2}/documents.parquet')"
    )
    assert_matches_oracle(phrase_search(spark, sf2), con2, PHRASE_SEARCH_SQL)

    # 3. calibration over an all-degenerate corpus (no doc has words)
    #    -> empty frame, no NULL-median crash on either engine
    sf3 = write(
        [(0, None, "s"), (1, "", "s"), (2, "   ", "t")], "wordless"
    )
    out3 = quality_calibrate(spark, sf3)
    assert out3.count() == 0
    con3 = duckdb.connect()
    con3.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf3}/documents.parquet')"
    )
    assert_matches_oracle(out3, con3, QUALITY_CALIBRATE_SQL)

    # 4. single-doc corpus: the doc is its own median and source head
    sf4 = write([(7, " ".join(f"w{i}" for i in range(20)), "only")], "one")
    row = quality_calibrate(spark, sf4).collect()
    assert len(row) == 1 and (
        row[0].keep_global, row[0].keep_calibrated, row[0].flipped
    ) == (1, 1, 0)


def test_cluster_split_zero_straddling_and_moves(spark, tmp_path):
    """The leakage-safe split's defining invariant on a planted
    corpus: EVERY near-dup pair shares one split (zero straddling, by
    construction — the thing cross_split_leakage would otherwise
    measure), the moved set is exactly the docs whose cluster-canonical
    bucket disagrees with their own, singletons keep their doc-level
    assignment, and the oracle agrees on the fixture corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trisk_spark.functions.dedup import dedup_minhash_lsh
    from trisk_spark.functions.sampling import (
        CLUSTER_SPLIT_SQL,
        cluster_split,
        train_split,
    )

    from .conftest import assert_matches_oracle

    # one large near-dup cluster with ids scattered across the md5
    # bucket space (40 members: doc-level buckets are guaranteed to
    # disagree somewhere), plus unrelated singleton docs
    dup = " ".join(f"shared{i % 23} words here" for i in range(40))
    cluster_ids = [7 * i + 1 for i in range(40)]
    rows = [(i, dup + f" tail{i % 3}", "web") for i in cluster_ids]
    singleton_ids = [1000 + i for i in range(20)]
    rows += [
        (i, " ".join(f"u{i}w{j}" for j in range(40)), "code")
        for i in singleton_ids
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array([r[2] for r in rows]),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)

    out = {r.doc_id: r for r in cluster_split(spark, sf).collect()}
    assert set(out) == set(cluster_ids) | set(singleton_ids)

    # ZERO straddling: every detected near-dup pair shares a split
    pairs = dedup_minhash_lsh(spark, sf).collect()
    assert pairs, "fixture must actually produce near-dup pairs"
    assert all(
        out[p.doc_a].split == out[p.doc_b].split for p in pairs
    ), "a near-dup pair straddles the split — the invariant this op exists for"

    # the naive doc-level split DOES straddle this cluster (the
    # contamination being removed), and moved marks exactly the
    # disagreement set
    naive = {r.doc_id: r.split for r in train_split(spark, sf).collect()}
    in_cluster = {naive[i] for i in cluster_ids if i in out}
    assert len(in_cluster) > 1, "fixture cluster must straddle under md5"
    assert any(out[i].moved for i in cluster_ids)
    assert all(
        bool(out[i].moved) == (out[i].split != naive[i]) for i in out
    )
    # singletons: canonical = own id, split = doc-level, never moved
    for i in singleton_ids:
        assert out[i].canonical_id == i and out[i].moved == 0
        assert out[i].split == naive[i]
    # cluster members all carry the canonical (min) member id
    mn = min(i for i in cluster_ids if i in out)
    assert all(out[i].canonical_id == mn for i in cluster_ids)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    assert_matches_oracle(cluster_split(spark, sf), con, CLUSTER_SPLIT_SQL)
