"""Similarity search over the ``embeddings`` table (array<float>, 64-d):
brute-force cosine top-k (the exactness baseline) and an LSH-bucketed
approximate variant (the scale path).

Float-parity design: cosine computed on *scaled integers* —
``xi = floor(x * 1e6)`` per element — so dot products and norms are
exact BIGINT sums (order-insensitive, identical in Spark and DuckDB);
only the final ``dot / (|a||b|)`` touches floating point, on identical
inputs. ``floor`` avoids round-half mode differences between engines.

Scale notes: brute-force is O(queries × corpus) — fine for a probe set,
and the inner product is a JVM-side higher-order function (no Python).
The LSH variant buckets by hyperplane sign bits so each query compares
against ~corpus/2^bits; at 100 TB one raises the bit count and stores
bucket-partitioned embeddings so the probe is a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from trisk_spark.catalog import (
    cached_cols,
    local_rows,
    spread_narrow_scan,
    table,
)
from trisk_spark.registry import register
from trisk_spark.session import loop_session, partial_agg_fan, rebind
from trisk_spark.streaming.sinks import per_batch

N_PROBES = 5  # query set: vec_id < N_PROBES
TOP_K = 10
SCALE = 1_000_000
DIM = 64  # embeddings table dimensionality (TESTDATA.md)

# Scaled-integer vector: floor(x * 1e6) per element.
_SCALED_SQL = "list_transform({col}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]))"

# Validity gate, identical on both engines: schema-legal-but-degenerate
# embeddings (NULL vector, wrong dimensionality, NULL element, NULL
# vec_id) are excluded up front. Without the gate the engines DIVERGE:
# DuckDB's list_sum skips the NULLs that list_zip pads onto a
# short vector while Spark's aggregate() propagates them, and NULL
# cosine rows rank nondeterministically in top-k windows. Zero-SCALED-
# norm vectors (zero vector, or all |x| < 1e-6 flooring to zeros) are
# additionally dropped where each op computes norms — 0/0 cosine is
# NULL on both engines but would otherwise occupy top-k rank slots.
_VALID_EMB_SQL = f"""(SELECT * FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) = {DIM}
    AND len(list_filter(embedding, x -> x IS NULL)) = 0)"""


def _valid_embeddings(emb: DataFrame, dim: int = DIM) -> DataFrame:
    """Engine half of the validity gate — mirrors ``_VALID_EMB_SQL``.
    ``dim`` is the expected vector length (default: this corpus's 64);
    reusable helpers taking arbitrary corpora thread their own."""

    def build() -> Column:
        e = F.col("embedding")
        return (
            F.col("vec_id").isNotNull()
            & e.isNotNull()
            & (F.size(e) == dim)
            & ~F.exists(e, lambda x: x.isNull())
        )

    return emb.where(cached_cols(f"sim.valid_emb.{dim}", build))


def _scaled(col: Column | str) -> Column:
    """Scaled-int vector expression; pass the column NAME where possible
    — string inputs memoize the built tree (``cached_cols``: the
    lambda-function nodes here cost several py4j round trips each, and
    the similarity family builds these in every query)."""
    if isinstance(col, str):
        return cached_cols(f"sim.scaled.{col}", lambda: _scaled(F.col(col)))
    return F.transform(col, lambda x: F.floor(x.cast("double") * SCALE).cast("bigint"))


def _dot(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot expression; string inputs memoize (see _scaled)."""
    if isinstance(a, str) and isinstance(b, str):
        return cached_cols(
            f"sim.dot.{a}.{b}", lambda: _dot(F.col(a), F.col(b))
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )


def _check_dot_bound(a_max: int, b_max: int, dim: int) -> None:
    """Loud no-overflow precondition for the numpy int64 GEMM kernels:
    |dot| ≤ dim·max|a|·max|b| must stay inside int64, because the three
    engines DIVERGE past it — Spark 4's ANSI-mode bigint fold throws,
    DuckDB's list_sum promotes to HUGEINT, and numpy would silently
    wrap to a wrong cosine. Checked in exact Python integers per Arrow
    batch (one O(n·d) abs-max scan, negligible vs the matmul); this
    corpus's scaled-int bound is ~6e13, far inside 2^63."""
    if dim * a_max * b_max >= 2**63:
        raise OverflowError(
            f"int64 GEMM dot bound exceeded: dim={dim} max|a|={a_max} "
            f"max|b|={b_max} — quantize or rescale the vectors (the JVM "
            "ANSI fold would throw here; numpy would silently wrap)"
        )


def _with_norm(df: DataFrame, id_col: str, prefix: str) -> DataFrame:
    sv = _scaled("embedding")
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        sv.alias(f"{prefix}_vec"),
    ).withColumn(f"{prefix}_norm", _dot(F.col(f"{prefix}_vec"), F.col(f"{prefix}_vec")))


KNN_BRUTE_SQL = f"""
WITH sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
q AS (SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm FROM n WHERE vec_id < {N_PROBES}),
pairs AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="qvec", b="vec")} AS DOUBLE)
         / (SQRT(CAST(qnorm AS DOUBLE)) * SQRT(CAST(norm AS DOUBLE))), 6) AS DOUBLE) AS cosine_sim
  FROM q CROSS JOIN n
  WHERE q.query_id <> n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a probe set against the whole corpus.

    RETIRED to library-only status in r15 (the registry's sanctioned
    seat-freeing mechanism — r14 VERDICT next-round #1): the exact
    blocked-GEMM top-k kernel is driver-hash-gated by
    ``cosine_near_dup_exact`` and ``knn_label_vote`` (same kernel),
    ``ann_recall`` drives it verbatim as its brute side, and the full
    oracle still runs every round via test_oracle_parity's library
    pass (``load_library``). The broadcast-GEMM scorer lives in
    ``_gemm_topk`` (factored out r15 so ``margin_pair_mining`` shares
    the identical kernel).
    Plan: the ≤N_PROBES probe vectors are driver-held and shipped as a
    broadcast model; the corpus is scanned ONCE through an
    Arrow-batched numpy kernel that scores every (probe, vector) pair
    by exact int64 matmul (bit-identical to the oracle's BIGINT fold —
    same contract as ``_assign_gemm``). Rounding stays JVM-side
    (F.round on the raw cosine) so it is byte-identical to the SQL
    ROUND; rank prunes to k per query. At 100 TB this is the
    map-side-GEMM brute-force baseline every ANN variant is measured
    against."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    n = _with_norm(emb, "vec_id", "n").where(F.col("n_norm") > 0)
    return _gemm_topk(spark, n.where(F.col("n_id") < N_PROBES), n, TOP_K)


#: fail-loud ceiling on a ``_gemm_topk`` probe set: every probe row
#: ships in the broadcast model (the LM_MAX_MODEL_ROWS class)
MAX_GEMM_TOPK_PROBES = 100_000


def _gemm_topk(
    spark: SparkSession,
    probe_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    max_probes: int = MAX_GEMM_TOPK_PROBES,
) -> DataFrame:
    """Exact cosine top-k of a bounded probe frame against a corpus
    frame — the brute-force engine ``knn_bruteforce`` always was, with
    the two sides parameterized (r15: ``margin_pair_mining`` scores
    disjoint corpus halves through the identical kernel). Both inputs
    are normed frames (``_with_norm`` layout: n_id, n_vec scaled-int,
    n_norm > 0). Plan: the probes are driver-held and shipped as a
    broadcast model (fail-loud past ``max_probes``); the corpus is
    scanned ONCE through an Arrow-batched numpy kernel that scores
    every (probe, vector) pair by exact int64 matmul (bit-identical to
    the oracle's BIGINT fold). Rounding stays on the raw cosine before
    ranking so it is byte-identical to the SQL ROUND; self-pairs
    (probe id == corpus id) are excluded; rank ties break on
    neighbor_id. Returns (query_id, neighbor_id, cosine_sim, rank ≤
    k)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    probes = probe_df.orderBy("n_id").limit(max_probes + 1).collect()
    if len(probes) > max_probes:
        raise ValueError(
            f"_gemm_topk probe set exceeds {max_probes} rows — every "
            "probe ships in the broadcast model; split the probe set "
            "or raise max_probes"
        )
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cos_raw", DoubleType()),
        ]
    )
    if not probes:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
        )
    qmat = np.array([list(r.n_vec) for r in probes], dtype=np.int64)
    qn = np.sqrt(np.array([float(r.n_norm) for r in probes]))
    qids = np.array([r.n_id for r in probes], dtype=np.int64)
    model = spark.sparkContext.broadcast((qmat, qn, qids))

    def score(batches):
        qmat, qn, qids, = model.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["n_vec"]), dtype=np.int64)
            vn = np.sqrt(pdf["n_norm"].to_numpy(dtype=np.float64))
            nids = pdf["n_id"].to_numpy()
            _check_dot_bound(
                int(np.abs(qmat).max(initial=0)),
                int(np.abs(v).max(initial=0)),
                v.shape[1],
            )
            # exact int64 dots, then the same double ops in the same
            # order as the JVM expression: dot / (sqrt(qn) * sqrt(vn))
            cos = (qmat @ v.T).astype(np.float64) / (qn[:, None] * vn[None, :])
            qi, ni = np.meshgrid(np.arange(len(qids)), np.arange(len(nids)),
                                 indexing="ij")
            keep = qids[qi.ravel()] != nids[ni.ravel()]
            yield pd.DataFrame(
                {
                    "query_id": qids[qi.ravel()][keep],
                    "neighbor_id": nids[ni.ravel()][keep],
                    "cos_raw": cos.ravel()[keep],
                }
            )

    pairs = corpus_df.mapInPandas(score, out_schema).select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ------------------------------------- embedding-cosine near-dup -----

NEAR_DUP_COS = 0.30  # corpus is near-orthogonal random; 0.30 isolates the tail

COSINE_NEAR_DUP_SQL = f"""
WITH sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    CAST({_DOT_SQL.format(a="a.vec", b="b.vec")} AS DOUBLE)
      / (SQRT(CAST(a.norm AS DOUBLE)) * SQRT(CAST(b.norm AS DOUBLE))) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine_sim
FROM pairs WHERE cos >= {NEAR_DUP_COS}
"""


BLOCK_SIZE = 512  # vectors per GEMM block


def _gemm_block_pairs(batches):
    """mapInPandas kernel: each input row is a PAIR of vector blocks;
    one numpy GEMM scores all cross-pairs, threshold applied in-kernel.

    Exactness: scaled-int dots are ≤ 64 · (10^6)^2 ≈ 6.4e13 < 2^53, so
    float64 GEMM is exact integer arithmetic — bit-identical to the
    oracle's BIGINT sums."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = {"vec_a": [], "vec_b": [], "cosine_sim": []}
        for raw_a, raw_b, vl_a, vl_b in zip(
            pdf["ids_a"], pdf["ids_b"], pdf["vecs_a"], pdf["vecs_b"]
        ):
            ids_a = np.asarray(raw_a, dtype=np.int64)
            ids_b = np.asarray(raw_b, dtype=np.int64)
            va = np.stack([np.asarray(v, dtype=np.float64) for v in vl_a])
            vb = np.stack([np.asarray(v, dtype=np.float64) for v in vl_b])
            dots = va @ vb.T
            na = np.sqrt((va * va).sum(axis=1))
            nb = np.sqrt((vb * vb).sum(axis=1))
            cos = dots / np.outer(na, nb)
            ia, ib = np.nonzero((cos >= NEAR_DUP_COS) & (ids_a[:, None] < ids_b[None, :]))
            out["vec_a"].extend(ids_a[ia].tolist())
            out["vec_b"].extend(ids_b[ib].tolist())
            out["cosine_sim"].extend(np.round(cos[ia, ib], 6).tolist())
        yield pd.DataFrame(out)


@register("cosine_near_dup_exact", oracle=COSINE_NEAR_DUP_SQL)
def cosine_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all pairs with
    cosine ≥ threshold, computed as blocked matrix multiplication —
    vectors are grouped into BLOCK_SIZE blocks, block pairs (a ≤ b) fan
    out, and an Arrow-batched numpy GEMM scores each block pair (the
    vectorized-Pandas-UDF path: ~100× the per-pair higher-order-function
    plan).

    Scale: O((n/B)²) block-pair rows — exact threshold-join over all
    pairs is inherently quadratic, so this is the small-corpus /
    verify-stage baseline; ``cosine_near_dup_lsh`` is the LSH-blocked
    scale path that avoids the quadratic join."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    emb = _valid_embeddings(
        spread_narrow_scan(table(spark, sf_dir, "embeddings"))
    )
    sc = emb.select(
        "vec_id", _scaled("embedding").alias("vec")
    ).where(_dot("vec", "vec") > 0)
    blocks = (
        sc.select(
            (F.col("vec_id") / BLOCK_SIZE).cast("bigint").alias("block"),
            "vec_id",
            "vec",
        )
        .groupBy("block")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("vec").alias("vecs"),
        )
    )
    a = blocks.select(
        F.col("block").alias("block_a"), F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    b = blocks.select(
        F.col("block").alias("block_b"), F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    pairs = a.join(b, F.col("block_a") <= F.col("block_b"))
    schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    return pairs.select("ids_a", "ids_b", "vecs_a", "vecs_b").mapInPandas(
        _gemm_block_pairs, schema
    )


# ----------------------------- LSH-blocked cosine near-dup (scale) ---

# Sign-random-projection banding: 8 bands × 8 sign bits over disjoint
# dimension groups (64-d vectors → every dim used once). Two vectors are
# candidates iff their sign bits agree on ALL bits of SOME band — the
# same band-OR structure as dedup_minhash_lsh. Per-band collision
# probability for angle θ is (1 − θ/π)^BAND_DIMS, so recall is tuned for
# the near-dup regime: at cos ≥ 0.9 (θ ≈ 26°) recall ≈ 1−(1−0.29)^8 ≈
# 0.94, while unrelated near-orthogonal pairs (θ ≈ 90°, p ≈ 2^-8 per
# band) almost never collide — candidate volume ~n²/256 per band on
# random data, and each bucket is GEMM-verified exactly. Buckets are
# hard-capped (VEC_BUCKET_CAP smallest vec_ids, row_number window before
# the collect) so a degenerate corpus cannot build an unbounded bucket.
COS_NB_BANDS = 8
COS_BAND_DIMS = 8
VEC_BUCKET_CAP = 1024

_COS_BAND_SQL = [
    " + ".join(
        f"(CASE WHEN vec[{b * COS_BAND_DIMS + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(COS_BAND_DIMS)
    )
    for b in range(COS_NB_BANDS)
]

COSINE_LSH_NEAR_DUP_SQL = f"""
WITH sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
bands AS (
  SELECT vec_id, vec, norm,
    {", ".join(f"{_COS_BAND_SQL[b]} AS band{b}" for b in range(COS_NB_BANDS))}
  FROM n
),
{",".join(
  f'''vcapped{b} AS (
  SELECT vec_id, vec, norm, band{b} FROM (
    SELECT vec_id, vec, norm, band{b},
      row_number() OVER (PARTITION BY band{b} ORDER BY vec_id) AS rn
    FROM bands)
  WHERE rn <= {VEC_BUCKET_CAP})'''
  for b in range(COS_NB_BANDS)
)},
cand AS (
  {" UNION ALL ".join(
    f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    f"CAST({_DOT_SQL.format(a='a.vec', b='b.vec')} AS DOUBLE)"
    f" / (SQRT(CAST(a.norm AS DOUBLE)) * SQRT(CAST(b.norm AS DOUBLE))) AS cos "
    f"FROM vcapped{b} a JOIN vcapped{b} b "
    f"ON a.band{b} = b.band{b} AND a.vec_id < b.vec_id"
    for b in range(COS_NB_BANDS)
  )}
)
SELECT DISTINCT vec_a, vec_b, CAST(ROUND(cos, 6) AS DOUBLE) AS cosine_sim
FROM cand WHERE cos >= {NEAR_DUP_COS}
"""


def srp_band_val(vec_col: Column, b: int) -> Column:
    """Band ``b``'s sign-bit value of a scaled-int vector — the exact
    expression image of ``_COS_BAND_SQL[b]``, shared by the batch LSH
    pair kernel and the streaming semantic-dup flag (which must band
    arriving vectors with the SAME bits to meet the persisted index)."""
    out = F.lit(0)
    for i in range(COS_BAND_DIMS):
        out = out + F.when(
            F.element_at(vec_col, b * COS_BAND_DIMS + i + 1) >= 0,
            F.lit(1 << i),
        ).otherwise(0)
    return out


def _srp_bands(n: DataFrame) -> DataFrame:
    """Explode a (vec_id, vec) frame to one row per SRP band:
    (vec_id, vec, band_idx, bv) — map-side, in-row."""
    band_col = cached_cols(
        "sim.srp_bands",
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        srp_band_val(F.col("vec"), b).alias("bv"),
                    )
                    for b in range(COS_NB_BANDS)
                ]
            )
        ).alias("band"),
    )
    return n.select("vec_id", "vec", band_col).select(
        "vec_id", "vec", "band.band_idx", "band.bv"
    )


def _gemm_bucket_pairs(batches):
    """mapInPandas kernel: each input row is ONE LSH bucket (ids, vecs);
    a numpy GEMM scores all in-bucket pairs i<j, threshold applied
    in-kernel. Norms are recomputed from the integer vectors (cheaper
    than shipping a third nested array through the shuffle). Same
    exact-integer float64 argument as _gemm_block_pairs."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = {"vec_a": [], "vec_b": [], "cosine_sim": []}
        for raw_ids, raw_vecs in zip(pdf["ids"], pdf["vecs"]):
            ids = np.asarray(raw_ids, dtype=np.int64)
            v = np.stack([np.asarray(x, dtype=np.float64) for x in raw_vecs])
            nrm = np.sqrt((v * v).sum(axis=1))
            cos = (v @ v.T) / np.outer(nrm, nrm)
            ia, ib = np.nonzero((cos >= NEAR_DUP_COS) & (ids[:, None] < ids[None, :]))
            out["vec_a"].extend(ids[ia].tolist())
            out["vec_b"].extend(ids[ib].tolist())
            out["cosine_sim"].extend(np.round(cos[ia, ib], 6).tolist())
        yield pd.DataFrame(out)


@register("cosine_near_dup_lsh", oracle=COSINE_LSH_NEAR_DUP_SQL)
def cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked embedding-cosine near-dup pairs — the 100 TB path.

    Sign-random-projection bands (COS_NB_BANDS × COS_BAND_DIMS sign
    bits over disjoint dims) generate candidate buckets; each bucket is
    scored by an exact in-bucket numpy GEMM (the verify stage), so the
    plan contains NO all-pairs join — one shuffle on (band, value),
    in-bucket pair generation, distinct. Semantics: pairs agreeing on at
    least one full band with cosine ≥ threshold; the oracle mirrors the
    banding exactly (deterministic sign bits of the scaled vectors).
    Recall math in the constants comment; ``cosine_near_dup_exact`` is
    the all-pairs baseline. (Named *_lsh since round 3 — the approximate
    and exact semantics carry distinct names so neither is mistaken for
    the other.)

    Bucket cap: slice(array_sort(collect_list)) keeps the
    VEC_BUCKET_CAP smallest vec_ids per bucket — no Window, no extra
    Sort, no pre-count action. (Round 4 ran a driver-side max-bucket
    pre-count to choose between this and a row_number window; that was
    a second full scan+banding job in the hot path and pushed the bench
    to 2.31× recorded. The two plans keep exactly the same rows, so the
    choice is now an explicit ``expect_degenerate`` flag for corpora
    where a mega-bucket would blow the collect_list buffer — see
    ``cosine_lsh_pairs``.) Both paths match the oracle's per-band
    row_number cap. Production wiring for the degenerate path: set
    ``spark.trisk.cosineLsh.expectDegenerate=true`` on the session (a
    conf, not a pre-count — the decision is the operator's caller's,
    who knows the corpus)."""
    emb = spread_narrow_scan(table(spark, sf_dir, "embeddings"))
    degenerate = (
        str(
            spark.conf.get("spark.trisk.cosineLsh.expectDegenerate", "false")
        ).lower()
        == "true"
    )
    return cosine_lsh_pairs(emb, expect_degenerate=degenerate)


def cosine_lsh_pairs(
    emb: DataFrame,
    cap: int = VEC_BUCKET_CAP,
    expect_degenerate: bool = False,
    dim: int = DIM,
) -> DataFrame:
    """SRP-LSH near-dup pairs over a (vec_id, embedding) DataFrame —
    see ``cosine_near_dup_lsh`` for semantics. Exposed for tests
    (synthetic degenerate corpora).

    ``expect_degenerate=False`` (default): cap buckets with
    slice(array_sort(collect_list)) — single shuffle, no Window. The
    collect_list buffers a whole bucket before the slice, so on a
    corpus KNOWN to contain mega-buckets (≫cap identical embeddings —
    e.g. zero-vector spam at 100 TB) pass ``expect_degenerate=True``
    to cap via a row_number window BEFORE the aggregate: the window
    sort spills to disk instead of buffering the bucket in one
    aggregation buffer. Both paths keep exactly the cap smallest
    vec_ids per bucket — identical output rows."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    n = (
        _valid_embeddings(emb, dim=dim)
        .select("vec_id", _scaled("embedding").alias("vec"))
        .where(_dot("vec", "vec") > 0)
    )
    bands = _srp_bands(n)
    if expect_degenerate:
        w = Window.partitionBy("band_idx", "bv").orderBy("vec_id")
        capped = bands.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= cap
        )
        buckets = (
            capped.groupBy("band_idx", "bv")
            .agg(
                F.collect_list("vec_id").alias("ids"),
                F.collect_list("vec").alias("vecs"),
            )
            .where(F.size("ids") > 1)
        )
    else:
        buckets = (
            bands.groupBy("band_idx", "bv")
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("vec_id", "vec"))),
                    1, cap,
                ).alias("s")
            )
            .where(F.size("s") > 1)
            .select(F.col("s.vec_id").alias("ids"), F.col("s.vec").alias("vecs"))
        )
    schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    return (
        buckets.select("ids", "vecs")
        .mapInPandas(_gemm_bucket_pairs, schema)
        .distinct()
    )


# ------------------------------------- semantic dedup (SemDeDup) -----

# Embedding-space near-duplicate CLUSTERS — the modern LLM-pipeline
# dedup stage (SemDeDup, Abbas et al. 2023: cluster semantically-
# near-identical documents by embedding similarity, keep one per
# cluster): SRP-LSH candidate pairs (never all-pairs) → connected
# components via min-label propagation → component = smallest doc_id,
# the canonical keeper. vec_id IS the document id (embeddings is the
# corpus's parallel embedding table).

DEDUP_SEMANTIC_SQL = f"""
WITH RECURSIVE cand AS ({COSINE_LSH_NEAR_DUP_SQL}),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM cand
  UNION
  SELECT vec_b, vec_a FROM cand
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
"""


@register("dedup_semantic", oracle=DEDUP_SEMANTIC_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicate clusters over the embedding table —
    SemDeDup-class dedup: documents whose embeddings sit within
    NEAR_DUP_COS of each other (transitively) form one cluster;
    component = smallest doc_id, the keeper every downstream stage
    (``curation_manifest_semantic``) retains.

    Plan: candidate pairs come from the bucketed SRP-LSH kernel
    (``cosine_lsh_pairs`` — one shuffle on (band, value), in-bucket
    GEMM, NO all-pairs join), and components from the shared edge-list
    min-label propagation (``dedup.min_label_components`` —
    localCheckpoint per round, driver sees loop counters only). At
    100 TB both halves are the already-proven scale paths; only ids
    cross between them. Cluster semantics are replay-tested against a
    pure-Python union-find in pytest."""
    from trisk_spark.functions.dedup import min_label_components

    emb = spread_narrow_scan(table(spark, sf_dir, "embeddings"))
    pairs = cosine_lsh_pairs(emb)
    return min_label_components(pairs, a_col="vec_a", b_col="vec_b")


# -------------------------------------------- LSH-bucketed ANN -------

N_SIGN_BITS = 4  # bucket = sign bits of the first 4 dimensions

_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {{col}}[{i + 1}] >= 0 THEN {1 << (N_SIGN_BITS - 1 - i)} ELSE 0 END)"
    for i in range(N_SIGN_BITS)
)


def _bucket(col: Column) -> Column:
    out = F.lit(0)
    for i in range(N_SIGN_BITS):
        out = out + F.when(
            F.element_at(col, i + 1) >= 0, F.lit(1 << (N_SIGN_BITS - 1 - i))
        ).otherwise(0)
    return out


ANN_LSH_SQL = f"""
WITH sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec,
         {_BUCKET_SQL.format(col="embedding")} AS bucket
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, bucket, {_DOT_SQL.format(a="vec", b="vec")} AS norm
    FROM sc
  ) WHERE norm > 0
),
q AS (SELECT vec_id AS query_id, vec AS qvec, bucket AS qbucket, norm AS qnorm
      FROM n WHERE vec_id < {N_PROBES}),
pairs AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="qvec", b="vec")} AS DOUBLE)
         / (SQRT(CAST(qnorm AS DOUBLE)) * SQRT(CAST(norm AS DOUBLE))), 6) AS DOUBLE) AS cosine_sim
  FROM q JOIN n ON q.qbucket = n.bucket
  WHERE q.query_id <> n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@register("ann_lsh_bucketed", oracle=ANN_LSH_SQL)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: compare only within the query's sign-bit
    bucket (~1/16th of the corpus). Same scoring as knn_bruteforce —
    recall traded for a 2^bits candidate reduction. Plan: equi-join on
    bucket id instead of a cross join; at scale, bucket becomes a
    partition column → partition-pruned probes."""
    emb = _valid_embeddings(
        spread_narrow_scan(table(spark, sf_dir, "embeddings"))
    )
    sc = emb.select(
        "vec_id",
        _scaled("embedding").alias("vec"),
        _bucket(F.col("embedding")).alias("bucket"),
    )
    n = sc.withColumn("norm", _dot("vec", "vec")).where(
        F.col("norm") > 0
    )
    q = n.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
        F.col("norm").alias("qnorm"),
    )
    pairs = (
        F.broadcast(q)
        .join(n, F.col("qbucket") == F.col("bucket"))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot("qvec", "vec").cast("double")
                / (
                    F.sqrt(F.col("qnorm").cast("double"))
                    * F.sqrt(F.col("norm").cast("double"))
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# ------------------------------------------------------ IVF ANN ------

N_CENTROIDS = 64   # fixed K — independent of corpus size
N_PROBE_LISTS = 3


def _ivf_parts_sql() -> str:
    """Shared CTE prefix: scaled vectors + norms, fixed-K centroids,
    argmax list assignment (struct MAX — no per-vector window)."""
    return f"""
sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
cents AS (
  SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n
  ORDER BY vec_id LIMIT {N_CENTROIDS}
),
assign AS (
  SELECT n.vec_id, n.vec, n.norm,
    -MAX({{'cos': CAST({_DOT_SQL.format(a="n.vec", b="c_vec")} AS DOUBLE)
          / (SQRT(CAST(n.norm AS DOUBLE)) * SQRT(CAST(c_norm AS DOUBLE))),
         'nc': -c_id}}).nc AS list_id
  FROM n CROSS JOIN cents
  GROUP BY n.vec_id, n.vec, n.norm
)"""


ANN_IVF_SQL = f"""
WITH {_ivf_parts_sql()},
q AS (SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm FROM n
      WHERE vec_id < {N_PROBES}),
qlists AS (
  SELECT query_id, qvec, qnorm, c_id AS list_id FROM (
    SELECT q.query_id, q.qvec, q.qnorm, cents.c_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        CAST({_DOT_SQL.format(a="qvec", b="c_vec")} AS DOUBLE)
          / (SQRT(CAST(qnorm AS DOUBLE)) * SQRT(CAST(c_norm AS DOUBLE))) DESC,
        cents.c_id) AS rn
    FROM q CROSS JOIN cents
  ) WHERE rn <= {N_PROBE_LISTS}
),
pairs AS (
  SELECT ql.query_id, a.vec_id AS neighbor_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="qvec", b="a.vec")} AS DOUBLE)
         / (SQRT(CAST(qnorm AS DOUBLE)) * SQRT(CAST(a.norm AS DOUBLE))), 6) AS DOUBLE) AS cosine_sim
  FROM qlists ql JOIN assign a ON ql.list_id = a.list_id
  WHERE ql.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def _cent_cos(c: Column) -> Column:
    """Cosine between the row's `vec`/`norm` and one centroid struct."""
    return _dot(F.col("vec"), c["c_vec"]).cast("double") / (
        F.sqrt(F.col("norm").cast("double")) * F.sqrt(c["c_norm"].cast("double"))
    )


def _probe_top_lists() -> Column:
    """The probe-routing projection — top N_PROBE_LISTS centroids of
    the row's `cents` array by (cos DESC, c_id) — memoized: the tree
    nests the 64-dim dot fold inside a transform lambda (hundreds of
    py4j round trips per build) and is frame-independent: it names only
    the `vec`/`norm`/`cents` columns and module constants, never data
    (the centroid VALUES arrive through the `cents` column, so two
    different centroid models can never alias). Shared by ``ann_ivf``'s
    query routing and ``_route_probe_frame`` (ann_ivf_int8 / ivf_store
    probes / streaming probe batches) — the r17 cached_cols batch's
    one deferred site (r18, VERDICT item 5)."""
    return cached_cols(
        "similarity.probe_top_lists",
        lambda: F.slice(
            F.array_sort(
                F.transform(
                    "cents",
                    lambda c: F.struct(
                        (-_cent_cos(c)).alias("neg_cos"),
                        c["c_id"].alias("c_id"),
                    ),
                )
            ),
            1, N_PROBE_LISTS,
        ),
    )


def _with_cent_array(side: DataFrame, cents: DataFrame) -> DataFrame:
    """Attach the full centroid set to every row as ONE array column:
    centroids are collapsed to a single-row array-of-structs and
    broadcast, so nearest-centroid selection is a pure map-side
    higher-order-function — NO shuffle, NO window, O(rows × K)."""
    cents_arr = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("c_id", "c_vec", "c_norm"))
        ).alias("cents")
    )
    return side.crossJoin(F.broadcast(cents_arr))


def _assign_gemm(spark: SparkSession, n: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as an Arrow-batched numpy kernel —
    the vectorized replacement for the JVM array-argmax (which Catalyst
    evaluates as INTERPRETED higher-order lambdas; PERF_NOTES r7
    measured the GEMM kernel 6× faster on identical assignments). Still
    map-side work over the scan: NO shuffle, NO window — the K-row
    centroid table is collected once at plan build (the driver-held
    model, same class as the dedup_clusters loop counters) and shipped
    as a SparkContext broadcast.

    Exactness contract with the SQL oracles:
      * integer centroids (bigint c_vec): dots run in int64 matmul —
        exact integer arithmetic while every partial sum stays inside
        int64. On an overflowing corpus the three engines DIVERGE
        (Spark 4 runs ANSI mode and the JVM fold would THROW; DuckDB's
        list_sum promotes to HUGEINT; numpy would silently wrap), so
        the kernel asserts the no-overflow precondition loudly
        (``_check_dot_bound``) instead of documenting a wrap that
        Spark's ANSI fold does not actually share;
      * double centroids (Lloyd means): dots accumulate dimension-by-
        dimension in index order (``acc += v_d * c_d``), the exact
        left-fold rounding sequence of ``_dotd`` and the oracle's
        ``list_reduce`` — a BLAS matmul would re-associate the sum and
        could flip an argmax tie.
    Ties break to the smallest c_id: centroids are ordered by c_id and
    np.argmax takes the first maximum. Returns (vec_id, vec, norm,
    list_id)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    rows = cents.orderBy("c_id").collect()
    is_int = isinstance(cents.schema["c_vec"].dataType.elementType, LongType)
    cmat = np.array([list(r.c_vec) for r in rows],
                    dtype=np.int64 if is_int else np.float64)
    cn = np.sqrt(np.array([float(r.c_norm) for r in rows], dtype=np.float64))
    cids = np.array([r.c_id for r in rows], dtype=np.int64)
    model = spark.sparkContext.broadcast((cmat, cn, cids, is_int))

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("vec", ArrayType(LongType())),
            StructField("norm", LongType()),
            StructField("list_id", LongType()),
        ]
    )

    def kern(batches):
        cmat, cn, cids, is_int = model.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["vec"]), dtype=np.int64)
            vn = np.sqrt(pdf["norm"].to_numpy(dtype=np.float64))
            if is_int:
                _check_dot_bound(
                    int(np.abs(v).max(initial=0)),
                    int(np.abs(cmat).max(initial=0)),
                    v.shape[1],
                )
                dots = (v @ cmat.T).astype(np.float64)
            else:
                vf = v.astype(np.float64)
                dots = np.zeros((v.shape[0], cmat.shape[0]))
                for d in range(cmat.shape[1]):  # left-fold over dims
                    dots += vf[:, d, None] * cmat.T[None, d, :]
            cos = dots / (vn[:, None] * cn[None, :])
            best = np.argmax(cos, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "vec": pdf["vec"],
                    "norm": pdf["norm"].to_numpy(),
                    "list_id": cids[best],
                }
            )

    return n.mapInPandas(kern, out_schema)


@register("ann_ivf", oracle=ANN_IVF_SQL)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus coarse-quantized to a FIXED number of
    centroid lists (N_CENTROIDS smallest vec_ids — the deterministic
    stand-in for a write-time k-means sample); each probe scans only its
    N_PROBE_LISTS nearest lists.

    Plan: list assignment is the Arrow-batched numpy GEMM kernel
    (``_assign_gemm``: K-row centroid model broadcast to executors,
    exact-integer dots, argmax per batch row) — O(n·K) map-side work,
    zero shuffle, zero window (the only Window in the whole plan is the
    final per-query top-k rank); r7 measured the kernel 6× faster than
    the interpreted JVM array-argmax it replaced (PERF_NOTES). At
    100 TB the assignment is a write-time step (store embeddings
    partitioned by list_id) and the probe becomes a partition-pruned
    scan of nprobe/nlist of the data; K stays fixed as the corpus
    grows.

    Reference has no ANN operator — beyond-reference mandate
    (training-data pipeline ops).
    """
    from pyspark.sql import Window

    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    n = (
        emb.select("vec_id", _scaled("embedding").alias("vec"))
        .withColumn("norm", _dot("vec", "vec"))
        .where(F.col("norm") > 0)
    )
    cents = n.orderBy("vec_id").limit(N_CENTROIDS).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"),
        F.col("norm").alias("c_norm"),
    )
    # argmax by (cos, smallest c_id) — the GEMM kernel computes the
    # identical exact-integer cosines the oracle's struct MAX ranks
    # (see _assign_gemm's exactness contract).
    assign = _assign_gemm(spark, n, cents)
    # Query routing: same array, sorted by (-cos, c_id), keep the top
    # N_PROBE_LISTS — still map-side (5 probe rows).
    q = n.where(F.col("vec_id") < N_PROBES)
    qtop = _with_cent_array(q, cents).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
        _probe_top_lists().alias("top"),
    )
    qlists = qtop.select(
        "query_id", "qvec", "qnorm",
        F.explode(F.col("top.c_id")).alias("list_id"),
    )
    pairs = (
        F.broadcast(qlists)
        .join(assign, "list_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot("qvec", "vec").cast("double")
                / (
                    F.sqrt(F.col("qnorm").cast("double"))
                    * F.sqrt(F.col("norm").cast("double"))
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# ----------------------------------------- kNN label vote (weak label) --

KNN_LABEL_VOTE_SQL = f"""
WITH ranked AS ({KNN_BRUTE_SQL}),
votes AS (
  SELECT r.query_id, CAST(e.label AS BIGINT) AS label, COUNT(*) AS n_votes
  FROM ranked r JOIN embeddings e ON r.neighbor_id = e.vec_id
  WHERE e.label IS NOT NULL
  GROUP BY r.query_id, e.label
)
SELECT query_id,
  -MAX({{'v': n_votes, 'nl': -label}}).nl AS predicted_label,
  MAX({{'v': n_votes, 'nl': -label}}).v AS n_votes
FROM votes GROUP BY query_id
"""


@register("knn_label_vote", oracle=KNN_LABEL_VOTE_SQL)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak labeling by kNN majority vote: each probe takes the modal
    label of its top-k cosine neighbors (ties break to the smallest
    label — struct MAX on (votes, -label), deterministic on both
    engines). The standard label-propagation primitive for bootstrapping
    training labels from a small seed set.

    Plan: the ranked top-k from knn_bruteforce (broadcast probes, one
    corpus scan), a label join on vec_id, and two tiny grouped
    aggregates — label assignment adds no extra corpus pass. The
    BROADCAST side is the N_PROBES×TOP_K ranked probe set (50 rows),
    never the corpus-sized label table — at 100 TB the label table is
    the corpus, and broadcasting it would OOM the driver; hashed on the
    tiny side, the join instead prunes the corpus scan."""
    ranked = knn_bruteforce(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    # unlabeled neighbors don't vote (matches the oracle's IS NOT NULL;
    # Spark's groupBy would otherwise co-group a NULL-label bloc whose
    # struct-max comparison against real labels is engine-dependent)
    labels = emb.where(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").cast("bigint")
    )
    votes = (
        F.broadcast(ranked).join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = F.max(
        F.struct(F.col("n_votes").alias("v"), (-F.col("label")).alias("nl"))
    ).alias("w")
    return (
        votes.groupBy("query_id")
        .agg(w)
        .select(
            "query_id",
            (-F.col("w.nl")).alias("predicted_label"),
            F.col("w.v").alias("n_votes"),
        )
    )


# ------------------------------------------- IVF centroid refinement --

IVF_REFINE_SQL = f"""
WITH {_ivf_parts_sql()},
dims AS (
  SELECT list_id, pos, SUM(vec[pos]) AS s, COUNT(*) AS c
  FROM (SELECT list_id, vec, unnest(range(1, len(vec) + 1)) AS pos
        FROM assign)
  GROUP BY list_id, pos
),
sums AS (
  SELECT list_id, list(s ORDER BY pos) AS sumvec, MAX(c) AS n_members
  FROM dims GROUP BY list_id
),
-- cosine on the IEEE-exact MEAN, not the raw sum: a hot list's
-- sum-vector dot can overflow BIGINT (Spark wraps silently, DuckDB
-- promotes — silent divergence), while mean elements stay bounded by
-- the scaled-component range. s/M is one correctly-rounded double op
-- and the dot is an explicit LEFT FOLD (list_reduce here, aggregate
-- on the engine) so both engines round identically.
means AS (
  SELECT list_id, n_members,
    list_transform(sumvec, s -> CAST(s AS DOUBLE) / n_members) AS meanvec
  FROM sums
)
SELECT m.list_id, CAST(m.n_members AS BIGINT) AS n_members,
  CAST(ROUND(
    list_reduce(list_transform(list_zip(meanvec, c_vec), s -> s[1] * s[2]),
                (acc, x) -> acc + x)
    / (SQRT(list_reduce(list_transform(list_zip(meanvec, meanvec),
                                       s -> s[1] * s[2]),
                        (acc, x) -> acc + x))
       * SQRT(CAST(c_norm AS DOUBLE))), 6) AS DOUBLE) AS centroid_cos
FROM means m JOIN cents ON c_id = m.list_id
"""


@register("ivf_refine", oracle=IVF_REFINE_SQL)
def ivf_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) refinement step over the IVF lists — the
    batch image of the reference's iterative ``iterate()`` pattern
    applied to index maintenance: re-assign every vector to its nearest
    centroid (the same map-side broadcast argmax as ``ann_ivf``), then
    report each list's membership count and how far its mean has
    drifted from the current centroid (cosine between the member MEAN
    and the centroid). Member sums are exact BIGINTs; the cosine runs
    on the IEEE-exact mean (one correctly-rounded s/M per element) with
    explicit left-fold dots, identical on both engines and bounded for
    any list size — a raw sum-vector BIGINT dot would overflow on a
    hot list (Spark wraps silently, DuckDB promotes to HUGEINT).

    Plan: assignment is the map-side Arrow GEMM kernel (zero shuffle,
    broadcast centroid model — ``_assign_gemm``); the elementwise
    member-sum runs as posexplode -> (list_id, pos) partial-aggregated
    SUM — after map-side combine the shuffle moves at most
    K x DIM = 4096 rows per partition regardless of corpus size;
    rebuild-and-join against the K-row centroid table is broadcast. Centroid drift (1 - centroid_cos) is the signal a
    100 TB pipeline uses to decide when the write-time index needs
    re-clustering."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    n = (
        emb.select("vec_id", _scaled("embedding").alias("vec"))
        .withColumn("norm", _dot("vec", "vec"))
        .where(F.col("norm") > 0)
    )
    cents = n.orderBy("vec_id").limit(N_CENTROIDS).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"),
        F.col("norm").alias("c_norm"),
    )
    assign = _assign_gemm(spark, n, cents).select("vec_id", "vec", "list_id")
    dims = (
        assign.select("list_id", F.posexplode("vec").alias("pos", "x"))
        .groupBy("list_id", "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
    )
    sums = dims.groupBy("list_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda p: p["s"]
        ).alias("sumvec"),
        F.max("c").cast("bigint").alias("n_members"),
    )
    # cosine on the IEEE-exact mean (each element one correctly-rounded
    # s/M), dots as explicit left folds — bounded regardless of list
    # size, bit-identical to the oracle's list_reduce (see IVF_REFINE_SQL
    # comment; a raw sum-vector BIGINT dot overflows on hot lists)
    means = sums.select(
        "list_id",
        "n_members",
        F.transform(
            "sumvec", lambda s: s.cast("double") / F.col("n_members")
        ).alias("meanvec"),
    )

    def dotd(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return (
        means.join(F.broadcast(cents), means.list_id == cents.c_id)
        .select(
            "list_id",
            "n_members",
            F.round(
                dotd(F.col("meanvec"), F.col("c_vec"))
                / (
                    F.sqrt(dotd(F.col("meanvec"), F.col("meanvec")))
                    * F.sqrt(F.col("c_norm").cast("double"))
                ),
                6,
            ).alias("centroid_cos"),
        )
    )


# ------------------------------- IVF refinement to convergence (r7) --

REFINE_ITERS = 3  # fixed Lloyd steps for the registered query (oracle-able)


def _dotd(a: Column, b: Column) -> Column:
    """Left-fold DOUBLE dot product — same rounding order as the
    oracle's ``list_reduce`` (0.0 + x1 == x1 exactly in IEEE, so the
    two folds agree bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _list_means(assign: DataFrame) -> DataFrame:
    """Per-list member mean + norm: posexplode → partial-agg SUM/COUNT
    (map-side combine — after it at most K×DIM rows shuffle per
    partition regardless of corpus size), then the IEEE-exact mean
    (one correctly-rounded s/M per element) and its left-fold norm."""
    dims = (
        assign.select("list_id", F.posexplode("vec").alias("pos", "x"))
        .groupBy("list_id", "pos")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
    )
    sums = dims.groupBy("list_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda p: p["s"]
        ).alias("sumvec"),
        F.max("c").cast("bigint").alias("n_members"),
    )
    means = sums.select(
        "list_id", "n_members",
        F.transform(
            "sumvec", lambda s: s.cast("double") / F.col("n_members")
        ).alias("meanvec"),
    )
    return means.withColumn("m_norm", _dotd(F.col("meanvec"), F.col("meanvec")))


def ivf_refine_iterative(
    spark: SparkSession,
    sf_dir: str,
    iters: int = REFINE_ITERS,
    eps: float | None = None,
) -> DataFrame:
    """Lloyd (k-means) refinement iterated to convergence — the
    driver-loop iteration image (same pattern as ``dedup_clusters``
    label propagation; reference ``iterate()``:
    flink-streaming-java DataStream.iterate): re-assign every vector to
    its nearest centroid, replace each non-empty list's centroid with
    its member mean, repeat until ``iters`` steps have run or (when
    ``eps`` is given) no centroid moved more than ``eps`` in cosine
    distance. Empty lists (and degenerate zero-norm means) keep their
    previous centroid — standard Lloyd.

    Scale design: per step, assignment is the map-side Arrow GEMM
    kernel against the broadcast K-row centroid model (zero shuffle;
    left-fold dim accumulation for double centroids keeps it
    bit-identical to the unrolled SQL oracle) and the mean rebuild is
    two partial-agg shuffles of ≤ K×DIM rows per partition — the same
    plan-pinned shape as one-step ``ivf_refine``, T times. Only the
    K-row centroid table is localCheckpoint'd between steps (cuts the
    lineage like ``dedup_clusters``); corpus vectors NEVER reach the
    driver, and the eps check collects one scalar per step."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    n = (
        emb.select("vec_id", _scaled("embedding").alias("vec"))
        .withColumn("norm", _dot("vec", "vec"))
        .where(F.col("norm") > 0)
    )
    # each step's exchanges carry model-sized partials (≤ K×DIM rows per
    # map task); the K-row result comes back to the caller's session
    loop = loop_session(spark, partial_agg_fan(n, N_CENTROIDS * DIM))
    return rebind(_lloyd_loop_body(loop, rebind(n, loop), iters, eps), spark)


def _lloyd_loop_body(
    spark: SparkSession, n: DataFrame, iters: int, eps: float | None
) -> DataFrame:
    """The Lloyd loop proper — see ``ivf_refine_iterative`` (which runs
    it on a loop session)."""
    cents = (
        n.orderBy("vec_id").limit(N_CENTROIDS)
        .select(
            F.col("vec_id").alias("c_id"),
            F.transform("vec", lambda x: x.cast("double")).alias("c_vec"),
            F.col("norm").cast("double").alias("c_norm"),
        )
        .localCheckpoint()
    )
    assign = _assign_gemm(spark, n, cents).select("vec_id", "vec", "list_id")
    means = _list_means(assign)
    for _t in range(1, iters):
        # fold this step's means into the centroid table: non-empty,
        # non-degenerate lists move to their member mean; others stay
        upd = cents.join(means, cents.c_id == means.list_id, "left")
        moved = F.when(
            F.col("m_norm") > 0,
            1
            - _dotd(F.col("meanvec"), F.col("c_vec"))
            / (F.sqrt(F.col("m_norm")) * F.sqrt(F.col("c_norm"))),
        ).otherwise(F.lit(0.0))
        new_cents = upd.select(
            "c_id",
            F.when(F.col("m_norm") > 0, F.col("meanvec"))
            .otherwise(F.col("c_vec"))
            .alias("c_vec"),
            F.when(F.col("m_norm") > 0, F.col("m_norm"))
            .otherwise(F.col("c_norm"))
            .alias("c_norm"),
            moved.alias("movement"),
            # LAZY: the eps aggregate below (or the next step's fold)
            # is the step's one real job and materializes this K-row
            # table as a side effect — eager added a second scheduled
            # job per Lloyd step (r17, the components-loop finding)
        ).localCheckpoint(eager=False)
        if eps is not None:
            mv = new_cents.agg(F.max("movement").alias("m")).first()["m"]
            if mv is not None and mv < eps:
                break  # converged: report the state that proved it
        cents = new_cents.drop("movement")
        assign = _assign_gemm(spark, n, cents).select("vec_id", "vec", "list_id")
        means = _list_means(assign)
    # EAGER: the K-row result materializes here, in the loop session,
    # so the whole lazy checkpoint chain executes under its confs; the
    # returned frame is a bounded local scan.
    return (
        means.join(F.broadcast(cents.select("c_id", "c_vec", "c_norm")),
                   means.list_id == F.col("c_id"))
        .select(
            "list_id",
            "n_members",
            F.round(
                _dotd(F.col("meanvec"), F.col("c_vec"))
                / (F.sqrt(F.col("m_norm")) * F.sqrt(F.col("c_norm"))),
                6,
            ).alias("centroid_cos"),
        )
        .localCheckpoint()
    )


def _ivf_iter_sql(iters: int = REFINE_ITERS) -> str:
    """Oracle for ``ivf_refine_iters``: the T-step Lloyd loop unrolled
    into a WITH chain — per step, argmax assignment against the current
    centroid CTE, exact BIGINT member sums, IEEE-exact means, and a
    CASE-folded centroid update (empty/degenerate lists keep the old
    centroid, mirroring the engine's F.when). All double dots are
    explicit left folds so both engines round identically."""

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}),"
            " s -> s[1] * s[2]), (acc, x) -> acc + x)"
        )

    parts = [
        f"""sc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
n AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM sc
  ) WHERE norm > 0
),
cents1 AS (
  SELECT c_id, list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS c_vec,
    CAST(c_norm AS DOUBLE) AS c_norm
  FROM (SELECT vec_id AS c_id, vec AS c_vec, norm AS c_norm FROM n
        ORDER BY vec_id LIMIT {N_CENTROIDS})
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""assign{t} AS (
  SELECT n.vec_id, n.vec,
    -MAX({{'cos': CAST({dot("n.vec", "c_vec")} AS DOUBLE)
          / (SQRT(CAST(n.norm AS DOUBLE)) * SQRT(c_norm)),
         'nc': -c_id}}).nc AS list_id
  FROM n CROSS JOIN cents{t}
  GROUP BY n.vec_id, n.vec, n.norm
),
dims{t} AS (
  SELECT list_id, pos, SUM(vec[pos]) AS s, COUNT(*) AS c
  FROM (SELECT list_id, vec, unnest(range(1, len(vec) + 1)) AS pos
        FROM assign{t})
  GROUP BY list_id, pos
),
sums{t} AS (
  SELECT list_id, list(s ORDER BY pos) AS sumvec, MAX(c) AS n_members
  FROM dims{t} GROUP BY list_id
),
means{t} AS (
  SELECT list_id, n_members, meanvec,
    CAST({dot("meanvec", "meanvec")} AS DOUBLE) AS m_norm
  FROM (SELECT list_id, n_members,
          list_transform(sumvec, s -> CAST(s AS DOUBLE) / n_members) AS meanvec
        FROM sums{t})
)""")
        if t < iters:
            parts.append(f"""cents{t + 1} AS (
  SELECT c.c_id,
    CASE WHEN m.m_norm > 0 THEN m.meanvec ELSE c.c_vec END AS c_vec,
    CASE WHEN m.m_norm > 0 THEN m.m_norm ELSE c.c_norm END AS c_norm
  FROM cents{t} c LEFT JOIN means{t} m ON m.list_id = c.c_id
)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT m.list_id, CAST(m.n_members AS BIGINT) AS n_members,
  CAST(ROUND(CAST({dot("meanvec", "c_vec")} AS DOUBLE)
       / (SQRT(m_norm) * SQRT(c_norm)), 6) AS DOUBLE) AS centroid_cos
FROM means{iters} m JOIN cents{iters} c ON c.c_id = m.list_id
"""
    )


@register("ivf_refine_iters", oracle=_ivf_iter_sql())
def ivf_refine_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ivf_refine`` iterated: REFINE_ITERS fixed Lloyd steps with the
    centroid table handed from step to step (empty lists keep their
    centroid). Fixed T keeps the query deterministic and the oracle
    expressible (the T-step loop unrolls into one WITH chain); the
    eps-early-exit variant is ``ivf_refine_iterative(eps=...)``,
    pytest-pinned against this fixed-T image."""
    return ivf_refine_iterative(spark, sf_dir, iters=REFINE_ITERS)


# ------------------------------- int8 embedding quantization (r7) ----

# Symmetric per-vector int8 quantization — the storage/transport format
# ANN indexes actually ship (4x smaller than float32, GEMM-able in
# int8): scale = max|x|, q_i = clamp(floor(x_i * 127 / scale), -127,
# 127). FLOOR, not ROUND: floor of a correctly-rounded double is
# bit-deterministic on both engines (the same reason _scaled floors —
# ROUND's half-way behavior on binary doubles is the one cross-engine
# trap in this family). Reconstruction error is reported per vector as
# a left-fold mean-squared error, the engine fold matching the
# oracle's list_reduce ordering exactly.

QUANT_BITS_MAX = 127

EMBED_QUANTIZE_SQL = f"""
WITH v AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
  FROM {_VALID_EMB_SQL} embeddings
),
s AS (
  SELECT vec_id, xs,
    list_max(list_transform(xs, x -> abs(x))) AS scale
  FROM v
),
q AS (
  SELECT vec_id, xs, scale,
    CASE WHEN scale > 0 THEN
      list_transform(xs, x -> CAST(LEAST(GREATEST(
        FLOOR(x * {QUANT_BITS_MAX} / scale), -{QUANT_BITS_MAX}),
        {QUANT_BITS_MAX}) AS BIGINT))
    ELSE list_transform(xs, x -> CAST(0 AS BIGINT)) END AS qvec
  FROM s
),
r AS (
  SELECT vec_id,
    CAST(ROUND(scale, 6) AS DOUBLE) AS scale,
    qvec,
    CAST(FLOOR(
      list_reduce(list_transform(list_zip(xs, qvec),
        s -> (s[1] - s[2] * scale / {QUANT_BITS_MAX})
             * (s[1] - s[2] * scale / {QUANT_BITS_MAX})),
        (acc, x) -> acc + x) / len(xs) * 1e12) AS DOUBLE) / 1e12 AS recon_mse
  FROM q
)
SELECT vec_id, scale, CAST(pos AS INT) AS pos, qvec[pos] AS q, recon_mse
FROM (SELECT vec_id, scale, qvec, recon_mse,
        unnest(range(1, len(qvec) + 1)) AS pos
      FROM r)
"""


def _quantize_explode_kernel(batches):
    """numpy image of the full registered-query expression chain —
    quantize + rounded scale + left-fold MSE + 1-based explode — one
    Arrow pass, each step the SAME IEEE ops in the SAME order as the
    JVM/DuckDB expressions:
      * codes via ``_quantize_np`` (shared with the GEMM kernels);
      * scale rounded to 6 decimals with Decimal(repr(x))
        ROUND_HALF_UP — the exact semantics of F.round on doubles,
        which goes through BigDecimal.valueOf, i.e. the SHORTEST
        round-trip repr (what Python repr() also yields), not the
        exact binary expansion;
      * error terms as x − (q·scale)/127 elementwise (scale 0 ⇒ q = 0
        and x = 0, so the term is exactly 0 — no division by scale
        here), squared, then accumulated dimension-by-dimension in
        index order (acc += e_d), the exact left-fold rounding sequence
        of the JVM aggregate and the oracle's list_reduce;
      * MSE floored on the 1e-12 grid via (acc/dim·1e12) in the same
        operation order."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    six = Decimal("0.000001")
    for pdf in batches:
        if len(pdf) == 0:
            continue
        X = np.array(list(pdf["embedding"]), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        n, d = X.shape
        scale = np.abs(X).max(axis=1)
        Q = _quantize_np(X)
        E = X - (Q * scale[:, None]) / QUANT_BITS_MAX
        acc = np.zeros(n)
        for j in range(d):  # left-fold over dims, like _assign_gemm
            acc += E[:, j] * E[:, j]
        mse = np.floor(acc / d * 1e12) / 1e12
        rscale = np.array(
            [
                float(Decimal(repr(float(s))).quantize(six, ROUND_HALF_UP))
                for s in scale
            ]
        )
        yield pd.DataFrame(
            {
                "vec_id": np.repeat(ids, d),
                "scale": np.repeat(rscale, d),
                "pos": np.tile(np.arange(1, d + 1, dtype=np.int32), n),
                "q": Q.ravel(),
                "recon_mse": np.repeat(mse, d),
            }
        )


_QUANT_EXPLODE_SCHEMA = (
    "vec_id long, scale double, pos int, q long, recon_mse double"
)


@register("embed_quantize_int8", oracle=EMBED_QUANTIZE_SQL)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    with per-vector reconstruction MSE — the write-time compression
    step a 100 TB ANN store applies before index build (4× smaller,
    int8-GEMM-able). Map-only: zero shuffle, every expression
    deterministic cross-engine (FLOOR quantizer, left-fold MSE; see
    module comment). Degenerate all-zero vectors quantize to zeros
    with scale 0 instead of dividing by it. The expression core is
    ``quantize_int8`` — pure column expressions, so the identical plan
    runs under Structured Streaming unchanged (stream≡batch
    pytest-pinned, like ``pii_scrub``).

    Registered form emits one row per (vec_id, pos) with the quantized
    value ``q`` — the driver's canonicalizer sorts-then-hashes the
    result frame and cannot factorize top-level array cells (empirical,
    CORRECTNESS_r07 err), so every quantized value goes under the hash
    as a scalar; ``pos`` is 1-based to mirror the oracle's
    ``unnest(range(...))`` subscript. Library consumers (the int8-GEMM
    path, ``ann_ivf_int8``) use the array-returning ``quantize_int8``
    directly.

    The registered form runs as ONE Arrow numpy pass
    (``_quantize_explode_kernel``) instead of the interpreted-lambda
    expression chain + posexplode (2.9× slower at sf0.1, PERF_NOTES
    r8); the kernel reproduces every expression bit-for-bit — the
    stream≡batch test reassembles this output against the JVM
    ``quantize_int8`` arrays, so numpy≡JVM equality is pinned, and the
    DuckDB oracle hashes every value. Finite floats assumed (this
    corpus's contract; no engine's NaN ordering is exercised by any
    fixture)."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    return emb.select("vec_id", "embedding").mapInPandas(
        _quantize_explode_kernel, _QUANT_EXPLODE_SCHEMA
    )


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Core int8 quantizer over any validated (vec_id, embedding)
    DataFrame — batch or streaming (stateless map)."""
    def _build_quant_cols():
        xs = F.transform("embedding", lambda x: x.cast("double"))
        scale = F.array_max(F.transform("xs", lambda x: F.abs(x)))
        m = F.lit(QUANT_BITS_MAX)
        qvec = F.when(
            F.col("scale") > 0,
            F.transform(
                "xs",
                lambda x: F.least(
                    F.greatest(F.floor(x * m / F.col("scale")), -m), m
                ).cast("bigint"),
            ),
        ).otherwise(F.transform("xs", lambda x: F.lit(0).cast("bigint")))
        err = F.aggregate(
            F.zip_with(
                "xs",
                "qvec",
                lambda x, qv: (x - qv * F.col("scale") / m)
                * (x - qv * F.col("scale") / m),
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        return xs.alias("xs"), scale.alias("scale"), qvec.alias("qvec"), err

    xs_col, scale_col, qvec_col, err = cached_cols(
        "sim.quantize_int8", _build_quant_cols
    )
    v = emb.select("vec_id", xs_col)
    s = v.withColumn("scale", scale_col)
    q = s.withColumn("qvec", qvec_col)
    # FLOOR on the 1e-12 integer grid, not ROUND: both engines floor
    # the identical double, whereas a scale-9 ROUND on ~1e-6 values
    # hit cross-engine half-way artifacts on 12/500 corpus rows.
    # Two-step projection on purpose: with `round(scale, 6) AS scale`
    # in the SAME select, Spark's lateral-column-alias resolution
    # rebinds the F.col("scale") inside `err` to the ROUNDED sibling
    # alias — the MSE silently used the rounded scale and drifted from
    # the oracle by ~1e-12 on most rows (debugged r7).
    out = q.select(
        "vec_id",
        "scale",
        "qvec",
        (F.floor(err / F.size("xs") * 1e12) / 1e12).alias("recon_mse"),
    )
    return out.select(
        "vec_id", F.round("scale", 6).alias("scale"), "qvec", "recon_mse"
    )


# --------------------------------------- int8-quantized IVF ANN (r8) --

# ann_ivf over the int8-QUANTIZED corpus — the reason embed_quantize
# exists in an ANN store: the index (centroids, assignments, candidate
# scoring) runs entirely in the int8 domain (4× less data moved, int8
# GEMM), and only the TOP_CAND survivors per query are re-ranked with
# the exact scaled-int cosine. Cosine is scale-invariant, so quantized
# vectors compare WITHOUT their scales: q_cos = qdot/(|qa||qb|) on raw
# int8 codes approximates the true cosine to ~1/127 resolution — the
# candidate cut absorbs the approximation, the re-rank removes it.
#
# Determinism: every quantized dot/norm is an exact int64 (≤ 64·127²
# ≈ 1e6, trivially double-exact), so candidate ranking compares
# identical doubles on both engines; ties break to the smallest
# neighbor_id. The re-rank is knn_bruteforce's exact arithmetic.

ANN_CAND_K = 30  # candidates per query surviving the int8 stage

# Quantized corpus CTE: vec_id, qvec (int8 codes as BIGINTs), qnorm.
_QUANT_CORPUS_SQL = f"""
qv AS (
  SELECT vec_id,
    CASE WHEN scale > 0 THEN
      list_transform(xs, x -> CAST(LEAST(GREATEST(
        FLOOR(x * {QUANT_BITS_MAX} / scale), -{QUANT_BITS_MAX}),
        {QUANT_BITS_MAX}) AS BIGINT))
    ELSE list_transform(xs, x -> CAST(0 AS BIGINT)) END AS qvec
  FROM (
    SELECT vec_id, xs, list_max(list_transform(xs, x -> abs(x))) AS scale
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
          FROM {_VALID_EMB_SQL} embeddings)
  )
),
qn AS (
  SELECT * FROM (
    SELECT vec_id, qvec, {_DOT_SQL.format(a="qvec", b="qvec")} AS qnorm FROM qv
  ) WHERE qnorm > 0
)"""

# Shared oracle fragments (also composed by the IVF-PQ oracle in
# functions/pq.py): the int8 centroid model + assignment + probe
# routing CTEs, and the exact-re-rank tail every approximate index
# finishes with.
_INT8_MODEL_SQL = f"""cents AS (
  SELECT vec_id AS c_id, qvec AS c_vec, qnorm AS c_norm FROM qn
  ORDER BY vec_id LIMIT {N_CENTROIDS}
),
assign AS (
  SELECT qn.vec_id, qn.qvec, qn.qnorm,
    -MAX({{'cos': CAST({_DOT_SQL.format(a="qn.qvec", b="c_vec")} AS DOUBLE)
          / (SQRT(CAST(qn.qnorm AS DOUBLE)) * SQRT(CAST(c_norm AS DOUBLE))),
         'nc': -c_id}}).nc AS list_id
  FROM qn CROSS JOIN cents
  GROUP BY qn.vec_id, qn.qvec, qn.qnorm
),
q AS (SELECT vec_id AS query_id, qvec AS p_qvec, qnorm AS p_qnorm FROM qn
      WHERE vec_id < {N_PROBES}),
qlists AS (
  SELECT query_id, p_qvec, p_qnorm, c_id AS list_id FROM (
    SELECT q.query_id, q.p_qvec, q.p_qnorm, cents.c_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        CAST({_DOT_SQL.format(a="p_qvec", b="c_vec")} AS DOUBLE)
          / (SQRT(CAST(p_qnorm AS DOUBLE)) * SQRT(CAST(c_norm AS DOUBLE))) DESC,
        cents.c_id) AS rn
    FROM q CROSS JOIN cents
  ) WHERE rn <= {N_PROBE_LISTS}
)"""

_EXACT_CTE_SQL = f"""exact AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM (
      SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
      FROM {_VALID_EMB_SQL} embeddings)
  ) WHERE norm > 0
)"""

_RERANK_TAIL_SQL = f"""rerank AS (
  SELECT c.query_id, c.neighbor_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="p.vec", b="e.vec")} AS DOUBLE)
         / (SQRT(CAST(p.norm AS DOUBLE)) * SQRT(CAST(e.norm AS DOUBLE))), 6)
      AS DOUBLE) AS cosine_sim
  FROM cand c
  JOIN exact e ON c.neighbor_id = e.vec_id
  JOIN exact p ON c.query_id = p.vec_id
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM rerank
) WHERE rank <= {TOP_K}"""

ANN_IVF_INT8_SQL = f"""
WITH {_QUANT_CORPUS_SQL},
{_INT8_MODEL_SQL},
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT ql.query_id, a.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY ql.query_id ORDER BY
        CAST({_DOT_SQL.format(a="p_qvec", b="a.qvec")} AS DOUBLE)
          / (SQRT(CAST(p_qnorm AS DOUBLE)) * SQRT(CAST(a.qnorm AS DOUBLE))) DESC,
        a.vec_id) AS crn
    FROM qlists ql JOIN assign a ON ql.list_id = a.list_id
    WHERE ql.query_id <> a.vec_id
  ) WHERE crn <= {ANN_CAND_K}
),
{_EXACT_CTE_SQL},
{_RERANK_TAIL_SQL}
"""


def _quantized_corpus(emb: DataFrame) -> DataFrame:
    """(vec_id, qvec, qnorm) over the validated corpus — the int8 codes
    from ``quantize_int8`` (Catalyst prunes the unused scale/recon_mse
    branches) with their exact int64 norm; zero-code vectors dropped
    like the exact path drops zero-norm ones."""
    qv = quantize_int8(emb).select("vec_id", "qvec")
    return qv.withColumn("qnorm", _dot("qvec", "qvec")).where(
        F.col("qnorm") > 0
    )


def _quantize_np(X):
    """numpy image of the ``quantize_int8`` column expressions — the
    SAME IEEE ops in the SAME order per element (x·127 then /scale,
    floor, clamp), so codes are bit-identical to the JVM/DuckDB
    evaluation: elementwise double multiply/divide are single
    correctly-rounded operations in all three engines."""
    import numpy as np

    scale = np.abs(X).max(axis=1)
    q = np.zeros(X.shape, dtype=np.int64)
    nz = scale > 0
    if nz.any():
        qq = np.floor((X[nz] * QUANT_BITS_MAX) / scale[nz, None])
        q[nz] = np.clip(qq, -QUANT_BITS_MAX, QUANT_BITS_MAX).astype(np.int64)
    return q


def _quantize_assign_gemm(
    spark: SparkSession, emb: DataFrame, cmat, cn, cids
) -> DataFrame:
    """Fused quantize + nearest-centroid assignment kernel: raw
    validated embeddings in, ``(vec_id, qvec, qnorm, list_id)`` out —
    ONE Arrow-batched pass replacing the interpreted-lambda quantize
    projection (~1.2 s/scan at sf0.1, PERF_NOTES r8) plus the separate
    ``_assign_gemm`` pass. Same exactness contract as ``_assign_gemm``'s
    integer path: ``_quantize_np`` codes are bit-identical to the SQL
    quantizer, int64 matmul dots are exact, ties break to the smallest
    c_id. Zero-code vectors (scale 0) are dropped in-kernel — the
    ``qnorm > 0`` gate."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    model = spark.sparkContext.broadcast((cmat, cn, cids))
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("qvec", ArrayType(LongType())),
            StructField("qnorm", LongType()),
            StructField("list_id", LongType()),
        ]
    )

    def kern(batches):
        cmat, cn, cids = model.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            q = _quantize_np(X)
            qn = (q * q).sum(axis=1)
            keep = qn > 0
            if not keep.any():
                continue
            q, qn = q[keep], qn[keep]
            # int8 codes: bound is dim·127² ≈ 1e6, trivially safe —
            # kept for uniformity with the other GEMM kernels
            _check_dot_bound(
                int(np.abs(q).max(initial=0)),
                int(np.abs(cmat).max(initial=0)),
                q.shape[1],
            )
            dots = (q @ cmat.T).astype(np.float64)
            cos = dots / (np.sqrt(qn.astype(np.float64))[:, None] * cn[None, :])
            best = np.argmax(cos, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "qvec": list(q),
                    "qnorm": qn,
                    "list_id": cids[best],
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(kern, out_schema)


@register("ann_ivf_int8", oracle=ANN_IVF_INT8_SQL)
def ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the int8-quantized corpus with exact re-rank — the
    end-to-end consumer of ``embed_quantize_int8``: centroid
    assignment, probe routing, and candidate scoring all run on int8
    codes (the stored index format — 4× smaller, int8-GEMM-able), and
    only ANN_CAND_K candidates per query are re-scored with the exact
    scaled-int cosine for the final TOP_K.

    Plan: quantization AND assignment are ONE fused Arrow-batched numpy
    pass over the raw embedding scan (``_quantize_assign_gemm`` —
    zero shuffle; int64 matmul on the codes is exact, so assignments
    are bit-identical to the oracle's struct MAX; the interpreted
    quantize lambdas cost ~1.2 s/scan at sf0.1, PERF_NOTES r8); the 64
    centroids are quantized driver-side from their raw vectors by the
    same ``_quantize_np`` kernel (driver-held model, K rows); the
    candidate stage joins the broadcast 15-row probe routing against
    the assigned corpus; the re-rank joins the ≤ N_PROBES×ANN_CAND_K
    candidate set (broadcast, 150 rows) against the raw scan BEFORE
    computing exact vectors, so the interpreted scaled-int fold runs on
    150 rows, not the corpus — at 100 TB that second scan is a
    point-fetch by vec_id against the embedding store, not a full pass,
    and the int8 index is the only thing scanned wide. Recall vs the
    exact ``knn_bruteforce`` is pytest-pinned
    (tests/test_similarity_iter.py)."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    cq, cn, cids, cents = _int8_centroid_model(spark, emb)
    assign = _quantize_assign_gemm(spark, emb, cq, cn, cids)
    qlists = _route_probes_int8(emb, cents)
    return _int8_candidates_and_rerank(emb, qlists, assign)


def _int8_centroid_model(spark: SparkSession, emb: DataFrame):
    """The int8 IVF centroid model: the N_CENTROIDS smallest-vec_id
    vectors with scale > 0 (⇔ qnorm > 0: the max-|x| element always
    quantizes to ±127 or ±126, never 0), quantized DRIVER-side by the
    same numpy kernel the corpus pass uses — the scale filter is the
    only JVM lambda and runs under the pushed orderBy/limit. Returns
    (cq, cn, cids, cents_df): the numpy model for the GEMM kernel and
    its K-row DataFrame image for probe routing / persistence."""
    import numpy as np

    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    raw_cents = (
        emb.where(scale > 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    cq = _quantize_np(
        np.array([list(r.embedding) for r in raw_cents], dtype=np.float64)
    )
    cnorm = (cq * cq).sum(axis=1)
    cn = np.sqrt(cnorm.astype(np.float64))
    cids = np.array([r.vec_id for r in raw_cents], dtype=np.int64)
    cents = local_rows(
        spark,
        [
            (int(c), [int(x) for x in v], int(n))
            for c, v, n in zip(cids, cq, cnorm)
        ],
        "c_id long, c_vec array<long>, c_norm long",
    )
    return cq, cn, cids, cents


def _route_probes_int8(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Probe routing for the standard query set: vec_id < N_PROBES is
    applied to the RAW scan before quantizing (commutes with the
    oracle's CTE filter): Catalyst's collapsed filter orders the
    qnorm > 0 fold BEFORE the vec_id conjunct, so filtering afterwards
    would run the interpreted quantize corpus-wide (measured 1.5 s at
    sf0.1)."""
    return _route_probe_frame(emb.where(F.col("vec_id") < N_PROBES), cents)


def _route_probe_frame(probe_emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Probe routing over an ARBITRARY (vec_id, embedding) probe frame
    (a filtered query set, or a streaming micro-batch of arriving
    probes): the identical map-side array-sort routing as ``ann_ivf``,
    on the quantized probe vectors — one exploded row per (query,
    probed list)."""
    probes = _quantized_corpus(probe_emb).select(
        "vec_id", F.col("qvec").alias("vec"), F.col("qnorm").alias("norm")
    )
    qtop = _with_cent_array(probes, cents).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("p_qvec"),
        F.col("norm").alias("p_qnorm"),
        _probe_top_lists().alias("top"),
    )
    return qtop.select(
        "query_id", "p_qvec", "p_qnorm",
        F.explode(F.col("top.c_id")).alias("list_id"),
    )


def _int8_candidates_and_rerank(
    emb: DataFrame,
    qlists: DataFrame,
    assign: DataFrame,
    probe_emb: DataFrame | None = None,
) -> DataFrame:
    """Candidate scoring in the int8 domain + exact re-rank — shared by
    the direct ``ann_ivf_int8`` query and the persisted-index probe
    (``functions/ivf_store.py``, batch AND per-micro-batch streaming).
    ``assign`` is any (vec_id, qvec, qnorm, list_id) relation: the
    fused kernel's output or a partition-pruned read of the written
    index. ``probe_emb`` supplies the query-side raw embeddings for the
    exact re-rank when the probes are NOT rows of ``emb`` (arriving
    streaming probes); default is ``emb`` itself (the standard
    query-set-within-corpus shape)."""
    from pyspark.sql import Window

    q_cos = _dot("p_qvec", "qvec").cast("double") / (
        F.sqrt(F.col("p_qnorm").cast("double"))
        * F.sqrt(F.col("qnorm").cast("double"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("q_cos"), "neighbor_id")
    cand = (
        F.broadcast(qlists)
        .join(assign, "list_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            q_cos.alias("q_cos"),
        )
        .withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= ANN_CAND_K)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, cand, probe_emb)


def _exact_rerank(
    emb: DataFrame,
    cand: DataFrame,
    probe_emb: DataFrame | None = None,
) -> DataFrame:
    """Exact scaled-int cosine re-rank of a (query_id, neighbor_id)
    candidate set → the final TOP_K — the shared tail of every
    approximate-index path (int8 IVF, IVF-PQ ADC, persisted-store
    probes). ``cand`` is ≤ N_PROBES×ANN_CAND_K rows by construction
    and is broadcast; see the join-order comment below."""
    from pyspark.sql import Window

    # join FIRST, compute the exact scaled-int vectors after: each join
    # broadcasts the candidate-pair side (≤ N_PROBES×ANN_CAND_K rows)
    # and prunes the raw corpus scan, so the interpreted scaled-int
    # fold runs on the ≤150 surviving pair rows, never corpus-wide (the
    # norm > 0 gates commute with the inner joins)
    withe = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("e_emb"),
        )
        .join(F.broadcast(cand), "neighbor_id")
    )
    pairs = (
        (probe_emb if probe_emb is not None else emb).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("p_emb"),
        )
        .join(F.broadcast(withe), "query_id")
        .withColumn("e_vec", _scaled("e_emb"))
        .withColumn("e_norm", _dot("e_vec", "e_vec"))
        .withColumn("p_vec", _scaled("p_emb"))
        .withColumn("p_norm", _dot("p_vec", "p_vec"))
        .where((F.col("e_norm") > 0) & (F.col("p_norm") > 0))
    )
    rerank = pairs.select(
        "query_id", "neighbor_id",
        F.round(
            _dot("p_vec", "e_vec").cast("double")
            / (
                F.sqrt(F.col("p_norm").cast("double"))
                * F.sqrt(F.col("e_norm").cast("double"))
            ),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# --------------------- embedding corpus health (r11) -----------------

# Index-build preflight: the per-label corpus health report every ANN /
# quantization / semantic-dedup stage should gate on before it spends a
# cluster pass — NULL or ragged or NULL-element vectors (the rows
# _VALID_EMB_SQL would silently drop), zero-scaled-norm vectors (rank
# poison — see the validity-gate comment above), and the norm
# distribution (min / floored-mean / max) that catches an unnormalized
# or clipped batch before it skews every cosine.
#
# Float parity: norms ride the module's scaled-integer contract — the
# squared norm is an exact BIGINT fold of FLOOR(x·1e6)² terms, the ONE
# floating op per row is SQRT (IEEE-754 correctly rounded on BOTH
# engines, unlike ln) on the identical correctly-rounded BIGINT→DOUBLE
# conversion, immediately rounded back to integer micro-units; all
# aggregates are then exact integer MIN/MAX/SUM with the house floored
# mean. BIGINT bound: dim · (1e6·max|x|)² < 2^63 → |x| ≤ ~379 at
# dim 64, far past any normalized embedding.

EMB_HEALTH_SQL = f"""
WITH base AS (
  SELECT label, embedding,
    (embedding IS NOT NULL
     AND len(list_filter(embedding, x -> x IS NULL)) = 0) AS ok
  FROM embeddings WHERE vec_id IS NOT NULL
),
v AS (
  SELECT label, ok,
    CASE WHEN ok THEN len(embedding) END AS dim,
    -- coalesce: DuckDB list_sum([]) is NULL where Spark's aggregate
    -- fold returns its 0 init — the empty-vector divergence class
    CASE WHEN ok THEN CAST(coalesce(list_sum(list_transform(
      {_SCALED_SQL.format(col='embedding')}, x -> x * x)), 0) AS BIGINT)
    END AS n2
  FROM base
),
n AS (
  SELECT label, ok, dim, n2,
    CASE WHEN ok THEN
      CAST(ROUND(SQRT(CAST(n2 AS DOUBLE)), 0) AS BIGINT)
    END AS nm
  FROM v
),
agg AS (
  SELECT label,
    CAST(COUNT(*) AS BIGINT) AS n_vecs,
    CAST(COUNT(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_invalid,
    CAST(COUNT(*) FILTER (WHERE ok AND n2 = 0) AS BIGINT) AS n_zero_norm,
    CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
    MIN(nm) AS min_micro, MAX(nm) AS max_micro,
    SUM(nm) AS mu, CAST(COUNT(*) FILTER (WHERE ok) AS BIGINT) AS n_ok
  FROM n GROUP BY label
)
SELECT label, n_vecs, n_invalid, n_zero_norm, n_distinct_dims,
  CAST(min_micro AS DOUBLE) / 1000000.0 AS min_norm,
  CASE WHEN n_ok > 0 THEN
    CAST((mu - (((mu % n_ok) + n_ok) % n_ok)) // n_ok AS DOUBLE) / 1000000.0
  END AS avg_norm,
  CAST(max_micro AS DOUBLE) / 1000000.0 AS max_norm
FROM agg
"""


@register("embedding_health", oracle=EMB_HEALTH_SQL)
def embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-corpus health: invalid-vector / zero-norm /
    ragged-dimension counts plus the exact-grid norm distribution —
    the preflight gate for every index build (see the family comment).

    Plan: map-only per-row expressions (in-row integer fold + one
    sqrt) into ONE label-keyed partial-aggregating shuffle whose
    output is label-cardinality rows — nothing else moves at any
    corpus scale. Library op, full DuckDB oracle
    (``EMB_HEALTH_SQL``) — the r11 capacity-note class."""
    return embedding_health_frame(
        table(spark, sf_dir, "embeddings").where(F.col("vec_id").isNotNull())
    )


def embedding_health_frame(emb: DataFrame) -> DataFrame:
    """The health-report core over any (vec_id, embedding, label)
    frame — pure column expressions plus one keyed aggregate, so the
    identical plan runs under Structured Streaming in update mode with
    label-cardinality state (stream≡batch pytest-pinned, the
    quantize_int8 proof shape)."""
    e = F.col("embedding")
    ok = e.isNotNull() & (F.size(F.filter(e, lambda x: x.isNull())) == 0)
    xi = _scaled(e)
    n2 = F.aggregate(
        xi, F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
    )
    base = emb.select(
        "label",
        ok.alias("ok"),
        F.when(ok, F.size(e)).alias("dim"),
        F.when(ok, n2).alias("n2"),
    ).select(
        "label", "ok", "dim", "n2",
        F.when(
            F.col("ok"),
            F.round(F.sqrt(F.col("n2").cast("double")), 0).cast("bigint"),
        ).alias("nm"),
    )
    agg = base.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_invalid"),
        F.sum(F.when(F.col("ok") & (F.col("n2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        # size(collect_set) ≡ countDistinct but runs under streaming
        # update mode (distinct aggregates don't); set is bounded by
        # the handful of distinct dims a corpus can hold
        F.size(F.collect_set("dim")).cast("bigint").alias("n_distinct_dims"),
        F.min("nm").alias("min_micro"),
        F.max("nm").alias("max_micro"),
        F.sum("nm").alias("mu"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint").alias("n_ok"),
    )
    nk = F.col("n_ok")
    # `div` keeps the floored mean in EXACT bigint arithmetic (mu ≥ 0
    # here, so div ≡ floor-div) — a double `/` would round mu first
    # and drift off the oracle's `//` once mu passes 2^53 (≈9e9 valid
    # unit-norm vectors under one label)
    q = F.expr("(mu - ((mu % n_ok) + n_ok) % n_ok) div n_ok")
    return agg.select(
        "label", "n_vecs", "n_invalid", "n_zero_norm", "n_distinct_dims",
        (F.col("min_micro").cast("double") / 1000000.0).alias("min_norm"),
        F.when(nk > 0, q.cast("double") / 1000000.0).alias("avg_norm"),
        (F.col("max_micro").cast("double") / 1000000.0).alias("max_norm"),
    )


# ------------------------- ANN recall metric (r12) --------------------

# Index-quality gate: recall@k of the quantized routed search
# (ann_ivf_int8 — the stored-index format every probe path scans)
# against the exact brute-force top-k. The operational twin of
# index_stats: a deployment re-trains centroids (ivf_refine) and
# rewrites the index when THIS number drops, instead of discovering
# recall loss from downstream quality drift. The pytest recall floor
# (test_similarity_iter) pins a minimum; this op emits the measurement
# as data. n_hits / n_true is an exact small-rational double on both
# engines (n_true ≤ TOP_K), ROUND(·, 4) identical.
ANN_RECALL_SQL = f"""
WITH brute AS ({KNN_BRUTE_SQL}),
approx AS ({ANN_IVF_INT8_SQL}),
h AS (
  SELECT b.query_id,
    CAST(COUNT(*) AS BIGINT) AS n_true,
    CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hits
  FROM brute b
  LEFT JOIN approx a
    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
  GROUP BY b.query_id
)
SELECT query_id, n_true, n_hits,
  CAST(ROUND(CAST(n_hits AS DOUBLE) / n_true, 4) AS DOUBLE) AS recall
FROM h
"""


def recall_frame(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of ANY approximate top-k result frame against
    ANY ground-truth frame (both (query_id, neighbor_id, ...)): the
    generic helper behind ``ann_recall``, reusable against the
    persisted-store probes (``probe_index`` / ``probe_index_adc``) or
    an LSH variant. Both inputs are probe-sized (≤ N_PROBES × k rows),
    so the join and the per-query aggregate are trivially small —
    the cost of a recall measurement is running the two searches, as
    it should be."""
    a = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    j = brute.select("query_id", "neighbor_id").join(
        a, ["query_id", "neighbor_id"], "left"
    )
    per = j.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_true"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits"),
    )
    return per.select(
        "query_id", "n_true", "n_hits",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_true"), 4
        ).alias("recall"),
    )


@register("ann_recall", oracle=ANN_RECALL_SQL)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@TOP_K of ``ann_ivf_int8`` vs ``knn_bruteforce`` per
    probe query — see the family comment. Library op, full DuckDB
    oracle (``ANN_RECALL_SQL``); the honest cost is one run of each
    search (both already scale-shaped); the comparison itself is
    probe-sized."""
    return recall_frame(
        knn_bruteforce(spark, sf_dir), ann_ivf_int8(spark, sf_dir)
    )


# ------------------- embedding covariance / PCA (r14) -----------------

# Second-moment pass for PCA whitening — the dimensionality-reduction
# preflight a real pipeline runs before PQ/IVF (project onto the top
# principal components so the quantizer spends its bits on directions
# with variance; OPQ's zero-rotation ancestor). Split Spark-first the
# only way that scales: the CORPUS-sized work is one exact-integer
# second-moment aggregate (embedding_gram — map-side Arrow GEMM
# partials into a 2,145-key shuffle, constant output no matter the
# corpus); the eigendecomposition is a DRIVER-side 64x64 numpy eigh
# (constant work — never distribute what fits in a register file);
# the projection is one more map-only Arrow pass (pca_project_frame).
#
# Float parity: the gram/sum/count table is EXACT BIGINTs end to end
# (the module's scaled-integer contract), so the library oracle
# value-hashes it like any relational row. The eigh itself is
# pytest-gated (orthonormality, descending eigenvalues, numpy-replay
# projection equality) — eigenvector sign/order is not a cross-engine
# contract, exactly like the PQ codebooks (bpe/pq precedent).
# BIGINT bound (the _check_dot_bound class, enforced per Arrow batch
# in exact Python ints): batch_rows x (1e6*max|x|)^2 < 2^63 — ~9.2e6
# unit-norm rows per batch, far past any Arrow batch; the global
# ANSI-mode SUM fails loud if a corpus ever exceeds ~9.2e18 total.

#: marker coordinates for the non-gram rows of the moment table:
#: (i, -1) rows carry column sums, (-1, -1) carries the valid count
GRAM_SUM_J = -1

EMB_GRAM_SQL = f"""
WITH v AS (
  SELECT {_SCALED_SQL.format(col='embedding')} AS x
  FROM {_VALID_EMB_SQL} embeddings
),
idx AS (SELECT CAST(range AS INT) AS i FROM range(1, {DIM} + 1)),
pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
gram AS (
  SELECT CAST(p.i - 1 AS INT) AS i, CAST(p.j - 1 AS INT) AS j,
    CAST(coalesce(SUM(x[p.i] * x[p.j]), 0) AS BIGINT) AS g
  FROM v CROSS JOIN pairs p GROUP BY p.i, p.j
),
sums AS (
  SELECT CAST(t.i - 1 AS INT) AS i, CAST(-1 AS INT) AS j,
    CAST(coalesce(SUM(x[t.i]), 0) AS BIGINT) AS g
  FROM v CROSS JOIN idx t GROUP BY t.i
),
cnt AS (SELECT CAST(-1 AS INT) AS i, CAST(-1 AS INT) AS j,
        CAST(COUNT(*) AS BIGINT) AS g FROM v)
SELECT i, j, g FROM gram
UNION ALL SELECT i, j, g FROM sums
UNION ALL SELECT i, j, g FROM cnt
"""


def _gram_partials(batches):
    """mapInPandas kernel: per Arrow batch of scaled int64 vectors,
    emit the batch's EXACT partial second moments — the upper-triangle
    X^T X entries, the column sums (j = -1), and the row count
    ((-1, -1)). numpy int64 matmul wraps silently past 2^63, so the
    no-overflow precondition is checked per batch in exact Python ints
    first (the _check_dot_bound discipline)."""
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(DIM)
    for pdf in batches:
        if not len(pdf):
            continue
        x = np.stack(pdf["x"].to_numpy()).astype(np.int64)
        a_max = int(np.abs(x).max()) if x.size else 0
        if x.shape[0] * a_max * a_max >= 2**63:
            raise OverflowError(
                f"gram partial bound exceeded: {x.shape[0]} rows x "
                f"max|x|={a_max} — rescale or shrink the Arrow batch "
                "(numpy would silently wrap)"
            )
        g = x.T @ x
        yield pd.DataFrame(
            {
                "i": np.concatenate(
                    [iu[0], np.arange(DIM), [-1]]
                ).astype("int32"),
                "j": np.concatenate(
                    [iu[1], np.full(DIM, -1), [-1]]
                ).astype("int32"),
                "g": np.concatenate(
                    [g[iu], x.sum(axis=0), [x.shape[0]]]
                ).astype("int64"),
            }
        )


def embedding_gram_frame(emb: DataFrame) -> DataFrame:
    """The exact second-moment table of any (vec_id, embedding) frame
    over the module's scaled-int grid: (i, j, g) with the DIM*(DIM+1)/2
    upper-triangle gram entries g = SUM(x_i * x_j), the column sums at
    j = -1, and the valid-row count at (-1, -1) — everything a
    downstream covariance/PCA needs, in one corpus pass. Plan:
    map-side Arrow GEMM partials (each batch emits a constant 2,145
    rows) into one 2,145-key partial-aggregating shuffle — output size
    is CONSTANT in corpus size, the cheapest possible reduction
    shape."""
    xi = _scaled("embedding")
    rows = _valid_embeddings(emb).select(xi.alias("x"))
    partials = rows.mapInPandas(_gram_partials, "i int, j int, g long")
    return partials.groupBy("i", "j").agg(
        F.sum("g").cast("bigint").alias("g")
    )


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_gram_frame`` over the corpus embeddings — the
    library row (full DuckDB oracle ``EMB_GRAM_SQL``; every value an
    exact BIGINT, so the hash gate is airtight). See the family
    comment for why the corpus pass and the eigh are split."""
    return embedding_gram_frame(
        table(spark, sf_dir, "embeddings").where(F.col("vec_id").isNotNull())
    )


def pca_model(spark: SparkSession, sf_dir: str, k: int = 8):
    """Fit the PCA basis from the corpus's moment table: collect the
    CONSTANT-size gram frame (2,145 rows — the only driver crossing),
    assemble the float covariance C = E[xx^T] - mu mu^T in original
    (unscaled) units, and eigh it. Returns (components [k x DIM],
    eigenvalues [k], mean [DIM]) with eigenvalues descending and each
    component's sign fixed (largest-|coordinate| entry positive) so
    the basis is deterministic given the matrix."""
    rows = embedding_gram(spark, sf_dir).collect()
    return pca_from_gram_rows(rows, k)


def pca_from_gram_rows(rows, k: int = 8):
    """The driver-side eigh over a collected moment table (see
    ``pca_model``) — separated so tests and non-corpus callers can fit
    from any gram frame."""
    import numpy as np

    n = g_sum = None
    gram = np.zeros((DIM, DIM), dtype=np.float64)
    sums = np.zeros(DIM, dtype=np.float64)
    for r in rows:
        if r["i"] == -1 and r["j"] == -1:
            n = int(r["g"])
        elif r["j"] == GRAM_SUM_J:
            sums[r["i"]] = float(r["g"])
        else:
            gram[r["i"]][r["j"]] = gram[r["j"]][r["i"]] = float(r["g"])
    if not n:
        raise ValueError("pca_model: no valid embeddings in the corpus")
    s = float(SCALE)
    mu = sums / (n * s)
    cov = gram / (n * s * s) - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for c in comps:  # sign convention: largest-|coord| entry positive
        if c[int(np.argmax(np.abs(c)))] < 0:
            c *= -1.0
    return comps, vals[order], mu


def pca_project_frame(emb: DataFrame, components, mean) -> DataFrame:
    """Project a (vec_id, embedding) frame onto a fitted basis:
    (vec_id, proj array<double>) with proj = (x - mean) @ components^T
    — one map-only Arrow GEMM pass, the model broadcast inside the
    closure (k x DIM doubles — register-file sized). The scale path
    for 'whiten before PQ/IVF': the projected frame feeds the existing
    quantizer/index builders unchanged."""
    import numpy as np
    import pandas as pd

    w = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = (x - mu) @ w.T
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(p)}
            )

    return _valid_embeddings(emb).select("vec_id", "embedding").mapInPandas(
        kern, "vec_id long, proj array<double>"
    )


# ------------------- embedding outlier gate (r14) ---------------------

# Curation companion to the moment pass: flag vectors far from the
# corpus distribution (embedding-service glitches, wrong-modality
# rows, adversarial junk) BEFORE they poison centroids/codebooks —
# the preflight SemDeDup/IVF runs next to embedding_health. The
# statistic is the per-dimension standardized squared distance
# dist2 = SUM_i ((x_i - mu_i) / sigma_i)^2 (~ chi-square(DIM) on
# well-behaved corpora), computed WITHOUT ever forming mu/sigma as
# intermediate truth: per dim, the z^2 term equals
#   (n*x_i_s - S_i)^2 / (n*G_ii - S_i^2)
# over the EXACT integer moments (S_i = SUM x_i_s, G_ii = SUM
# x_i_s^2, n = valid count) — the numerator stays an exact BIGINT on
# both engines, the two double conversions + square + divide are the
# same IEEE sequence everywhere, and the house ROUND(·,6) → DECIMAL →
# order-free SUM collapses the per-term ulp. Zero-variance dims
# contribute 0 by CASE on both engines (a constant column carries no
# outlier signal). The flag compares the rounded DECIMAL sum to a
# literal, so the gate itself is exact.

#: dist2 at/above which a vector is flagged: 2x the chi-square mean —
#: the coarse preflight knob (callers parameterize the frame helper)
OUTLIER_DIST2 = 2 * DIM

EMB_OUTLIERS_SQL = f"""
WITH v AS (
  SELECT vec_id, {_SCALED_SQL.format(col='embedding')} AS x
  FROM {_VALID_EMB_SQL} embeddings
),
idx AS (SELECT CAST(range AS INT) AS i FROM range(1, {DIM} + 1)),
m AS (
  SELECT t.i,
    CAST(SUM(x[t.i]) AS BIGINT) AS s,
    CAST(SUM(x[t.i] * x[t.i]) AS BIGINT) AS g,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM v CROSS JOIN idx t GROUP BY t.i
),
terms AS (
  SELECT v.vec_id,
    CAST(ROUND(
      CASE WHEN CAST(m.n AS DOUBLE) * CAST(m.g AS DOUBLE)
                - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) > 0
      THEN (CAST(m.n * x[m.i] - m.s AS DOUBLE)
            * CAST(m.n * x[m.i] - m.s AS DOUBLE))
           / (CAST(m.n AS DOUBLE) * CAST(m.g AS DOUBLE)
              - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
      ELSE 0 END, 6) AS DECIMAL(28, 6)) AS c
  FROM v CROSS JOIN m
)
SELECT vec_id,
  CAST(SUM(c) AS DOUBLE) AS dist2,
  SUM(c) >= {OUTLIER_DIST2} AS is_outlier
FROM terms GROUP BY vec_id
"""


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_outliers_frame`` over the corpus embeddings — the
    library row (full DuckDB oracle ``EMB_OUTLIERS_SQL``)."""
    return embedding_outliers_frame(
        table(spark, sf_dir, "embeddings").where(F.col("vec_id").isNotNull())
    )


def embedding_outliers_frame(
    emb: DataFrame, threshold: int = OUTLIER_DIST2
) -> DataFrame:
    """(vec_id, dist2, is_outlier) for every valid vector — see the
    family comment for the exact arithmetic. Plan: the 129 moment
    constants cross the driver once (the CONSTANT-size gram output:
    64 sums + 64 diagonal entries + the count) and come back as a
    64-row broadcast frame; the per-vector work is one posexplode →
    broadcast equi-join on the dim index → per-term decimal contrib →
    one vec_id-keyed partial-aggregating shuffle (the explode+agg
    form deliberately — in-row 64-element lambda folds are
    interpreted, the recorded house trap). Nothing corpus-sized
    crosses the driver and the shuffle carries exactly DIM rows per
    vector."""
    return outlier_score_frame(
        emb, embedding_gram_frame(emb).collect(), threshold
    )


def outlier_score_frame(
    emb: DataFrame, moment_rows, threshold: int = OUTLIER_DIST2
) -> DataFrame:
    """Score any (vec_id, embedding) frame against a GIVEN collected
    moment table (the ``embedding_gram`` layout — from the one-shot
    pass or a persisted ``gram_store`` fold): the scoring half of
    ``embedding_outliers_frame``, separated so the streaming twin
    (``gram_store.outlier_score_stream``) runs the IDENTICAL plan per
    micro-batch against frozen-or-advancing store moments."""
    spark = emb.sparkSession
    rows = moment_rows
    n = next(
        (int(r["g"]) for r in rows if r["i"] == -1 and r["j"] == -1), 0
    )
    if not n:
        return spark.createDataFrame(
            [], "vec_id bigint, dist2 double, is_outlier boolean"
        )
    sums = {r["i"]: int(r["g"]) for r in rows if r["j"] == GRAM_SUM_J and r["i"] >= 0}
    diag = {r["i"]: int(r["g"]) for r in rows if r["i"] == r["j"] and r["i"] >= 0}
    moments = local_rows(
        spark,
        [(i, sums[i], diag[i], n) for i in range(DIM)],
        "i int, s long, g long, n long",
    )
    xi = _scaled("embedding")
    exploded = _valid_embeddings(emb).select(
        "vec_id", F.posexplode(xi).alias("i", "x")
    )
    num = (F.col("n") * F.col("x") - F.col("s")).cast("double")
    den = (
        F.col("n").cast("double") * F.col("g").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    )
    contrib = F.round(
        F.when(den > 0, num * num / den).otherwise(F.lit(0.0)), 6
    ).cast("decimal(28,6)")
    per = (
        exploded.join(F.broadcast(moments), "i")
        .select("vec_id", contrib.alias("c"))
        .groupBy("vec_id")
        .agg(F.sum("c").alias("d"))
    )
    return per.select(
        "vec_id",
        F.col("d").cast("double").alias("dist2"),
        (F.col("d") >= F.lit(threshold)).alias("is_outlier"),
    )


# --------------------------- IVF routing-drift gate (r14) ------------

# The operational trigger ivf_store's docs promise: the persisted index
# deliberately NEVER re-centers (append_index assigns arriving waves
# under the FROZEN centroid model; re-centering live would strand every
# written row in a stale partition), so a deployment needs a NUMBER
# that says "the arriving distribution no longer matches the resident
# index — re-train and rewrite". ann_recall gates result QUALITY from
# the probe side; THIS gates routing balance from the ingest side: a
# drifted source floods a few lists (imbalance -> near-full probe
# scans) long before recall visibly decays. Per model list: resident
# members vs arriving members, the list's smoothed KL contribution
# KL(arriving ‖ resident), and an exact-integer hot flag (at least one
# arriving member AND smoothed arriving share > DRIFT_HOT_FACTOR x
# resident share, decided by cross-multiplied BIGINTs — no float in
# the decision).
#
# Smoothing is Jelinek-Mercer (shrink each share toward uniform by the
# FRACTION lambda = 1/100: p = (99*(n/N) + 1/K) / 100), NOT add-one:
# add-one's pseudo-count weighs 1/(N+K), so with a wave naturally
# smaller than the residents (na << nr) every EMPTY list would compare
# 1/(na+K) against 1/(nr+K) and report spurious drift — under JM an
# empty (or share-matched) list has p_a = p_r exactly and contributes
# exactly 0. With p = (99*n*K + N) / (100*N*K), every share is ONE
# division of exact BIGINT products and the 100*N*K denominators
# cancel from the ratio, so both engines compute identical doubles.

DRIFT_ARRIVING_MOD = 5   # vec_id % MOD == 0 is the arriving wave
DRIFT_HOT_FACTOR = 2


def ivf_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing-drift report for the frozen int8 IVF model: build the
    model over the EXISTING slice (vec_id % DRIFT_ARRIVING_MOD != 0 —
    the store-family arriving convention), assign the WHOLE corpus
    under it in one fused Arrow pass, and compare per-list resident vs
    arriving membership. Returns one row per model list: (list_id,
    n_resident, n_arriving, kl_contrib, is_hot) — SUM(kl_contrib) is
    the corpus drift number, is_hot names the lists to blame.

    Plan: the K-row model collect (routing-decision class), ONE
    map-side quantize+assign pass over the scan, ONE K-key partial-agg
    shuffle for the counts, then K-row broadcast joins (spine +
    totals). Float discipline: smoothed shares are single divisions of
    exact BIGINTs, the log-ratio is LN of ONE division of two exact
    BIGINT products (house ROUND(.,6) -> DECIMAL close, the
    source_divergence pattern), and the hot decision never touches a
    float. LIBRARY op (full oracle ``IVF_DRIFT_SQL``); R16 seat
    queue."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    existing = emb.where(
        F.pmod(F.col("vec_id"), F.lit(DRIFT_ARRIVING_MOD)) != 0
    )
    cq, cn, cids, cents = _int8_centroid_model(spark, existing)
    k_m = len(cids)
    asg = _quantize_assign_gemm(spark, emb, cq, cn, cids).select(
        "list_id",
        (F.pmod(F.col("vec_id"), F.lit(DRIFT_ARRIVING_MOD)) == 0).alias(
            "arriving"
        ),
    )
    counts = asg.groupBy("list_id").agg(
        F.sum(F.when(~F.col("arriving"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_resident"),
        F.sum(F.when(F.col("arriving"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_arriving"),
    )
    return drift_from_counts(
        cents.select(F.col("c_id").alias("list_id")), counts, k_m
    )


def drift_from_counts(
    spine: DataFrame, counts: DataFrame, k_m: int
) -> DataFrame:
    """The drift formulas over a (list_id, n_resident, n_arriving)
    count frame and a model-list spine: JM-smoothed per-list KL
    contribution + the exact-integer hot flag. Shared by the one-plan
    ``ivf_drift_report`` (mod-split corpus) and the deployment twin
    ``ivf_store.drift_report_stream`` (persisted-index residents vs an
    arriving micro-batch). An EMPTY arriving side (na = 0 — e.g. an
    empty streaming micro-batch) is a clean no-drift report: every
    kl_contrib is gated to exactly 0 rather than the Infinity/NaN the
    raw ``·/(100·na·K)`` shares would produce (the hot flag needs no
    gate — its ``n_arriving > 0`` conjunct is already false and its
    decision arithmetic is division-free)."""
    tot = counts.agg(
        F.sum("n_resident").cast("bigint").alias("nr"),
        F.sum("n_arriving").cast("bigint").alias("na"),
    )
    full = (
        spine.join(F.broadcast(counts), "list_id", "left")
        .na.fill({"n_resident": 0, "n_arriving": 0})
        .crossJoin(F.broadcast(tot))
    )
    # JM-smoothed shares as integer-rational pairs: p_a has numerator
    # a_num over denominator 100*na*K; the ratio p_a/p_r cancels the
    # 100*K factors. BIGINT bound (ANSI fold throws past it):
    # 6400 * n_arriving * nr < 2^63 — wave x corpus products to ~1.5e15.
    a_num = F.lit(99) * F.col("n_arriving") * F.lit(k_m) + F.col("na")
    r_num = F.lit(99) * F.col("n_resident") * F.lit(k_m) + F.col("nr")
    p_a = a_num.cast("double") / (F.lit(100) * F.col("na") * F.lit(k_m))
    lr = (
        F.round(
            F.log(
                (a_num * F.col("nr")).cast("double")
                / (F.col("na") * r_num).cast("double")
            ),
            6,
        )
        .cast("decimal(18,6)")
    )
    return full.select(
        F.col("list_id").cast("bigint").alias("list_id"),
        "n_resident",
        "n_arriving",
        F.when(
            F.col("na") > 0,
            F.round(p_a * lr.cast("double"), 6).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("kl_contrib"),
        (
            (F.col("n_arriving") > 0)
            & (
                a_num * F.col("nr")
                > F.lit(DRIFT_HOT_FACTOR) * F.col("na") * r_num
            )
        ).alias("is_hot"),
    )


IVF_DRIFT_SQL = f"""
WITH {_QUANT_CORPUS_SQL},
dex AS (SELECT * FROM qn WHERE vec_id % {DRIFT_ARRIVING_MOD} <> 0),
dcents AS (
  SELECT vec_id AS c_id, qvec AS c_vec, qnorm AS c_norm FROM dex
  ORDER BY vec_id LIMIT {N_CENTROIDS}
),
dk AS (SELECT COUNT(*) AS k_m FROM dcents),
dasg AS (
  SELECT qn.vec_id, (qn.vec_id % {DRIFT_ARRIVING_MOD} = 0) AS arriving,
    -MAX({{'cos': CAST({_DOT_SQL.format(a="qn.qvec", b="c_vec")} AS DOUBLE)
          / (SQRT(CAST(qn.qnorm AS DOUBLE)) * SQRT(CAST(c_norm AS DOUBLE))),
         'nc': -c_id}}).nc AS list_id
  FROM qn CROSS JOIN dcents
  GROUP BY qn.vec_id, qn.qvec, qn.qnorm
),
dcounts AS (
  SELECT list_id,
    SUM(CASE WHEN NOT arriving THEN 1 ELSE 0 END) AS n_resident,
    SUM(CASE WHEN arriving THEN 1 ELSE 0 END) AS n_arriving
  FROM dasg GROUP BY list_id
),
dtot AS (SELECT SUM(n_resident) AS nr, SUM(n_arriving) AS na FROM dcounts),
dfull AS (
  SELECT c.c_id AS list_id,
    COALESCE(d.n_resident, 0) AS n_resident,
    COALESCE(d.n_arriving, 0) AS n_arriving,
    t.nr, t.na, k.k_m
  FROM dcents c
  LEFT JOIN dcounts d ON d.list_id = c.c_id
  CROSS JOIN dtot t CROSS JOIN dk k
)
SELECT CAST(list_id AS BIGINT) AS list_id,
  CAST(n_resident AS BIGINT) AS n_resident,
  CAST(n_arriving AS BIGINT) AS n_arriving,
  CAST(ROUND(
    (CAST(99 * n_arriving * k_m + na AS DOUBLE) / (100 * na * k_m))
    * CAST(CAST(ROUND(LN(
        CAST((99 * n_arriving * k_m + na) * nr AS DOUBLE)
        / CAST(na * (99 * n_resident * k_m + nr) AS DOUBLE)), 6)
      AS DECIMAL(18, 6)) AS DOUBLE), 6) AS DOUBLE) AS kl_contrib,
  (n_arriving > 0 AND (99 * n_arriving * k_m + na) * nr
    > {DRIFT_HOT_FACTOR} * na * (99 * n_resident * k_m + nr)) AS is_hot
FROM dfull
"""


# ------------------- margin-based cross-corpus pair mining (r15) -----

# The ratio-margin criterion of Artetxe & Schwenk, "Margin-based
# Parallel Corpus Mining with Multilingual Sentence Embeddings" (ACL
# 2019): a candidate pair's raw cosine is normalized by the average
# similarity of each side's own k-nearest neighborhood in the OTHER
# corpus —
#
#   margin(x, y) = cos(x, y) / ( avg_{z in NNk(x)} cos(x, z)/2
#                              + avg_{z in NNk(y)} cos(y, z)/2 )
#
# — which suppresses hubs (a vector close to everything scores high
# raw cosine but low margin) and is the standard mining rule behind
# CCMatrix/LASER-style parallel-data pipelines. Here the two corpora
# are the embedding table's deterministic parity halves (vec_id % 2 —
# the house split convention; in deployment the sides are two real
# corpora, e.g. two languages or two crawls).
#
# Scale shape: TWO broadcast-GEMM corpus scans through the shared
# ``_gemm_topk`` kernel — the probe set (bounded, the driver-literal
# class) vs side B, then the probes' candidate set (≤ probes × k ids,
# the routing-decision collect class) vs side A — plus
# candidate-count-sized joins. At 100 TB the scans swap for the
# persisted IVF store's routed probes; the margin/fusion tail is
# probe-sized either way.
#
# Float discipline (the house close): per-pair cosine is
# ROUND(exact-int dot / (sqrt * sqrt), 6); each neighborhood half is
# ONE IEEE division of an exact DECIMAL(18,6) sum (cast to double —
# sums of k six-decimal values are far inside 2^53); the margin is one
# more division of those closed doubles, ROUND(·, 6); every rank ties
# on ids; the accept decision compares the ROUNDed margin.

MARGIN_K = 4            # neighborhood size for both halves
MARGIN_PROBE_MAX = 80   # A-side queries: even vec_id < this (40 probes)
MARGIN_THRESHOLD = 1.06  # the A&S operating point


def margin_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-scored best-match mining between the corpus's parity
    halves: for each A-side probe, its side-B candidates' raw cosine
    is re-scored by the ratio margin and the best candidate kept —
    (query_id, match_id, cosine_sim, margin, accepted). LIBRARY op
    (full DuckDB oracle ``MARGIN_PAIR_SQL`` re-derives probes,
    both kNN directions, the neighborhood averages, AND the margin
    fusion under one value-hash)."""
    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    n = _with_norm(emb, "vec_id", "n").where(F.col("n_norm") > 0)
    side_a = n.where(F.pmod(F.col("n_id"), F.lit(2)) == 0)
    side_b = n.where(F.pmod(F.col("n_id"), F.lit(2)) == 1)
    probes = side_a.where(F.col("n_id") < MARGIN_PROBE_MAX)
    return margin_mine_frame(spark, probes, side_a, side_b)


def margin_mine_frame(
    spark: SparkSession,
    probes: DataFrame,
    side_a: DataFrame,
    side_b: DataFrame,
) -> DataFrame:
    """The margin-mining core over arbitrary normed frames
    (``_with_norm`` layout): score ``probes`` against ``side_b``,
    re-rank by the ratio margin with back-neighborhoods over
    ``side_a``. Each probe's output depends only on (probe, the two
    static sides), so a batch split of the probe set unions to the
    one-batch image — the property ``margin_mine_stream`` rides
    (stream ≡ batch pytest-pinned). Shared by the library row (probes
    ⊆ side A) and the streaming twin (arriving external probes)."""
    from pyspark.sql import Window

    # LAZY: the candidate-id collect right below is the first action
    # and materializes the forward top-k once for its three consumers
    # (collect, qh, scored) — eager paid one extra scheduled job (r17)
    fwd = _gemm_topk(spark, probes, side_b, MARGIN_K).localCheckpoint(
        eager=False
    )
    cand_ids = sorted(
        int(r.neighbor_id)
        for r in fwd.select("neighbor_id").distinct().collect()
    )  # <= probes x k ids — the routing-decision collect class
    if not cand_ids:
        return spark.createDataFrame(
            [],
            "query_id long, match_id long, cosine_sim double, "
            "margin double, accepted boolean",
        )
    back = _gemm_topk(
        spark, side_b.where(F.col("n_id").isin(cand_ids)), side_a, MARGIN_K
    )

    def half(df, key):
        return df.groupBy(key).agg(
            F.round(
                F.sum(F.col("cosine_sim").cast("decimal(18,6)"))
                .cast("double")
                / F.lit(2 * MARGIN_K),
                6,
            ).alias(f"{key}_half")
        )

    qh = half(fwd, "query_id")
    ch = half(
        back.select(F.col("query_id").alias("cand_id"), "cosine_sim"),
        "cand_id",
    )
    denom = F.col("query_id_half") + F.col("cand_id_half")
    scored = (
        fwd.join(F.broadcast(qh), "query_id")
        .join(
            F.broadcast(ch),
            fwd["neighbor_id"] == ch["cand_id"],
        )
        .where(denom > 0)
        .select(
            "query_id",
            F.col("neighbor_id").alias("match_id"),
            "cosine_sim",
            F.round(F.col("cosine_sim") / denom, 6).alias("margin"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("margin"), "match_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "query_id", "match_id", "cosine_sim", "margin",
            (F.col("margin") >= F.lit(MARGIN_THRESHOLD)).alias("accepted"),
        )
    )


MARGIN_PAIR_SQL = f"""
WITH msc AS (
  SELECT vec_id, {_SCALED_SQL.format(col="embedding")} AS vec
  FROM {_VALID_EMB_SQL} embeddings
),
mn AS (
  SELECT * FROM (
    SELECT vec_id, vec, {_DOT_SQL.format(a="vec", b="vec")} AS norm FROM msc
  ) WHERE norm > 0
),
mva AS (SELECT * FROM mn WHERE ((vec_id % 2) + 2) % 2 = 0),
mvb AS (SELECT * FROM mn WHERE ((vec_id % 2) + 2) % 2 = 1),
mq AS (SELECT * FROM mva WHERE vec_id < {MARGIN_PROBE_MAX}),
mfwd AS (
  SELECT q.vec_id AS query_id, b.vec_id AS match_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="q.vec", b="b.vec")} AS DOUBLE)
         / (SQRT(CAST(q.norm AS DOUBLE)) * SQRT(CAST(b.norm AS DOUBLE))),
         6) AS DOUBLE) AS cosine_sim
  FROM mq q CROSS JOIN mvb b
),
mftop AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine_sim DESC, match_id) AS rk
    FROM mfwd
  ) WHERE rk <= {MARGIN_K}
),
mcand AS (SELECT DISTINCT match_id FROM mftop),
mback AS (
  SELECT c.vec_id AS cand_id, a.vec_id AS nb_id,
    CAST(ROUND(CAST({_DOT_SQL.format(a="c.vec", b="a.vec")} AS DOUBLE)
         / (SQRT(CAST(c.norm AS DOUBLE)) * SQRT(CAST(a.norm AS DOUBLE))),
         6) AS DOUBLE) AS cosine_sim
  FROM mvb c JOIN mcand ON c.vec_id = mcand.match_id
  CROSS JOIN mva a
),
mbtop AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id
                ORDER BY cosine_sim DESC, nb_id) AS rk
    FROM mback
  ) WHERE rk <= {MARGIN_K}
),
mqh AS (
  SELECT query_id, CAST(ROUND(
    CAST(SUM(CAST(cosine_sim AS DECIMAL(18,6))) AS DOUBLE)
      / {2 * MARGIN_K}, 6) AS DOUBLE) AS qhalf
  FROM mftop GROUP BY query_id
),
mch AS (
  SELECT cand_id, CAST(ROUND(
    CAST(SUM(CAST(cosine_sim AS DECIMAL(18,6))) AS DOUBLE)
      / {2 * MARGIN_K}, 6) AS DOUBLE) AS chalf
  FROM mbtop GROUP BY cand_id
),
mm AS (
  SELECT f.query_id, f.match_id, f.cosine_sim,
    CAST(ROUND(f.cosine_sim / (qh.qhalf + ch.chalf), 6) AS DOUBLE) AS margin
  FROM mftop f
  JOIN mqh qh ON qh.query_id = f.query_id
  JOIN mch ch ON ch.cand_id = f.match_id
  WHERE qh.qhalf + ch.chalf > 0
)
SELECT query_id, match_id, cosine_sim, margin,
  margin >= CAST({MARGIN_THRESHOLD} AS DOUBLE) AS accepted
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY margin DESC, match_id) AS rk2
  FROM mm
) WHERE rk2 = 1
"""

# SEATED in r17 (the executed R17 seat trade, LEAD seat — the
# ratio-margin fusion + dual-kNN composition has no registered
# sibling). Registration happens here rather than at the def because
# the oracle constant composes kernels defined above it; the rebind is
# exactly what the decorator form does (register() returns the
# prepare()-wrapped callable and the module attribute tracks it).
margin_pair_mining = register(
    "margin_pair_mining", oracle=MARGIN_PAIR_SQL
)(margin_pair_mining)


def margin_mine_stream(
    spark: SparkSession, probes_stream: DataFrame, ref_sf_dir: str, sink
):
    """Streaming margin mining — "score arriving vectors for their
    best cross-corpus match as they land": each micro-batch of
    (vec_id, embedding) probe rows is normed and run through the
    IDENTICAL ``margin_mine_frame`` core against the reference
    corpus's static parity sides (the ``foreachBatch`` stream-static
    pattern: the per-batch probe set is bounded, so the broadcast-GEMM
    kernel's driver-literal contract holds per batch). Probes are
    independent rows, so the union of per-batch results equals the
    one-batch image (stream ≡ batch pytest-pinned).
    ``sink(result_df, batch_id)`` receives each batch's (query_id,
    match_id, cosine_sim, margin, accepted) frame; sink contract:
    fully materialize inside the call."""
    emb = _valid_embeddings(table(spark, ref_sf_dir, "embeddings"))
    n = _with_norm(emb, "vec_id", "n").where(F.col("n_norm") > 0)
    side_a = n.where(F.pmod(F.col("n_id"), F.lit(2)) == 0).localCheckpoint()
    side_b = n.where(F.pmod(F.col("n_id"), F.lit(2)) == 1).localCheckpoint()

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        probes = _with_norm(_valid_embeddings(batch_df), "vec_id", "n").where(
            F.col("n_norm") > 0
        )
        return margin_mine_frame(spark, probes, side_a, side_b)

    return per_batch(probes_stream, stage, sink)
