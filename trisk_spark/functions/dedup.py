"""Deduplication over ``documents``: exact, bag-of-words, MinHash+LSH,
and n-gram Jaccard near-dup detection. All JVM-side DataFrame
expressions with exact DuckDB oracles (both engines share md5, so hash
functions agree bit-for-bit).

Scale design (100 TB corpora):
  * exact/bag dedup: one shuffle on the content hash — the canonical
    map-side-combine groupBy.
  * MinHash+LSH: shingles are 31-bit ints (one md5 per word + an
    arithmetic combine — no shingle strings ever built); the per-doc
    signature is a single grouped aggregate over exploded shingle ids
    (no perm-row explosion: P min-aggregates per shingle row);
    candidate generation groups (band, band_hash) buckets and emits
    member pairs — bucket sizes are bounded (hot-bucket cap) so pair
    counts can't quadratically blow up.
  * Jaccard verify runs only on candidate pairs, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import (
    cached_cols,
    spread_narrow_scan,
    table,
)
from trisk_spark.registry import register
from trisk_spark.session import loop_session, rebind

# ------------------------------------------------------- exact dedup --

DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact", oracle=DEDUP_EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content md5, keep lowest doc_id.
    One shuffle; at 100 TB, hash first so the shuffle moves 32-byte keys
    instead of document bodies."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


# NULL/empty alignment: DuckDB array_to_string([]) is NULL while Spark
# concat_ws([]) is '' — coalesce the empty bag to '' so word-less docs
# hash like Spark; NULL text stays NULL on both engines (outer CASE).
DEDUP_BAG_SQL = """
SELECT bag_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM (
  SELECT doc_id,
    CASE WHEN text IS NOT NULL THEN
      md5(coalesce(array_to_string(list_sort(list_distinct(
        list_filter(string_split(lower(text), ' '), w -> w <> ''))), ' '), ''))
    END AS bag_hash
  FROM documents
)
GROUP BY bag_hash
HAVING COUNT(*) > 1
"""


@register("dedup_bag", oracle=DEDUP_BAG_SQL)
def dedup_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-reorder-invariant dedup: identical sorted-distinct word bags.
    Catches shuffled near-copies exact md5 misses."""
    docs = table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    bag = F.when(
        F.col("text").isNotNull(),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(ws)))),
    )
    return (
        docs.select("doc_id", bag.alias("bag_hash"))
        .groupBy("bag_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


# ------------------------------------------------------ shingling ----

SHINGLE_K = 5  # words per shingle

# Shingles are identified by 31-bit integers, never strings: each word
# is md5-hashed once (60-bit hex prefix → bigint, reduced mod the
# Mersenne prime), and a shingle's id is a base-SHINGLE_C polynomial of
# its K word hashes — so building a shingle is 5 array lookups and a
# few int ops instead of a ~30-byte concat + md5 per position. Both
# engines share md5, and the polynomial is unrolled identically, so
# DuckDB agrees bit-for-bit. Overflow-safe: acc < 2^31, C < 2^20 →
# acc*C + wh < 2^52 fits signed 64-bit on both engines.
SHINGLE_C = 1_000_003
MERSENNE = 2_147_483_647

_WORDS_SQL = "list_filter(string_split(lower(text), ' '), w -> w <> '')"
_WH_SQL = (
    f"list_transform({_WORDS_SQL}, "
    f"w -> CAST(CONCAT('0x', substr(md5(w), 1, 15)) AS BIGINT) % {MERSENNE})"
)


def _poly_sql(elem: str) -> str:
    """Unrolled ((wh1*C + wh2) % M)*C + wh3 ... over ``elem(j)`` terms."""
    acc = elem.format(j=0)
    for k in range(1, SHINGLE_K):
        acc = f"(({acc}) * {SHINGLE_C} + {elem.format(j=k)}) % {MERSENNE}"
    return acc


# DuckDB: raw shingle occurrences per doc (1-based list indexing) —
# one row PER POSITION, duplicates preserved. Duplicate-sensitive
# consumers (ngram_counts, repetition_ratio) build on this.
SHINGLES_RAW_SQL = f"""
SELECT doc_id,
  unnest(list_transform(range(1, greatest(len(whs) - {SHINGLE_K - 1}, 0) + 1),
         i -> {_poly_sql("whs[i + {j}]")})) AS shingle
FROM (SELECT doc_id, {_WH_SQL} AS whs FROM documents)
"""

# Distinct (doc_id, shingle) set — for set-semantics consumers
# (Jaccard, LSH membership, decontamination overlap).
SHINGLES_SQL = f"""
SELECT DISTINCT doc_id, shingle FROM ({SHINGLES_RAW_SQL})
"""


def _shingle_cols() -> tuple[Column, Column]:
    """The two shingling projections as memoized Column trees (the
    ``cached_cols`` treatment: ~200 py4j round trips built once per
    JVM, not once per query)."""

    def build():
        ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
        whs = F.transform(
            ws,
            lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast(
                "bigint"
            )
            % MERSENNE,
        )
        wcol = F.col("whs")

        def poly(i: Column) -> Column:
            acc = F.element_at(wcol, i)
            for k in range(1, SHINGLE_K):
                acc = (acc * SHINGLE_C + F.element_at(wcol, i + k)) % MERSENNE
            return acc

        # when() guard, NOT greatest(…, 0): Spark's sequence(1, 0) is
        # DESCENDING [1, 0], so a doc with < SHINGLE_K words (or NULL
        # text, where size() is -1) would emit phantom NULL shingles
        # that the oracle's range(1, 1) = [] never produces.
        sh = F.when(
            F.size(wcol) >= SHINGLE_K,
            F.transform(
                F.sequence(F.lit(1), F.size(wcol) - (SHINGLE_K - 1)), poly
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        return whs.alias("whs"), F.explode(sh).alias("shingle")

    return cached_cols("dedup.shingles", build)


def shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """Integer shingle ids per doc (Spark mirror of SHINGLES_SQL).

    ``distinct=False`` skips the dedup shuffle for consumers whose
    aggregate is duplicate-insensitive (MIN for minhash) — same result,
    one less exchange."""
    whs_col, shingle_col = _shingle_cols()
    # The word-hash array MUST be materialized in its own projection:
    # inlined, every element_at(whs, ...) re-evaluates the whole
    # list_transform (one md5 per word PER REFERENCE → O(K·n²) md5
    # calls per doc). As a standalone alias referenced K times,
    # CollapseProject keeps the boundary and it's hashed once per row.
    base = docs.select("doc_id", whs_col)
    out = base.select("doc_id", shingle_col)
    return out.distinct() if distinct else out


# --------------------------------------------------- MinHash + LSH ---

N_PERMS = 12
N_BANDS = 3
ROWS_PER_BAND = N_PERMS // N_BANDS

# Hot-bucket cap: an LSH bucket keeps only its BUCKET_CAP smallest
# doc_ids (deterministic — row_number ordered by doc_id on both
# engines). A degenerate corpus (thousands of byte-identical docs) maps
# to ONE bucket; uncapped, the in-bucket pair generation is quadratic in
# that bucket and a single row holds the whole membership. Capped, the
# worst bucket emits ≤ CAP·(CAP-1)/2 pairs and the collected array is
# ≤ CAP elements — identical docs beyond the cap are caught by
# dedup_exact anyway, which is the cheap path for byte-duplicates.
BUCKET_CAP = 256

# The N_PERMS "permutations" are integer universal hashes
# h_i(x) = (a_i*x + b_i) mod p over the Mersenne prime p = 2^31-1
# (a_i, b_i < p and x < p already — shingle ids are reduced mod p — so
# a_i*x fits a signed 64-bit without overflow on either engine). Zero
# string hashing here: the only md5 in the pipeline is one per word,
# inside shingling — the hash is the hot loop at 100 TB.
PERM_A = [(2_654_435_761 * (i + 1)) % MERSENNE or 1 for i in range(N_PERMS)]
PERM_B = [(40_503 * (i + 1) + 7) % MERSENNE for i in range(N_PERMS)]

_XM_SQL = "shingle"
_SIG_COLS_SQL = ",\n  ".join(
    f"MIN(({PERM_A[i]} * xm + {PERM_B[i]}) % {MERSENNE}) AS h{i}"
    for i in range(N_PERMS)
)
_BAND_COLS_SQL = ",\n  ".join(
    "CONCAT("
    + ", '|', ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
    + f") AS band{b}"
    for b in range(N_BANDS)
)

MINHASH_SIGNATURES_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, {_XM_SQL} AS xm FROM sh)
SELECT doc_id, {_SIG_COLS_SQL}
FROM xs GROUP BY doc_id
"""

_CAPPED_SQL = ",\n".join(
    f"""capped{b} AS (
  SELECT doc_id, band{b} FROM (
    SELECT doc_id, band{b},
      row_number() OVER (PARTITION BY band{b} ORDER BY doc_id) AS rn
    FROM bands)
  WHERE rn <= {{cap}})"""
    for b in range(N_BANDS)
)

MINHASH_LSH_PAIRS_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, {_XM_SQL} AS xm FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM xs GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sig),
{_CAPPED_SQL.format(cap=BUCKET_CAP)},
cand AS (
  {" UNION ALL ".join(
    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM capped{b} a JOIN capped{b} b "
    f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
    for b in range(N_BANDS)
  )}
)
SELECT DISTINCT doc_a, doc_b FROM cand
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    # MIN is duplicate-insensitive → no distinct pass over the shingles.
    sh = shingles(docs, distinct=False)
    xs = sh.select("doc_id", F.col("shingle").alias("xm"))
    aggs = cached_cols(
        "dedup.sig_aggs",
        lambda: [
            F.min((PERM_A[i] * F.col("xm") + PERM_B[i]) % MERSENNE).alias(
                f"h{i}"
            )
            for i in range(N_PERMS)
        ],
    )
    return xs.groupBy("doc_id").agg(*aggs)


@register("dedup_minhash_lsh", oracle=MINHASH_LSH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: 5-word integer shingle ids
    (one md5 per word + polynomial combine) → 12 integer min-hashes
    (universal hashing mod 2^31-1) → 3 bands of 4 → in-bucket pair
    generation.

    Plan: shingle explode + one grouped aggregate for signatures, then
    ONE shuffle on (band_idx, band_key) that groups each LSH bucket and
    emits its member pairs directly — no self-join, so the signature
    pipeline runs exactly once (a self-join would compute it for both
    sides: exchange reuse does not fire across AQE stages). Bucket
    membership is HARD-CAPPED at BUCKET_CAP via a row_number window
    BEFORE the collect (same exchange — the window and the groupBy share
    the partitioning), so neither the collected array nor the pair
    explosion can exceed the cap on a degenerate mega-bucket corpus;
    truncation keeps the CAP smallest doc_ids, mirrored exactly in the
    oracle SQL. Shuffled payload is 8-byte doc_ids, never text."""
    return minhash_lsh_pairs(spread_narrow_scan(table(spark, sf_dir, "documents")))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Core MinHash+LSH candidate-pair pipeline over any (doc_id, text)
    DataFrame — see dedup_minhash_lsh for the plan discussion."""
    return _pairs_from_signatures(minhash_signatures(docs))


def _pairs_from_signatures(sig: DataFrame) -> DataFrame:
    """Banding + capped in-bucket pair generation over a precomputed
    signature frame — the post-signature half of ``minhash_lsh_pairs``,
    shared with ``minhash_jaccard_estimate`` (which checkpoints the
    signatures so pairs and the agreement join read them once)."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * ROWS_PER_BAND + r}").cast("string")
                                for r in range(ROWS_PER_BAND)
                            ],
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.bh")
    w = Window.partitionBy("band_idx", "bh").orderBy("doc_id")
    capped = bands.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= BUCKET_CAP
    )
    buckets = (
        capped.groupBy("band_idx", "bh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # all (i < j) pairs within each bucket, generated engine-side
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


# NOTE: DuckDB's CONCAT(...) of band member hashes must concatenate in
# the same order as Spark's concat_ws — both use h_{4b}..h_{4b+3} with a
# '|' separator (integers render identically as strings on both engines).

# ------------------------------------------------------- SimHash ----

SIMHASH_BITS = 60  # 15 md5 hex chars → fits signed BIGINT
SIMHASH_BANDS = 4
BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = 4  # template-generated corpus: fingerprints correlate heavily


# Bit-vote counters are PACKED: 5 per bigint in 12-bit fields, so the
# grouped aggregate keeps 12 SUM buffers instead of 60 (5× narrower
# shuffle rows and far smaller generated code — the 60-column variant
# spent more time in codegen than in data). 12-bit fields cap the
# distinct-token count per doc at 4095 without overflow; the bound is
# ENFORCED: both engines sort the distinct-token list and slice it to
# MAX_TOKENS before voting (deterministic, identical on both sides —
# simhash saturates long before 4095 tokens anyway).
FIELD_BITS = 12
FIELDS_PER_PACK = 5
N_PACKS = SIMHASH_BITS // FIELDS_PER_PACK  # 12
MAX_TOKENS = (1 << FIELD_BITS) - 1  # 4095


def _pack_term_sql(p: int) -> str:
    return " + ".join(
        f"(((x >> {p * FIELDS_PER_PACK + f}) & 1) * {1 << (FIELD_BITS * f)})"
        for f in range(FIELDS_PER_PACK)
    )


def _cnt_sql(j: int) -> str:
    p, f = divmod(j, FIELDS_PER_PACK)
    return f"((p{p} >> {FIELD_BITS * f}) & {(1 << FIELD_BITS) - 1})"


# fingerprint bit j = (vote sum >= 0) = (2*cnt_j >= n_tokens)
_SIMHASH_FP_SQL = " + ".join(
    f"(CASE WHEN 2 * {_cnt_sql(j)} >= n THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

SIMHASH_FP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_slice(list_sort(list_distinct(
      list_filter(string_split(lower(text), ' '), w -> w <> ''))),
      1, {MAX_TOKENS})) AS tok
  FROM documents
),
hx AS (SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(tok), 1, {SIMHASH_BITS // 4})) AS BIGINT) AS x
       FROM toks),
packs AS (
  SELECT doc_id, COUNT(*) AS n,
    {", ".join(f"SUM({_pack_term_sql(p)}) AS p{p}" for p in range(N_PACKS))}
  FROM hx GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_FP_SQL} AS fp FROM packs
"""

SIMHASH_PAIRS_SQL = f"""
WITH fps AS ({SIMHASH_FP_SQL}),
bands AS (
  SELECT doc_id, fp,
    {", ".join(f"(fp >> {BAND_BITS * b}) & {(1 << BAND_BITS) - 1} AS band{b}"
               for b in range(SIMHASH_BANDS))}
  FROM fps
),
{",".join(
  f'''scapped{b} AS (
  SELECT doc_id, fp, band{b} FROM (
    SELECT doc_id, fp, band{b},
      row_number() OVER (PARTITION BY band{b} ORDER BY doc_id) AS rn
    FROM bands)
  WHERE rn <= {BUCKET_CAP})'''
  for b in range(SIMHASH_BANDS)
)},
cand AS (
  {" UNION ".join(
    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fa, b.fp AS fb "
    f"FROM scapped{b} a JOIN scapped{b} b "
    f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
    for b in range(SIMHASH_BANDS)
  )}
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {HAMMING_MAX}
"""


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc: each distinct token votes ±1 per bit
    (bit j of the 60-bit int parsed from md5(token)'s hex prefix — one
    parse, 60 shift/and ops, no per-digit string work); fingerprint bit
    = sign of the vote sum. One explode + one grouped aggregate (60
    map-side-combined SUMs) — the same shuffle shape as a word count,
    so it scales like one."""
    # Sorted-distinct token list sliced to MAX_TOKENS: enforces the
    # packed-counter bound (12-bit fields overflow silently past 4095
    # votes) deterministically and identically to the oracle SQL.
    toks = docs.select(
        "doc_id",
        F.explode(
            F.slice(
                F.array_sort(F.array_distinct(
                    F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
                )),
                1,
                MAX_TOKENS,
            )
        ).alias("tok"),
    )
    x = F.conv(
        F.substring(F.md5("tok"), 1, SIMHASH_BITS // 4), 16, 10
    ).cast("bigint")
    hx = toks.select("doc_id", x.alias("x"))

    # The pack/vote/fingerprint expressions are generated as SQL
    # strings and parsed in ONE F.expr call each (r17: the original
    # per-op Column builders issued ~1,000 py4j round-trips per query
    # — multi-second pure driver overhead; the parsed trees, and so
    # the results and codegen, are identical).
    def pack_term(p: int) -> str:
        return " + ".join(
            f"(shiftright(x, {p * FIELDS_PER_PACK + f}) & 1) "
            f"* CAST({1 << (FIELD_BITS * f)} AS BIGINT)"
            for f in range(FIELDS_PER_PACK)
        )

    packs = hx.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.expr(f"sum({pack_term(p)})").alias(f"p{p}")
            for p in range(N_PACKS)
        ],
    )

    def cnt(j: int) -> str:
        p, f = divmod(j, FIELDS_PER_PACK)
        return (
            f"(shiftright(p{p}, {FIELD_BITS * f}) "
            f"& {(1 << FIELD_BITS) - 1})"
        )

    fp = " + ".join(
        f"(CASE WHEN 2 * {cnt(j)} >= n THEN CAST({1 << j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return packs.select("doc_id", F.expr(fp).alias("fp"))


def with_simhash_fp(df: DataFrame, text_col: str = "text", out: str = "fp") -> DataFrame:
    """ROW-LOCAL 60-bit SimHash — bit-identical to
    ``simhash_fingerprints`` but computed entirely inside each row
    (array aggregates over the token list: no explode, no shuffle).
    This is the form a STREAMING pipeline needs, where a per-doc
    fingerprint must not cost a keyed exchange. Same MAX_TOKENS bound,
    same md5 token hashes.

    Staged projections on purpose: the token-hash array and the 12 pack
    sums are materialized as their own aliases before being referenced
    multiple times — inlined, every reference would re-run the whole
    md5 transform (the Catalyst lambda re-evaluation trap documented at
    ``shingles``)."""
    toks = F.slice(
        F.array_sort(F.array_distinct(F.filter(F.split(F.lower(text_col), " "),
                                               lambda w: w != ""))),
        1,
        MAX_TOKENS,
    )
    hx = F.transform(
        toks,
        lambda w: F.conv(F.substring(F.md5(w), 1, SIMHASH_BITS // 4), 16, 10)
        .cast("bigint"),
    )
    staged = df.select("*", hx.alias("__hx"))

    def pack_sum(p: int) -> Column:
        def term(x: Column) -> Column:
            t = F.lit(0).cast("bigint")
            for f in range(FIELDS_PER_PACK):
                j = p * FIELDS_PER_PACK + f
                t = t + F.shiftright(x, j).bitwiseAND(F.lit(1)) * (
                    1 << (FIELD_BITS * f)
                )
            return t

        return F.aggregate(
            F.col("__hx"), F.lit(0).cast("bigint"), lambda acc, x: acc + term(x)
        )

    staged = staged.select(
        "*",
        F.size("__hx").alias("__n"),
        *[pack_sum(p).alias(f"__p{p}") for p in range(N_PACKS)],
    )

    def cnt(j: int) -> Column:
        p, f = divmod(j, FIELDS_PER_PACK)
        return F.shiftright(F.col(f"__p{p}"), FIELD_BITS * f).bitwiseAND(
            F.lit((1 << FIELD_BITS) - 1)
        )

    fp = F.lit(0).cast("bigint")
    for j in range(SIMHASH_BITS):
        fp = fp + F.when(
            2 * cnt(j) >= F.col("__n"), F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return staged.select("*", fp.alias(out)).drop(
        "__hx", "__n", *[f"__p{p}" for p in range(N_PACKS)]
    )


@register("dedup_simhash", oracle=SIMHASH_PAIRS_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints, 4 bands of 15 bits
    for candidate blocking, Hamming-distance verify (≤ HAMMING_MAX).

    Plan: fingerprinting is one shuffle (8-byte keys); the candidate
    join shuffles 15-bit band values, never text; verification is a
    codegen'd bit_count on the pair — the Manku-et-al. design with the
    permuted-table sweep replaced by band blocking.
    """
    return simhash_pairs(spread_narrow_scan(table(spark, sf_dir, "documents")))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Core SimHash near-dup pipeline over any (doc_id, text) DataFrame
    — see dedup_simhash for the plan discussion."""
    fps = simhash_fingerprints(docs)
    # In-bucket pair generation (see dedup_minhash_lsh): one shuffle on
    # the band value, fingerprint pipeline computed exactly once, no
    # self-join. Members carry (doc_id, fp) so the Hamming verify runs
    # on the exploded pairs without a join back.
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
    # Hot-bucket cap (see dedup_minhash_lsh): row_number window bounds
    # membership BEFORE the collect — same exchange, bounded array.
    w = Window.partitionBy("band_idx", "bv").orderBy("doc_id")
    capped = bands.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= BUCKET_CAP
    )
    buckets = (
        capped.groupBy("band_idx", "bv")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "fp"))
            ).alias("ms")
        )
        .where(F.size("ms") > 1)
    )
    # Hamming distance is computed INSIDE the pair lambda and filtered
    # before explode/distinct: failing pairs never leave the bucket row,
    # and the distinct dedups 3 narrow columns instead of pairs carrying
    # two 8-byte fingerprints (on a correlated corpus candidate pairs
    # outnumber survivors, so the filter placement is the data win).
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.filter(
                F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(
                        x.getField("doc_id").alias("doc_a"),
                        y.getField("doc_id").alias("doc_b"),
                        F.bit_count(
                            x.getField("fp").bitwiseXOR(y.getField("fp"))
                        ).cast("int").alias("hamming"),
                    ),
                ),
                lambda p: p.getField("hamming") <= HAMMING_MAX,
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
    )


# ------------------------------------------------- n-gram Jaccard ----

JACCARD_THRESHOLD = 0.5

# Hot-shingle cut: shingles appearing in more than SHINGLE_DF_CAP
# documents are dropped before the shared-shingle self-join (the
# standard stopword-shingle cut). A shingle with document frequency d
# fans out into d·(d-1)/2 join rows — one boilerplate phrase shared by
# a million docs would otherwise produce 5·10^11 rows. Jaccard is then
# computed over the filtered shingle universe on BOTH engines (sizes
# and intersections consistently exclude hot shingles).
SHINGLE_DF_CAP = 64

NGRAM_JACCARD_SQL = f"""
WITH sh0 AS ({SHINGLES_SQL}),
sh AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh0)
  WHERE df <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  CAST(ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {JACCARD_THRESHOLD}
"""


@register("ngram_jaccard", oracle=NGRAM_JACCARD_SQL)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 rare
    shingle, thresholded at 0.5.

    Plan: doc-frequency computed as a window count on the SAME shingle
    exchange the self-join needs (no extra shuffle, no broadcast-size
    assumption on the hot set); hot shingles (df > SHINGLE_DF_CAP) are
    cut before the join, bounding per-shingle fan-out at CAP²/2; then
    the shared-shingle self-join on 8-byte integer ids and two broadcast
    joins against per-doc sizes."""
    return jaccard_pairs(spread_narrow_scan(table(spark, sf_dir, "documents")))


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Core n-gram Jaccard pipeline over any (doc_id, text) DataFrame —
    see ngram_jaccard for the plan discussion."""
    sh0 = shingles(docs)
    wdf = Window.partitionBy("shingle")
    # localCheckpoint materializes the filtered shingle set ONCE: the
    # self-join consumes it twice, and without the barrier each side
    # would recompute the whole shingle+window pipeline (exchange reuse
    # does not fire across AQE stages). 16 bytes/row — at any scale the
    # materialization is far cheaper than the second computation.
    sh = (
        sh0.withColumn("df", F.count("*").over(wdf))
        .where(F.col("df") <= SHINGLE_DF_CAP)
        .drop("df")
        .localCheckpoint()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ------------------------------- duplicate clusters (iterate() image) --

MAX_CC_ITERS = 25  # safety bound; label propagation needs ≤ diameter

#: Edge-count bound under which connected components are solved EXACTLY
#: on the driver (one collect + union-find) instead of the distributed
#: label loop — the broadcast-join decision class (guide §3.1: ship the
#: small side when it provably fits). 200k (a, b) id pairs ≈ 3 MB
#: collected / ~0.3 s of pure-Python union-find worst case, and the
#: returned label table re-enters the plan as a node-count-bounded
#: local frame every consumer broadcast-joins. The label LOOP costs a
#: per-round scheduled job regardless of data size (~0.25-0.3 s × ~11
#: rounds on the sf0.1 graphs, task time ≈ 0), so below the bound the
#: driver path is strictly faster; above it the distributed loop is the
#: only memory-safe choice and runs exactly as before. A 100 TB corpus'
#: edge list (≫ 200k) always takes the loop — nothing here is
#: local-mode tuning, the bound is data-derived like an AQE broadcast
#: decision.
CC_DRIVER_MAX_EDGES = 200_000


def _driver_components(edge_rows) -> list[tuple[int, int]]:
    """Exact union-find (union-by-min + path compression) over collected
    (a, b) id pairs: root of every set is its minimum member, so the
    relabel below reproduces the loop's min-label fixpoint exactly
    (labels = smallest id in the connected component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return sorted((v, find(v)) for v in parent)

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE cand AS ({MINHASH_LSH_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b, doc_a FROM cand
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
"""


def min_label_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph via
    min-label propagation to fixpoint — the shared engine of
    ``dedup_clusters`` (MinHash text pairs) and ``dedup_semantic``
    (SRP-LSH embedding pairs); the batch image of the reference's
    ``iterate()`` (DataStream.java:534). Returns (doc_id, component)
    with component = smallest id in the cluster (the canonical keeper).

    Plan: each round is one neighbor-min join + one POINTER-JUMP join
    on the label table (never the documents) — the jump
    (component ← label(component), the classic path-halving
    acceleration) makes rounds O(log diameter) instead of O(diameter),
    so a 100 TB graph with long transitive chains converges in tens of
    rounds, not thousands (measured at sf0.1: an 1,632-member chained
    cluster converges in 6 rounds vs 18 without the jump).
    ``localCheckpoint`` truncates lineage so round N doesn't replay
    rounds 1..N-1. The fixpoint is exact: labels only decrease, stay
    member ids, and changed==0 enforces the neighbor-min condition
    along every edge, which forces every label to the component min.
    A capped exit without convergence raises instead of returning
    silently-wrong labels."""
    # materialize the RAW pair list once (the loop/fast-path both
    # re-read it; symmetrization reads the checkpoint, not the kernel)
    raw = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).localCheckpoint()
    n_pairs = raw.count()
    if n_pairs <= CC_DRIVER_MAX_EDGES:
        # bounded-graph fast path (r17 optimization round): solve
        # exactly on the driver — the collect is edge-count-bounded
        # (see CC_DRIVER_MAX_EDGES) and replaces ~11 near-empty
        # scheduled loop jobs with one; labels are identical to the
        # loop's fixpoint (equivalence pytest-pinned on planted
        # graphs, and every composed consumer stays oracle-gated).
        from trisk_spark.catalog import local_rows

        # NULL ids never reach here (the pairs kernels join/group on
        # ids), but guard anyway so the two paths stay behavior-aligned
        # (r17 ADVICE: int(None) raised on the driver while the loop
        # path would drop the edge via join NULL semantics).
        labels_rows = _driver_components(
            (int(r["a"]), int(r["b"]))
            for r in raw.where(
                F.col("a").isNotNull() & F.col("b").isNotNull()
            ).collect()
        )
        return local_rows(
            pairs.sparkSession,
            labels_rows,
            "doc_id bigint, component bigint",
        )
    edges = raw.unionByName(
        raw.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()  # materialize: the loop re-reads this every round
    # the loop runs on an AQE-off sibling session, fan sized from the
    # edge count (~500k edge rows per partition), so a round is one job
    spark = pairs.sparkSession
    n_edges = 2 * n_pairs  # the symmetrized count, known without a job
    loop = loop_session(spark, max(1, min(n_edges // 500_000 + 1, 2048)))
    return rebind(_label_loop(rebind(edges, loop)), spark)


def _label_loop(edges: DataFrame) -> DataFrame:
    """The seeded pointer-jumped min-label loop over a materialized
    symmetric edge list (see ``min_label_components`` for semantics;
    it runs on a ``session.loop_session``)."""
    # Seed with round 1's result directly: component₀ = min(own id,
    # min neighbor) is ONE grouped aggregate over the edge list —
    # the identity-seeded first neighbor-min join would compute
    # exactly this through two joins (measured r17: each loop round
    # costs more in per-job planning than in data, so a round saved
    # is the cheapest win available).
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(
            F.col("a").alias("doc_id"),
            F.least(F.col("a"), F.col("nbr_min")).alias("component"),
        )
    ).localCheckpoint()
    for _ in range(MAX_CC_ITERS):
        neigh = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = labels.join(neigh, labels.doc_id == neigh.a, "left").select(
            "doc_id",
            F.col("component").alias("old_component"),
            F.least(
                F.col("component"), F.coalesce("nbr_min", "component")
            ).alias("component"),
        )
        # pointer jump: component ← label(component). Labels are always
        # member ids that appear as keys (own id initially; a neighbor's
        # label or a label's label afterwards), so the lookup hits —
        # left join + coalesce only guards the not-yet-checkpointed
        # self-reference, and c_comp ≤ component by monotonicity.
        lut = stepped.select(
            F.col("doc_id").alias("c_id"), F.col("component").alias("c_comp")
        )
        # The convergence flag rides the SAME checkpointed frame (one
        # action), so the old separate labels-vs-new-labels join +
        # count per round collapses to a scan of the materialized
        # id-sized result (r17: halves the loop's per-round job count).
        # The checkpoint is LAZY: the `changed` count below is the
        # round's ONE job and materializes it as a side effect — an
        # eager checkpoint would run a separate materialization job
        # first, paying the per-job scheduling floor twice per round
        # (r17 A/B: 5.1 -> 4.4 s warm on the 11-round semantic graph,
        # labels row-identical).
        new_full = (
            stepped.join(lut, stepped.component == lut.c_id, "left")
            .select(
                "doc_id",
                F.coalesce("c_comp", "component").alias("component"),
                (
                    F.coalesce("c_comp", "component")
                    != F.col("old_component")
                ).alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_full.where(F.col("changed")).count()
        labels = new_full.select("doc_id", "component")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"min_label_components did not converge in {MAX_CC_ITERS} "
            "pointer-jumped rounds — the candidate graph has a component "
            "of astronomical diameter; raise MAX_CC_ITERS or inspect the "
            "pair threshold (returning unconverged labels would silently "
            "mislabel clusters)"
        )
    return labels


@register("dedup_clusters", oracle=DEDUP_CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash
    LSH candidate graph via min-label propagation to fixpoint (shared
    ``min_label_components`` — plan notes there). component = smallest
    doc_id in the cluster (the canonical keeper). The oracle is the
    transitive closure as a recursive CTE."""
    return min_label_components(dedup_minhash_lsh(spark, sf_dir))


# ------------------------------------------- decontamination --------

# Stand-in benchmark set: the first DECONTAM_BENCH_MAX_ID documents.
# In production this is the eval-suite text; the operator's shape is
# identical.
DECONTAM_BENCH_MAX_ID = 50

DECONTAMINATE_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {DECONTAM_BENCH_MAX_ID}),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id >= {DECONTAM_BENCH_MAX_ID}
  GROUP BY s.doc_id
)
SELECT doc_id, n_shared FROM hits
"""


@register("decontaminate_flags", oracle=DECONTAMINATE_SQL)
def decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: flag every corpus document that
    shares at least one n-gram shingle with the benchmark set, with the
    shared-shingle count as evidence strength — the standard
    eval-overlap scrub run before training.

    Plan: the benchmark's distinct shingle set is tiny by definition
    (eval suites are MBs, the corpus is TBs) and BROADCASTS into a
    semi-join-shaped hash join against the corpus shingles — the corpus
    is scanned once and shuffles only the surviving (doc_id) hits for
    the per-doc count. The shared shingle pipeline is materialized once
    (localCheckpoint) since both sides derive from it."""
    docs = table(spark, sf_dir, "documents")
    sh = shingles(docs).localCheckpoint()
    bench = (
        sh.where(F.col("doc_id") < DECONTAM_BENCH_MAX_ID)
        .select("shingle")
        .distinct()
    )
    return (
        sh.where(F.col("doc_id") >= DECONTAM_BENCH_MAX_ID)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


# --------------------------------- exact substring dedup (winnowing) --

# Exact substring dedup, the one standard LLM-pipeline dedup mode not
# covered above: find document pairs sharing a VERBATIM character run
# (suffix-array substring dedup a la "Deduplicating Training Data Makes
# Language Models Better", Lee et al. 2022 — done here with winnowed
# k-gram fingerprints, Schleimer et al. 2003, because fingerprint
# buckets shard over a cluster while one global suffix array does not).
#
# Guarantee (standard winnowing bound): any shared substring of length
# >= SUBSTR_K + SUBSTR_W - 1 chars shares at least one selected
# fingerprint regardless of alignment; shorter shared runs down to
# SUBSTR_K chars are detected opportunistically. A shared fingerprint
# IS a shared SUBSTR_K-char substring (60-bit md5 prefix of the gram —
# the same engine-identical int idiom as the shingle word hashes), so
# there is no verify stage; false-positive odds are the 60-bit birthday
# bound. Int fingerprints (not 32-char md5 strings) keep the winnow's
# sliding-min comparing longs and the shuffle key at 8 bytes — the
# difference between moving ~1x and ~4x the corpus bytes at 100 TB.
SUBSTR_K = 25   # fingerprint gram length (chars)
SUBSTR_W = 10   # winnow window (grams); guarantee threshold = K+W-1 = 34
# Per-document fingerprint bound: the winnow materializes one gram-hash
# array per row, so an UNCAPPED expression allocates O(len(text))
# 15-char strings in a single JVM row — a 10 MB document would cost
# ~600 MB and a 100 MB one would OOM the executor. Only the first
# SUBSTR_MAX_CHARS are fingerprinted (identical cap in the oracle);
# verbatim runs that START beyond the cap are not detected — the
# standard boilerplate-dedup tradeoff, documented, and far above any
# driver corpus length (max ~1.5k chars).
SUBSTR_MAX_CHARS = 65536

# The hex->bigint conv runs AFTER winnow selection (n/W selected
# fingerprints, not n gram positions): md5 emits fixed-length lowercase
# hex, so lexicographic array_min == numeric min and the selected set is
# unchanged — measured 3.75s -> 3.07s on the sf0.1 fingerprint stage.
# (A polynomial rolling hash was prototyped and is SLOWER here: Spark
# evaluates higher-order lambdas interpreted, so 25 modular
# multiply-adds per position lose to one JVM md5 call — 4.8s single /
# 9.4s double 31-bit vs 3.75s md5. md5-per-gram is the cross-engine
# floor for the hash itself; see PERF_NOTES.md.)
_WINNOW_EXPR = f"""
CASE WHEN length(text) >= {SUBSTR_K + SUBSTR_W - 1} THEN
  transform(
    flatten(transform(
      array(transform(sequence(1, least(length(text), {SUBSTR_MAX_CHARS}) - {SUBSTR_K} + 1),
        i -> substring(md5(substring(text, i, {SUBSTR_K})), 1, 15))),
      gs -> array_distinct(transform(
              sequence(1, size(gs) - {SUBSTR_W} + 1),
              p -> array_min(slice(gs, p, {SUBSTR_W})))))),
    s -> cast(conv(s, 16, 10) AS bigint))
ELSE array() END
"""

SUBSTR_DEDUP_SQL = f"""
WITH pos AS (
  SELECT doc_id, text,
    unnest(range(1, least(length(text), {SUBSTR_MAX_CHARS}) - {SUBSTR_K} + 2)) AS i
  FROM documents WHERE length(text) >= {SUBSTR_K + SUBSTR_W - 1}
),
grams AS (
  SELECT doc_id, i,
    CAST(CONCAT('0x',
      substr(md5(substr(text, CAST(i AS INT), {SUBSTR_K})), 1, 15))
      AS BIGINT) AS h
  FROM pos
),
winf AS (
  SELECT doc_id,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND {SUBSTR_W - 1} FOLLOWING) AS fp,
    COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND {SUBSTR_W - 1} FOLLOWING) AS wn
  FROM grams
),
fps AS (SELECT DISTINCT doc_id, fp FROM winf WHERE wn = {SUBSTR_W}),
capped AS (
  SELECT fp, doc_id FROM (
    SELECT fp, doc_id,
      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fps)
  WHERE rn <= {BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, COUNT(*) AS n_shared_fps
FROM pairs GROUP BY doc_a, doc_b
"""


@register("dedup_substring", oracle=SUBSTR_DEDUP_SQL)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup via winnowed k-gram fingerprints — doc
    pairs sharing verbatim >= {K+W-1}-char runs, with the count of
    shared selected fingerprints as the overlap weight.

    Plan: fingerprint selection is ENTIRELY map-side JVM array algebra
    (gram hashes + sliding array_min inside one projection — the
    1-element-array/transform wrapper is a let-binding so the gram
    array is built once per row, not once per window; no per-position
    explode, no Window operator, no Python). Then ONE shuffle on the
    fingerprint groups buckets (row_number-capped at BUCKET_CAP like
    every dedup bucket here), member pairs are emitted engine-side from
    the sorted bucket array, and a final narrow shuffle on (doc_a,
    doc_b) counts shared fingerprints. Shuffled payload is 32-byte
    fingerprints + 8-byte ids — document text never leaves the scan
    stage. At 100 TB: fingerprints/doc ~ len/W, buckets shard by
    fingerprint across the cluster, and the cap bounds the degenerate
    boilerplate-fingerprint bucket exactly like dedup_minhash_lsh."""
    return substring_pairs(spread_narrow_scan(table(spark, sf_dir, "documents")))


def substring_pairs(docs: DataFrame, cap: int = BUCKET_CAP) -> DataFrame:
    """Core winnowed-fingerprint pair pipeline over any (doc_id, text)
    DataFrame — see dedup_substring for semantics and plan."""
    fps = docs.select(
        "doc_id", F.explode(F.expr(_WINNOW_EXPR)).alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    capped = fps.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= cap
    )
    buckets = (
        capped.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fps"))
    )


# --------------------------- in-row signatures / streaming flag ------


def minhash_signatures_inrow(docs: DataFrame) -> DataFrame:
    """MinHash signatures computed ENTIRELY in-row — zero shuffle: the
    shingle array never explodes; each h_i is array_min over the
    permuted shingles. Value-identical to ``minhash_signatures``'s
    explode + grouped MIN (pytest-pinned: MIN over the exploded
    multiset ≡ array_min over the array), but shuffle-free, so the
    SAME expressions run under Structured Streaming — the signature
    kernel of ``minhash_flag_stream``. Docs with no shingles (< K
    words) carry no signature and are absent, like the grouped form."""
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    whs = F.transform(
        ws,
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")
        % MERSENNE,
    )
    base = docs.select("doc_id", whs.alias("whs"))
    wcol = F.col("whs")

    def poly(i: Column) -> Column:
        acc = F.element_at(wcol, i)
        for k in range(1, SHINGLE_K):
            acc = (acc * SHINGLE_C + F.element_at(wcol, i + k)) % MERSENNE
        return acc

    sh = F.when(
        F.size(wcol) >= SHINGLE_K,
        F.transform(F.sequence(F.lit(1), F.size(wcol) - (SHINGLE_K - 1)), poly),
    ).otherwise(F.array().cast("array<bigint>"))
    sig = base.select("doc_id", sh.alias("sh")).where(F.size("sh") > 0)

    def perm(i: int):
        # one-arg closure: a two-arg lambda would make F.transform pass
        # the element INDEX as the second argument, shadowing i
        return lambda s: (PERM_A[i] * s + PERM_B[i]) % MERSENNE

    return sig.select(
        "doc_id",
        *[
            F.array_min(F.transform("sh", perm(i))).alias(f"h{i}")
            for i in range(N_PERMS)
        ],
    )


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, bh) rows from a signature frame — the shared
    banding expression of the batch pipeline and the streaming flag."""
    band_col = cached_cols(
        "dedup.band_col",
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * ROWS_PER_BAND + r}").cast(
                                    "string"
                                )
                                for r in range(ROWS_PER_BAND)
                            ],
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    )
    return sig.select("doc_id", band_col).select(
        "doc_id", "band.band_idx", "band.bh"
    )


# --------------------- quality-aware canonical selection (r11) -------

def _canonical_sql() -> str:
    """DuckDB oracle for ``canonical_by_quality``: the dedup_clusters
    recursive closure + the shared quality expression (verbatim the
    curation-manifest fragment) + a per-component argmax via
    ROW_NUMBER over (q DESC, doc_id)."""
    from trisk_spark.functions.text import _SW_SQL

    return f"""
WITH RECURSIVE cand AS ({MINHASH_LSH_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b, doc_a FROM cand
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
scored AS (
  SELECT doc_id,
    0.5 * LEAST(len(ws) / 64.0, 1.0)
      + 0.3 * (1.0 - CAST(len(list_filter(ws, w -> w IN {_SW_SQL})) AS DOUBLE) / len(ws))
      + 0.2 * LEAST((CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws)) / 8.0, 1.0)
      AS q
  FROM (SELECT doc_id, text,
          list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
  WHERE len(ws) >= 1
),
m AS (SELECT c.doc_id, c.component, s.q
      FROM comp c JOIN scored s ON c.doc_id = s.doc_id),
best AS (
  SELECT component, doc_id AS canonical_id FROM (
    SELECT component, doc_id,
      ROW_NUMBER() OVER (PARTITION BY component
                         ORDER BY q DESC, doc_id) AS rn
    FROM m) WHERE rn = 1
)
SELECT m.doc_id, m.component, b.canonical_id,
  CAST(ROUND(m.q, 4) AS DOUBLE) AS quality,
  m.doc_id = b.canonical_id AS is_canonical
FROM m JOIN best b ON m.component = b.component
"""


@register("canonical_by_quality", oracle=_canonical_sql())
def canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over the near-duplicate
    clusters: instead of the min-doc_id keeper the manifests use, keep
    each cluster's BEST member — highest shared ``quality_expr`` score,
    ties by smallest doc_id. The production dedup refinement: when a
    boilerplate page and its clean original collide in one cluster,
    the clean original survives regardless of which was crawled first.
    Returns every clustered member with its component, the chosen
    canonical_id, and an is_canonical flag — downstream keeps the flag
    or anti-joins the rest, exactly like the manifest's dup_rank.

    Plan: ``dedup_clusters``'s banded-LSH + pointer-jumped components
    (ids only), then quality attaches via ONE id-keyed join of the
    id-sized cluster table against map-side scored rows (AQE decides
    broadcast vs shuffle — clusters can be a corpus-scale fraction, so
    no forced broadcast; the curation_funnel posture). The per-cluster
    argmax is a partial-aggregatable struct MAX groupBy — no
    per-component window sort, so one giant boilerplate cluster
    partial-aggregates map-side instead of serializing through a
    single task (max_by would be tie-nondeterministic; the struct
    encodes (q DESC, doc_id ASC) exactly). Registered r12 under the
    driver's hash gate (the R12 registration plan) with its full
    DuckDB oracle (``_canonical_sql``)."""
    from trisk_spark.functions.text import quality_expr

    comp = dedup_clusters(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    scored = docs.select(
        "doc_id", quality_expr("text").alias("q")
    ).where(F.size(ws) >= 1)
    # localCheckpoint materializes the (id, component, q) members ONCE:
    # the argmax aggregate and the final member join both consume it,
    # and without the barrier each side replays the quality scan + the
    # id join (exchange reuse does not fire across AQE stages — the
    # jaccard_pairs precedent). Clustered-member-sized narrow rows.
    m = comp.join(scored, "doc_id").localCheckpoint()
    # struct max = (q DESC, doc_id ASC): lexicographic max picks the
    # best q, then the LARGEST -doc_id = smallest doc_id on ties
    best = (
        m.groupBy("component")
        .agg(F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))).alias("b"))
        .select("component", (-F.col("b.nid")).alias("canonical_id"))
    )
    return m.join(best, "component").select(
        "doc_id",
        "component",
        "canonical_id",
        F.round("q", 4).alias("quality"),
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


def _contamination_report_sql() -> str:
    """DuckDB oracle for ``contamination_report``: the decontaminate
    CTE + a per-source rollup over every checkable corpus document."""
    return f"""
WITH sh AS ({SHINGLES_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {DECONTAM_BENCH_MAX_ID}),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id >= {DECONTAM_BENCH_MAX_ID}
  GROUP BY s.doc_id
),
corpus AS (
  SELECT doc_id, source FROM documents
  WHERE doc_id IS NOT NULL AND doc_id >= {DECONTAM_BENCH_MAX_ID}
)
SELECT c.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
  CAST(ROUND(CAST(COUNT(h.doc_id) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
    AS contamination_rate,
  CAST(COALESCE(MAX(h.n_shared), 0) AS BIGINT) AS max_shared,
  CAST(COALESCE(SUM(h.n_shared), 0) AS BIGINT) AS total_shared
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
GROUP BY c.source
"""


def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source eval-contamination health report — the rollup an
    operator watches after every ingest wave: how many of each
    source's documents share >=1 benchmark shingle
    (``decontaminate_flags``), the contamination rate, and the
    worst/total evidence strength. A source whose rate jumps is
    leaking eval data (or the benchmark set grew into it) and gets
    gated before the next training plan.

    Plan: ``decontaminate_flags``'s broadcast semi-join (benchmark
    shingles are MBs vs a TB corpus), then ONE id-keyed left join of
    id-sized flags against (doc_id, source) rows and a per-source
    partial aggregate — output is source-cardinality-sized. Library
    op, full DuckDB oracle — the r11 capacity-note class."""
    flags = decontaminate_flags(spark, sf_dir)
    corpus = (
        table(spark, sf_dir, "documents")
        .where(
            F.col("doc_id").isNotNull()
            & (F.col("doc_id") >= DECONTAM_BENCH_MAX_ID)
        )
        .select("doc_id", "source")
    )
    # flags are id-sized but can be a corpus-scale fraction of rows on
    # a badly leaked corpus - AQE decides broadcast vs shuffle (the
    # curation_funnel posture)
    j = corpus.join(flags, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count("n_shared").cast("bigint").alias("n_contaminated"),
        F.round(
            F.count("n_shared").cast("double") / F.count("*"), 4
        ).alias("contamination_rate"),
        F.coalesce(F.max("n_shared"), F.lit(0)).cast("bigint").alias("max_shared"),
        F.coalesce(F.sum("n_shared"), F.lit(0)).cast("bigint").alias("total_shared"),
    )


# --------------------------- reference novelty (r11) -----------------

#: novelty reference slice — the same doc_id % 10 == 0 stand-in
#: convention as the LM's reference corpus (text.LM_REF_MOD)
NOVELTY_REF_MOD = 10

NGRAM_NOVELTY_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
ref AS (
  SELECT DISTINCT shingle FROM sh
  WHERE ((doc_id % {NOVELTY_REF_MOD}) + {NOVELTY_REF_MOD}) % {NOVELTY_REF_MOD} = 0
),
nonref AS (
  SELECT doc_id, shingle FROM sh
  WHERE ((doc_id % {NOVELTY_REF_MOD}) + {NOVELTY_REF_MOD}) % {NOVELTY_REF_MOD} <> 0
),
j AS (
  SELECT n.doc_id,
    CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END AS novel
  FROM nonref n LEFT JOIN ref r ON n.shingle = r.shingle
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(novel) AS BIGINT) AS n_novel,
  CAST(ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS novelty
FROM j GROUP BY doc_id
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty vs the reference slice: the
    fraction of a document's distinct shingles that appear NOWHERE in
    the reference corpus (doc_id % NOVELTY_REF_MOD == 0 — the same
    stand-in convention as the LM's reference slice). The
    data-freshness / memorization proxy: novelty ~0 means the document
    is re-hashing what the reference already covers; a novelty
    collapse across an ingest wave means the crawler is re-crawling.

    Plan: the deliberate contrast to ``decontaminate_flags`` — a
    benchmark set is MBs and BROADCASTS, but a reference slice is a
    corpus-scale fraction, so the membership test is a SHUFFLE hash
    join on the 8-byte integer shingle ids (never a broadcast that
    would fail at 100 TB), followed by a per-doc partial-agg count.
    Library op, full DuckDB oracle (``NGRAM_NOVELTY_SQL``) — the r11
    capacity-note class."""
    docs = table(spark, sf_dir, "documents")
    sh = shingles(docs)
    mod = F.pmod(F.col("doc_id"), F.lit(NOVELTY_REF_MOD))
    ref = sh.where(mod == 0).select("shingle").distinct()
    nonref = sh.where(mod != 0)
    j = nonref.join(
        ref.select("shingle", F.lit(1).alias("_seen")), "shingle", "left"
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            4,
        ).alias("novelty"),
    )


# ---------------------- MinHash Jaccard estimation (r11) -------------

def _minhash_estimate_sql() -> str:
    """DuckDB oracle for ``minhash_jaccard_estimate``: the LSH pair CTE
    + both signatures re-derived + the per-permutation agreement
    count."""
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_PERMS)
    )
    return f"""
WITH sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, {_XM_SQL} AS xm FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM xs GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sig),
{_CAPPED_SQL.format(cap=BUCKET_CAP)},
cand AS (
  {" UNION ALL ".join(
    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM capped{b} a JOIN capped{b} b "
    f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
    for b in range(N_BANDS)
  )}
),
pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand)
SELECT p.doc_a, p.doc_b,
  CAST({matches} AS BIGINT) AS n_agree,
  CAST(ROUND(CAST({matches} AS DOUBLE) / {N_PERMS}, 4) AS DOUBLE)
    AS est_jaccard
FROM pairs p
JOIN sig sa ON p.doc_a = sa.doc_id
JOIN sig sb ON p.doc_b = sb.doc_id
"""


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement Jaccard estimate for every MinHash-LSH
    candidate pair: est = (# permutations where min-hashes agree) /
    N_PERMS — the textbook unbiased estimator (E[agree] = J).
    RETIRED to library-only in r17 (the executed R17 seat trade): the
    signature + band kernels are driver-hash-gated by
    ``dedup_minhash_lsh`` and the composed pair chain by
    ``cross_split_leakage`` every other round; the full oracle keeps
    running every round in test_oracle_parity's library pass. The
    cheap ranking stage between banding and the exact shingle
    verification (``ngram_jaccard``): at 100 TB you estimate from the
    12-integer signatures you already built and reserve the exact
    intersection join for pairs the estimate can't separate.

    Plan: the signature pipeline runs ONCE (it already feeds the
    banding); the estimate adds two id-keyed joins of the
    candidate-pair list against the signature table (ids +
    N_PERMS×8 bytes — narrow rows, AQE decides the join strategy) and
    a purely map-side agreement count. Integer equality only — no
    float hazard; est_jaccard is an exact small-rational double.
    Library op, full DuckDB oracle (``_minhash_estimate_sql``) — the
    r11 capacity-note class."""
    docs = table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs).localCheckpoint()
    pairs = _pairs_from_signatures(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_PERMS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_PERMS)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_PERMS)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("bigint").alias("n_agree"),
            F.round(agree.cast("double") / N_PERMS, 4).alias("est_jaccard"),
        )
    )


# ----------------- cross-source near-dup overlap matrix (r15) --------

# The curation question none of the per-document ops answer: HOW MUCH
# of source A duplicates source B? A 100 TB corpus mixes crawls,
# dumps, and curated sets that secretly overlap (the same page in two
# crawls, a curated set scraped from the web slice already present) —
# before setting mixture weights, the operator wants the source×source
# near-dup structure, not a flat pair list. One row per unordered
# source pair (same-source rows = within-source duplication):
# verified-candidate pair count, distinct documents involved, both
# sides' corpus totals, and pair_density = n_pairs / possible-pairs
# (n·(n−1)/2 within a source, n_a·n_b across) — exact BIGINT
# numerator/denominator, ONE IEEE division, ROUND(·,6) (the house
# close).
#
# Scale shape: the capped banded MinHash pair kernel (ONE corpus
# shuffle, ids only) → the pair frame is near-dup-sized, so it
# BROADCASTS into the corpus-sized (doc_id, source) map (two map-side
# joins, no corpus shuffle) → a source-pair-cardinality aggregate +
# a source-cardinality totals broadcast. Nothing corpus-sized moves
# after the kernel.

SOURCE_OVERLAP_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
xs AS (SELECT doc_id, {_XM_SQL} AS xm FROM sh),
sig AS (SELECT doc_id, {_SIG_COLS_SQL} FROM xs GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sig),
{_CAPPED_SQL.format(cap=BUCKET_CAP)},
cand AS (
  {" UNION ALL ".join(
    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM capped{b} a JOIN capped{b} b "
    f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
    for b in range(N_BANDS)
  )}
),
pr AS (SELECT DISTINCT doc_a, doc_b FROM cand),
smap AS (
  SELECT doc_id, source FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL
),
tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM smap GROUP BY source),
spr AS (
  SELECT LEAST(a.source, b.source) AS source_a,
         GREATEST(a.source, b.source) AS source_b,
         pr.doc_a, pr.doc_b
  FROM pr JOIN smap a ON pr.doc_a = a.doc_id
          JOIN smap b ON pr.doc_b = b.doc_id
),
agg AS (
  SELECT source_a, source_b,
    CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_involved
  FROM (
    SELECT source_a, source_b, doc_a AS doc FROM spr
    UNION ALL SELECT source_a, source_b, doc_b AS doc FROM spr
  ) GROUP BY source_a, source_b
)
SELECT agg.source_a, agg.source_b,
  CAST(agg.n_pairs / 2 AS BIGINT) AS n_pairs,
  agg.n_docs_involved,
  ta.n_docs AS n_docs_a, tb.n_docs AS n_docs_b,
  CAST(ROUND(
    CAST(agg.n_pairs / 2 AS DOUBLE) /
    CAST(CASE WHEN agg.source_a = agg.source_b
         THEN ta.n_docs * (ta.n_docs - 1) / 2
         ELSE ta.n_docs * tb.n_docs END AS DOUBLE), 6) AS DOUBLE)
    AS pair_density
FROM agg
JOIN tot ta ON ta.source = agg.source_a
JOIN tot tb ON tb.source = agg.source_b
WHERE (CASE WHEN agg.source_a = agg.source_b
       THEN ta.n_docs * (ta.n_docs - 1) / 2
       ELSE ta.n_docs * tb.n_docs END) > 0
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap matrix — one row per
    unordered source pair with ≥1 verified MinHash+LSH candidate pair:
    (source_a, source_b, n_pairs, n_docs_involved, n_docs_a, n_docs_b,
    pair_density). LIBRARY op (full DuckDB oracle
    ``SOURCE_OVERLAP_SQL`` re-derives the whole pair kernel AND the
    rollup under one value-hash)."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    smap = docs.where(F.col("source").isNotNull()).select("doc_id", "source")
    pairs = minhash_lsh_pairs(docs.select("doc_id", "text"))
    spr = (
        smap.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "sa")
        .join(F.broadcast(pairs), "doc_a")
        .join(
            smap.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("source", "sb"),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "doc_a",
            "doc_b",
        )
    )
    both = spr.select(
        "source_a", "source_b", F.col("doc_a").alias("doc")
    ).unionAll(
        spr.select("source_a", "source_b", F.col("doc_b").alias("doc"))
    )
    agg = both.groupBy("source_a", "source_b").agg(
        (F.count("*") / 2).cast("bigint").alias("n_pairs"),
        F.count_distinct("doc").cast("bigint").alias("n_docs_involved"),
    )
    tot = smap.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        (F.col("n_docs_a") * (F.col("n_docs_a") - 1) / 2).cast("bigint"),
    ).otherwise(F.col("n_docs_a") * F.col("n_docs_b"))
    return (
        agg.join(
            F.broadcast(tot.select(
                F.col("source").alias("source_a"),
                F.col("n_docs").alias("n_docs_a"),
            )),
            "source_a",
        )
        .join(
            F.broadcast(tot.select(
                F.col("source").alias("source_b"),
                F.col("n_docs").alias("n_docs_b"),
            )),
            "source_b",
        )
        .where(denom > 0)
        .select(
            "source_a", "source_b", "n_pairs", "n_docs_involved",
            "n_docs_a", "n_docs_b",
            F.round(
                F.col("n_pairs").cast("double") / denom.cast("double"), 6
            ).alias("pair_density"),
        )
    )
