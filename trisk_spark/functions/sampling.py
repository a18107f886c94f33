"""Deterministic corpus splitting/sampling — the pipeline primitives a
100 TB training-data build needs around the dedup/quality ops: stable
hash-based train/val/test assignment (re-runs and backfills land every
document in the same split, no RNG, no state).

Scale design: split assignment is a pure map-side expression over the
scan (zero shuffle — the only exchange in the rollup variant moves one
row per (source, split)). The hash is md5 over the document id, the
same engine-bitwise-identical idiom the dedup shingles use, so the
DuckDB oracle agrees exactly.

Reference has no sampling surface (SURVEY.md §2A) — this module is
part of the beyond-reference training-data mandate, like
functions/dedup.py and functions/multimodal.py.
"""

from __future__ import annotations

import atexit
import os
import threading

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import local_rows, table
from trisk_spark.functions import storefs
from trisk_spark.functions.text import quality_expr, quality_sql
from trisk_spark.registry import register
from trisk_spark.streaming.sinks import per_batch

#: split thresholds over a 0-99 hash bucket: [0,80) train, [80,90) val,
#: [90,100) test — the standard 80/10/10.
TRAIN_PCT, VAL_PCT = 80, 90

def _bucket_sql(col: str = "doc_id") -> str:
    """The 0-99 md5 bucket as a DuckDB fragment over any id column —
    parameterized so ``cluster_split`` can bucket the cluster
    CANONICAL id with the identical arithmetic."""
    return (
        f"CAST(CONCAT('0x', substr(md5(CAST({col} AS VARCHAR)), 1, 15)) "
        "AS BIGINT) % 100"
    )


_BUCKET_SQL = _bucket_sql()

#: the split CASE, shared verbatim by every oracle that assigns splits
def _split_case_sql(col: str = "doc_id") -> str:
    """The bucket→label CASE as a DuckDB fragment over any id column
    (the SQL half of ``_split_label``)."""
    b = _bucket_sql(col)
    return f"""CASE WHEN {b} < {TRAIN_PCT} THEN 'train'
       WHEN {b} < {VAL_PCT} THEN 'val'
       ELSE 'test' END"""


_SPLIT_CASE_SQL = _split_case_sql()


def _bucket(doc_id: Column) -> Column:
    """0-99 bucket from the first 60 bits of md5(doc_id) — identical
    arithmetic on both engines (same idiom as dedup's word hashes)."""
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100
    )


def _split_label(id_col: Column) -> Column:
    """The bucket→label mapping over ANY id column — the ONE place it
    lives (train_split, split_rollup, curation_manifest, and
    cluster_split all route through it, so a threshold change cannot
    desynchronize them)."""
    b = _bucket(id_col)
    return (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _split_col() -> Column:
    """``_split_label`` over the document's own id (the doc-level
    split the md5 family uses)."""
    return _split_label(F.col("doc_id"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the doc_id validity gate every id-keyed op needs
    (NULL ids break DuckDB's NULL-swallowing CONCAT and order
    differently in windows — see tests/test_parity_edges.py)."""
    return table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())


TRAIN_SPLIT_SQL = f"""
SELECT doc_id,
  {_SPLIT_CASE_SQL} AS split
FROM documents WHERE doc_id IS NOT NULL
"""


@register("train_split", oracle=TRAIN_SPLIT_SQL)
def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/10/10 train/val/test assignment per document.

    Plan: map-only — one projection over the scan, no shuffle, no RNG
    (rand() would re-split on every retry/backfill; hashing the id is
    the reproducible-pipeline standard). At 100 TB the split column is
    what a writer would partition output by."""
    return _docs(spark, sf_dir).select("doc_id", _split_col().alias("split"))


SPLIT_ROLLUP_SQL = f"""
WITH s AS (
  SELECT source, n_chars,
    {_SPLIT_CASE_SQL} AS split
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT source, split, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY source, split
"""


@register("split_rollup", oracle=SPLIT_ROLLUP_SQL)
def split_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, split) doc and char counts — the leakage/balance
    audit a split ships with (is every source represented in val/test
    at the expected rate?).

    Plan: the split expression stays map-side; ONE shuffle moves only
    (source, split, partial counts) rows with map-side combine."""
    return (
        _docs(spark, sf_dir)
        .select("source", "n_chars", _split_col().alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ------------------------------------------------- sequence packing --

#: token capacity of one packed training sequence
PACK_CAPACITY = 2048

#: The packing prefix sum shards each source's doc_id range into
#: contiguous id-range shards once the corpus id span crosses this
#: many ids (≈ rows, ids are dense): below it, one sorted task per
#: source finishes in seconds and the extra shuffle + offsets join
#: would only add latency; above it, a Zipf-dominant source (one
#: web-crawl shard holding 80% of rows) would otherwise serialize
#: billions of rows through ONE sorted task — wall-clock death, not
#: memory death (r10 VERDICT "what's wrong" #1).
PACK_SHARD_MIN_SPAN = 1 << 20

#: Hard ceiling on the shard fan-out: bounds the per-(source, shard)
#: offsets table at n_sources × PACK_MAX_SHARDS rows — the broadcast
#: model of the two-pass prefix sum stays KB-to-MB-sized no matter the
#: corpus (the LM_MAX_MODEL_ROWS posture, enforced by construction
#: instead of a runtime check).
PACK_MAX_SHARDS = 1024


def _pack_n_shards(lo: int | None, hi: int | None) -> int:
    """Shard fan-out for the two-pass prefix sum given the corpus
    doc_id bounds: 1 below PACK_SHARD_MIN_SPAN ids (single per-source
    window wins), then one shard per PACK_SHARD_MIN_SPAN ids up to
    PACK_MAX_SHARDS — a billion-doc corpus packs ~1000-way parallel
    per source instead of 1."""
    if lo is None or hi is None:
        return 1
    return max(1, min(PACK_MAX_SHARDS, (hi - lo + 1) // PACK_SHARD_MIN_SPAN))


#: Past this many parquet files, bounds come from the distributed agg
#: instead of sequential driver-side footer reads.
_FOOTER_MAX_FRAGMENTS = 64


def _footer_doc_id_bounds(path: str) -> tuple[int | None, int | None] | None:
    """(min, max) doc_id straight from the parquet FOOTER statistics —
    zero Spark jobs, milliseconds, the metadata Spark's own planner
    already reads. Bounds only steer the shard decision (a superset is
    harmless — shards just sit empty), so footer stats are exactly
    sufficient. Returns None when the answer can't be determined
    (missing stats, non-parquet layout, or more than
    _FOOTER_MAX_FRAGMENTS files — a 100k-file store would serialize
    100k driver-side footer reads; the distributed agg is the right
    tool there) → caller falls back to the one-column Spark agg."""
    try:
        import pyarrow.parquet as papq

        ds = papq.ParquetDataset(path)
        frags = ds.fragments
        if len(frags) > _FOOTER_MAX_FRAGMENTS:
            return None
        lo: int | None = None
        hi: int | None = None
        for frag in frags:
            md = frag.metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }.get("doc_id")
            if idx is None:
                return None
            for g in range(md.num_row_groups):
                col = md.row_group(g).column(idx)
                if md.row_group(g).num_rows == 0:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return (lo, hi) if lo is None or isinstance(lo, int) else None
    except Exception:
        return None


def _doc_id_bounds(
    df: DataFrame, path: str | None = None
) -> tuple[int | None, int | None]:
    """(min, max) doc_id for the prefix-sum shard decision: parquet
    footer stats when ``path`` is given (no job at all — keeps the
    small-corpus plans at exactly their pre-r11 cost), else one
    column-pruned agg over a single bigint column."""
    if path is not None:
        b = _footer_doc_id_bounds(path)
        if b is not None:
            return b
    r = df.agg(F.min("doc_id"), F.max("doc_id")).first()
    return (None, None) if r[0] is None else (int(r[0]), int(r[1]))


def _with_start_off(
    d: DataFrame,
    order_cols: list[str],
    id_bounds: tuple[int | None, int | None],
    n_shards: int | None = None,
) -> DataFrame:
    """Append ``start_off`` = exclusive per-source running sum of
    ``n_tokens`` in ``order_cols`` order (the packing prefix sum) —
    the shared kernel of ``sequence_pack`` and ``pack_plan``.

    Below PACK_SHARD_MIN_SPAN ids this is the proven single plan: one
    shuffle on source, per-shard spillable sorted window. Above it, a
    TWO-PASS sharded prefix sum so a dominant source never serializes
    through one task:

      pass 1: map-side partial sums per (source, id-range shard) —
        only cell-sized partial aggregates shuffle (≤ n_sources ×
        PACK_MAX_SHARDS rows); a tiny per-source window turns them
        into exclusive cumulative SHARD OFFSETS.
      pass 2: the corpus shuffles ONCE on (source, shard) — the
        dominant source fans out across its shards — computes the
        local running sum per cell, and adds the broadcast offset
        map-side.

    Shards are contiguous doc_id ranges, so within-source order is
    preserved across shards and the result is bit-identical to the
    single-window plan (equality + DuckDB-oracle pinned,
    tests/test_plans.py / tests/test_parity_edges.py). Subtotals are
    derived FROM the window output (max of the inclusive running sum
    per cell), not from a second pass over ``d``: both branches then
    share the one (source, shard) Exchange (ReusedExchange, pinned),
    so ``d``'s upstream — the ENTIRE plan chain when called from
    ``pack_plan`` — executes exactly once; the price is re-sorting
    shuffled narrow rows on the subtotal branch, far cheaper than
    re-deriving lineage.

    Cardinality contract: ``source`` is a PROVENANCE column (tens to
    low thousands of values — the training-mixture shard key), so the
    offsets broadcast is ≤ n_sources × PACK_MAX_SHARDS ≈ 24 B cells —
    KBs to low MBs. A key with ~10⁵+ values scattered across the full
    id range would push the cell count toward the broadcast ceiling —
    but such a key also never NEEDS the fan-out (its per-key windows
    are already parallel): pass ``n_shards=1`` there, or shrink the
    fan-out via ``n_shards``."""
    lo, hi = id_bounds
    if n_shards is None:
        n_shards = _pack_n_shards(lo, hi)
    w_src = (
        Window.partitionBy("source")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # an empty corpus has no bounds to shard on — the single-window
    # path returns the same empty frame a forced n_shards would
    # (r11 review: explicit n_shards>1 on (None, None) bounds threw)
    if lo is None or hi is None:
        n_shards = 1
    if n_shards <= 1:
        return d.withColumn(
            "start_off", F.sum("n_tokens").over(w_src) - F.col("n_tokens")
        )
    chunk = (hi - lo + 1 + n_shards - 1) // n_shards
    shard = F.expr(f"CAST((doc_id - {lo}) DIV {chunk} AS INT)")
    # the explicit (trivially-true) not-null keeps BOTH consumers of
    # the exchange canonically identical — without it the join infers
    # isnotnull(_shard) on the probe branch only and AQE's stage cache
    # sees two different subtrees, executing the upstream twice
    # (pinned: the runtime plan must reuse the corpus stage)
    dd = d.withColumn("_shard", shard).where(F.col("_shard").isNotNull())
    w_loc = (
        Window.partitionBy("source", "_shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = dd.withColumn("_run", F.sum("n_tokens").over(w_loc))
    sub = loc.groupBy("source", "_shard").agg(F.max("_run").alias("_sub"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = sub.select(
        F.col("source").alias("_osrc"),
        F.col("_shard").alias("_oshard"),
        F.coalesce(F.sum("_sub").over(w_off), F.lit(0).cast("bigint")).alias(
            "_off"
        ),
    )
    return (
        loc.join(
            F.broadcast(off),
            F.col("source").eqNullSafe(F.col("_osrc"))
            & (F.col("_shard") == F.col("_oshard")),
        )
        .withColumn(
            "start_off", F.col("_off") + F.col("_run") - F.col("n_tokens")
        )
        .drop("_shard", "_run", "_osrc", "_oshard", "_off")
    )

SEQUENCE_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
      AS n_tokens
  FROM documents WHERE doc_id IS NOT NULL
),
run AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM toks
)
SELECT doc_id, source, n_tokens,
  CAST(start_off // {PACK_CAPACITY} AS BIGINT) AS seq_id,
  CAST(start_off % {PACK_CAPACITY} AS BIGINT) AS seq_offset
FROM run
"""


@register("sequence_pack", oracle=SEQUENCE_PACK_SQL)
def sequence_pack(
    spark: SparkSession, sf_dir: str, n_shards: int | None = None
) -> DataFrame:
    """Contiguous sequence packing for pretraining batches: documents
    are concatenated in stable doc_id order within each source shard
    and chopped into PACK_CAPACITY-token sequences; each document gets
    the (seq_id, seq_offset) where its tokens start. Deterministic —
    re-runs and backfills produce identical packing, like train_split.

    Plan: the ``_with_start_off`` prefix-sum kernel — one shuffle on
    source + a spillable sorted window at small id spans, and the
    TWO-PASS sharded prefix sum (partial subtotals → broadcast
    cumulative shard offsets → map-side add) once the corpus crosses
    PACK_SHARD_MIN_SPAN ids, so a Zipf-dominant source fans out across
    its id-range shards instead of serializing through one sorted
    task. Both plans are bit-identical by construction; ``n_shards``
    forces a fan-out for tests."""
    toks = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("bigint")
    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "source", toks.alias("n_tokens"))
    bounds = _doc_id_bounds(docs, f"{sf_dir}/documents.parquet")
    out = _with_start_off(d, ["doc_id"], bounds, n_shards)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"start_off DIV {PACK_CAPACITY}").alias("seq_id"),
        (F.col("start_off") % PACK_CAPACITY).cast("bigint").alias("seq_offset"),
    )


# ------------------------------------- per-source downsample cap ----

#: deterministic per-source document cap
SOURCE_CAP = 50

SOURCE_CAP_SQL = f"""
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents WHERE doc_id IS NOT NULL
)
WHERE rn <= {SOURCE_CAP}
"""


#: md5-prefix fan-out of the partial top-K rank (16**2 = 256 shards);
#: stage 2 then ranks ≤ 256 × SOURCE_CAP survivors per source — a
#: constant, so the per-source sort is bounded no matter the corpus.
CAP_SHARD_CHARS = 2


@register("source_cap_sample", oracle=SOURCE_CAP_SQL)
def source_cap_sample(
    spark: SparkSession, sf_dir: str, shard_chars: int | None = None
) -> DataFrame:
    """Deterministic per-source downsampling: keep at most SOURCE_CAP
    documents per source, chosen by md5(doc_id) order — the standard
    fix for overrepresented sources, reproducible across re-runs and
    backfills (no RNG, like train_split).

    Plan: a PARTIAL TOP-K once the corpus crosses PACK_SHARD_MIN_SPAN
    ids — stage 1 ranks per (source, 2-hex-char md5 prefix) so a
    dominant source fans 256-way and each shard keeps its own top
    SOURCE_CAP (every true global top-SOURCE_CAP row is in its shard's
    top-SOURCE_CAP, since the shard is an md5-order prefix); stage 2
    re-ranks the ≤ 256 × SOURCE_CAP survivors per source — a BOUNDED
    per-source sort regardless of corpus size. Below the span
    threshold it stays the single-shuffle rank (one sorted task per
    source is optimal at that size). Identical output by construction
    (equality + oracle pinned); ``shard_chars`` forces a stage-1
    fan-out for tests."""
    docs = _docs(spark, sf_dir)
    if shard_chars is None:
        lo, hi = _doc_id_bounds(docs, f"{sf_dir}/documents.parquet")
        span = 0 if lo is None else hi - lo + 1
        shard_chars = CAP_SHARD_CHARS if span >= PACK_SHARD_MIN_SPAN else 0
    d = docs.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("_m")
    )
    if shard_chars > 0:
        w1 = Window.partitionBy(
            "source", F.substring("_m", 1, shard_chars)
        ).orderBy("_m", "doc_id")
        d = (
            d.withColumn("_rn1", F.row_number().over(w1))
            .where(F.col("_rn1") <= SOURCE_CAP)
            .drop("_rn1")
        )
    w = Window.partitionBy("source").orderBy("_m", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source", "rn")
    )


# ------------------------------------------- curation manifest ------

#: manifest gates: minimum combined quality score and token floor
MANIFEST_MIN_QUALITY = 0.5
MANIFEST_MIN_TOKENS = 5

CURATION_MANIFEST_SQL = f"""
WITH base AS (
  SELECT doc_id, source, text,
    list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
scored AS (
  SELECT doc_id, source,
    md5(lower(text)) AS content_md5,
    CAST(len(ws) AS BIGINT) AS n_tokens,
    {_SPLIT_CASE_SQL} AS split,
    {quality_sql()}
      AS q
  FROM base WHERE len(ws) >= {MANIFEST_MIN_TOKENS}
),
kept AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id)
    AS dup_rank
  FROM scored WHERE q >= {MANIFEST_MIN_QUALITY}
)
SELECT doc_id, source, split, n_tokens,
  CAST(ROUND(q, 4) AS DOUBLE) AS quality
FROM kept WHERE dup_rank = 1
"""


@register("curation_manifest", oracle=CURATION_MANIFEST_SQL)
def curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation story in ONE query: quality gate
    (combined score + token floor), exact dedup (keep the smallest
    doc_id per lowercase content hash), and stable split assignment
    — the manifest a training run consumes. The score is the shared
    ``quality_expr`` and the split the shared ``_split_col``, so the
    manifest can never drift from quality_score / train_split.

    Plan: scoring, hashing, and split assignment are all map-side
    expressions over one scan; the ONLY shuffle is the 32-byte
    content-hash dedup rank (document text never moves). Both
    filters run before the exchange, so it carries only surviving
    rows — at 100 TB this is the one-pass replacement for a
    three-job pipeline."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select(
        "doc_id",
        "source",
        F.md5(F.lower("text")).alias("content_md5"),
        F.size(ws).cast("bigint").alias("n_tokens"),
        _split_col().alias("split"),
        quality_expr("text").alias("q"),
    ).where(
        (F.col("n_tokens") >= MANIFEST_MIN_TOKENS)
        & (F.col("q") >= MANIFEST_MIN_QUALITY)
    )
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    return (
        d.withColumn("dup_rank", F.row_number().over(w))
        .where(F.col("dup_rank") == 1)
        .select(
            "doc_id", "source", "split", "n_tokens",
            F.round("q", 4).alias("quality"),
        )
    )


# --------------------------- semantic curation manifest (r9) ---------

# curation_manifest + the SemDeDup stage: the exact-hash dedup catches
# byte-identical documents, the semantic stage removes documents whose
# EMBEDDINGS are transitively near-identical (dedup_semantic clusters;
# keeper = smallest doc_id). The composed manifest is what a modern
# LLM training run actually consumes — quality gate, exact dedup,
# semantic dedup, stable split, one frame.

def _manifest_semantic_sql() -> str:
    from trisk_spark.functions.similarity import COSINE_LSH_NEAR_DUP_SQL

    return f"""
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
),
clusters AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
losers AS (SELECT doc_id FROM clusters WHERE component <> doc_id),
manifest AS ({CURATION_MANIFEST_SQL})
SELECT m.doc_id, m.source, m.split, m.n_tokens, m.quality
FROM manifest m WHERE m.doc_id NOT IN (SELECT doc_id FROM losers)
"""


CURATION_MANIFEST_SEMANTIC_SQL = _manifest_semantic_sql()


@register("curation_manifest_semantic", oracle=CURATION_MANIFEST_SEMANTIC_SQL)
def curation_manifest_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern curation chain in one frame: the
    ``curation_manifest`` gates (quality floor + token floor + exact
    content-hash dedup + stable split) MINUS semantic near-duplicates —
    every document that lost its ``dedup_semantic`` cluster (its
    embedding sits transitively within NEAR_DUP_COS of a smaller
    doc_id's). The keeper column semantics are deterministic: smallest
    doc_id per semantic cluster survives, whether or not the keeper
    itself passed the quality gate (a removed-keeper's dups stay
    removed — documented, matches the oracle).

    Plan: manifest side is the one-scan map-side pipeline with a
    32-byte-hash dedup shuffle (see ``curation_manifest``); the
    semantic side is bucketed SRP-LSH pairs + edge-list label
    propagation (never all-pairs, ids only); they meet in a LEFT ANTI
    join on doc_id — id-sized rows, AQE free to broadcast the loser
    side when small. At 100 TB each half is its already-proven scale
    path and the composition adds ONE id shuffle."""
    from trisk_spark.functions.similarity import dedup_semantic

    manifest = curation_manifest(spark, sf_dir)
    losers = (
        dedup_semantic(spark, sf_dir)
        .where(F.col("component") != F.col("doc_id"))
        .select("doc_id")
    )
    return manifest.join(losers, "doc_id", "left_anti")


# ------------------------------------------------ data mixing (r8) ---

# Source-mix sampling — the "data mixing" stage of a training pipeline
# (DoReMi/The-Pile-style source reweighting): compute each source's
# token mass, derive the per-source sampling rate that moves the mix
# toward a UNIFORM per-source token budget (rate_s = min(1, target /
# tokens_s) with target = total_tokens / n_sources), and keep documents
# by deterministic md5 hashing — no RNG, so a retry, backfill, or
# re-run keeps exactly the same documents. Oversized sources are
# downsampled toward the budget; undersized sources keep everything
# (rate 1 — upsampling is a repeat-epoch decision, not a filter).
#
# Float determinism: token sums are exact BIGINTs; target and rate are
# two correctly-rounded double divisions in the same order on both
# engines; the keep test compares an exact integer ppm bucket against
# rate·1e6 (one more identical double op) — bit-deterministic
# everywhere, like the split kernel.

MIX_PPM = 1_000_000

_PPM_SQL = (
    "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    f" % {MIX_PPM}"
)

SOURCE_MIX_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
    COALESCE(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS n_tok,
    {_PPM_SQL} AS ppm
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
),
s AS (SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS tok FROM d GROUP BY source),
t AS (SELECT CAST(SUM(tok) AS DOUBLE) / COUNT(*) AS target FROM s),
r AS (
  SELECT source, n_docs, tok,
    CASE WHEN tok > 0 THEN LEAST(1.0, t.target / tok) ELSE 1.0 END AS rate
  FROM s CROSS JOIN t
),
k AS (
  SELECT d.source, COUNT(*) AS n_kept, SUM(d.n_tok) AS tokens_kept
  FROM d JOIN r ON d.source = r.source
  WHERE d.ppm < r.rate * {MIX_PPM}.0
  GROUP BY d.source
)
SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
  CAST(r.tok AS BIGINT) AS total_tokens,
  CAST(ROUND(r.rate, 6) AS DOUBLE) AS rate,
  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
  CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
FROM r LEFT JOIN k ON r.source = k.source
"""


def source_mix_rates(docs: DataFrame) -> DataFrame:
    """Per-source sampling rates toward the uniform token budget:
    (source, n_docs, tok, rate). The rates table is source-cardinality
    sized — the broadcast model of the mixing stage."""
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select(
        "source", F.coalesce(F.size(ws), F.lit(0)).cast("bigint").alias("n_tok")
    )
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("tok")
    )
    t = s.agg(
        (F.sum("tok").cast("double") / F.count("*")).alias("target")
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source", "n_docs", "tok",
        F.when(
            F.col("tok") > 0,
            F.least(F.lit(1.0), F.col("target") / F.col("tok")),
        )
        .otherwise(F.lit(1.0))
        .alias("rate"),
    )


def mix_keep_col(rate: Column) -> Column:
    """Deterministic keep test for a document under sampling ``rate``:
    the 60-bit md5(doc_id) prefix reduced to an exact ppm bucket,
    compared against rate·1e6 — the same no-RNG idiom as the split
    kernel (``_bucket``), at 1e-6 granularity."""
    ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % MIX_PPM
    )
    return ppm < rate * float(MIX_PPM)


@register("source_mix_sample", oracle=SOURCE_MIX_SQL)
def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rollup: per source, the token mass, the sampling
    rate toward the uniform token budget, and the docs/tokens that the
    deterministic hash sample actually keeps. The audit table a mixing
    stage ships (did the sample land on the target mix?); the kept
    documents themselves are ``docs.where(mix_keep_col(rate))`` after a
    broadcast join of the rates — the same two-pass shape this query
    verifies end-to-end.

    Plan: pass 1 aggregates per-source token masses (map-side combine,
    one tiny shuffle on source) and derives the source-cardinality
    rates table; pass 2 re-scans the corpus with the rates BROADCAST
    and the keep test as a map-side expression, aggregating the kept
    mass per source. Nothing corpus-sized shuffles, no RNG anywhere —
    at 100 TB the rates table is a write-once asset and the keep pass
    fuses into the ingest scan."""
    docs = _docs(spark, sf_dir).where(F.col("source").isNotNull())
    r = source_mix_rates(docs)
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select(
        "doc_id", "source",
        F.coalesce(F.size(ws), F.lit(0)).cast("bigint").alias("n_tok"),
    )
    k = (
        d.join(F.broadcast(r.select("source", "rate")), "source")
        .where(mix_keep_col(F.col("rate")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
    )
    return (
        r.join(F.broadcast(k), "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("tok").cast("bigint").alias("total_tokens"),
            F.round("rate", 6).alias("rate"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("tokens_kept"), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )


# ------------------------------------- cluster-balanced sampling ----

#: per-semantic-cluster document cap for cluster_cap_sample
CLUSTER_CAP = 12

CLUSTER_CAP_SQL_TEMPLATE = """
WITH {quant_corpus},
{int8_model},
ranked AS (
  SELECT vec_id, list_id,
    ROW_NUMBER() OVER (PARTITION BY list_id
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM assign
)
SELECT vec_id, list_id, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= {cap}
"""


def cluster_cap_sql(cap: int = CLUSTER_CAP) -> str:
    """DuckDB oracle for ``cluster_cap_sample`` — composes the shared
    int8 quantize/centroid/assign CTE fragments from
    ``functions/similarity`` with the md5 rank-cap kernel
    ``source_cap_sample`` uses (the q/qlists CTEs ride along unused)."""
    from trisk_spark.functions.similarity import (
        _INT8_MODEL_SQL,
        _QUANT_CORPUS_SQL,
    )

    return CLUSTER_CAP_SQL_TEMPLATE.format(
        quant_corpus=_QUANT_CORPUS_SQL,
        int8_model=_INT8_MODEL_SQL,
        cap=cap,
    )


@register("cluster_cap_sample", oracle=cluster_cap_sql())
def cluster_cap_sample(
    spark: SparkSession, sf_dir: str, cap: int = CLUSTER_CAP
) -> DataFrame:
    """Semantic-diversity capped sampling — keep at most ``cap``
    documents per embedding cluster: the cluster-balancing step an LLM
    curation pipeline runs after dedup so no semantic neighborhood
    (boilerplate families, template farms, topic floods) dominates the
    mixture. Clusters are the IVF lists of the shared centroid model
    (the exact assignment ``ann_ivf_int8``/``ann_ivf_pq`` index by);
    the within-cluster choice is md5(vec_id) order — deterministic
    across re-runs and backfills, no RNG (the ``source_cap_sample``
    kernel keyed by cluster instead of source).

    Plan: ONE fused Arrow pass assigns the scan (zero shuffle,
    broadcast centroid model), then ONE shuffle on list_id for the
    rank cap (spillable sort; only ids + the md5 key move). At 100 TB
    a pathological mega-cluster costs a spilled sort, never memory —
    and the assignment can be read back from the persisted
    ``ivf_store`` index instead of recomputed (the store's list_id IS
    this operator's partition key). Library function with a full
    DuckDB oracle (``cluster_cap_sql``), pytest-gated
    (tests/test_pq.py) — the sax_store precedent for r9-new surface
    outside the driver window."""
    return (
        _cluster_ranked(spark, sf_dir)
        .where(F.col("rank") <= cap)
        .select("vec_id", "list_id", "rank")
    )


def _cluster_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, list_id, rank) — every valid embedding's IVF-list
    assignment with its deterministic md5-order rank within the list.
    ``cluster_cap_sample`` keeps rank ≤ cap; ``training_plan`` drops
    rank > cap (the same frame read both ways)."""
    from trisk_spark.functions.similarity import (
        _int8_centroid_model,
        _quantize_assign_gemm,
        _valid_embeddings,
    )

    emb = _valid_embeddings(table(spark, sf_dir, "embeddings"))
    cq, cn, cids, _cents = _int8_centroid_model(spark, emb)
    assign = _quantize_assign_gemm(spark, emb, cq, cn, cids).select(
        "vec_id", "list_id"
    )
    w = Window.partitionBy("list_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return assign.select(
        "vec_id", "list_id", F.row_number().over(w).cast("int").alias("rank")
    )


# ------------------------------------------------ source up-sampling --

#: repeat-epoch cap for source_upsample (LLaMA-style mixtures cap
#: small-source repetition to bound memorization)
MAX_EPOCHS = 4.0

SOURCE_UPSAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
    COALESCE(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS n_tok,
    {_PPM_SQL} AS ppm
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
),
s AS (SELECT source, SUM(n_tok) AS tok FROM d GROUP BY source),
m AS (SELECT MAX(tok) AS max_tok FROM s),
f AS (
  SELECT source,
    CASE WHEN tok > 0
         THEN LEAST({MAX_EPOCHS}, CAST(m.max_tok AS DOUBLE) / tok)
         ELSE 1.0 END AS factor
  FROM s CROSS JOIN m
),
c AS (
  SELECT d.doc_id, d.source,
    CAST(FLOOR(f.factor) AS BIGINT)
      + CASE WHEN d.ppm < (f.factor - FLOOR(f.factor)) * {MIX_PPM}.0
             THEN 1 ELSE 0 END AS n
  FROM d JOIN f ON d.source = f.source
)
SELECT doc_id, source, CAST(g AS INT) AS copy_idx
FROM (SELECT doc_id, source,
        unnest(generate_series(0, n - 1)) AS g
      FROM c)
"""


def source_upsample_factors(docs: DataFrame) -> DataFrame:
    """Per-source repeat factors balancing every source toward the
    LARGEST source's token mass, capped at MAX_EPOCHS: (source,
    factor). Source-cardinality sized — the broadcast model of the
    up-sampling stage (``source_mix_rates``' mirror image: rates
    down-sample the oversized, factors repeat the undersized)."""
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select(
        "source", F.coalesce(F.size(ws), F.lit(0)).cast("bigint").alias("n_tok")
    )
    s = d.groupBy("source").agg(F.sum("n_tok").alias("tok"))
    m = s.agg(F.max("tok").alias("max_tok"))
    return s.crossJoin(F.broadcast(m)).select(
        "source",
        F.when(
            F.col("tok") > 0,
            F.least(
                F.lit(MAX_EPOCHS), F.col("max_tok").cast("double") / F.col("tok")
            ),
        )
        .otherwise(F.lit(1.0))
        .alias("factor"),
    )


@register("source_upsample", oracle=SOURCE_UPSAMPLE_SQL)
def source_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic repeat-epoch up-sampling — the other half of the
    data-mixing stage (``source_mix_sample`` down-samples oversized
    sources toward the budget; this REPEATS undersized sources toward
    the largest source's token mass, the LLaMA/Pile-style epochs>1
    mixture): each document of source s appears ``floor(factor_s)``
    times plus one more iff its md5 ppm bucket falls under the
    fractional part — no RNG, so re-runs and backfills materialize the
    identical epoch plan. Emits one row per (doc_id, copy_idx);
    ``copy_idx`` is the epoch index a downstream shuffler/packer keys
    on.

    Plan: one tiny shuffle aggregates per-source token masses; the
    source-cardinality factors table joins back BROADCAST; the copy
    explosion is a map-side ``posexplode(sequence(...))`` — at 100 TB
    nothing corpus-sized shuffles and the explosion multiplies rows at
    most MAX_EPOCHS×, bounded by the cap. Driver-gated since r10 (full
    DuckDB oracle), like ``cluster_cap_sample``.

    Float determinism: token sums exact BIGINTs; factor is one double
    division under LEAST; floor/frac/ppm-compare are the identical
    IEEE ops both engines (the ``mix_keep_col`` contract)."""
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("source").isNotNull())
    )
    f = source_upsample_factors(docs)
    ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % MIX_PPM
    )
    n = (
        F.floor("factor").cast("bigint")
        + F.when(
            ppm < (F.col("factor") - F.floor("factor")) * float(MIX_PPM),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(f), "source")
        .withColumn("n", n)
        .select(
            "doc_id", "source",
            F.posexplode(F.sequence(F.lit(0), F.col("n") - 1)).alias(
                "_pos", "copy_idx"
            ),
        )
        .select("doc_id", "source", F.col("copy_idx").cast("int").alias("copy_idx"))
    )


# ------------------------------------------------- training plan ----


def _plan_ctes(cap: int = CLUSTER_CAP) -> str:
    """The training-plan CTE chain (everything through the ``plan``
    CTE, no leading WITH) — the full composition: the semantic
    curation manifest's chain (SRP-LSH near-dup pairs → transitive
    closure → losers), the IVF cluster-cap chain (shared
    quantize/centroid/assign fragments + the md5 rank cap), and the
    per-source epoch computation over the surviving train split.
    Composed by ``training_plan_sql`` and ``pack_plan_sql``."""
    from trisk_spark.functions.similarity import (
        COSINE_LSH_NEAR_DUP_SQL,
        _INT8_MODEL_SQL,
        _QUANT_CORPUS_SQL,
    )

    return f"""cand AS ({COSINE_LSH_NEAR_DUP_SQL}),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM cand
  UNION
  SELECT vec_b, vec_a FROM cand
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
sem_losers AS (SELECT doc_id FROM clusters WHERE component <> doc_id),
{_QUANT_CORPUS_SQL},
{_INT8_MODEL_SQL},
cap_losers AS (
  SELECT vec_id FROM (
    SELECT vec_id,
      ROW_NUMBER() OVER (PARTITION BY list_id
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM assign
  ) WHERE rn > {cap}
),
manifest AS ({CURATION_MANIFEST_SQL}),
m2 AS (
  SELECT * FROM manifest
  WHERE doc_id NOT IN (SELECT doc_id FROM sem_losers)
    AND doc_id NOT IN (SELECT vec_id FROM cap_losers)
),
srcstats AS (
  SELECT source, SUM(n_tokens) AS tok FROM m2
  WHERE split = 'train' GROUP BY source
),
mx AS (SELECT MAX(tok) AS max_tok FROM srcstats),
f AS (
  SELECT source,
    LEAST({MAX_EPOCHS}, CAST(mx.max_tok AS DOUBLE) / tok) AS factor
  FROM srcstats CROSS JOIN mx
),
plan AS (
  SELECT m2.doc_id, m2.source, m2.split, m2.n_tokens, m2.quality,
    CAST(CASE WHEN m2.split = 'train'
      THEN CAST(FLOOR(f.factor) AS BIGINT)
        + CASE WHEN {_PPM_SQL.replace("doc_id", "m2.doc_id")}
                 < (f.factor - FLOOR(f.factor)) * {MIX_PPM}.0
               THEN 1 ELSE 0 END
      ELSE 1 END AS INT) AS epochs
  FROM m2 LEFT JOIN f ON m2.source = f.source
)"""


def training_plan_sql(cap: int = CLUSTER_CAP) -> str:
    """DuckDB oracle for ``training_plan`` (see ``_plan_ctes``)."""
    return f"""
WITH RECURSIVE {_plan_ctes(cap)}
SELECT * FROM plan
"""


@register("training_plan", oracle=training_plan_sql())
def training_plan(
    spark: SparkSession,
    sf_dir: str,
    cap: int = CLUSTER_CAP,
    materialize: bool = True,
) -> DataFrame:
    """THE training-run artifact — one frame that answers "which
    documents, in which split, for how many epochs": the semantic
    curation manifest (quality floor + token floor + exact dedup +
    semantic near-dup removal + stable split), MINUS cluster-cap
    overflow (no semantic neighborhood exceeds ``cap`` docs — the
    diversity balance), PLUS a deterministic per-source epoch count
    for train rows (undersized sources repeated toward the largest
    surviving source's token mass, the ``source_upsample`` rule
    computed over the MANIFEST's n_tokens — no second corpus scan;
    val/test rows always epochs = 1).

    Plan: each stage is its already-proven scale path (one-scan
    manifest + 32-byte-hash shuffle; bucketed SRP pairs + label
    propagation, ids only; fused assign + one list_id rank shuffle)
    and the composition adds only id-sized anti joins plus a
    source-cardinality broadcast for the epoch factors. Driver-gated
    since r10 with its fully-composed DuckDB oracle
    (``training_plan_sql``)."""
    m = curation_manifest_semantic(spark, sf_dir)
    ranked = _cluster_ranked(spark, sf_dir)
    return _epoch_plan(_drop_cap_losers(m, ranked, cap), materialize)


def _drop_cap_losers(
    manifest: DataFrame, ranked: DataFrame, cap: int
) -> DataFrame:
    """Manifest minus cluster-cap overflow: the id-sized left-anti join
    shared by the one-plan ``training_plan`` and the store-composed
    ``training_plan_over_store``."""
    cap_losers = (
        ranked.where(F.col("rank") > cap)
        .select(F.col("vec_id").alias("doc_id"))
    )
    return manifest.join(cap_losers, "doc_id", "left_anti")


def _epoch_plan(m2: DataFrame, materialize: bool = True) -> DataFrame:
    """The epoch tail of ``training_plan`` over a surviving manifest
    frame: per-source token masses of the train split → capped repeat
    factors (broadcast, source-cardinality) → deterministic md5-ppm
    epoch counts per row (val/test pinned to 1).

    localCheckpoint materializes the surviving manifest ONCE: three
    consumers — the per-source token-mass aggregate ``s``, the
    corpus-wide max ``mx`` (via ``s``), and the final factor join —
    would otherwise each replay the ENTIRE m2 lineage (manifest
    quality/tokenize/dedup chain + the Lloyd/GEMM cluster-rank branch;
    exchange reuse does not fire because each consumer prunes m2 to a
    different column set — measured 3× the manifest subtree in the
    r17 pre-fix plan, operators 1-30 duplicated verbatim at 31-60).
    ~40 B/row of (id, source, split, n_tokens, quality) — at any scale
    the one materialization is far cheaper than two extra passes over
    the SRP-pair + label-propagation + k-means chain. ``materialize=
    False`` only to expose the full lineage to plan tests."""
    if materialize:
        m2 = m2.localCheckpoint(eager=False)
    s = (
        m2.where(F.col("split") == "train")
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("tok"))
    )
    mx = s.agg(F.max("tok").alias("max_tok"))
    f = s.crossJoin(F.broadcast(mx)).select(
        "source",
        F.least(
            F.lit(MAX_EPOCHS), F.col("max_tok").cast("double") / F.col("tok")
        ).alias("factor"),
    )
    ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % MIX_PPM
    )
    epochs = F.when(
        F.col("split") == "train",
        F.floor("factor").cast("bigint")
        + F.when(
            ppm < (F.col("factor") - F.floor("factor")) * float(MIX_PPM),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).otherwise(F.lit(1))
    return (
        m2.join(F.broadcast(f), "source", "left")
        .select(
            "doc_id", "source", "split", "n_tokens", "quality",
            epochs.cast("int").alias("epochs"),
        )
    )


def pack_plan_sql(
    cap: int = CLUSTER_CAP, capacity: int = PACK_CAPACITY
) -> str:
    """DuckDB oracle for ``pack_plan``: the training-plan CTE chain,
    the epoch explosion (``generate_series`` per train row), and the
    per-shard running-sum packing window over (doc_id, copy_idx)
    order."""
    return f"""
WITH RECURSIVE {_plan_ctes(cap)},
copies AS (
  SELECT doc_id, source, n_tokens,
    unnest(generate_series(0, epochs - 1)) AS copy_idx
  FROM plan WHERE split = 'train'
),
run AS (
  SELECT doc_id, CAST(copy_idx AS INT) AS copy_idx, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id, copy_idx
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM copies
)
SELECT doc_id, copy_idx, source, n_tokens,
  CAST(start_off // {capacity} AS BIGINT) AS seq_id,
  CAST(start_off % {capacity} AS BIGINT) AS seq_offset
FROM run
"""


@register("pack_plan", oracle=pack_plan_sql())
def pack_plan(
    spark: SparkSession,
    sf_dir: str,
    cap: int = CLUSTER_CAP,
    capacity: int = PACK_CAPACITY,
) -> DataFrame:
    """Plan → batches: materialize the ``training_plan``'s epoch
    decisions into packed pretraining sequences — each train document
    appears ``epochs`` times (copy_idx = epoch index), concatenated in
    stable (doc_id, copy_idx) order within its source shard and
    chopped into PACK_CAPACITY-token sequences (the ``sequence_pack``
    kernel over the exploded plan). The output row IS the record a
    training-data writer needs: which document copy lands in which
    sequence at which offset. Deterministic end-to-end — the whole
    chain from quality gates to batch layout re-materializes
    identically on a backfill.

    Plan: the epoch explosion is a map-side ``posexplode(sequence)``
    (≤ MAX_EPOCHS× rows); packing is the shared ``_with_start_off``
    prefix-sum kernel — one (source)-keyed window at small id spans,
    the two-pass sharded prefix sum past PACK_SHARD_MIN_SPAN ids (a
    dominant source fans out instead of serializing one sorted task;
    id bounds come from a column-pruned documents scan, NOT from
    re-executing the plan chain). Driver-gated since r10 with its
    fully-composed DuckDB oracle (``pack_plan_sql``)."""
    bounds = _doc_id_bounds(
        _docs(spark, sf_dir), f"{sf_dir}/documents.parquet"
    )
    return _pack_sequences(
        training_plan(spark, sf_dir, cap), capacity, bounds
    )


def _pack_sequences(
    plan: DataFrame,
    capacity: int,
    id_bounds: tuple[int | None, int | None] = (None, None),
    n_shards: int | None = None,
) -> DataFrame:
    """The packing tail of ``pack_plan`` over a training-plan frame:
    epoch explosion (map-side ``posexplode(sequence)``) + the
    ``_with_start_off`` prefix sum over (doc_id, copy_idx) order —
    shared by the one-plan query and the store-composed
    ``pack_plan_over_store``. Callers pass the corpus doc_id bounds
    from a CHEAP source (raw documents scan / stored manifest) so the
    shard decision never re-executes the plan chain; sharding by
    doc_id keeps every copy of a document in one shard and preserves
    (doc_id, copy_idx) order across shards."""
    copies = (
        plan.where(F.col("split") == "train")
        .select(
            "doc_id", "source", "n_tokens",
            F.posexplode(F.sequence(F.lit(0), F.col("epochs") - 1)).alias(
                "_pos", "copy_idx"
            ),
        )
        .select(
            "doc_id", F.col("copy_idx").cast("int").alias("copy_idx"),
            "source", "n_tokens",
        )
    )
    out = _with_start_off(copies, ["doc_id", "copy_idx"], id_bounds, n_shards)
    return out.select(
        "doc_id", "copy_idx", "source", "n_tokens",
        F.expr(f"start_off DIV {capacity}").alias("seq_id"),
        (F.col("start_off") % capacity).cast("bigint").alias("seq_offset"),
    )


# ------------------------------------------------ plan-artifact store --


def write_plan_store(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the curation pipeline's two expensive artifacts — the
    semantic curation manifest (``<path>/manifest``, parquet
    partitioned by split) and the IVF cluster ranks
    (``<path>/cluster_ranks``) — the write-once assets a 100 TB
    deployment composes training runs FROM, instead of re-deriving the
    SRP-LSH label propagation and the centroid assignment per run (the
    ``ivf_store``/``sax_store`` store pattern applied to curation).
    Partitioning by split makes the epoch-factor statistics pass a
    partition-pruned read (it touches only ``split=train``); the ranks
    table's consumers column-prune to (vec_id, rank). Both pinned by
    tests/test_pq.py."""
    m = curation_manifest_semantic(spark, sf_dir)
    m.write.mode("overwrite").partitionBy("split").parquet(f"{path}/manifest")
    _cluster_ranked(spark, sf_dir).write.mode("overwrite").parquet(
        f"{path}/cluster_ranks"
    )


def training_plan_over_store(
    spark: SparkSession, path: str, cap: int = CLUSTER_CAP
) -> DataFrame:
    """``training_plan`` composed from the persisted artifacts: reads
    the manifest and cluster ranks written by ``write_plan_store`` and
    applies the SAME anti-join + epoch tail (shared helpers), so
    plan-over-store ≡ the one-plan registered query row-for-row
    (pytest-pinned). Changing ``cap`` or the epoch policy re-plans
    without touching a single corpus byte — the point of the store."""
    m = spark.read.parquet(f"{path}/manifest").select(
        "doc_id", "source", "split", "n_tokens", "quality"
    )
    ranked = spark.read.parquet(f"{path}/cluster_ranks").select(
        "vec_id", "rank"
    )
    # materialize=False: the one-plan query's epoch-tail checkpoint
    # exists to stop THREE replays of the semantic-chain lineage; here
    # the lineage IS the cheap store artifacts, and the barrier would
    # erase exactly the structure the store is for — the stats pass's
    # split=train PartitionFilters and the (vec_id, rank) column-pruned
    # ranks read (pinned by tests/test_pq.py::
    # test_plan_store_reads_are_pruned, which caught the r17 epoch-tail
    # commit regressing this to a Scan ExistingRDD plan).
    return _epoch_plan(_drop_cap_losers(m, ranked, cap), materialize=False)


def pack_plan_over_store(
    spark: SparkSession,
    path: str,
    cap: int = CLUSTER_CAP,
    capacity: int = PACK_CAPACITY,
) -> DataFrame:
    """``pack_plan`` composed from the persisted artifacts (see
    ``training_plan_over_store``); the prefix-sum shard decision reads
    its doc_id bounds from the stored manifest (cheap column-pruned
    parquet), never re-deriving the chain."""
    bounds = _doc_id_bounds(
        spark.read.parquet(f"{path}/manifest"), f"{path}/manifest"
    )
    return _pack_sequences(
        training_plan_over_store(spark, path, cap), capacity, bounds
    )


#: one plan-store scratch dir per (session, corpus) — repeat
#: registered-query calls compose from the artifacts instead of
#: re-deriving the semantic chain (the store economics); entries of
#: stopped sessions are evicted on lookup (bpe._AUTO_SEG_BY_SESSION's
#: bounding rule) and their scratch dirs removed; every cached dir is
#: removed at interpreter exit (r11 ADVICE: mkdtemp dirs leaked one
#: store per process/corpus)
_PLAN_STORES = storefs.ScratchStoreCache("trisk_plan_store_")


def _bpe_session_stopped(sess: SparkSession) -> bool:
    from trisk_spark.functions.bpe import _session_stopped

    return _session_stopped(sess)


@register("training_plan_over_store", oracle=training_plan_sql())
def training_plan_over_store_query(
    spark: SparkSession, sf_dir: str, cap: int = CLUSTER_CAP
) -> DataFrame:
    """The OPERATIONAL training-plan path under the driver's hash
    gate: build the plan store (semantic manifest + cluster ranks,
    ``write_plan_store``) into a per-sf scratch path, then compose the
    plan FROM the artifacts (``training_plan_over_store``). The oracle
    is ``training_plan_sql`` unchanged — store-composed ≡ one-plan is
    the contract (also equality-pinned at tests/test_pq.py), so this
    row puts the 12×-cheaper composition path itself, not just the
    recompute, under independent value-hash evidence (r10 VERDICT
    "next round" #4). Self-contained but amortized: the store is
    written into a fresh scratch dir ONCE per (session, corpus) —
    repeat calls in one process (oracle-parity pytest, schema checks,
    hostile runs) compose from the memoized artifacts, which is the
    operational economics the store exists for; fresh dirs mean two
    concurrent sessions (driver + verify) can never race one
    overwrite path, and the cache assumes the corpus at ``sf_dir`` is
    immutable for the session's lifetime (true for the driver corpora;
    a new process always rebuilds)."""
    path = _PLAN_STORES.get_or_build(
        spark, sf_dir, lambda p: write_plan_store(spark, sf_dir, p)
    )
    return training_plan_over_store(spark, path, cap)


# ------------------------------------------------ budget trim --------

#: token budget the trim fills (library default; callers parameterize)
TRIM_BUDGET_TOKENS = 10_000

#: quality-bucket fan-out of the global ordered prefix sum
TRIM_QUALITY_BUCKETS = 64

BUDGET_TRIM_SQL = f"""
WITH scored AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_tokens,
    {quality_sql()}
      AS q
  FROM (SELECT doc_id, text,
          list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
  WHERE len(ws) >= 1
),
run AS (
  SELECT doc_id, n_tokens, q,
    SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM scored
)
SELECT doc_id, n_tokens, CAST(ROUND(q, 4) AS DOUBLE) AS quality
FROM run WHERE start_off < {TRIM_BUDGET_TOKENS}
"""


def budget_trim(
    spark: SparkSession,
    sf_dir: str,
    budget: int = TRIM_BUDGET_TOKENS,
    n_buckets: int = TRIM_QUALITY_BUCKETS,
) -> DataFrame:
    """Token-budget trim — "fill B tokens with the best documents":
    keep documents in quality order (the shared ``quality_expr``
    score, ties by doc_id) until the running token total reaches the
    budget; the document that crosses the boundary is kept (exclusive
    prefix < B — fill, then stop). The curation stage that turns "we
    can afford a 100B-token run" into a concrete document set,
    deterministic across re-runs like the whole sampling family.

    Plan: a GLOBAL ordered prefix sum — the serialize-through-one-task
    shape — made scale-safe by the ``_with_start_off`` two-pass idea
    keyed on QUALITY BUCKETS: the bucket index floor((1-q)·K) is a
    deterministic order-preserving coarsening of the sort key, so
    per-bucket running sums (corpus shuffles once on bucket, K-way
    parallel sorted windows) plus broadcast cumulative bucket offsets
    (K rows — the one SinglePartition window in the plan runs on the
    K-row aggregate, never the corpus) reproduce the global window
    bit-for-bit. Bucket arithmetic never reaches the oracle: the
    DuckDB side IS the naive global window, so the equality is proved
    against the semantics, not the trick."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = (
        docs.select(
            "doc_id",
            F.size(ws).cast("bigint").alias("n_tokens"),
            quality_expr("text").alias("q"),
        )
        .where(F.col("n_tokens") >= 1)
    )
    return _quality_budget_filter(d, "n_tokens", budget, n_buckets).select(
        "doc_id", "n_tokens", F.round("q", 4).alias("quality")
    )


def _quality_budget_filter(
    d: DataFrame, value_col: str, budget: int, n_buckets: int
) -> DataFrame:
    """Keep the quality-ordered prefix of ``d`` whose exclusive global
    running sum of ``value_col`` is < ``budget`` — the bucketed
    two-pass global prefix kernel shared by ``budget_trim`` and
    ``training_plan_budget``. ``d`` must carry ``q`` (non-null double)
    and ``doc_id`` (the tie-break); output keeps ``d``'s columns. The
    bucket index floor((1-q)·K) is an order-preserving coarsening of
    (q DESC), so K-way parallel per-bucket windows + broadcast
    cumulative bucket offsets (K rows — the single SinglePartition
    window in the plan) reproduce the naive global window
    bit-for-bit."""
    b = (
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.lit(1.0) - F.col("q")) * n_buckets),
            ),
        )
    ).cast("int")
    dd = d.withColumn("_b", b).where(F.col("_b").isNotNull())
    w_loc = (
        Window.partitionBy("_b")
        .orderBy(F.desc("q"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = dd.withColumn("_run", F.sum(value_col).over(w_loc))
    sub = loc.groupBy("_b").agg(F.max("_run").alias("_sub"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    off = sub.select(
        F.col("_b").alias("_ob"),
        F.coalesce(F.sum("_sub").over(w_off), F.lit(0).cast("bigint")).alias(
            "_off"
        ),
    )
    return (
        loc.join(F.broadcast(off), F.col("_b") == F.col("_ob"))
        .where(F.col("_off") + F.col("_run") - F.col(value_col) < budget)
        .drop("_b", "_run", "_ob", "_off")
    )


def training_plan_budget_sql(
    budget: int = TRIM_BUDGET_TOKENS, cap: int = CLUSTER_CAP
) -> str:
    """DuckDB oracle for ``training_plan_budget``: the full plan CTE
    chain + the NAIVE global budget window over train rows (epoch-
    weighted cost) — like BUDGET_TRIM_SQL, the oracle proves the
    bucketed plan against the plain-window semantics."""
    return f"""
WITH RECURSIVE {_plan_ctes(cap)},
trainrows AS (
  SELECT doc_id, source, n_tokens, quality, epochs,
    CAST(n_tokens * epochs AS BIGINT) AS cost
  FROM plan WHERE split = 'train'
),
run AS (
  SELECT doc_id, source, n_tokens, quality, epochs,
    SUM(cost) OVER (ORDER BY quality DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) - cost AS start_off
  FROM trainrows
)
SELECT doc_id, source, n_tokens, quality, epochs
FROM run WHERE start_off < {budget}
"""


def training_plan_budget(
    spark: SparkSession,
    sf_dir: str,
    budget: int = TRIM_BUDGET_TOKENS,
    cap: int = CLUSTER_CAP,
    n_buckets: int = TRIM_QUALITY_BUCKETS,
) -> DataFrame:
    """Budget-constrain the training plan itself — "we can afford B
    train tokens": keep the plan's train rows in quality order (ties
    by doc_id) until the EPOCH-WEIGHTED token cost (n_tokens × epochs
    — what the run actually consumes) fills the budget; the boundary
    row is kept (the ``budget_trim`` fill-then-stop rule). The last
    knob of the plan family: manifest gates → semantic dedup → cluster
    cap → epochs → budget, all deterministic end-to-end.

    Plan: ``training_plan``'s proven chain + the shared
    ``_quality_budget_filter`` kernel (quality-bucketed two-pass
    global prefix sum — K-way parallel, the one SinglePartition window
    touches K rows). The plan's ``quality`` is already the 4-decimal
    rounded double, identical on both engines, so the order and the
    bucket coarsening agree exactly. Library op, full DuckDB oracle
    (``training_plan_budget_sql``) — the r11 capacity-note class."""
    plan = training_plan(spark, sf_dir, cap)
    d = plan.where(F.col("split") == "train").select(
        "doc_id", "source", "n_tokens", "quality", "epochs",
        (F.col("n_tokens") * F.col("epochs")).cast("bigint").alias("_cost"),
        F.col("quality").alias("q"),
    )
    return _quality_budget_filter(d, "_cost", budget, n_buckets).select(
        "doc_id", "source", "n_tokens", "quality", "epochs"
    )


# ------------------------------------------------ epoch shuffle ------

#: shard fan-out of the deterministic training-order shuffle; bounds
#: every per-shard sort at ~corpus/1024 rows and gives the reader 1024
#: independently streamable files per epoch
N_SHUFFLE_SHARDS = 1024

SHUFFLE_SHARDS_SQL = f"""
SELECT doc_id,
  CAST(CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       AS BIGINT) % {N_SHUFFLE_SHARDS} AS INT) AS shard,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % {N_SHUFFLE_SHARDS}
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
FROM documents WHERE doc_id IS NOT NULL
"""


def shuffle_shards(
    spark: SparkSession, sf_dir: str, n_shards: int = N_SHUFFLE_SHARDS
) -> DataFrame:
    """Deterministic training-order shuffle — the step after
    ``pack_plan``: a reproducible pseudo-random global permutation of
    the corpus, materialized as (doc_id, shard, pos). A reader that
    streams shards 0..n-1 in ``pos`` order visits documents in
    md5(doc_id) order — statistically random with respect to every
    corpus attribute, yet identical on every re-run/backfill (the
    no-RNG contract of the whole sampling family; ``rand()`` would
    reorder training data on every retry, destroying run
    reproducibility).

    Plan: shard assignment is a map-side md5 expression; ONE shuffle
    on shard; each per-shard rank sorts ~corpus/n_shards rows
    (spillable, all shards in parallel — the same bounded-sort story
    as the two-pass packer, with the shard count a constant so no
    degenerate key can concentrate rows: md5 spreads uniformly by
    construction). Library op with a full DuckDB oracle
    (``SHUFFLE_SHARDS_SQL``), pytest-gated — the r11 capacity-note
    class."""
    md5 = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("bigint") % n_shards
    ).cast("int")
    d = _docs(spark, sf_dir).select("doc_id", shard.alias("shard"), md5.alias("_m"))
    w = Window.partitionBy("shard").orderBy("_m", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


CURATION_FUNNEL_SQL_TEMPLATE = """
WITH RECURSIVE {plan_ctes}
SELECT
  CAST((SELECT COUNT(*) FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL) AS BIGINT)
    AS n_docs,
  CAST((SELECT COUNT(*) FROM manifest) AS BIGINT) AS n_manifest,
  CAST((SELECT COUNT(*) FROM manifest
        WHERE doc_id NOT IN (SELECT doc_id FROM sem_losers)) AS BIGINT)
    AS n_after_semantic,
  CAST((SELECT COUNT(*) FROM m2) AS BIGINT) AS n_after_cap,
  CAST((SELECT COUNT(*) FROM m2 WHERE split = 'train') AS BIGINT) AS n_train,
  CAST((SELECT COUNT(*) FROM m2 WHERE split = 'val') AS BIGINT) AS n_val,
  CAST((SELECT COUNT(*) FROM m2 WHERE split = 'test') AS BIGINT) AS n_test,
  CAST((SELECT COALESCE(SUM(n_tokens), 0) FROM m2 WHERE split = 'train')
       AS BIGINT) AS train_tokens
"""


def curation_funnel_sql(cap: int = CLUSTER_CAP) -> str:
    """DuckDB oracle for ``curation_funnel`` — stage counts read off
    the same composed CTE chain the plan family uses."""
    return CURATION_FUNNEL_SQL_TEMPLATE.format(plan_ctes=_plan_ctes(cap))


@register("curation_funnel", oracle=curation_funnel_sql())
def curation_funnel(
    spark: SparkSession, sf_dir: str, cap: int = CLUSTER_CAP
) -> DataFrame:
    """Curation health report — ONE row tracing the pipeline's funnel:
    raw documents → quality/dedup manifest → semantic-dedup survivors
    → cluster-cap survivors, with the final per-split counts and the
    surviving train token mass. The number an operator watches per
    ingest wave: a collapsing stage (e.g. semantic losers suddenly
    eating half the corpus — a template-farm flood) shows up here as a
    funnel step-change before anyone debugs a bad trained model
    downstream. Driver-gated since r11 with its full DuckDB oracle
    (``curation_funnel_sql``); hostile-corpus parity in
    tests/test_parity_edges.py.

    Plan: the manifest derives ONCE — the semantic-loser and cap-loser
    id sets LEFT-join onto it as survival flags (id-sized broadcast
    sides), so every stage count reads one conditional aggregation of
    one frame instead of re-deriving the manifest per stage (the first
    cut built m/msem/m2 as three separate compositions: 3 manifest
    scans + 3 content-hash shuffles in the executed plan, measured).
    The counts are partial-agg single-row frames crossed together
    broadcast — nothing corpus-sized moves beyond what the stages
    themselves shuffle."""
    from trisk_spark.functions.similarity import dedup_semantic

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    m = curation_manifest(spark, sf_dir)
    sem_losers = (
        dedup_semantic(spark, sf_dir)
        .where(F.col("component") != F.col("doc_id"))
        .select("doc_id", F.lit(1).alias("_sem_lost"))
    )
    cap_losers = (
        _cluster_ranked(spark, sf_dir)
        .where(F.col("rank") > cap)
        .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("_cap_lost"))
    )
    # id-sized sides, but NOT hint-broadcast: cap overflow can be a
    # corpus-scale fraction of rows (every rank > cap), so AQE decides
    # — broadcast when small, shuffle-hash on ids when not (the same
    # posture as _drop_cap_losers' anti join)
    flags = m.join(sem_losers, "doc_id", "left").join(
        cap_losers, "doc_id", "left"
    )
    surv = F.col("_sem_lost").isNull() & F.col("_cap_lost").isNull()
    tail = flags.agg(
        F.count("*").cast("bigint").alias("n_manifest"),
        F.sum(F.when(F.col("_sem_lost").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_after_semantic"),
        F.sum(F.when(surv, 1).otherwise(0)).cast("bigint").alias("n_after_cap"),
        F.sum(F.when(surv & (F.col("split") == "train"), 1).otherwise(0))
        .cast("bigint").alias("n_train"),
        F.sum(F.when(surv & (F.col("split") == "val"), 1).otherwise(0))
        .cast("bigint").alias("n_val"),
        F.sum(F.when(surv & (F.col("split") == "test"), 1).otherwise(0))
        .cast("bigint").alias("n_test"),
        F.coalesce(
            F.sum(F.when(surv & (F.col("split") == "train"), F.col("n_tokens"))),
            F.lit(0),
        ).cast("bigint").alias("train_tokens"),
    )
    return n_docs.crossJoin(F.broadcast(tail)).select(
        "n_docs", "n_manifest", "n_after_semantic", "n_after_cap",
        "n_train", "n_val", "n_test", "train_tokens",
    )


# ------------------------- perplexity-bucket assignment (CCNet) ------

#: order-preserving coarsening of (lm_score DESC) for the two-pass
#: global per-language rank: bucket = clamp(floor(-lm_score·K/CAP),
#: 0, K-1). K bounds every per-bucket sort at ~1/K of a language and
#: CAP only coarsens (scores below -CAP share the last bucket — the
#: within-bucket rank still orders them exactly).
PPL_RANK_BUCKETS = 64
PPL_SCORE_CAP = 32.0
PPL_TILES = 3

PPL_BUCKETS_SQL = f"""
WITH r AS (
  SELECT s.doc_id, s.lang, s.lm_score,
    ROW_NUMBER() OVER (PARTITION BY s.lang
                       ORDER BY s.lm_score DESC, s.doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY s.lang) AS n
  FROM ({{lm_sql}}) s
)
SELECT doc_id, lang, lm_score, CAST(rk AS BIGINT) AS lang_rank,
  CASE ({PPL_TILES} * (rk - 1)) // n WHEN 0 THEN 'head'
       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM r
"""


def ppl_buckets_sql() -> str:
    """DuckDB oracle for ``perplexity_buckets``: the bigram-LM kernel
    with lang carried through its grouping (``_bigram_lm_sql(('lang',))``
    — same grouping as the Spark kernel by construction), then the
    NAIVE per-language global window — rank by (lm_score DESC, doc_id)
    and tile = (3·(rank-1)) // n. Like BUDGET_TRIM_SQL, the oracle
    proves the bucketed two-pass plan against the plain-window
    semantics, so the coarsening trick never reaches the oracle."""
    from trisk_spark.functions.text import _bigram_lm_sql

    return PPL_BUCKETS_SQL.format(lm_sql=_bigram_lm_sql(("lang",)))


def perplexity_buckets(
    spark: SparkSession,
    sf_dir: str,
    n_rank_buckets: int = PPL_RANK_BUCKETS,
    score_cap: float = PPL_SCORE_CAP,
    materialize: bool = True,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document with the reference bigram LM
    (``text.bigram_lm_score``'s exact-grid kernel), rank documents
    within their language by (lm_score DESC, doc_id), and assign the
    classic head/middle/tail terciles — tile = (3·(rank-1)) // n_lang.
    The curation stage after language ID: downstream keeps head+middle
    (or reweights tails) per language. Deterministic end-to-end like
    the whole sampling family: the LM score lives on an exact 1e-6
    grid, ties break by doc_id, and the tile is integer arithmetic.

    Plan: per-language global rank — the serialize-through-one-task
    shape — made scale-safe by the ``budget_trim`` two-pass idea keyed
    on SCORE BUCKETS: floor(-lm_score·K/CAP) is a deterministic
    order-preserving coarsening of the sort key, so per-(lang, bucket)
    row_numbers (corpus shuffles once on that pair, lang×K-way
    parallel bounded sorts) plus broadcast per-language cumulative
    bucket counts (lang×K rows) reproduce the naive per-language
    window bit-for-bit. The LM model tables stay broadcast with the
    kernel's fail-loud ceiling; lang rides the bigram explode so no
    corpus join-back re-attaches it. Degenerate corpora (every doc the
    same score — e.g. all-identical text that dedup would have removed
    upstream) collapse the coarsening into one bucket and the plan
    degrades to the naive per-language sort, never to a wrong answer —
    the same worst-case posture as ``_quality_budget_filter``. Library
    op, full DuckDB oracle (``ppl_buckets_sql``) — the r11
    capacity-note class."""
    from trisk_spark.functions.text import _lm_model, _lm_scored

    docs = _docs(spark, sf_dir)
    scored = _lm_scored(docs, _lm_model(docs), extra=("lang",))
    cb = (
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_rank_buckets - 1),
                F.floor(-F.col("lm_score") * n_rank_buckets / score_cap),
            ),
        )
    ).cast("int")
    d = scored.select("doc_id", "lang", "lm_score", cb.alias("_cb"))
    w_loc = Window.partitionBy("lang", "_cb").orderBy(
        F.desc("lm_score"), "doc_id"
    )
    # localCheckpoint materializes the scored+ranked frame ONCE: both
    # the probe side and the offsets aggregate consume it, and without
    # the barrier each side would recompute the whole LM scoring chain
    # (exchange reuse does not fire across AQE stages — the
    # jaccard_pairs precedent). ~30 bytes/row of (id, lang, score,
    # bucket, rank) — at any scale the materialization is far cheaper
    # than a second pass over the bigram explode + model joins.
    loc = d.withColumn("_rk", F.row_number().over(w_loc).cast("bigint"))
    if materialize:  # False only to expose the full lineage to plan tests
        loc = loc.localCheckpoint()
    # bucket counts = max(row_number) over the already-windowed frame —
    # no fresh count over d, so the offsets side adds only a lang×K-row
    # aggregate on top of the checkpoint
    cnt = loc.groupBy("lang", "_cb").agg(F.max("_rk").alias("_c"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("_cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("lang")
    off = cnt.select(
        F.col("lang").alias("_ol"),
        F.col("_cb").alias("_ob"),
        F.coalesce(F.sum("_c").over(w_off), F.lit(0))
        .cast("bigint").alias("_off"),
        F.sum("_c").over(w_tot).cast("bigint").alias("_n"),
    )
    # lang×K-row side — broadcast; eqNullSafe keeps the NULL-lang group
    # (both engines window NULL as its own partition)
    j = loc.join(
        F.broadcast(off),
        loc["lang"].eqNullSafe(F.col("_ol")) & (F.col("_cb") == F.col("_ob")),
    ).select(
        "doc_id", "lang", "lm_score",
        (F.col("_off") + F.col("_rk")).alias("lang_rank"),
        F.col("_n").alias("_n"),
    )
    tile = F.expr(f"({PPL_TILES} * (lang_rank - 1)) div _n")
    return j.select(
        "doc_id", "lang", "lm_score", "lang_rank",
        F.when(tile == 0, F.lit("head"))
        .when(tile == 1, F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


# ----------------------- cross-split near-dup leakage (r11) ----------

def cross_split_leakage_sql() -> str:
    """DuckDB oracle for ``cross_split_leakage``: the MinHash-LSH pair
    CTE + the shared split CASE on both pair ends."""
    from trisk_spark.functions.dedup import MINHASH_LSH_PAIRS_SQL

    return f"""
WITH pairs AS ({MINHASH_LSH_PAIRS_SQL}),
splits AS (
  SELECT doc_id, {_SPLIT_CASE_SQL} AS split
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
FROM pairs p
JOIN splits sa ON p.doc_a = sa.doc_id
JOIN splits sb ON p.doc_b = sb.doc_id
WHERE sa.split <> sb.split
"""


@register("cross_split_leakage", oracle=cross_split_leakage_sql())
def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test near-duplicate leakage — the eval-hygiene check that
    dedup ran BEFORE splitting: every MinHash-LSH near-dup pair whose
    two ends land in DIFFERENT splits (a test document with a training
    near-twin inflates eval scores exactly like benchmark
    contamination, but is invisible to ``decontaminate_flags`` because
    both ends are corpus documents). Empty result = the split is
    leakage-clean at the near-dup level; each returned pair names the
    offending documents and their splits so the keeper policy
    (``canonical_by_quality`` / the manifests' dup_rank) can resolve
    it.

    Plan: ``dedup_minhash_lsh``'s banded pair generation (ids only,
    bucket-capped — never all-pairs), then the map-side split column
    attaches to each pair end via two id-keyed joins (pairs are
    id-sized but can be a corpus-scale fraction on a duplicate-heavy
    crawl, so no forced broadcast — AQE decides; the curation_funnel
    posture). Registered + driver-hash-gated since r14 (the written R14
    seat trade — tpch_q7/q14 retired to library); full DuckDB oracle
    ``cross_split_leakage_sql``."""
    from trisk_spark.functions.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    splits = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", _split_col().alias("split"))
    )
    a = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


# ----------------------- per-source distribution drift (r11) ---------

# Data-mixture analysis: KL(source ‖ corpus) over lowercased unigram
# distributions — the signal that a source drifted off-distribution
# (an ingest wave of boilerplate, a language flip, a scraper bug)
# BEFORE it perturbs the trained mixture. Exactness: each word's
# ln((c_sw/N_s)/(c_w/N)) is ln of a double built from exact integer
# counts by three correctly-rounded IEEE ops (identical on both
# engines), ROUNDed to the 1e-6 grid and summed weighted by the exact
# INTEGER count c_sw as DECIMAL (order-free); the per-source mean then
# floors onto the grid in EXACT bigint arithmetic (`div`, matching the
# oracle's `//` — a double `/` would round mu first and drift off the
# grid once mu passes 2^53, ~3e8 tokens/source at |ln| ≤ 30; the
# embedding_health avg_norm hazard). The bigint grid sum is safe while
# N_s·|ln-term|·1e6 < 2^63 — ~3·10^11 tokens per source at |ln| ≤ 30,
# beyond any single real source; past that widen to a DECIMAL(38) grid.

SOURCE_DIVERGENCE_SQL = """
WITH toks AS (
  SELECT source, unnest(list_filter(
    string_split(lower(coalesce(text, '')), ' '), w -> w <> '')) AS w
  FROM documents WHERE doc_id IS NOT NULL
),
sw AS (SELECT source, w, COUNT(*) AS c_sw FROM toks GROUP BY source, w),
cw AS (SELECT w, SUM(c_sw) AS c_w FROM sw GROUP BY w),
ns AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY source),
n AS (SELECT SUM(c_sw) AS n FROM sw),
terms AS (
  SELECT sw.source, sw.c_sw,
    CAST(ROUND(LN((CAST(sw.c_sw AS DOUBLE) / ns.n_s)
                  / (CAST(cw.c_w AS DOUBLE) / n.n)), 6)
         AS DECIMAL(18, 6)) AS lr
  FROM sw
  JOIN cw ON sw.w = cw.w
  JOIN ns ON sw.source IS NOT DISTINCT FROM ns.source
  CROSS JOIN n
),
agg AS (
  SELECT source,
    CAST(SUM(c_sw) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) AS BIGINT) AS vocab,
    CAST(SUM(c_sw * lr) * 1000000 AS BIGINT) AS mu
  FROM terms GROUP BY source
)
SELECT source, n_tokens, vocab,
  CAST((mu - (((mu % n_tokens) + n_tokens) % n_tokens)) // n_tokens
       AS DOUBLE) / 1000000.0 AS kl_divergence
FROM agg
"""


@register("source_divergence", oracle=SOURCE_DIVERGENCE_SQL)
def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    KL(source ‖ corpus) = Σ_w (c_sw/N_s)·ln((c_sw/N_s)/(c_w/N)) on the
    exact 1e-6 grid (see the exactness note above). The data-mixture
    drift monitor: a source whose KL jumps between ingest waves went
    off-distribution and gets inspected before ``source_mix_sample`` /
    ``training_plan`` bake it into a run.

    Plan: one token explode → (source, word) partial-agg counts (the
    one corpus-sized shuffle); corpus word counts derive from that
    vocabulary-sized table (no second corpus scan); the word-keyed
    join of the two count tables is a SHUFFLE hash join (a 100 TB
    vocabulary is far past broadcast range) while the per-source and
    corpus totals are source-cardinality/1-row broadcasts; the final
    per-source aggregate is partial-aggregatable decimal arithmetic.
    Registered r12 under the driver's hash gate (the R12 registration
    plan) with its full DuckDB oracle (``SOURCE_DIVERGENCE_SQL``)."""
    from trisk_spark.functions.text import _lm_tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select("source", F.explode(_lm_tokens()).alias("w"))
    # localCheckpoint materializes the (source, word) count table ONCE:
    # four consumers (corpus counts, per-source totals, the grand
    # total, and the scoring join) would otherwise each replay the
    # corpus explode (exchange reuse does not fire across AQE stages —
    # the jaccard_pairs precedent). The table is vocabulary×source-
    # sized — far smaller than the corpus it summarizes.
    sw = (
        toks.groupBy("source", "w")
        .agg(F.count("*").alias("c_sw"))
        .localCheckpoint()
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    n = sw.agg(F.sum("c_sw").alias("n"))
    lr = F.round(
        F.log(
            (F.col("c_sw").cast("double") / F.col("n_s"))
            / (F.col("c_w").cast("double") / F.col("n"))
        ),
        6,
    ).cast("decimal(18,6)")
    terms = (
        sw.join(cw, "w")
        .join(
            F.broadcast(ns.select(F.col("source").alias("_s"), "n_s")),
            sw["source"].eqNullSafe(F.col("_s")),
        )
        .crossJoin(F.broadcast(n))
        .select(sw["source"].alias("source"), "c_sw", lr.alias("lr"))
    )
    agg = terms.groupBy("source").agg(
        F.sum("c_sw").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        (F.sum(F.col("c_sw") * F.col("lr")) * 1000000)
        .cast("bigint")
        .alias("mu"),
    )
    # `div` keeps the floored mean in EXACT bigint arithmetic like the
    # oracle's `//` (mu - r is a multiple of n_tokens, so div is exact
    # division); see the family comment's 2^53 hazard note
    q = F.expr(
        "(mu - ((mu % n_tokens) + n_tokens) % n_tokens) div n_tokens"
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        (q.cast("double") / F.lit(1000000.0)).alias("kl_divergence"),
    )


# ------------------- DSIR importance weights (r11) -------------------

# Data Selection with Importance Resampling (Xie et al. 2023): score
# every document by the log-likelihood ratio of a TARGET hashed-bigram
# model over a RAW one — the standard cheap alternative to training a
# quality classifier. Target = the same deterministic reference slice
# the bigram LM trains on (doc_id % LM_REF_MOD == 0, text.py); raw =
# the rest of the corpus. Features are bigram occurrences hashed into
# DSIR_BUCKETS buckets (the paper's hashed n-gram trick — the model is
# BUCKETS-sized regardless of corpus vocabulary), add-1 smoothed.
#
# Float determinism: each occurrence's contribution is
#   ln( ((ct+1)/(Tt+B)) * ((Tr+B)/(cr+1)) )
# where every operand is an exact BIGINT→DOUBLE conversion and the
# division/multiplication chain is written in the same order on both
# engines (IEEE exact-rounded per op) — ONE ln per occurrence, 1-ulp
# risk collapsed by the house ROUND(·,6) → DECIMAL(18,6) → exact
# order-free SUM pattern (see text.py's bigram-LM comment).
DSIR_BUCKETS = 4096


def _dsir_sql() -> str:
    from trisk_spark.functions.text import LM_REF_MOD

    B, MOD = DSIR_BUCKETS, LM_REF_MOD
    return f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
),
bk AS (
  SELECT doc_id,
    CAST(CONCAT('0x', substr(md5(w1 || ' ' || w2), 1, 15)) AS BIGINT) % {B} AS b,
    ((doc_id % {MOD}) + {MOD}) % {MOD} = 0 AS is_target
  FROM bi
),
m AS (
  SELECT b,
    CAST(COUNT(*) FILTER (WHERE is_target) AS BIGINT) AS ct,
    CAST(COUNT(*) FILTER (WHERE NOT is_target) AS BIGINT) AS cr
  FROM bk GROUP BY b
),
tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM m),
scored AS (
  SELECT bk.doc_id,
    CAST(ROUND(LN(
      (CAST(m.ct + 1 AS DOUBLE) / CAST(tot.tt + {B} AS DOUBLE))
      * (CAST(tot.tr + {B} AS DOUBLE) / CAST(m.cr + 1 AS DOUBLE))), 6)
      AS DECIMAL(18, 6)) AS contrib
  FROM bk JOIN m ON bk.b = m.b CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(contrib) AS DOUBLE) AS dsir_weight,
  SUM(contrib) > 0 AS target_leaning
FROM scored GROUP BY doc_id
"""


DSIR_WEIGHTS_SQL = None  # built lazily: text import at module top would cycle


def dsir_weights_sql() -> str:
    global DSIR_WEIGHTS_SQL
    if DSIR_WEIGHTS_SQL is None:
        DSIR_WEIGHTS_SQL = _dsir_sql()
    return DSIR_WEIGHTS_SQL


def _dsir_buckets(spark: SparkSession, sf_dir: str, materialize: bool = True):
    """Shared DSIR model construction: (g, m, tot, contrib) — the
    per-(doc, bucket) bigram COUNT frame, the B-row per-bucket count
    table derived from it, its 1-row totals, and the per-bucket
    contribution expression (to be selected against m ⨯ tot). Used by
    the batch op and the streaming model so the arithmetic exists
    exactly once.

    r17 shape (guide §2.3 aggregate-before-shuffle + §5 materialize the
    reused intermediate): the bigram explode + per-bigram md5 — the
    corpus-dominant CPU — used to run TWICE (the model aggregate and
    the scoring join each replayed the whole lineage) and the scoring
    side shuffled one row PER BIGRAM. Both consumers now read one
    per-(doc_id, b) count aggregate ``g``: duplicates collapse map-side
    before the shuffle (≤ min(bigrams, B) rows per doc cross the wire)
    and a localCheckpoint materializes ``g`` once, so the md5 pass runs
    exactly once per query. m's counts and the per-doc sums are
    Σ c-weighted — value-identical (exact BIGINT counts, exact DECIMAL
    contribs). ``materialize=False`` only to expose the full lineage to
    plan tests (the training_plan convention)."""
    from trisk_spark.catalog import spread_narrow_scan
    from trisk_spark.functions.text import LM_REF_MOD, _lm_bigrams

    bi = _lm_bigrams(spread_narrow_scan(_docs(spark, sf_dir)))
    bk = bi.select(
        "doc_id",
        _dsir_bucket("w1", "w2").alias("b"),
        (F.pmod(F.col("doc_id"), F.lit(LM_REF_MOD)) == 0).alias("is_target"),
    )
    g = bk.groupBy("doc_id", "b", "is_target").agg(
        F.count("*").cast("bigint").alias("c")
    )
    if materialize:
        g = g.localCheckpoint(eager=False)
    m = g.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(F.col("c")))
        .cast("bigint")
        .alias("cr"),
    )
    tot = m.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    contrib = _dsir_contrib(
        F.col("ct") + F.lit(1), F.col("cr") + F.lit(1)
    )
    return g, m, tot, contrib


def _dsir_bucket(w1, w2) -> Column:
    """The hashed-bigram bucket of (w1, w2): the first 15 hex digits of
    md5("w1 w2") mod DSIR_BUCKETS — one definition for the batch model
    and the streaming twin's in-row scoring."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.concat_ws(" ", w1, w2)), 1, 15), 16, 10).cast(
            "bigint"
        ),
        F.lit(DSIR_BUCKETS),
    )


def _dsir_contrib(ct_smoothed, cr_smoothed):
    """ROUND(ln(((ct)/(Tt+B)) · ((Tr+B)/(cr))), 6) as DECIMAL(18,6) —
    the single-ln exact-operand contribution (see the family comment);
    callers pass the add-1-smoothed counts (or literal 1 for an
    unpopulated bucket)."""
    B = DSIR_BUCKETS
    return F.round(
        F.log(
            (
                ct_smoothed.cast("double")
                / (F.col("tt") + F.lit(B)).cast("double")
            )
            * (
                (F.col("tr") + F.lit(B)).cast("double")
                / cr_smoothed.cast("double")
            )
        ),
        6,
    ).cast("decimal(18,6)")


@register("dsir_weights", oracle=dsir_weights_sql())
def dsir_weights(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> DataFrame:
    """Per-document DSIR importance weight (hashed-bigram target/raw
    log-likelihood ratio) plus a ``target_leaning`` flag (weight > 0 —
    the document looks more like the reference slice than the rest of
    the corpus). Compose with ``budget_trim``/``training_plan`` to
    select an importance-ranked subset.

    Plan (r17): ONE map-side bigram explode (in-row zip, no join) +
    per-bigram md5, collapsed to per-(doc_id, bucket) COUNTS by a
    map-side partial aggregate BEFORE the shuffle and materialized
    once (localCheckpoint) for its two consumers — the DSIR_BUCKETS-row
    model aggregate and the scoring join. The model reaches the scoring
    rows by BROADCAST with its 1-row totals; the per-doc sum
    partial-aggs on doc_id over Σ c·contrib (exact DECIMAL — identical
    to summing per-bigram contribs). At 100 TB: ONE execution of the
    bigram lineage, a count-compressed shuffle (≤ min(bigrams, B) rows
    per doc), a B-bounded model, zero corpus-to-corpus joins.
    Registered r12 under the driver's hash gate (the R12 registration
    plan) with its full DuckDB oracle (``dsir_weights_sql()``)."""
    g, m, tot, contrib = _dsir_buckets(spark, sf_dir, materialize)
    scored = (
        g.join(F.broadcast(m), "b")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "c", (F.col("c") * contrib).alias("contrib"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.sum("contrib").cast("double").alias("dsir_weight"),
        (F.sum("contrib") > 0).alias("target_leaning"),
    )


def dsir_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the DSIR scoring model from a reference corpus for the
    streaming twin: one materialized (localCheckpoint) row whose
    ``model`` array holds every bucket's contribution in EXACT 1e-6
    integer units — element b + 1 for bucket b, pre-rounded by the
    same ROUND(·,6) the batch op applies, so the twin sums integers and
    reproduces batch scores bit-for-bit. A bucket with zero corpus
    occurrences (an arriving bigram can hash anywhere) holds the
    add-1-smoothed zero-count contribution. Nothing is collected to the
    driver; the twin cross-joins the row by broadcast."""
    _, m, tot, contrib = _dsir_buckets(spark, sf_dir)

    def micro(c):
        return (c * F.lit(1000000)).cast("bigint")

    seen = (
        m.crossJoin(F.broadcast(tot))
        .groupBy("tt", "tr")
        .agg(F.map_from_entries(F.collect_list(F.struct("b", micro(contrib)))).alias("cm"))
    )
    dense = F.transform(
        F.sequence(F.lit(0).cast("bigint"), F.lit(DSIR_BUCKETS - 1).cast("bigint")),
        lambda b: F.coalesce(
            F.try_element_at(F.col("cm"), b),
            micro(_dsir_contrib(F.lit(1), F.lit(1))),
        ),
    )
    return seen.select(dense.alias("model")).localCheckpoint()


# -------- quality-weighted sampling without replacement (r15) --------

# Efraimidis & Spirakis, "Weighted random sampling with a reservoir"
# (IPL 2006): drawing exactly M items WITHOUT replacement with
# inclusion probability proportional to item weight reduces to a
# top-M by the key u_i^(1/w_i) with u_i uniform — equivalently, in
# log space, by ln(u_i)/w_i. The Bernoulli samplers above
# (``mix_keep_col``'s rate test) hit a target rate in EXPECTATION;
# this hits an exact budget M with weight-proportional selection —
# the "pick exactly this many docs, favoring quality" primitive a
# fixed-token-budget curation pass needs.
#
# Determinism (the house no-RNG idiom): u_i derives from the 60-bit
# md5(doc_id) prefix reduced to an exact ppm bucket — u = (2·ppm+1) /
# 2e6, strictly inside (0,1) so LN is finite. Float discipline: the
# LN argument is ONE division of exact integers (identical doubles
# both engines), LN is ROUND(·,6)-closed (the idf/drift pattern), the
# weight is the ROUND(·,6)-closed shared quality formula
# (``quality_expr`` ≡ ``quality_sql`` — the one-formula rule), and
# the key is one more IEEE division of those closed doubles,
# ROUND(·,6); ranking ties break on doc_id. Weight-zero docs are
# excluded up front (their ES key is -inf: never sampled).
#
# Scale shape: map-only weight/key derivation, then a global top-M via
# orderBy+limit — Spark plans TakeOrderedAndProject (per-partition
# partial top-M, M-sized driver merge), NEVER a global sort; the
# M-row rank window runs on the already-collected-size frame.

WEIGHTED_SAMPLE_M = 200


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-M quality-weighted document sample (Efraimidis-Spirakis
    without-replacement keys over the shared quality score) —
    (doc_id, source, n_tokens, weight, es_key, rank). LIBRARY op
    (full DuckDB oracle ``WEIGHTED_SAMPLE_SQL`` re-derives weights,
    keys, and the top-M rank under one value-hash)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    keyed = weighted_keys_frame(docs)
    top = keyed.orderBy(F.desc("es_key"), "doc_id").limit(WEIGHTED_SAMPLE_M)
    w = Window.orderBy(F.desc("es_key"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def weighted_keys_frame(docs: DataFrame) -> DataFrame:
    """The map-only ES key derivation over any (doc_id, source, text)
    frame — (doc_id, source, n_tokens, weight, es_key), weight-zero
    docs excluded. Shared by the batch op (global top-M on top) and
    ``weighted_sample_stream`` (per-batch keys merged into the
    reservoir), so stream ≡ batch is exact by construction."""
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    ppm = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % MIX_PPM
    )
    base = docs.select(
        "doc_id",
        "source",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.round(quality_expr("text"), 6).alias("weight"),
        F.round(
            F.log((F.lit(2) * ppm + 1).cast("double") / F.lit(2.0 * MIX_PPM)),
            6,
        ).alias("_ln_u"),
    ).where(F.col("weight").isNotNull() & (F.col("weight") > 0))
    return base.select(
        "doc_id", "source", "n_tokens", "weight",
        F.round(F.col("_ln_u") / F.col("weight"), 6).alias("es_key"),
    )


def weighted_sample_stream(
    spark: SparkSession, docs_stream: DataFrame, sink,
    m: int = WEIGHTED_SAMPLE_M,
    reservoir_path: str | None = None,
):
    """The RESERVOIR the E-S paper is named for: a running exactly-M
    weighted sample over everything that has arrived. Per micro-batch,
    the batch's ES keys are derived by the IDENTICAL map-only plan
    (``weighted_keys_frame``), its top-M taken distributed
    (TakeOrderedAndProject — only M rows ever reach the driver), and
    merged into the M-row driver-held reservoir (the broadcast-model
    state class: M rows total, independent of stream length).
    ``sink(reservoir_df, batch_id)`` receives the post-merge reservoir
    with ranks after each batch. After replaying a corpus in any batch
    split, the reservoir EQUALS the batch ``weighted_sample`` image —
    keys are deterministic and top-M is associative under merge
    (stream ≡ batch pytest-pinned). Sink contract: fully materialize
    inside the call.

    RESTART semantics: without ``reservoir_path`` the reservoir lives
    only in this call's closure — a restarted query resumes the SOURCE
    from its checkpoint (already-processed batches never replay) but
    would start an empty reservoir, silently forgetting earlier
    batches. Pass ``reservoir_path`` to persist the M-row reservoir
    beside the checkpoint after every merge (CSV via tmp +
    ``os.replace`` — atomic on POSIX, the ingest-watermark protocol;
    rename-FS gate enforced) and reload it on the first batch after a
    restart; merge idempotence makes the persist-then-checkpoint
    ordering safe (a batch replayed because the crash hit before the
    source checkpoint advances re-merges the same tuples — a no-op).
    Restart-resume is pytest-pinned."""
    import csv
    import io

    if reservoir_path is not None:
        storefs.require_rename_fs(reservoir_path, "weighted_sample_stream")
    holder: dict[str, object] = {"rows": [], "loaded": reservoir_path is None}

    def _load() -> list:
        # a NULL source must round-trip as None, not coerce to "" (CSV
        # has no native NULL): column 6 flags it (r15 ADVICE — the ""
        # coercion made a reloaded tuple unequal to its replayed twin,
        # so one doc held two reservoir slots after a restart). Legacy
        # 5-column rows (pre-flag writer) stored BOTH None and "" as
        # "" — decode "" as None there: null-source corpora are the
        # documented case, an actual empty-STRING source is
        # unrepresentable in that format either way.
        p = storefs.strip_file_scheme(reservoir_path)
        if not os.path.exists(f"{p}/reservoir.csv"):
            return []

        def src(r):
            if len(r) > 5:
                return None if r[5] == "1" else r[1]
            return None if r[1] == "" else r[1]

        with open(f"{p}/reservoir.csv", newline="") as f:
            return [
                (int(r[0]), src(r), int(r[2]), float(r[3]), float(r[4]))
                for r in csv.reader(f)
            ]

    def _persist(rows: list) -> None:
        p = storefs.strip_file_scheme(reservoir_path)
        os.makedirs(p, exist_ok=True)
        buf = io.StringIO()
        csv.writer(buf).writerows(
            (t[0], "" if t[1] is None else t[1], t[2], t[3], t[4],
             "1" if t[1] is None else "0")
            for t in rows
        )
        with open(f"{p}/reservoir.csv.tmp", "w", newline="") as f:
            f.write(buf.getvalue())
        os.replace(f"{p}/reservoir.csv.tmp", f"{p}/reservoir.csv")

    def stage(batch_df: DataFrame, batch_id: int) -> DataFrame:
        if not holder["loaded"]:
            holder["rows"] = _load()
            holder["loaded"] = True
        batch_top = (
            weighted_keys_frame(
                batch_df.where(
                    F.col("doc_id").isNotNull() & F.col("text").isNotNull()
                )
            )
            .orderBy(F.desc("es_key"), "doc_id")
            .limit(m)
            .collect()
        )
        # merge keyed BY doc_id, not by whole tuple: ES keys are
        # deterministic per doc, so a replayed/reloaded twin is the
        # same tuple — but keying on doc_id makes one doc occupying
        # two slots structurally impossible even if a representation
        # wobble (the r15 NULL-source CSV coercion) slips through
        cand = {t[0]: t for t in holder["rows"]}
        cand.update({(t := tuple(r))[0]: t for r in batch_top})
        merged = sorted(cand.values(), key=lambda t: (-t[4], t[0]))[:m]
        holder["rows"] = merged
        if reservoir_path is not None:
            _persist(merged)
        return local_rows(
            spark,
            [t + (i + 1,) for i, t in enumerate(merged)],
            "doc_id bigint, source string, n_tokens bigint, "
            "weight double, es_key double, rank int",
        )

    return per_batch(docs_stream, stage, sink)


WEIGHTED_SAMPLE_SQL = f"""
WITH wsd AS (
  SELECT doc_id, source, text,
    list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
wsq AS (
  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tokens,
    CAST(ROUND({quality_sql("ws", "text")}, 6) AS DOUBLE) AS weight,
    {_PPM_SQL} AS ppm
  FROM wsd WHERE len(ws) > 0
),
wsk AS (
  SELECT doc_id, source, n_tokens, weight,
    CAST(ROUND(
      CAST(ROUND(LN(CAST(2 * ppm + 1 AS DOUBLE) / {2.0 * MIX_PPM}), 6)
           AS DOUBLE) / weight, 6) AS DOUBLE) AS es_key
  FROM wsq WHERE weight > 0
)
SELECT doc_id, source, n_tokens, weight, es_key, CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rk
  FROM wsk
) WHERE rk <= {WEIGHTED_SAMPLE_M}
"""

# SEATED in r17 (the executed R17 seat trade): exactly-M
# without-replacement selection has no registered sibling — the
# Bernoulli mix family only hits rates in expectation. Registered
# here (after the oracle constant) for the same reason as
# similarity.margin_pair_mining; the rebind is the decorator form.
weighted_sample = register(
    "weighted_sample", oracle=WEIGHTED_SAMPLE_SQL
)(weighted_sample)


# -------------- leakage-safe (cluster-atomic) train split (r16) -------

# ``train_split`` assigns splits by md5(doc_id) — stable and map-only,
# but near-DUPLICATE documents draw independent buckets, so ~19 of
# every 100 near-dup pairs straddle train/val|test: the eval set then
# contains near-copies of training documents and the measurement
# (``cross_split_leakage``) reports exactly that contamination. The
# fix every serious pipeline applies (and the reason
# cross_split_leakage exists as a gate) is CLUSTER-ATOMIC assignment:
# hash the near-dup cluster's CANONICAL id, not the member's, so a
# whole cluster lands on one side by construction — zero straddling
# pairs, provable, not just measured.
#
# Scale shape: the near-dup component table (``dedup_clusters``'s
# banded-LSH chain + pointer-jumped min-label propagation — the heavy
# lifting, already scale-shaped and hash-gated on its own row) is
# near-dup-doc-sized, i.e. a small fraction of the corpus; assignment
# is one LEFT JOIN of the corpus id column against it plus map-only
# md5 CASE expressions. ``moved`` marks the docs whose split CHANGED
# vs the doc-level hash — the exact rows the naive split would have
# leaked (or displaced).

CLUSTER_SPLIT_SQL: str  # assigned below (composes dedup's pair SQL)


def _cluster_split_sql() -> str:
    # compose dedup's OWN closure query verbatim (one-definition rule,
    # r16 review: re-inlining the cand/edges/reach CTEs here would let
    # a clustering tweak silently drift this oracle from the engine
    # side, which calls dedup_clusters directly)
    from trisk_spark.functions.dedup import DEDUP_CLUSTERS_SQL

    return f"""
WITH comp AS (SELECT * FROM ({DEDUP_CLUSTERS_SQL})),
d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL),
j AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
  FROM d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, canonical_id,
  {_split_case_sql("canonical_id")} AS split,
  CAST(({_split_case_sql("canonical_id")})
       <> ({_split_case_sql("doc_id")}) AS INT) AS moved
FROM j
"""


def cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: every document is
    hashed by its near-dup cluster's CANONICAL id (the component min;
    its own id for singletons), so no near-duplicate pair can straddle
    a split boundary — the cluster-atomic counterpart of
    ``train_split``, with ``moved`` flagging where the two disagree.
    LIBRARY op: full DuckDB oracle (``CLUSTER_SPLIT_SQL`` re-derives
    the pair kernel, the transitive closure, and both split CASEs
    under one value-hash); the zero-straddling invariant is
    pytest-pinned on a planted-duplicate fixture."""
    from trisk_spark.functions.dedup import dedup_clusters

    comp = dedup_clusters(spark, sf_dir).select(
        "doc_id", F.col("component").alias("canonical_id")
    )
    j = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
        )
    )
    canon = _split_label(F.col("canonical_id"))
    own = _split_label(F.col("doc_id"))
    return j.select(
        "doc_id",
        "canonical_id",
        canon.alias("split"),
        (canon != own).cast("int").alias("moved"),
    )


CLUSTER_SPLIT_SQL = _cluster_split_sql()
