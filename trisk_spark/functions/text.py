"""Text analysis over the ``documents`` table: token counting, quality
scoring, language ID, fingerprinting. All pure DataFrame expressions
(JVM-side, whole-stage codegen — no Python in the hot path), each with
an exact DuckDB oracle.

At 100 TB these are embarrassingly parallel scans: no shuffle at all
except where grouped output is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import (
    cached_cols,
    local_rows,
    spread_narrow_scan,
    table,
)
from trisk_spark.registry import register
from trisk_spark.streaming.sinks import per_batch

# ------------------------------------------------------- token count --

TOKEN_COUNT_SQL = """
SELECT
  doc_id,
  CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_actual
FROM documents
"""


@register("token_count", oracle=TOKEN_COUNT_SQL)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + char count per document (map-only)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


# ----------------------------------------------------- quality score --

_STOPWORDS = ("the", "a", "of", "and")
_SW_SQL = "('" + "', '".join(_STOPWORDS) + "')"


def quality_sql(ws: str = "ws", text: str = "text") -> str:
    """The combined quality score as a DuckDB SQL fragment over a
    pre-split non-empty word-list column ``ws`` (the
    ``list_filter(string_split(text, ' '), w -> w <> '')`` idiom) —
    the ONE SQL mirror of ``quality_expr``, composed by every oracle
    that gates on quality (``sampling.CURATION_MANIFEST_SQL``,
    ``sampling.BUDGET_TRIM_SQL``, ``admission._admission_report_sql``)
    so a formula tweak can never drift one oracle from the Spark gate
    (r13 ADVICE). Caller guarantees ``len(ws) > 0`` (WHERE floor) or
    wraps the fragment in its own CASE/COALESCE, as the admission
    oracle does."""
    return (
        f"0.5 * LEAST(len({ws}) / 64.0, 1.0)\n"
        f"      + 0.3 * (1.0 - CAST(len(list_filter({ws}, w -> w IN "
        f"{_SW_SQL})) AS DOUBLE) / len({ws}))\n"
        f"      + 0.2 * LEAST((CAST(length({text}) - len({ws}) + 1 "
        f"AS DOUBLE) / len({ws})) / 8.0, 1.0)"
    )

QUALITY_SCORE_SQL = f"""
SELECT
  doc_id,
  n_tokens,
  CAST(ROUND(avg_word_len, 4) AS DOUBLE) AS avg_word_len,
  CAST(ROUND(stopword_ratio, 4) AS DOUBLE) AS stopword_ratio,
  CAST(ROUND(0.5 * LEAST(n_tokens / 64.0, 1.0)
       + 0.3 * (1.0 - stopword_ratio)
       + 0.2 * LEAST(avg_word_len / 8.0, 1.0), 4) AS DOUBLE) AS quality_score
FROM (
  SELECT
    doc_id,
    CAST(len(ws) AS BIGINT) AS n_tokens,
    CASE WHEN len(ws) > 0 THEN
      CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws) END AS avg_word_len,
    CASE WHEN len(ws) > 0 THEN
      CAST(len(list_filter(ws, w -> w IN {_SW_SQL})) AS DOUBLE) / len(ws) END AS stopword_ratio
  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents)
)
"""


@register("quality_score", oracle=QUALITY_SCORE_SQL)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: token count, mean word length,
    stopword ratio, combined score in [0,1] (map-only, no shuffle)."""
    docs = table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    # word-less docs (empty/whitespace/NULL text): metrics are NULL —
    # guarded on both engines (under ANSI mode a bare /0 would throw).
    # The combined score is the SHARED quality_expr (also the gate in
    # curation_manifest) so the published score cannot drift from it.
    has_words = F.size(ws) > 0
    return docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.round(
            F.when(
                has_words,
                (F.length("text") - F.size(ws) + 1).cast("double") / F.size(ws),
            ),
            4,
        ).alias("avg_word_len"),
        F.round(
            F.when(
                has_words,
                F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).cast("double")
                / F.size(ws),
            ),
            4,
        ).alias("stopword_ratio"),
        F.round(quality_expr("text"), 4).alias("quality_score"),
    )


# ---------------------------------------------------------- lang id --

_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}


def _hits_sql(lang: str) -> str:
    inlist = "('" + "', '".join(_MARKERS[lang]) + "')"
    return f"len(list_filter(string_split(text, ' '), w -> w IN {inlist}))"


LANG_ID_SQL = f"""
SELECT doc_id, lang AS labeled_lang,
  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
       WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
       WHEN fr_hits > 0 THEN 'fr'
       ELSE 'unknown' END AS predicted_lang
FROM (
  SELECT doc_id, lang,
    {_hits_sql('en')} AS en_hits,
    {_hits_sql('de')} AS de_hits,
    {_hits_sql('fr')} AS fr_hits
  FROM documents
)
"""


@register("lang_id", oracle=LANG_ID_SQL)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family, map-only).
    The labeled `lang` column rides along for downstream evaluation."""
    docs = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")

    def hits(lang: str):
        return F.size(F.filter(ws, lambda w: w.isin(*_MARKERS[lang])))

    d = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits("en").alias("en_hits"),
        hits("de").alias("de_hits"),
        hits("fr").alias("fr_hits"),
    )
    pred = (
        F.when(
            (F.col("en_hits") >= F.col("de_hits"))
            & (F.col("en_hits") >= F.col("fr_hits"))
            & (F.col("en_hits") > 0),
            "en",
        )
        .when((F.col("de_hits") >= F.col("fr_hits")) & (F.col("de_hits") > 0), "de")
        .when(F.col("fr_hits") > 0, "fr")
        .otherwise("unknown")
    )
    return d.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


# ----------------------------------------------------- fingerprinting --

# DuckDB array_to_string([]) is NULL, Spark concat_ws([]) is '' —
# coalesce so word-less docs agree; NULL text → NULL bag on both.
DOC_FINGERPRINT_SQL = """
SELECT
  doc_id,
  md5(lower(text)) AS content_md5,
  CASE WHEN text IS NOT NULL THEN
    md5(coalesce(array_to_string(list_sort(list_distinct(
          list_filter(string_split(lower(text), ' '), w -> w <> ''))), ' '), ''))
  END AS bag_md5
FROM documents
"""


@register("doc_fingerprint", oracle=DOC_FINGERPRINT_SQL)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic fingerprints per doc: exact-content md5 and an
    order-insensitive bag-of-words md5 (word-reorder-invariant dedup
    key). Map-only, JVM-side."""
    docs = table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    # NULL text → NULL bag (concat_ws would silently fold NULL to ''
    # and hash it, while the oracle's array_to_string(NULL) stays NULL)
    bag = F.when(
        F.col("text").isNotNull(),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(ws)))),
    )
    return docs.select(
        "doc_id",
        F.md5(F.lower("text")).alias("content_md5"),
        bag.alias("bag_md5"),
    )


# ------------------------------------------- corpus n-gram frequency --

TOP_NGRAMS_K = 100

def _ngram_counts_sql() -> str:
    # RAW shingles (duplicates preserved): COUNT(*) is duplicate-
    # sensitive, so the oracle must count every occurrence exactly like
    # the Spark side's shingles(distinct=False) — the distinct CTE
    # would silently compute document frequency instead.
    from trisk_spark.functions.dedup import SHINGLES_RAW_SQL

    return f"""
WITH sh AS ({SHINGLES_RAW_SQL}),
freq AS (SELECT shingle, COUNT(*) AS cnt FROM sh GROUP BY shingle)
SELECT shingle, cnt FROM freq
ORDER BY cnt DESC, shingle ASC LIMIT {TOP_NGRAMS_K}
"""


def _register_ngram_counts() -> None:
    from trisk_spark.functions.dedup import shingles

    @register("ngram_counts", oracle=_ngram_counts_sql())
    def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-level n-gram frequency: the top-K 5-gram shingles by
        occurrence count — the standard boilerplate / contamination
        probe over a training corpus (hot n-grams betray templates and
        benchmark leakage). Deterministic order: (cnt DESC, shingle).

        Plan: one shuffle on the integer shingle id with map-side
        partial counts, then Spark's TakeOrdered top-K — no global
        sort; at 100 TB the heavy-hitter set this surfaces is exactly
        what ngram_jaccard's hot-shingle cut consumes."""
        docs = table(spark, sf_dir, "documents")
        sh = shingles(docs, distinct=False)
        return (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("shingle"))
            .limit(TOP_NGRAMS_K)
        )


_register_ngram_counts()


# --------------------------------------------- repetition ratio ------

def _repetition_ratio_sql() -> str:
    # RAW shingles: the ratio is 1 - distinct/total, so the oracle must
    # see raw occurrences — over the distinct CTE, COUNT(*) ==
    # COUNT(DISTINCT shingle) and the metric is identically 0.
    from trisk_spark.functions.dedup import SHINGLES_RAW_SQL

    return f"""
WITH sh AS ({SHINGLES_RAW_SQL})
SELECT doc_id,
  COUNT(*) AS n_ngrams,
  CAST(ROUND(1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*), 4)
       AS DOUBLE) AS repetition_ratio
FROM sh GROUP BY doc_id
"""


def _register_repetition_ratio() -> None:
    from trisk_spark.functions.dedup import shingles

    @register("repetition_ratio", oracle=_repetition_ratio_sql())
    def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Within-document repetition: fraction of duplicate 5-gram
        shingles (1 - distinct/total) — the Gopher-style quality rule
        that flags boilerplate-heavy or looping documents for removal
        before training.

        Plan: one shuffle on doc_id; count + count-distinct in a single
        grouped aggregate over integer shingle ids."""
        docs = table(spark, sf_dir, "documents")
        sh = shingles(docs, distinct=False)
        return sh.groupBy("doc_id").agg(
            F.count("*").alias("n_ngrams"),
            F.round(
                1.0 - F.countDistinct("shingle").cast("double") / F.count("*"), 4
            ).alias("repetition_ratio"),
        )


_register_repetition_ratio()


# ------------------------------------------- per-source curation ----

SOURCE_QUALITY_SQL = """
SELECT source,
  COUNT(*) AS n_docs,
  CAST(ROUND(AVG(CAST(n_chars AS DOUBLE)), 2) AS DOUBLE) AS avg_chars,
  COUNT(DISTINCT lang) AS n_langs,
  CAST(ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 4)
       AS DOUBLE) AS dup_rate
FROM documents
GROUP BY source
"""


@register("source_quality_rollup", oracle=SOURCE_QUALITY_SQL)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: document count, mean length,
    language spread, and exact-duplicate rate — the first query any
    corpus curator runs to decide which sources to keep, downsample, or
    drop.

    Plan: one shuffle on source; the dup rate rides the same grouped
    aggregate as a COUNT DISTINCT over 32-byte content hashes (hash
    first — the shuffle never moves document text)."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            1.0 - F.countDistinct(F.md5("text")).cast("double") / F.count("*"), 4
        ).alias("dup_rate"),
    )


# ---------------------------------------- PII redaction (curation) ----

# Training-data cleaning step: scrub emails / phone numbers / IPv4
# addresses / SSN-shaped ids before a corpus ships. The synthetic
# documents corpus contains no natural PII, so the query derives a
# deterministic contact line per document from (doc_id) — both engines
# derive the identical string, which gives the redaction regexes real
# matches to find (same derived-view pattern as the nexmark family).
#
# Regex dialect note: the patterns below use only \d, \b, character
# classes, and bounded repetition — semantics identical between Java
# regex (Spark) and RE2 (DuckDB); no lookaround (RE2 has none).
# Each count runs on the PREVIOUS redaction stage's output (email count
# on raw, ssn count after email redaction, ...) so counts always equal
# the number of tags that stage inserts — a phone-shaped email local
# part ('555-1234@spam.example') is consumed by the email stage and
# never double-counted as a phone.

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

PII_REDACT_SQL = f"""
WITH aug AS (
  SELECT doc_id,
    coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@mail.example.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
      || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
      || '.' || CAST((doc_id // 13) % 256 AS VARCHAR)
      || ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      || '-' || lpad(CAST((doc_id // 3) % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
),
stages AS (
  SELECT doc_id, t,
    regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM aug
),
stages2 AS (
  SELECT doc_id, t, t1,
    regexp_replace(t1, '{_PII_SSN}', '<SSN>', 'g') AS t2
  FROM stages
),
stages3 AS (
  SELECT doc_id, t, t1, t2,
    regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM stages2
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(t1, '{_PII_SSN}')) AS INT) AS n_ssns,
  CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS INT) AS n_phones,
  CAST(len(regexp_extract_all(t3, '{_PII_IP}')) AS INT) AS n_ips,
  regexp_replace(t3, '{_PII_IP}', '<IP>', 'g') AS redacted
FROM stages3
"""


@register("pii_redact", oracle=PII_REDACT_SQL)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count + redact emails, SSN-shaped ids, phone
    numbers, and IPv4 addresses per document. Map-only JVM regexes
    (whole-stage codegen, zero shuffle) — at 100 TB this is an
    embarrassingly parallel scan, the cheapest possible shape.

    Redaction order (email -> ssn -> phone -> ip) prevents the phone
    pattern from eating SSN tails; each stage's count runs on the
    previous stage's output so counts equal inserted tags even when
    patterns overlap in raw text."""
    return pii_scrub(table(spark, sf_dir, "documents"))


def pii_scrub(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Core PII scrub over any (doc_id, text) DataFrame — batch or
    streaming (pure column expressions, so the same plan runs under
    Structured Streaming unchanged; see streaming test). ``keep`` names
    pass-through columns to retain (e.g. a partition key for the
    output writer); names already produced by the scrub (doc_id,
    n_emails, n_ssns, n_phones, n_ips, redacted) are filtered out so a
    caller passing keep=("doc_id",) cannot create duplicate columns."""
    _OUT = {"doc_id", "n_emails", "n_ssns", "n_phones", "n_ips", "redacted"}
    keep = tuple(c for c in keep if c not in _OUT)
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), s(did), F.lit("@mail.example.com tel 555-"),
        F.lpad(s(did % 10000), 4, "0"),
        F.lit(" ip 10."), s(did % 256),
        F.lit("."), s(F.expr("(doc_id DIV 7) % 256")),
        F.lit("."), s(F.expr("(doc_id DIV 13) % 256")),
        F.lit(" ssn "), F.lpad(s(did % 1000), 3, "0"),
        F.lit("-"), F.lpad(s(did % 100), 2, "0"),
        F.lit("-"), F.lpad(s(F.expr("(doc_id DIV 3) % 10000")), 4, "0"),
    )
    # each stage's count runs on the previous stage's OUTPUT so counts
    # equal inserted tags even when patterns overlap in raw text (an
    # email with a phone-shaped local part is only an email)
    t1 = F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, _PII_SSN, "<SSN>")
    t3 = F.regexp_replace(t2, _PII_PHONE, "<PHONE>")
    red = F.regexp_replace(t3, _PII_IP, "<IP>")
    return docs.select(
        "doc_id",
        *keep,
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(t1, F.lit(_PII_SSN)).cast("int").alias("n_ssns"),
        F.regexp_count(t2, F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(t3, F.lit(_PII_IP)).cast("int").alias("n_ips"),
        red.alias("redacted"),
    )


# ------------------------------------- URL normalization (curation) ----

# Canonicalize document URLs before dedup / per-domain rollups: strip
# fragments, lowercase scheme+host, drop "www.", drop default ports,
# remove tracking params (utm_*, ref), trim dangling separators. The
# corpus has no URL column, so the query derives a deterministically
# messy URL per document from (doc_id, source, lang) — identical on
# both engines — then normalizes it. Map-only; no lookaround regexes
# (RE2-safe); replacement backrefs are $1 in Spark vs \\1 in DuckDB.

URL_NORMALIZE_SQL = r"""
WITH raw AS (
  SELECT doc_id,
    'HTTPS://WWW.' || upper(coalesce(source, 'unknown'))
      || '.Example.COM:443/Docs/' || CAST(doc_id AS VARCHAR)
      || '/index.html?utm_source=feed&ref=' || coalesce(lang, 'xx')
      || '&id=' || CAST(doc_id AS VARCHAR)
      || '&utm_campaign=Q' || CAST(doc_id % 4 + 1 AS VARCHAR)
      || '#section-' || CAST(doc_id % 7 AS VARCHAR) AS url_raw
  FROM documents
),
s1 AS (SELECT doc_id, url_raw,
         regexp_replace(url_raw, '#.*$', '') AS u FROM raw),
s2 AS (SELECT doc_id, url_raw,
         lower(regexp_extract(u, '^[^/]*//[^/]*'))
           || substr(u, length(regexp_extract(u, '^[^/]*//[^/]*')) + 1) AS u
       FROM s1),
s3 AS (SELECT doc_id, url_raw,
         regexp_replace(regexp_replace(u, '^(https?://)www\.', '\1'),
                        '^(https://[^/:]*):443(/|\?|$)', '\1\2') AS u
       FROM s2),
s4 AS (SELECT doc_id, url_raw,
         regexp_replace(regexp_replace(regexp_replace(u,
           '([?&])((utm_[a-z]+|ref)=[^&]*&)+', '\1', 'g'),
           '[?&](utm_[a-z]+|ref)=[^&]*$', '', 'g'),
           '\?$', '') AS u
       FROM s3)
SELECT doc_id, url_raw, u AS url_norm,
  regexp_extract(u, '^[a-z]+://([^/:?#]+)', 1) AS url_host
FROM s4
"""


@register("url_normalize", oracle=URL_NORMALIZE_SQL)
def url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization: fragment strip, scheme+host lowercase
    (path case preserved per RFC 3986), www-strip, default-port strip,
    tracking-param removal (utm_*, ref), dangling-separator cleanup.
    Map-only JVM regexes, zero shuffle — scan-shaped at any scale."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    raw = F.concat(
        F.lit("HTTPS://WWW."), F.upper(F.coalesce(F.col("source"), F.lit("unknown"))),
        F.lit(".Example.COM:443/Docs/"), s(did),
        F.lit("/index.html?utm_source=feed&ref="),
        F.coalesce(F.col("lang"), F.lit("xx")),
        F.lit("&id="), s(did),
        F.lit("&utm_campaign=Q"), s(did % 4 + 1),
        F.lit("#section-"), s(did % 7),
    )
    u = normalize_url_col(raw)
    return docs.select(
        "doc_id",
        raw.alias("url_raw"),
        u.alias("url_norm"),
        F.regexp_extract(u, r"^[a-z]+://([^/:?#]+)", 1).alias("url_host"),
    )


def normalize_url_col(raw):
    """The normalization chain as a reusable Column transform (unit-
    tested on crafted URLs the corpus derivation can't produce)."""
    u = F.regexp_replace(raw, r"#.*$", "")
    head = F.regexp_extract(u, r"^[^/]*//[^/]*", 0)
    u = F.concat(F.lower(head), F.substring(u, F.length(head) + 1, F.lit(2**31 - 1)))
    u = F.regexp_replace(u, r"^(https?://)www\.", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/:]*):443(/|\?|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:]*):80(/|\?|$)", r"$1$2")
    # anchored to a [?&] boundary so 'href='/'pref=' never match, and
    # matching a RUN of tracking params so consecutive ones go in one
    # replacement (replaceAll resumes after the match, so an unanchored
    # per-param regex would skip the param right after a removed one)
    u = F.regexp_replace(u, r"([?&])((utm_[a-z]+|ref)=[^&]*&)+", r"$1")
    u = F.regexp_replace(u, r"[?&](utm_[a-z]+|ref)=[^&]*$", "")
    return F.regexp_replace(u, r"\?$", "")


# -------------------------------------- per-source length percentiles --

LENGTH_PERCENTILES_SQL = """
SELECT source,
  COUNT(*) AS n_docs,
  CAST(ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 2) AS DOUBLE) AS p50_chars,
  CAST(ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 2) AS DOUBLE) AS p90_chars,
  CAST(ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.99), 2) AS DOUBLE) AS p99_chars
FROM documents
GROUP BY source
"""


@register("length_percentiles", oracle=LENGTH_PERCENTILES_SQL)
def length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution (p50/p90/p99) — the
    curation signal behind length-based filtering thresholds.

    Exact percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    both linear-interpolating) so the oracle matches bit-for-bit after
    rounding. Plan: one shuffle on source. At 100 TB exact per-group
    percentiles buffer each group's values — swap in
    ``percentile_approx`` (t-digest, mergeable map-side) when groups
    outgrow executor memory; the sketch has no exact SQL oracle, which
    is why the registered query keeps the exact form."""
    docs = table(spark, sf_dir, "documents")
    v = F.col("n_chars").cast("double")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile(v, 0.5), 2).alias("p50_chars"),
        F.round(F.percentile(v, 0.9), 2).alias("p90_chars"),
        F.round(F.percentile(v, 0.99), 2).alias("p99_chars"),
    )


# ----------------------------------------------- document chunking ----

#: chunk size and stride in whitespace tokens (overlap = CHUNK - STRIDE)
CHUNK_TOKENS = 512
CHUNK_STRIDE = 384

DOC_CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
n AS (SELECT doc_id, ws, len(ws) AS nt FROM w WHERE len(ws) > 0),
idx AS (
  SELECT doc_id, ws, nt,
    unnest(range(0, 1 + CASE WHEN nt > {CHUNK_TOKENS}
      THEN (nt - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
      ELSE 0 END)) AS ci
  FROM n
)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
  CAST(ci * {CHUNK_STRIDE} + 1 AS BIGINT) AS tok_start,
  CAST(least(nt - ci * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS BIGINT)
    AS n_chunk_tokens,
  array_to_string(list_slice(ws, CAST(ci * {CHUNK_STRIDE} + 1 AS INT),
    CAST(least(nt, ci * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS INT)), ' ')
    AS chunk_text
FROM idx
"""


@register("doc_chunk", oracle=DOC_CHUNK_SQL)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for embedding/RAG pipelines: each
    document becomes overlapping CHUNK_TOKENS-token chunks advancing by
    CHUNK_STRIDE tokens (last chunk keeps the tail, word-less docs emit
    nothing). Map-side: tokenize once per row, explode the chunk-index
    range, slice the token array — no shuffle, no Python; at 100 TB the
    output feeds a partitioned writer or the embedding stage directly."""
    docs = table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: w != "")
    d = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") > 0)
    d = d.withColumn("nt", F.size("ws").cast("bigint"))
    n_extra = F.when(
        F.col("nt") > CHUNK_TOKENS,
        F.expr(f"(nt - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) DIV {CHUNK_STRIDE}"),
    ).otherwise(F.lit(0))
    d = d.withColumn("ci", F.explode(F.sequence(F.lit(0), n_extra.cast("int"))))
    start = (F.col("ci").cast("bigint") * CHUNK_STRIDE).alias("s0")
    d = d.withColumn("s0", start)
    return d.select(
        "doc_id",
        F.col("ci").cast("bigint").alias("chunk_idx"),
        (F.col("s0") + 1).alias("tok_start"),
        F.least(F.col("nt") - F.col("s0"), F.lit(CHUNK_TOKENS).cast("bigint"))
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("ws"),
                (F.col("s0") + 1).cast("int"),
                F.least(
                    F.col("nt") - F.col("s0"), F.lit(CHUNK_TOKENS).cast("bigint")
                ).cast("int"),
            ),
        ).alias("chunk_text"),
    )


def quality_expr(text_col):
    """The combined quality score as a single reusable Column (same
    formula as quality_score, unrounded): 0.5*token-count saturation +
    0.3*(1 - stopword ratio) + 0.2*word-length saturation. NULL for
    word-less docs (guarded — under ANSI a bare /0 would throw).
    String input memoizes the built tree (``cached_cols`` — the
    stopword isin list alone is dozens of py4j round trips)."""
    if isinstance(text_col, str):
        return cached_cols(
            f"text.quality.{text_col}",
            lambda: quality_expr(F.col(text_col)),
        )
    ws = F.filter(F.split(text_col, " "), lambda w: w != "")
    nt = F.size(ws)
    awl = (F.length(text_col) - nt + 1).cast("double") / nt
    swr = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).cast("double") / nt
    return F.when(
        nt > 0,
        0.5 * F.least(nt / 64.0, F.lit(1.0))
        + 0.3 * (1.0 - swr)
        + 0.2 * F.least(awl / 8.0, F.lit(1.0)),
    )


# --------------------------------------- BPE-ish token estimation ----

# GPT-2-style pre-tokenizer pattern, restricted to the RE2∩Java dialect
# (ASCII classes, ordered alternation, no lookaround, no unicode
# property classes): contractions, space-prefixed letter runs, digit
# runs, punctuation runs, whitespace runs. Counts are leftmost-first
# non-overlapping on both engines. Whitespace is an EXPLICIT class —
# shorthand \s itself is dialect-split (Java's includes \x0B, RE2's
# does not), which would shift counts on vertical-tab text.
_BPE_WS = r" \t\n\r\f"
_BPE_PAT = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+"
    rf"| ?[^A-Za-z0-9{_BPE_WS}']+|[{_BPE_WS}]+"
)
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")

BPE_TOKEN_SQL = f"""
SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
    AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS BIGINT)
    AS n_bpe_tokens,
  CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> '')) > 0 THEN
    CAST(ROUND(CAST(len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS DOUBLE)
      / len(list_filter(string_split(text, ' '), w -> w <> '')), 4) AS DOUBLE)
  END AS bpe_per_word
FROM documents
"""


@register("bpe_token_estimate", oracle=BPE_TOKEN_SQL)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token-count estimate per document: a GPT-2-style
    pre-tokenizer regex (contractions / letter runs / digit runs /
    punctuation runs) counted alongside the whitespace count, plus the
    tokens-per-word ratio — the number a training-cost or packing
    estimate actually needs (whitespace counts undercount code and
    punctuation-heavy text badly). Map-only JVM regex, zero shuffle."""
    docs = table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    bpe = F.regexp_count(F.col("text"), F.lit(_BPE_PAT))
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("n_ws_tokens"),
        bpe.cast("bigint").alias("n_bpe_tokens"),
        F.when(ws > 0, F.round(bpe.cast("double") / ws, 4)).alias("bpe_per_word"),
    )


# ------------------------------- bigram-LM quality scoring (curation) --

# KenLM-lite quality filtering: score every document by its average
# add-one-smoothed bigram log-probability under a reference language
# model counted from a deterministic slice of the corpus itself
# (doc_id % 10 == 0 — the stand-in for "the high-quality reference
# corpus" a real pipeline trains its filter LM on). Standard curation
# stage: low-scoring documents are gibberish / boilerplate candidates.
#
# Float determinism: each pair's logp is ln of an exactly-representable
# rational of two BIGINT counts — both engines hand ln the identical
# double (integer→double conversion and IEEE division are exact /
# correctly rounded), so the only cross-engine risk is ln's final ulp
# (neither Java's Math.log nor libm guarantees correct rounding). Each
# logp is therefore ROUNDed to 6 decimals and summed as DECIMAL (exact,
# order-free — the house float-agg pattern), which collapses a 1-ulp
# wobble everywhere except the measure-zero case of a true value within
# one ulp of a 0.5e-6 boundary.

LM_REF_MOD = 10  # reference slice: doc_id % LM_REF_MOD == 0


def _bigram_lm_sql(extra: tuple[str, ...] = ()) -> str:
    """The bigram-LM oracle, parameterized by extra per-document key
    columns carried through the scoring aggregate (e.g. ``lang`` for
    the perplexity-bucket sampler). The extras ride the toks CTE and
    the final GROUP BY, so the grouping on both engines is identical
    BY CONSTRUCTION even if a corpus held duplicate doc_ids — the same
    contract as the Spark kernel ``_lm_scored``."""
    xs = "".join(f", {c}" for c in extra)
    xb = "".join(f", b.{c}" for c in extra)
    return f"""
WITH toks AS (
  SELECT doc_id{xs},
    list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
bi AS (
  SELECT doc_id{xs}, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id{xs}, t, unnest(range(1, len(t))) AS i FROM toks)
),
refbi AS (SELECT * FROM bi WHERE ((doc_id % {LM_REF_MOD}) + {LM_REF_MOD}) % {LM_REF_MOD} = 0),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM refbi GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM refbi GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM (
    SELECT unnest(t) AS w FROM toks
    WHERE ((doc_id % {LM_REF_MOD}) + {LM_REF_MOD}) % {LM_REF_MOD} = 0)
),
scored AS (
  SELECT b.doc_id{xb},
    CAST(ROUND(LN(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                  / CAST(coalesce(c1.c1, 0) + vocab.v AS DOUBLE)), 6)
         AS DECIMAL(18, 6)) AS logp
  FROM bi b
  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
  LEFT JOIN c1 ON b.w1 = c1.w1
  CROSS JOIN vocab
  WHERE vocab.v > 0
),
agg AS (
  SELECT doc_id{xs}, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
    CAST(SUM(logp) * 1000000 AS BIGINT) AS mu
  FROM scored GROUP BY doc_id{xs}
)
SELECT doc_id{xs}, n_bigrams,
  CAST((mu - (((mu % n_bigrams) + n_bigrams) % n_bigrams)) // n_bigrams
       AS DOUBLE) / 1000000.0 AS lm_score
FROM agg
"""


BIGRAM_LM_SQL = _bigram_lm_sql()


def _lm_tokens() -> "F.Column":
    return cached_cols(
        "text.lm_tokens",
        lambda: F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
            lambda w: w != "",
        ),
    )


def _lm_pairs(f) -> Column:
    """``f(w1, w2)`` over each adjacent pair of the token array column
    ``t``, in-row: the array zipped with its own 1-shifted slice."""
    return F.zip_with(
        F.expr("slice(t, 1, greatest(size(t) - 1, 0))"),
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
        f,
    )


def _lm_bigrams(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *extra, w1, w2) per adjacent token pair — map-side: the
    bigram list is built inside the row (``_lm_pairs``), then exploded;
    no join, no shuffle. Extra per-document key columns (e.g. ``lang``)
    ride the explode so downstream grouping never needs a
    corpus-to-corpus join-back."""
    pairs = _lm_pairs(lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    return (
        docs.where(F.col("doc_id").isNotNull())
        .select("doc_id", *extra, _lm_tokens().alias("t"))
        .select("doc_id", *extra, F.explode(pairs).alias("p"))
        .select(
            "doc_id", *extra,
            F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"),
        )
    )


# Broadcast-model ceiling for the LM tables: c12 has at most one row
# per reference-slice bigram, so total reference TOKENS is a free upper
# bound on the model row count (c12 rows ≤ bigrams < tokens; c1 rows ≤
# c12 rows). Calibrated to the BROADCAST BUILD, not driver OOM (r9
# VERDICT "what's wrong" #3): at ~30-60 B/row a 10M-row bigram table
# is a few-hundred-MB hash relation — near the practical
# broadcast-join ceiling, an order of magnitude before the driver
# would actually die. Past that the model must ship as files (the
# KenLM deployment shape), not as an in-plan broadcast, and the query
# fails LOUDLY instead of silently building an over-broadcast plan.
LM_MAX_MODEL_ROWS = 10_000_000


@register("bigram_lm_score", oracle=BIGRAM_LM_SQL)
def bigram_lm_score(
    spark: SparkSession, sf_dir: str, max_model_rows: int = LM_MAX_MODEL_ROWS
) -> DataFrame:
    """Bigram-LM quality score per document: average add-one-smoothed
    log-probability ln((C(w1,w2)+1) / (C(w1)+V)) over the document's
    adjacent lowercased-token pairs, with counts from the reference
    slice (doc_id % LM_REF_MOD == 0) and V = the reference vocabulary
    size. Documents with fewer than two tokens carry no bigrams and are
    absent (no score is not score 0).

    Plan: bigram extraction is map-side (in-row zip + explode — no
    self-join); the two LM count tables and the 1-row vocab count are
    vocabulary-sized and BROADCAST to the scoring scan, so scoring
    joins move no corpus text; the only corpus-sized shuffle is the
    final per-doc partial-agg SUM/COUNT of (decimal, bigint). At 100 TB
    the LM tables are built once from the reference slice and reused —
    exactly how a KenLM-based filter deploys."""
    docs = table(spark, sf_dir, "documents")
    return _lm_scored(docs, _lm_model(docs, max_model_rows))


def _within_ceiling(n_col: str, ceiling: int, holds: str, ship: str) -> Column:
    """Filter condition of a broadcast-model size guard: ``assert_true``
    fails the job JVM-side when ``n_col`` (a token count that
    upper-bounds the model's rows) exceeds ``ceiling``. ``holds`` and
    ``ship`` complete the fail-loud message."""
    return F.assert_true(
        F.col(n_col) <= F.lit(ceiling),
        F.concat(
            F.lit(f"{holds} "),
            F.col(n_col).cast("string"),
            F.lit(
                f" tokens > ceiling {ceiling}; ship {ship} as files "
                "instead of an in-plan broadcast"
            ),
        ),
    ).isNull()


def _lm_model(docs: DataFrame, max_model_rows: int = LM_MAX_MODEL_ROWS):
    """The bigram LM trained on the reference slice of ``docs``: the
    (w1, w2, c12) and (w1, c1) count tables and the 1-row vocabulary
    size (v) that ``_lm_scored`` scores against. Shared by
    ``bigram_lm_score``, the perplexity-bucket sampler and the
    streaming twins (which build it once and score each micro-batch)."""
    ref = _lm_bigrams(docs).where(F.pmod(F.col("doc_id"), F.lit(LM_REF_MOD)) == 0)
    c12 = ref.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # C(w1) = sum over w2 of C(w1, w2): aggregate the (small) c12 table
    # instead of re-scanning the corpus — one fewer scan, and its
    # shuffle moves vocabulary-sized rows, not bigrams
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # vocab counts distinct tokens at EVERY position (matching the
    # oracle's unnest(t)) — counting over bigram members would drop the
    # token of a single-token reference doc, a real divergence pinned
    # by the hostile-corpus fixture's solo-token ref doc
    # The vocab aggregate doubles as the MODEL-SIZE GUARD: n_tok (total
    # reference tokens, free in the same scan) upper-bounds the c12/c1
    # row counts, and assert_true fails the job JVM-side if it exceeds
    # the broadcast ceiling — no extra scan, no driver round-trip (the
    # filter sits on the 1-row aggregate, so it costs one evaluation)
    vocab = (
        docs.where(F.col("doc_id").isNotNull())
        .where(F.pmod(F.col("doc_id"), F.lit(LM_REF_MOD)) == 0)
        .select(F.explode(_lm_tokens()).alias("w"))
        .agg(F.countDistinct("w").alias("v"), F.count("*").alias("n_tok"))
        .where(
            _within_ceiling(
                "n_tok",
                max_model_rows,
                "bigram LM model too large to broadcast: reference slice holds",
                "the LM counts",
            )
        )
        .select("v")
    )
    return c12, c1, vocab


def _lm_scored(docs: DataFrame, model, extra: tuple[str, ...] = ()) -> DataFrame:
    """The bigram-LM scoring stage: (doc_id, *extra, n_bigrams,
    lm_score) for ``docs`` under ``model`` (``_lm_model``), with the
    exact-decimal-grid mean documented above. Extra key columns ride
    the bigram explode and the final grouping — matching
    ``_bigram_lm_sql(extra)`` BY CONSTRUCTION (same grouping on both
    engines even under duplicate doc_ids), and costing no corpus
    join-back to re-attach them."""
    c12, c1, vocab = model
    logp = F.round(
        F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    # v > 0 guard: with an empty reference slice there IS no LM —
    # emit nothing rather than ln((c+1)/0) = ln(inf), which would
    # crash the decimal cast on both engines
    scored = (
        _lm_bigrams(docs, extra)
        .join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .where(F.col("v") > 0)
        .select("doc_id", *extra, logp.alias("logp"))
    )
    # Mean logp on the 1e-6 INTEGER grid: the decimal sum is exact, so
    # mu = sum * 1e6 is an exact BIGINT; the mean is floored to the
    # grid via portable floor-division (truncated % is sign-identical
    # on both engines; mu - nonneg_remainder is exactly divisible, so
    # the double division is exact). A plain ROUND(sum/n, 6) is NOT
    # cross-engine safe here — decimal-grid sums divided by small n hit
    # half-way doubles at real rates (sf0.01 doc 148: -126.297090/36 =
    # -3.5082525 exactly; Spark rounded the double down, DuckDB up).
    agg = scored.groupBy("doc_id", *extra).agg(
        F.count("*").alias("n_bigrams"),
        (F.sum("logp") * 1000000).cast("bigint").alias("mu"),
    )
    nb = F.col("n_bigrams")
    r = ((F.col("mu") % nb) + nb) % nb
    return agg.select(
        "doc_id",
        *extra,
        "n_bigrams",
        (((F.col("mu") - r) / nb) / F.lit(1000000.0)).alias("lm_score"),
    )


# ------------------------------ per-doc keyword extraction (r7) ------

# Rare-token keyword extraction: score = tf * (N / df) — term frequency
# times a LINEAR inverse document frequency. Deliberately ln-free: tf,
# N, and df are exact integers, so every score is the correctly-rounded
# double of an exact rational and the (score DESC, token ASC) ranking
# is bit-deterministic on both engines; a classic ln(N/df) idf would
# re-open the cross-engine last-ulp class bigram_lm_score documents
# (and linear idf only sharpens the rare-token preference this stage
# exists for). Top-KEYWORDS_K per document.

KEYWORDS_K = 3

def _kw_tf_df_n(docs: DataFrame):
    """Shared keyword corpus passes over any (doc_id, text) frame:
    the (doc_id, tok) term frequencies, the vocabulary document
    frequencies derived from them, and the 1-row distinct-doc count —
    ``keyword_extract`` ranks all docs over these; ``retrieval``'s
    hybrid path ranks only its probe docs over the SAME corpus-wide
    df/n (the formula must match the pinned oracle exactly)."""
    toks = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.explode(_lm_tokens()).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    return tf, df, n


def _kw_df_n(docs: DataFrame):
    """The keyword corpus ASSETS alone — (df, n) — without the
    corpus-wide (doc_id, tok) tf shuffle ``_kw_tf_df_n`` pays to also
    produce per-doc tf rows (guide §2.3/§2.4: shuffle fewer bytes,
    remove shuffles outright). df counts docs per token, which is a
    count over DISTINCT (doc, tok) — derived IN-ROW via array_distinct
    so the explode emits each (doc, tok) once and the groupBy(tok)
    partial-aggregates to vocabulary size before the wire; n (docs
    holding ≥1 token) is a map-only 1-row count. Value-identical to
    deriving both from the tf aggregate (``test_retrieval`` pins the
    probe-keyword rows against the oracle formula); callers that rank
    only a bounded probe set (``retrieval.probe_keywords``/
    ``batch_probe_keywords``) use this + their own probe-sized tf,
    while ``keyword_extract`` keeps the full tf pipeline it actually
    ranks."""
    base = docs.where(F.col("doc_id").isNotNull())
    df = (
        base.select(F.explode(F.array_distinct(_lm_tokens())).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    n = base.where(F.size(_lm_tokens()) > 0).agg(
        F.count("*").alias("n_docs")
    )
    return df, n


KEYWORD_EXTRACT_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split(lower(coalesce(text, '')), ' '), w -> w <> '')) AS tok
  FROM documents WHERE doc_id IS NOT NULL
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.tok AS token,
    CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
    CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tf, df, score,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, token) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df,
  CAST(ROUND(score, 6) AS DOUBLE) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {KEYWORDS_K}
"""


@register("keyword_extract", oracle=KEYWORD_EXTRACT_SQL)
def keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-KEYWORDS_K keywords per document by tf × linear inverse
    document frequency (see module comment for why the idf is ln-free).
    The df table and the 1-row corpus count both DERIVE from the
    (doc, token) tf aggregate — the corpus text is scanned and exploded
    exactly once.

    Plan: one corpus-sized shuffle (the (doc_id, token) partial-agg
    count); df aggregates the much smaller tf table on token; the df
    join is BROADCAST (vocabulary-sized); the final per-doc rank
    re-uses the doc_id hash partitioning. At 100 TB the df/idf table is
    a write-once broadcast asset, like the bigram LM."""
    return _kw_ranked(*_kw_tf_df_n(table(spark, sf_dir, "documents")))


def _kw_ranked(tf: DataFrame, df: DataFrame, n: DataFrame) -> DataFrame:
    """The keyword scoring stage: (doc_id, token, tf, df, score, rank)
    — the top-KEYWORDS_K tokens of each document in ``tf`` under the
    corpus document frequencies ``df`` and the 1-row corpus count
    ``n`` (tokens absent from ``df`` drop out in the inner join).
    Shared by ``keyword_extract`` and its streaming twin."""
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("tok").alias("token"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KEYWORDS_K)
        .select(
            "doc_id", "token", "tf", "df",
            F.round("score", 6).alias("score"), "rank",
        )
    )


# ------------------------- Gopher-rule quality flags (r11) -----------

# Composite document-quality gate from Rae et al. 2021 ("Scaling
# Language Models: ... Gopher") §A1.1 — the standard rule-based filter
# a web-scale curation pipeline runs before model-based scoring. All
# eight signals are in-row integer/ratio arithmetic, so the op is
# map-only (scan-shaped at any scale) and every ratio is an exact
# IEEE quotient of two integers — identical on both engines; the
# `passes` conjunction compares the UNROUNDED values.

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2

_SW_LIST_SQL = "['" + "', '".join(_STOPWORDS) + "']"

GOPHER_RULES_SQL = f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '') AS ws,
    list_filter(string_split(coalesce(text, ''), chr(10)), l -> l <> '') AS ls,
    coalesce(text, '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
m AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CASE WHEN len(ws) > 0 THEN
      CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)
    END AS mwl,
    CASE WHEN len(ws) > 0 THEN
      CAST(length(t) - length(replace(t, '#', ''))
           + (length(t) - length(replace(t, '...', ''))) // 3
           + length(t) - length(replace(t, '…', '')) AS DOUBLE) / len(ws)
    END AS sym,
    CASE WHEN len(ws) > 0 THEN
      CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
           AS DOUBLE) / len(ws)
    END AS alpha,
    CAST(len(list_filter({_SW_LIST_SQL}, s -> list_contains(ws, s)))
         AS BIGINT) AS stop_hits,
    CASE WHEN len(ls) > 0 THEN
      CAST(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %'
                                    OR l LIKE '• %')) AS DOUBLE) / len(ls)
    END AS bullet,
    CASE WHEN len(ls) > 0 THEN
      CAST(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))
           AS DOUBLE) / len(ls)
    END AS ellip
  FROM base
)
SELECT doc_id, n_words,
  CAST(ROUND(mwl, 4) AS DOUBLE) AS mean_word_len,
  CAST(ROUND(sym, 4) AS DOUBLE) AS symbol_ratio,
  CAST(ROUND(alpha, 4) AS DOUBLE) AS alpha_word_frac,
  stop_hits,
  CAST(ROUND(bullet, 4) AS DOUBLE) AS bullet_line_frac,
  CAST(ROUND(ellip, 4) AS DOUBLE) AS ellipsis_line_frac,
  (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
   AND mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
   AND sym <= {GOPHER_MAX_SYMBOL_RATIO}
   AND coalesce(bullet, 0.0) <= {GOPHER_MAX_BULLET_FRAC}
   AND coalesce(ellip, 0.0) <= {GOPHER_MAX_ELLIPSIS_FRAC}
   AND alpha >= {GOPHER_MIN_ALPHA_FRAC}
   AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS passes
FROM m
"""


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETIRED to library-only in r17 (the executed R17 seat trade):
    the map-only doc-stats class is driver-hash-gated by
    ``source_quality_rollup`` every other round; the full oracle keeps
    running every round in test_oracle_parity's library pass.

    Gopher rule-based quality flags per document (Rae et al. 2021
    §A1.1): word-count bounds, mean-word-length bounds, symbol-to-word
    ratio ('#', '...', '…'), bullet-/ellipsis-line fractions,
    alphabetic-word fraction, and distinct-stopword hits, plus the
    composite ``passes`` gate. The rule filter that runs BEFORE
    model-based scoring (``bigram_lm_score`` / ``perplexity_buckets``)
    in a web-scale curation pipeline.

    Plan: every signal is an in-row JVM expression over one scan —
    zero shuffle, zero UDF; the ``passes`` conjunction evaluates the
    unrounded exact int-ratio doubles, the displayed ratios round to
    the house 4-decimal grid. Library op, full DuckDB oracle
    (``GOPHER_RULES_SQL``) — the r11 capacity-note class."""
    return gopher_rules_frame(
        table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    )


def gopher_rules_frame(docs: DataFrame) -> DataFrame:
    """The Gopher-rule core over any (doc_id, text) frame — pure column
    expressions, so the identical plan runs under Structured Streaming
    (stream≡batch pytest-pinned, the quantize_int8 proof shape)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    ws = F.filter(F.split(t, " "), lambda w: w != "")
    ls = F.filter(F.split(t, "\n"), lambda line: line != "")
    nw = F.size(ws)
    nl = F.size(ls)
    wchars = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    n_sym = (
        (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
        + F.floor(
            (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
        )
        + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _STOPWORDS]),
            lambda s: F.array_contains(ws, s),
        )
    ).cast("bigint")
    n_bullet = F.size(
        F.filter(
            ls,
            lambda line: line.startswith("- ")
            | line.startswith("* ")
            | line.startswith("• "),
        )
    )
    n_ellip = F.size(
        F.filter(ls, lambda line: line.endswith("...") | line.endswith("…"))
    )
    mwl = F.when(nw > 0, wchars.cast("double") / nw)
    sym = F.when(nw > 0, n_sym.cast("double") / nw)
    alpha = F.when(nw > 0, n_alpha.cast("double") / nw)
    bullet = F.when(nl > 0, n_bullet.cast("double") / nl)
    ellip = F.when(nl > 0, n_ellip.cast("double") / nl)
    passes = (
        nw.cast("bigint").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (sym <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.coalesce(bullet, F.lit(0.0)) <= GOPHER_MAX_BULLET_FRAC)
        & (F.coalesce(ellip, F.lit(0.0)) <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return docs.select(
        "doc_id",
        nw.cast("bigint").alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(alpha, 4).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        F.round(bullet, 4).alias("bullet_line_frac"),
        F.round(ellip, 4).alias("ellipsis_line_frac"),
        passes.alias("passes"),
    )


# --------------------- in-document duplicate-line removal (r11) ------

# C4-style self-repetition cleanup (Raffel et al. 2020 use
# three-sentence spans; the common open-pipeline variant dedupes
# LINES): drop every line that repeats an EARLIER line of the same
# document, keep first occurrences in order. The in-row complement of
# the cross-document dedup family — boilerplate menus/footers repeated
# inside one page disappear before they can distort token counts or
# pair up in MinHash.

# Per-document line bound: the in-row keep test compares each line
# against the array prefix (array_position), so an UNCAPPED document
# costs O(n_lines²) string compares inside ONE task — the same in-row
# blowup class SUBSTR_MAX_CHARS caps in the winnow (dedup.py). Only
# the first LINE_DEDUP_MAX_LINES lines are deduplicated against each
# other; lines past the cap are kept verbatim (identical cap in the
# oracle). 4096² ≈ 16M bounded-length compares is a safe per-row
# ceiling; any real page sits far below it.
LINE_DEDUP_MAX_LINES = 4096

LINE_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id,
    string_split(coalesce(text, ''), chr(10)) AS ls
  FROM documents WHERE doc_id IS NOT NULL
),
lines AS (
  SELECT doc_id, ls[i] AS l, i
  FROM base, unnest(range(1, len(ls) + 1)) AS r(i)
),
firsts AS (
  SELECT doc_id, l, i,
    MIN(CASE WHEN i <= {LINE_DEDUP_MAX_LINES} THEN i END)
      OVER (PARTITION BY doc_id, l) AS first_i
  FROM lines
)
SELECT doc_id,
  string_agg(l, chr(10) ORDER BY i)
    FILTER (WHERE i > {LINE_DEDUP_MAX_LINES} OR i = first_i) AS clean_text,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(COUNT(*) FILTER (WHERE i <= {LINE_DEDUP_MAX_LINES} AND i <> first_i)
       AS BIGINT) AS n_removed
FROM firsts GROUP BY doc_id
"""


@register("line_dedup", oracle=LINE_DEDUP_SQL)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-document duplicate-line removal (the C4-family
    self-repetition cleanup): keep each document's FIRST occurrence of
    every line, in order; report the line count and how many were
    dropped. Runs before the cross-document dedup family so repeated
    boilerplate inside one page can't distort token budgets or MinHash
    signatures.

    Plan: pure in-row JVM expressions — the keep test is a
    positional-lambda filter (first array_position == own index), so
    the op is map-only with ZERO shuffle at any scale; the oracle
    proves the same semantics through an explode + window + ordered
    string_agg, so the in-row trick is checked against the naive
    relational form. Registered + driver-hash-gated since r14 (the
    written R14 seat trade — tpch_q7/q14 retired to library); full
    DuckDB oracle ``LINE_DEDUP_SQL``."""
    return line_dedup_frame(
        table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    )


def line_dedup_frame(docs: DataFrame) -> DataFrame:
    """The line-dedup core over any (doc_id, text) frame — pure column
    expressions, so the identical plan runs under Structured Streaming
    (stream≡batch pytest-pinned, the quantize_int8 proof shape). The
    keep test runs only over the first LINE_DEDUP_MAX_LINES lines
    (per-row CPU bound — see the cap comment); the tail is kept
    verbatim."""
    cap = LINE_DEDUP_MAX_LINES
    d = docs.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), "\n").alias("_ls"),
    )
    ls = F.col("_ls")
    head = F.slice(ls, 1, cap)
    tail = F.expr(f"slice(_ls, {cap + 1}, greatest(size(_ls) - {cap}, 0))")
    kept = F.filter(
        head, lambda line, i: F.array_position(head, line) == i + 1
    )
    return d.select(
        "doc_id",
        F.concat_ws("\n", F.concat(kept, tail)).alias("clean_text"),
        F.size(ls).cast("bigint").alias("n_lines"),
        (F.least(F.size(ls), F.lit(cap)) - F.size(kept))
        .cast("bigint")
        .alias("n_removed"),
    )


# ----------------------- BM25 lexical retrieval (r11) ----------------

# Sparse/lexical counterpart to the dense ANN family (similarity.py):
# rank documents against a fixed seed-query set with BM25 (Robertson &
# Zaragoza 2009, the Lucene idf variant). The curation use case is
# targeted domain mining — "find the corpus documents most like these
# seed queries" — which a real pipeline runs next to embedding KNN
# (e.g. DSIR-style importance selection seeds). Reference parity: the
# reference's retrieval surface is dense-only, so this is a
# beyond-reference op in the similarity-search family.
#
# Float determinism (the house contract, cf. the bigram-LM comment):
# BM25 with k1 = 6/5 and b = 3/4 is arranged so BOTH factors of each
# per-term contribution are functions of exact BIGINTs —
#   idf  = ln((2N + 2) / (2·df + 1))          [Lucene: ln(1 + (N - df + .5)/(df + .5))]
#   sat  = 44·tf·T / (20·tf·T + 6·T + 18·dl·N) [tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)),
#                                               avgdl = T/N, scaled by 20·T]
# so each engine performs ONE correctly-rounded int→double conversion
# per operand and ONE IEEE division per factor; the only cross-engine
# wobble is ln's last ulp, collapsed by the house ROUND(·, 6) →
# DECIMAL(18,6) → exact order-free SUM pattern. BIGINT bound:
# 20·tf·T must stay under 2^63 — tf·T < 4.6e17, i.e. safe past a
# 10-trillion-token corpus for any sane per-doc term frequency.
BM25_TOP_K = 5
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    1: ("spark", "stream", "window"),
    2: ("join", "merge", "sort"),
    3: ("customer", "order", "table"),
    4: ("fast", "slow", "batch", "scan"),
}


def _bm25_sql() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(BM25_QUERIES.items()) for t in ts
    )
    return f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS total_len FROM base),
queries(query_id, term) AS (VALUES {vals}),
toks AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM base),
tf AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM queries)
  GROUP BY doc_id, term, dl
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, tf.doc_id,
    CAST(ROUND(
      LN(CAST(2 * s.n_docs + 2 AS DOUBLE) / CAST(2 * df.df + 1 AS DOUBLE))
      * (CAST(44 * tf.tf * s.total_len AS DOUBLE)
         / CAST(20 * tf.tf * s.total_len + 6 * s.total_len
                + 18 * tf.dl * s.n_docs AS DOUBLE)), 6)
      AS DECIMAL(18, 6)) AS contrib
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN queries q ON tf.term = q.term
  CROSS JOIN stats s
),
pair AS (
  SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
    SUM(contrib) AS s
  FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_terms, s,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
  FROM pair
)
SELECT CAST(query_id AS INT) AS query_id, doc_id, n_terms,
  CAST(s AS DOUBLE) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


BM25_TOP_DOCS_SQL = _bm25_sql()


@register("bm25_top_docs", oracle=BM25_TOP_DOCS_SQL)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BM25_TOP_K documents per seed query under BM25 (k1 = 1.2,
    b = 0.75, Lucene idf) — lexical retrieval for targeted domain
    mining, the sparse twin of ``knn_bruteforce``'s dense top-k.

    Plan: the token array is FILTERED IN-ROW against the literal
    seed-term set (a compile-time constant — no join at all) before the
    explode, so the explode emits and the (doc, term) tf aggregate
    shuffles only seed-term HITS — at 100 TB the shuffle is hits-sized,
    not corpus-sized, and the non-hit tokens never leave their row. df
    aggregates the tf table (seed-term cardinality, tiny); df / query
    expansion / corpus stats all reach the scoring rows by BROADCAST
    (plan-pinned). The corpus-stats pass
    (N docs, total tokens) is a second column-pruned scan of `text`
    that partial-aggregates to ONE row — at scale it is a write-once
    corpus asset, like the bigram LM's count tables. The per-query
    top-k ranks a pair-sized table over a BM25_QUERIES-sized key space.
    Registered r12 under the driver's hash gate (the R12 registration
    plan) with its full DuckDB oracle (``BM25_TOP_DOCS_SQL``)."""
    docs = spread_narrow_scan(
        table(spark, sf_dir, "documents")
    ).where(F.col("doc_id").isNotNull())
    return bm25_rank(bm25_pair_scores(spark, docs))


def _bm25_stats_tf_df(docs: DataFrame, seed_terms: list[str] | None = None):
    """Shared BM25 corpus passes over any (doc_id, text) frame:
    (stats, tf, df) — the 1-row (N docs, total tokens) aggregate, the
    hits-only (doc_id, term, dl) term frequencies (token array filtered
    IN-ROW against the literal seed set before the explode), and the
    seed-cardinality document frequencies derived from tf. Used by the
    scoring stage and the model collector so grouping keys and the
    duplicate-doc_id contract exist exactly once. ``seed_terms``
    defaults to the fixed BM25_QUERIES vocabulary; ``retrieval``'s
    hybrid path passes its probe-derived keyword set (still a bounded
    driver-held literal — the in-row pre-explode filter is the whole
    scale trick and must survive any caller)."""
    if seed_terms is None:
        seed_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    stats = docs.select(F.size(_lm_tokens()).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("dl").cast("bigint")).alias("total_len"),
    )
    # the token array materializes ONCE per row in its own projection
    # (the minhash whs precedent, dedup.py: an alias referenced twice
    # keeps the CollapseProject boundary) — inlined, the size() and the
    # filter() would each re-run the whole split per row
    toks = docs.select("doc_id", _lm_tokens().alias("t")).select(
        "doc_id",
        F.size("t").alias("dl"),
        F.explode(
            F.filter(F.col("t"), lambda w: w.isin(*seed_terms))
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term", "dl").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    return stats, tf, df


def bm25_pair_scores(
    spark: SparkSession,
    docs: DataFrame,
    qterms: DataFrame | None = None,
    seed_terms: list[str] | None = None,
) -> DataFrame:
    """BM25 over any (doc_id, text) frame — the corpus passes
    (``_bm25_stats_tf_df``) fed to the ``bm25_score`` stage:
    (query_id, doc_id, n_terms, s DECIMAL) for every document holding
    at least one seed term — ``bm25_top_docs`` ranks this;
    ``streaming.queries.bm25_score_stream``'s in-row kernel is
    stream≡batch pytest-pinned against it. Callers may supply their own
    (query_id, term) frame + matching seed-term list (``retrieval``'s
    probe-keyword queries); the default is the fixed BM25_QUERIES set."""
    if qterms is None:
        qterms = local_rows(
            spark,
            [(qid, t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
            "query_id int, term string",
        )
    stats, tf, df = _bm25_stats_tf_df(docs, seed_terms)
    return bm25_score(tf, df, qterms, stats)


def bm25_contrib(
    tf: Column, df: Column, dl: Column, n_docs: Column, total_len: Column
) -> Column:
    """One (term, doc) BM25 contribution, ROUND(·, 6) → DECIMAL(18,6):
    the exact-BIGINT idf and saturation arrangement above (k1 = 6/5,
    b = 3/4). Every operand must be a BIGINT Column, so 2·N and
    44·tf·T never overflow. The DuckDB oracles keep their own copy as
    the reference."""
    idf = F.log(
        (F.lit(2) * n_docs + F.lit(2)).cast("double")
        / (F.lit(2) * df + F.lit(1)).cast("double")
    )
    sat = (F.lit(44) * tf * total_len).cast("double") / (
        F.lit(20) * tf * total_len + F.lit(6) * total_len + F.lit(18) * dl * n_docs
    ).cast("double")
    return F.round(idf * sat, 6).cast("decimal(18,6)")


def bm25_score(
    tf: DataFrame, df: DataFrame, qterms: DataFrame, stats: DataFrame
) -> DataFrame:
    """The BM25 scoring stage shared by the corpus kernel and the
    persisted store's probe: term hits (term, doc_id, tf, dl) joined to
    the document frequencies (term, df), the query expansion
    (query_id, term) and the 1-row corpus stats (n_docs, total_len),
    all three BROADCAST, then summed per (query_id, doc_id) →
    (query_id, doc_id, n_terms, s DECIMAL)."""
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            bm25_contrib(
                F.col("tf"), F.col("df"), F.col("dl").cast("bigint"),
                F.col("n_docs"), F.col("total_len"),
            ).alias("contrib"),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("contrib").alias("s"),
    )


def bm25_rank(pair: DataFrame, top_k: int = BM25_TOP_K) -> DataFrame:
    """Per-query top-k of ``bm25_score`` pairs — score DESC, doc_id
    ASC — in the (query_id, doc_id, n_terms, score, rank) output shape."""
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "doc_id")
    return (
        pair.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "doc_id", "n_terms",
            F.col("s").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bm25_model(spark: SparkSession, sf_dir: str) -> tuple[dict, int, int]:
    """Train the BM25 scoring model from a reference corpus: the
    seed-term document frequencies plus (N docs, total tokens) — the
    write-once broadcast asset a streaming deployment scores against
    (``bm25_score_stream``). Both collects are bounded: df has at most
    |seed terms| rows (duplicate doc_ids count per (doc_id, dl) row,
    the same contract as the scoring stage — shared builder), the
    stats row is 1."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    stats_df, _, df = _bm25_stats_tf_df(docs)
    stats = stats_df.collect()[0]
    df_rows = df.collect()
    return (
        {r["term"]: int(r["df"]) for r in df_rows},
        int(stats["n_docs"]),
        int(stats["total_len"] or 0),
    )


# ------------- phrase + ordered-proximity retrieval (r16) -------------

# The positional half of the lexical retrieval family: BM25 above is
# bag-of-words (term frequencies only — "scan" then "slow" anywhere),
# while phrase and proximity queries need token POSITIONS ("row scan
# slow" consecutively; or the three terms in order within a small
# window — Lucene's PhraseQuery / sloppy-phrase, the capability a
# positional inverted index exists for). The reference's retrieval
# surface has neither (beyond-reference op, the bm25_top_docs
# precedent).
#
# Scale shape — deliberately NOT a positional-postings build: the
# probe phrases are a driver-held literal (≤ PHRASE_N_PROBES structs,
# the BM25-keyword routing-decision class), so matching is ONE
# map-only corpus scan with in-row array lambdas — counting consecutive
# and windowed occurrences inside each row's own token array — and the
# only shuffle is the hits-sized per-query top-k. At 100 TB this is a
# full scan per probe SET (not per probe) with zero corpus shuffle; a
# standing phrase workload would persist (term, doc_id, positions)
# postings into the bm25 store's bucket layout instead — that store
# twin is the sketched follow-up, not this op.
#
# Exactness: every emitted value is an exact BIGINT count or INT rank;
# cross-engine floats never appear. The proximity semantics are the
# deterministic greedy check (first w1 after the anchor within the
# window, then any w2 after that w1 inside the same window) — greedy
# is complete for an ordered 3-term match because a later w1 can only
# shrink the room left for w2. DuckDB trap pinned in the oracle:
# this DuckDB's list_position returns 0 (not NULL) for absent — the
# guard is COALESCE(·,0) > 0, never IS NOT NULL.

PHRASE_N_PROBES = 8   #: probe docs: doc_id < this
PHRASE_OFF = 2        #: phrase = probe doc's tokens[OFF : OFF+LEN]
PHRASE_LEN = 3
PHRASE_WINDOW = 6     #: proximity window (ordered match within W tokens)
PHRASE_TOP_K = 5


def _phrase_probes(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[str]]]:
    """The deterministic probe set: each document with doc_id <
    PHRASE_N_PROBES and ≥ OFF+LEN tokens contributes the PHRASE_LEN
    consecutive tokens at offset PHRASE_OFF of its own lowercased
    token list. Driver-held literal (≤ PHRASE_N_PROBES rows)."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    base = docs.select("doc_id", _lm_tokens().alias("t"))
    need = PHRASE_OFF + PHRASE_LEN
    return [
        (int(r.doc_id), r.t[PHRASE_OFF:need])
        for r in base.where(
            (F.col("doc_id") < PHRASE_N_PROBES) & (F.size("t") >= need)
        ).collect()  # ≤ PHRASE_N_PROBES rows (routing-decision class)
    ]


def _phrase_search_sql(doc_extra: str = "") -> str:
    """The phrase/proximity oracle, parameterized on an extra
    document-side predicate (``doc_extra`` lands in the hits scan's
    WHERE — the ``_dedup_incremental_sql(exist_extra=...)`` one-
    definition precedent): probes always derive from the FULL base,
    only the scanned corpus narrows. ``PHRASE_SEARCH_SQL`` is the
    bare form; ``phrase_store.PHRASE_TAKEDOWN_SQL`` composes the
    existing-minus-victims form from the same text."""
    return f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
probes AS (
  SELECT CAST(doc_id AS INT) AS query_id,
    t[{PHRASE_OFF + 1}] AS w0, t[{PHRASE_OFF + 2}] AS w1,
    t[{PHRASE_OFF + 3}] AS w2
  FROM base
  WHERE doc_id < {PHRASE_N_PROBES} AND len(t) >= {PHRASE_OFF + PHRASE_LEN}
),
hits AS (
  SELECT p.query_id, b.doc_id, concat_ws(' ', p.w0, p.w1, p.w2) AS phrase,
    CAST(len(list_filter(range(1, len(b.t) - {PHRASE_LEN - 2}), k ->
         b.t[k] = p.w0 AND b.t[k+1] = p.w1 AND b.t[k+2] = p.w2))
         AS BIGINT) AS n_exact,
    CAST(len(list_filter(range(1, len(b.t) + 1), k ->
         b.t[k] = p.w0
         AND COALESCE(list_position(b.t[k+1:k+{PHRASE_WINDOW - 1}], p.w1), 0) > 0
         AND list_contains(
               b.t[k + COALESCE(list_position(
                     b.t[k+1:k+{PHRASE_WINDOW - 1}], p.w1), 0) + 1
                   : k+{PHRASE_WINDOW - 1}],
               p.w2))) AS BIGINT) AS n_prox
  FROM probes p, base b
  WHERE b.doc_id <> p.query_id{doc_extra}
)
SELECT query_id, doc_id, phrase, n_exact, n_prox, CAST(rk AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY n_exact DESC, n_prox DESC, doc_id) AS rk
      FROM hits WHERE n_prox > 0)
WHERE rk <= {PHRASE_TOP_K}
"""


PHRASE_SEARCH_SQL = _phrase_search_sql()


def phrase_search_frame(
    spark: SparkSession,
    corpus: DataFrame,
    probes: list[tuple[int, list[str]]],
) -> DataFrame:
    """The map-only phrase/proximity kernel over any (doc_id, text)
    frame against a literal probe list — shared by the batch op and
    ``phrase_search_stream`` so stream ≡ batch is by construction.
    Returns (query_id, doc_id, phrase, n_exact, n_prox) for every
    (probe, doc) pair with an ordered-window match (n_prox ≥ n_exact
    ≥ 0 always; a consecutive match is a windowed match)."""
    if not probes:
        return spark.createDataFrame(
            [],
            "query_id int, doc_id bigint, phrase string, "
            "n_exact bigint, n_prox bigint",
        )
    base = corpus.where(F.col("doc_id").isNotNull()).select(
        "doc_id", _lm_tokens().alias("t")
    )
    phr = F.array(*[
        F.struct(
            F.lit(q).cast("int").alias("query_id"),
            *[F.lit(p[i]).alias(f"w{i}") for i in range(PHRASE_LEN)],
        )
        for q, p in probes
    ])
    t = F.col("t")

    def exact_cnt(p):
        ks = F.sequence(F.lit(1), F.size(t) - F.lit(PHRASE_LEN - 1))
        hit = lambda k: (
            (F.element_at(t, k) == p["w0"])
            & (F.element_at(t, k + 1) == p["w1"])
            & (F.element_at(t, k + 2) == p["w2"])
        )
        return (
            F.when(F.size(t) >= PHRASE_LEN, F.size(F.filter(ks, hit)))
            .otherwise(F.lit(0))
        )

    def prox_cnt(p):
        ks = F.sequence(F.lit(1), F.size(t))

        def hit(k):
            rest = F.slice(t, k + 1, F.lit(PHRASE_WINDOW - 1))
            j = F.array_position(rest, p["w1"])
            rest2 = F.slice(t, k + j + 1, F.lit(PHRASE_WINDOW - 1) - j)
            return (
                (F.element_at(t, k) == p["w0"])
                & (j > 0)
                & F.array_contains(rest2, p["w2"])
            )

        return (
            F.when(F.size(t) > 0, F.size(F.filter(ks, hit)))
            .otherwise(F.lit(0))
        )

    return (
        base.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.transform(phr, lambda p: F.struct(
                        p["query_id"].alias("query_id"),
                        F.concat_ws(" ", p["w0"], p["w1"], p["w2"]).alias(
                            "phrase"
                        ),
                        exact_cnt(p).cast("bigint").alias("n_exact"),
                        prox_cnt(p).cast("bigint").alias("n_prox"),
                    )),
                    lambda c: c["n_prox"] > 0,
                )
            ).alias("h"),
        )
        .select("h.query_id", "doc_id", "h.phrase", "h.n_exact", "h.n_prox")
        .where(F.col("doc_id") != F.col("query_id"))
    )


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PHRASE_TOP_K documents per probe phrase, ranked by exact
    consecutive occurrences then ordered-window (proximity ≤
    PHRASE_WINDOW) occurrences then doc_id — Lucene-style phrase +
    sloppy-phrase retrieval, the positional capability the BM25
    bag-of-words family cannot express. LIBRARY op: full DuckDB
    oracle (``PHRASE_SEARCH_SQL`` re-derives probes, both counts, and
    the ranking from the raw table under one value-hash); all-integer
    output."""
    probes = _phrase_probes(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    return phrase_rank(phrase_search_frame(spark, docs, probes))


def phrase_rank(hits: DataFrame, top_k: int = PHRASE_TOP_K) -> DataFrame:
    """Per-query top-k of (query_id, doc_id, phrase, n_exact, n_prox)
    hits — n_exact DESC, n_prox DESC, doc_id ASC — with the INT rank
    appended; shared by ``phrase_search`` and the persisted phrase
    store's probe."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_exact"), F.desc("n_prox"), "doc_id"
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "phrase", "n_exact", "n_prox", "rank")
    )


def phrase_search_stream(
    spark: SparkSession, docs_stream: DataFrame, ref_sf_dir: str, sink
):
    """Streaming phrase matching — "flag arriving documents that
    contain any watched phrase as they land": each micro-batch of
    (doc_id, text) rows is scanned by the IDENTICAL map-only kernel
    (``phrase_search_frame``) against the reference corpus's probe
    phrases (derived once at stream build — the frozen watchlist).
    Documents are independent rows, so the union of per-batch hit
    frames equals the batch kernel's image over the same corpus
    (stream ≡ batch pytest-pinned); ranking is per-batch policy and
    deliberately not applied here. ``sink(hits_df, batch_id)``; sink
    contract: fully materialize inside the call."""
    probes = _phrase_probes(spark, ref_sf_dir)
    return per_batch(
        docs_stream,
        lambda batch_df, _: phrase_search_frame(spark, batch_df, probes),
        sink,
    )


# ------------- per-source quality calibration (r16) -------------------

# Raw quality scores are not comparable across sources: a boilerplate-
# heavy source's best documents can all sit below a clean source's
# worst, so one global threshold silently empties some sources and
# admits another's dregs wholesale (the per-source calibration step
# DataComp/Dolma-class curation pipelines run before any global gate).
# This op publishes, per document, its source-RELATIVE standing next
# to the global-threshold verdict, and flags the documents where the
# two disagree — the exact set a threshold choice is deciding about.
#
# Exactness: everything lives on the integer grid — quality is
# FLOOR-quantized to ppm (floor is tie-free, unlike ROUND, whose
# half-way cases split Spark's HALF_UP from DuckDB's half-even on
# doubles — measured on sf0.1 before this design), the source-relative
# standing is the exact (src_rank, src_n) pair with the median test
# 2·(rank−1) ≥ n−1 done in integers, and the global median of BIGINT
# ppms interpolates to an exactly-representable dyadic midpoint
# (identical IEEE value on both engines regardless of formula order).
#
# Scale: one map-only quantization pass, ONE shuffle by source for the
# rank window, and a broadcast 1-row median. A pathologically giant
# source makes its window sort one task — the sharded two-pass
# rank-via-count-below (the pack_plan prefix-sum lineage) is the
# swap-in at that point; at registry scale the window is the right
# plan.

QUALITY_CALIBRATE_SQL = f"""
WITH d AS (
  SELECT doc_id, source, text,
    list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
b AS (
  SELECT doc_id, source,
    CAST(FLOOR(({quality_sql("ws", "text")}) * 1000000.0) AS BIGINT)
      AS quality_ppm
  FROM d WHERE len(ws) > 0
),
m AS (SELECT quantile_cont(quality_ppm, 0.5) AS med FROM b),
p AS (
  SELECT doc_id, source, quality_ppm,
    CAST(ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY quality_ppm, doc_id) AS BIGINT) AS src_rank,
    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS src_n
  FROM b
)
SELECT p.doc_id, p.source, p.quality_ppm, p.src_rank, p.src_n,
  CAST(p.quality_ppm >= m.med AS INT) AS keep_global,
  CAST(2 * (p.src_rank - 1) >= p.src_n - 1 AS INT) AS keep_calibrated,
  CAST((p.quality_ppm >= m.med) <> (2 * (p.src_rank - 1) >= p.src_n - 1)
       AS INT) AS flipped
FROM p CROSS JOIN m
"""


def quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: each document's ppm-quantized
    quality (the shared ``quality_expr`` formula — the one-formula
    rule), its exact within-source standing (src_rank of src_n,
    ascending), the global-median keep verdict, the source-median
    (calibrated) keep verdict, and the flip flag where they disagree.
    LIBRARY op: full DuckDB oracle (``QUALITY_CALIBRATE_SQL``);
    all-integer output except the source name."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id",
        "source",
        F.floor(quality_expr("text") * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("quality_ppm"),
    ).where(F.col("quality_ppm").isNotNull())
    med = base.agg(F.percentile("quality_ppm", F.lit(0.5)).alias("med"))
    w = Window.partitionBy("source").orderBy("quality_ppm", "doc_id")
    cw = Window.partitionBy("source")
    return (
        base.withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .withColumn("src_n", F.count("*").over(cw).cast("bigint"))
        .crossJoin(F.broadcast(med))
        .select(
            "doc_id", "source", "quality_ppm", "src_rank", "src_n",
            (F.col("quality_ppm") >= F.col("med"))
            .cast("int").alias("keep_global"),
            (2 * (F.col("src_rank") - 1) >= F.col("src_n") - 1)
            .cast("int").alias("keep_calibrated"),
        )
        .withColumn(
            "flipped",
            (F.col("keep_global") != F.col("keep_calibrated")).cast("int"),
        )
    )
