"""Distributed BPE merge training over the document corpus — the
tokenizer-TRAINING step of a data pipeline (Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016;
``text.bpe_token_estimate`` applies a trained tokenizer's pre-token
regex, this LEARNS the merge table itself).

Algorithm (classic BPE on the word-frequency table): words are
character sequences plus an end-of-word marker; each iteration counts
adjacent symbol pairs weighted by word frequency, picks the most
frequent pair (ties broken lexicographically — deterministic, no RNG),
and greedily merges its left-to-right non-overlapping occurrences in
every word.

Spark-first shape: the corpus is scanned ONCE (tokenize → explode →
one shuffle on word) into the vocabulary-bounded word-count table;
every training iteration then runs on that table only — a map-side
pair explode, one pair-keyed partial-agg shuffle of
vocabulary-bounded counts, and a single 1-row collect for the argmax
(the loop-counter driver-contact class, like ``dedup_clusters``'s
convergence check). The merge application is a pure JVM
``F.aggregate`` left fold (provably equal to the greedy scan: a
merged symbol is never string-equal to the merge's left side, so the
fold can't cascade within an iteration); ``localCheckpoint`` cuts the
growing lineage each round, the ``dedup_clusters`` iteration
contract. At 100 TB the corpus scan dominates once and the loop cost
is independent of corpus size — exactly how production BPE trainers
work (they train on word counts, not raw text).

Character semantics: ``F.split(word, '')`` yields codepoint strings —
identical to Python's ``list(word)`` for the BMP text this corpus
carries (the documents table is pinned pure-ASCII by
tests/test_parity_edges.py's boundary guard); supplementary-plane
text would need a byte-level alphabet first (the GPT-2 design), a
parameter change not a plan change.

Correctness: the iteration is oracled TWO independent ways — a
pure-Python replay fold over the same word counts (the
``stock_matchmaker`` precedent; textbook worked example,
hostile-corpus behavior, and determinism pins in tests/test_bpe.py),
and, since r10, a full chained-CTE DuckDB SQL replay
(``bpe_segment_sql``) that puts the registered ``bpe_segment`` under
the driver's independent value-hash gate.

Reference: the reference engine has no tokenizer surface
(beyond-reference mandate, SURVEY.md §7 step 7).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

from trisk_spark.catalog import cached_cols, local_rows, table
from trisk_spark.registry import register

N_BPE_MERGES = 20
EOW = "</w>"


def bpe_segment_sql(n_merges: int = N_BPE_MERGES) -> str:
    """DuckDB oracle for the registered ``bpe_segment``: replays the
    ENTIRE pipeline — word counts, ``n_merges`` training iterations
    (pair counts → argmax with lexicographic ties → greedy merge →
    stop under count 2), and the per-document segmentation rollup — as
    one chained-CTE SQL statement, so the driver's independent DuckDB
    run gates the SQL-inexpressible-looking iteration after all.

    The greedy left-to-right merge is expressed as a string
    ``replace``: each word's symbols are individually wrapped in a
    separator (``chr(31)``, absent from the pure-ASCII corpus — pinned
    by tests/test_bpe.py), so the pattern ``\\x1f l \\x1f\\x1f r \\x1f``
    can only match a whole adjacent symbol pair, and DuckDB's
    ``replace`` (left-to-right, non-overlapping, never rescanning its
    own output) lands exactly on the textbook greedy scan — the same
    equivalence argument ``_merge_fold`` carries on the Spark side.
    Iterations after the stopping rule fires find no pair with
    count ≥ 2 and apply no merge, which is state-identical to
    ``bpe_train``'s early break."""
    S, SS = "chr(31)", "chr(31)||chr(31)"
    its = []
    for i in range(1, n_merges + 1):
        its.append(f"""p{i} AS (
  SELECT s[g] AS l, s[g+1] AS r, SUM(cnt) AS n
  FROM (SELECT string_split(trim(wstr, chr(31)), {SS}) AS s, cnt
        FROM w{i - 1}),
    UNNEST(generate_series(1, len(s) - 1)) AS u(g)
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r FROM p{i} WHERE n >= 2 ORDER BY n DESC, l, r LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT word, cnt,
    CASE WHEN b.l IS NOT NULL THEN
      replace(wstr, {S}||b.l||{SS}||b.r||{S}, {S}||b.l||b.r||{S})
    ELSE wstr END AS wstr
  FROM w{i - 1} LEFT JOIN b{i} b ON TRUE
)""")
    chain = ",\n".join(its)
    return f"""
WITH docs AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '),
                x -> x <> '') AS wl
  FROM documents WHERE doc_id IS NOT NULL
),
tok AS MATERIALIZED (
  SELECT doc_id,
    unnest(CASE WHEN len(wl) = 0 THEN [CAST(NULL AS VARCHAR)]
           ELSE wl END) AS word
  FROM docs
),
wc AS (SELECT word, COUNT(*) AS cnt FROM tok WHERE word IS NOT NULL
       GROUP BY word),
w0 AS MATERIALIZED (
  SELECT word, cnt,
    {S} || array_to_string(string_split(word, '') || ['{EOW}'], {SS})
        || {S} AS wstr
  FROM wc
),
{chain},
seg AS (
  SELECT word,
    len(string_split(trim(wstr, chr(31)), {SS})) AS n_sub
  FROM w{n_merges}
)
SELECT t.doc_id,
  CAST(COUNT(t.word) AS BIGINT) AS n_words,
  CAST(COALESCE(SUM(s.n_sub), 0) AS BIGINT) AS n_bpe_tokens
FROM tok t LEFT JOIN seg s ON t.word = s.word
GROUP BY t.doc_id
"""


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, cnt) over the corpus: the lowercase whitespace tokenizer
    the LM family uses (``text._lm_tokens``), one explode + one
    word-keyed shuffle with map-side combine. Vocabulary-bounded
    output — everything downstream of this frame is corpus-size
    independent."""
    ws = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda w: w != "",
    )
    return (
        docs.where(F.col("doc_id").isNotNull())
        .select(F.explode(ws).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_fold(syms, left: str, right: str):
    """Greedy left-to-right merge of adjacent (left, right) as a pure
    column fold: append each symbol, except when the accumulator's
    last element is ``left`` and the incoming symbol is ``right`` —
    then replace the last element with the merged symbol. Equal to the
    textbook greedy scan because ``left + right != left`` (nonempty
    right), so a just-merged symbol can never re-match as ``left``
    within the same pass."""
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: Ceiling on the training loop: each merge is one Spark job over the
#: VOCABULARY-bounded word-count table (never the corpus) plus a 1-row
#: argmax collect, so a production 50k-merge vocabulary would mean 50k
#: sequential jobs — correct but latency-bound by job scheduling, not
#: data. The industrial posture for large vocabularies (and what this
#: loop's input already is) is: train on a bounded word-count sample
#: (word_counts IS corpus-wide counts collapsed to distinct words —
#: further cap it with a count floor / top-N for 100 TB corpora), keep
#: n_merges under this ceiling per training run, and ship the merge
#: table as a write-once asset. Fail loud past it rather than
#: scheduling an unbounded job chain.
BPE_MAX_MERGES = 4096

#: Crossover for the driver-side training fast path: at or under this
#: many DISTINCT words, the count table is collected (bounded
#: limit+collect, the probe-cap idiom) and the merges computed as a
#: pure-Python fold — one Spark job total instead of one per merge.
#: The fold is O(n_merges × Σ|word|) with full pair recounts, so the
#: cap sits where ~1 s of driver CPU beats n_merges × ~0.2 s of job
#: overhead; past it the distributed loop amortizes its per-merge jobs
#: over real data. Both paths are the SAME algorithm (bpe_replay ≡
#: the fold ≡ the loop, equality-pinned in tests/test_bpe.py), so the
#: crossover is invisible in results.
BPE_TRAIN_LOCAL_MAX_WORDS = 8192


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = N_BPE_MERGES,
    local_max_words: int = BPE_TRAIN_LOCAL_MAX_WORDS,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the documents corpus.
    Returns the ordered merge table [(left, right, pair_count), ...] —
    the driver-held write-once model a tokenizer ships (vocabulary =
    alphabet + one entry per merge). Stops early if no pair occurs at
    least twice (merging singletons is pure vocab bloat and the
    textbook stopping rule — pinned by
    tests/test_bpe.py::test_bpe_train_early_stop_mid_run).

    Scale posture: training NEVER touches corpus rows after the one
    word_counts pass — everything downstream runs on the
    vocabulary-bounded count table. Vocabularies at or under
    ``local_max_words`` distinct words train driver-side in one
    bounded collect + pure-Python fold (how production BPE trainers
    work — they fold word counts in memory); larger vocabularies run
    the distributed per-merge loop (one vocabulary-sized Spark job +
    1-row argmax collect per merge), capped at BPE_MAX_MERGES (see its
    comment for the sampled-word-counts strategy 50k-merge
    vocabularies use). ``local_max_words=0`` forces the distributed
    loop (tests pin it against the fold)."""
    if n_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges} > BPE_MAX_MERGES={BPE_MAX_MERGES}: "
            "each merge is a sequential Spark job — train large "
            "vocabularies on a capped word-count sample and raise the "
            "ceiling deliberately"
        )
    docs = table(spark, sf_dir, "documents")
    if local_max_words > 0:
        sample = word_counts(docs).limit(local_max_words + 1).collect()
        if len(sample) <= local_max_words:
            return bpe_replay(
                {r.word: int(r.cnt) for r in sample}, n_merges
            )
    words = word_counts(docs).select(
        F.concat(F.split("word", ""), F.array(F.lit(EOW))).alias("syms"),
        "cnt",
    )
    words = words.localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = (
            words.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, F.size("syms") - 1).alias("l"),
                        F.slice(
                            "syms", 2, F.size("syms") - 1
                        ).alias("r"),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
        )
        best = pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not best or best[0].n < 2:
            break
        left, right, n = best[0].l, best[0].r, int(best[0].n)
        merges.append((left, right, n))
        # LAZY checkpoint: the next iteration's top-pair collect is the
        # one job per merge and materializes this fold as a side
        # effect; an eager checkpoint would add a second scheduling
        # floor per merge round on a vocabulary-sized frame (r17 —
        # min_label_components' loop finding applied here)
        words = words.select(
            _merge_fold(F.col("syms"), left, right).alias("syms"), "cnt"
        ).localCheckpoint(eager=False)
    return merges


def bpe_train_df(
    spark: SparkSession, sf_dir: str, n_merges: int = N_BPE_MERGES
) -> DataFrame:
    """DataFrame image of the merge table: (rank, left, right,
    pair_count) — rank is 1-based merge order."""
    rows = [
        (i + 1, l, r, n) for i, (l, r, n) in
        enumerate(bpe_train(spark, sf_dir, n_merges))
    ]
    return local_rows(
        spark, rows, "rank int, left string, right string, pair_count bigint"
    )


def bpe_replay(word_cnt: dict[str, int], n_merges: int = N_BPE_MERGES):
    """Pure-Python oracle: textbook BPE (greedy-scan merge, max-count
    pair, lexicographic ties, stop under count 2) over a word→count
    dict. tests/test_bpe.py pins ``bpe_train`` against this fold on
    the same word counts."""
    words = [(list(w) + [EOW], c) for w, c in word_cnt.items()]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n < 2:
            break
        merges.append((left, right, n))
        merged = left + right
        nxt = []
        for syms, c in words:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, c))
        words = nxt
    return merges


#: ceiling on the vocabulary-sized segmentation broadcast (the
#: LM_MAX_MODEL_ROWS contract: fail loud before the plan ships an
#: unexpectedly corpus-sized "vocabulary"). Calibrated to the
#: BROADCAST BUILD, not driver OOM (r9 VERDICT "what's wrong" #3): at
#: ~40-60 B/row a 10M-row word→length table is a few-hundred-MB hash
#: relation — near the practical broadcast-join ceiling, an order of
#: magnitude before the driver would actually die. Past this the model
#: must become a shuffle-join side or a persisted asset, so fail loud
#: here.
BPE_MAX_VOCAB_ROWS = 10_000_000

#: Auto-managed segmentation-model slots, ONE per SparkSession
#: (r10 ADVICE: an unsynchronized single global let calls on
#: DIFFERENT sessions unpersist each other's live model — that case is
#: fixed by the per-session key; the swap itself is lock-guarded).
#: Residual, documented: two CONCURRENT auto-managed calls on the SAME
#: session still race — the later call evicts the earlier call's model
#: while its query may still be running (correctness unaffected, the
#: earlier query recomputes). Concurrent same-session callers must
#: take ownership via ``model_out`` instead; serializing mid-flight
#: queries would need per-model refcounts the single-slot design
#: deliberately avoids. Entries whose session has been STOPPED are
#: evicted on every swap — the stored DataFrame would otherwise pin
#: the dead session object forever (r11 review finding), so the dict
#: is genuinely bounded by live-session count.
_AUTO_SEG_LOCK = threading.Lock()
_AUTO_SEG_BY_SESSION: dict[int, tuple[SparkSession, object]] = {}


def _session_stopped(sess: SparkSession) -> bool:
    try:
        return sess.sparkContext._jsc is None
    except Exception:
        return True


def _auto_seg_swap(spark: SparkSession, seg) -> None:
    """Install ``seg`` as the session's auto-managed model; unpersist
    the displaced model and drop entries of stopped sessions (all
    under the lock — eviction and swap must be atomic)."""
    evicted = []
    with _AUTO_SEG_LOCK:
        for k, (sess, df) in list(_AUTO_SEG_BY_SESSION.items()):
            if _session_stopped(sess):
                _AUTO_SEG_BY_SESSION.pop(k)
        prev = _AUTO_SEG_BY_SESSION.get(id(spark))
        _AUTO_SEG_BY_SESSION[id(spark)] = (spark, seg)
        if prev is not None:
            evicted.append(prev[1])
    for df in evicted:
        try:
            df.unpersist()
        except Exception:
            pass  # session/context already gone


@register("bpe_segment", oracle=bpe_segment_sql())
def bpe_segment(
    spark: SparkSession,
    sf_dir: str,
    merges: list[tuple[str, str, int]] | None = None,
    max_vocab_rows: int = BPE_MAX_VOCAB_ROWS,
    model_out: list | None = None,
) -> DataFrame:
    """Apply a trained merge table to the corpus: per-document BPE
    token counts (doc_id, n_words, n_bpe_tokens) — the real-tokenizer
    upgrade of ``text.bpe_token_estimate``'s regex heuristic, and the
    consumer that makes ``bpe_train`` end-to-end.

    Distributed shape: segmentation is computed ONCE PER DISTINCT WORD
    on the vocabulary-bounded word table (the merges applied as
    ``n_merges`` chained JVM folds — constant expression depth, no
    Python), then the corpus pass explodes tokens map-side and joins
    the word→length model BROADCAST (size-guarded, the
    ``LM_MAX_MODEL_ROWS`` contract), aggregating per doc. The corpus
    never shuffles on anything but the final doc_id partial agg; at
    100 TB the segmentation table is a write-once asset beside the
    merge table."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    if merges is None:
        merges = bpe_train(spark, sf_dir)

    # The n_merges-deep nested fold is ~15 py4j round trips per level
    # (~0.8 s of pure driver construction at 20 merges); the merge
    # table is the cache key, so the same trained model segments with
    # one build per JVM (cached_cols) and a different model — or the
    # same pairs in a different order, which is a different greedy
    # fold — can never alias.
    def _build_syms():
        syms = F.concat(F.split("word", ""), F.array(F.lit(EOW)))
        for left, right, _ in merges:
            syms = _merge_fold(syms, left, right)
        return syms

    # Key = sha256 of the repr'd merge-pair tuple: repr is an
    # unambiguous encoding (r17 ADVICE: the old '|'/'\x00' join let a
    # symbol containing '|' collide two distinct merge tables and
    # silently reuse the wrong greedy fold), and hashing bounds the key
    # size however large a trained model grows.
    import hashlib as _hashlib

    _merge_key = _hashlib.sha256(
        repr(tuple((l, r) for l, r, _ in merges)).encode("utf-8")
    ).hexdigest()
    syms = cached_cols("bpe.syms." + _merge_key, _build_syms)
    # persist the segmentation table so the size guard's count and the
    # broadcast join share ONE corpus tokenize+shuffle pass (an eager
    # .count() on the unpersisted frame would recompute it — r9 review
    # finding); pass ``model_out=[]`` to take ownership for unpersist
    # (the minhash_flag_stream index_out contract). Without ownership
    # the module keeps ONE auto-managed model slot: building a new seg
    # unpersists the previous call's (r10 review finding — N calls in a
    # session would otherwise accumulate N cached vocabulary frames);
    # an earlier returned DataFrame stays correct, it just recomputes.
    seg = word_counts(docs).select("word", F.size(syms).alias("n_sub")).persist()
    if model_out is not None:
        model_out.append(seg)
    else:
        _auto_seg_swap(spark, seg)
    n_vocab = seg.count()
    if n_vocab > max_vocab_rows:
        seg.unpersist()
        raise ValueError(
            f"BPE vocabulary too large to broadcast: {n_vocab} rows > "
            f"{max_vocab_rows}; raise max_vocab_rows or pre-prune the "
            "vocabulary"
        )
    ws = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda w: w != "",
    )
    toks = docs.select("doc_id", F.explode_outer(ws).alias("word"))
    return (
        toks.join(F.broadcast(seg), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("word").alias("n_words"),
            F.coalesce(F.sum("n_sub"), F.lit(0)).cast("bigint").alias(
                "n_bpe_tokens"
            ),
        )
    )
