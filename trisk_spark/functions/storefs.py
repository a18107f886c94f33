"""Shared machinery for the persisted-store family: every piece that
more than one store needs has exactly one implementation here, and the
stores call it with their own table and column names.

  * the fail-loud rename-filesystem gate, the atomic small-text records
    beside a store (ingest watermark ``_last_admitted_batch_id``,
    bucket fan ``_n_buckets``) and the corpus-derived fan rule; the
    watermark's replay guard itself runs in ``streaming.sinks.per_batch``,
    the one micro-batch runner every store stream verb goes through;
  * the md5-prefix ``bucket`` partition column and the writer-task rule
    (one task per partition directory, capped at the session's shuffle
    parallelism);
  * the crash-safe compaction swap and its repair, and the
    replayed-append repair rewrite;
  * the recorded-delete protocol every id-list takedown runs
    (``recorded_delete`` / ``resume_recorded_delete``): gate, repair,
    finish a pending delete, check the id ceiling, commit the
    ``_delete_intent`` by tmp-then-rename, run the store's deletion,
    drop the intent. ``gram_store`` keeps its own negated-block intent;
  * the staged "delete ids from a partitioned table" core the postings
    and IVF stores run inside that protocol (``delete_staged_rows``);
  * the session-memoized scratch-store cache of the self-contained
    registered rows.

The MinHash and SRP band stores share one engine on top of this
(``band_store``), and so do the BM25 and phrase postings stores
(``postings_store``).

DURABILITY MODEL (single-maintainer, local/HDFS-rename filesystems):
maintenance that swaps directories and the ingest watermark rely on
atomic rename — true on POSIX and HDFS, NOT on S3-style object
stores, where a deployment would put the swap behind a manifest
table / conditional put. The constraint is enforced loudly: every
rename-dependent entry point calls ``require_rename_fs`` first.

Reference: the reference has no persisted stores (beyond-reference
mandate, SURVEY.md §7 step 7); this is repo-local machinery.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import threading

from pyspark.sql import functions as F

from trisk_spark.catalog import local_rows

#: fail-loud ceiling on one takedown batch: the id set travels as a
#: driver-held literal (the broadcast-model class)
MAX_DELETE_IDS = 100_000


def require_rename_fs(path: str, op: str) -> None:
    """Fail loud on object-store paths: the watermark and the
    compaction swap rely on atomic rename, which ``s3://``-style
    stores do not provide (the module DURABILITY MODEL note). Local
    paths and explicit ``file:`` URIs pass; HDFS deployments would
    widen this to ``hdfs:`` after routing the os-level calls through
    the Hadoop FS API."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{op} requires an atomic-rename filesystem (local/file:); "
            f"got {path!r} — on object storage, front the store with a "
            "manifest table / conditional-put swap instead"
        )


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def read_ingest_watermark(path: str) -> int | None:
    """Last fully-admitted streaming batch id, or None for a store
    that has never been written by an ingest stream."""
    p = f"{strip_file_scheme(path)}/_last_admitted_batch_id"
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def write_ingest_watermark(path: str, batch_id: int) -> None:
    """Atomically persist the admitted-batch watermark beside the
    store (write-temp + ``os.replace`` — atomic on POSIX)."""
    write_small_text(path, "_last_admitted_batch_id", str(batch_id))


def read_small_text(path: str, name: str) -> str | None:
    """Read a durable small-text record beside the store, or None if
    it has never been written — the generic form of the watermark
    protocol (one file, one record, committed whole)."""
    p = f"{strip_file_scheme(path)}/{name}"
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read()


def write_small_text(path: str, name: str, text: str) -> None:
    """Atomically persist a small-text record beside the store
    (write-temp + ``os.replace`` — atomic on POSIX). The one durable
    small-file idiom every store-side counter/intent/ledger shares
    (r16 review: three hand-rolled copies had drifted from the gate
    discipline)."""
    base = strip_file_scheme(path)
    tmp = f"{base}/{name}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, f"{base}/{name}")


def derived_fan(
    n_rows: int, rows_per_bucket: int = 4096, lo: int = 4, hi: int = 65536
) -> int:
    """SCALE-DERIVED bucket fan for a partitioned store table: the next
    power of two of ``n_rows / rows_per_bucket``, clamped to [lo, hi].
    The band stores' old fixed fan (64) was wrong at both ends — 192
    near-empty directories for a 4k-doc corpus (the partitioned-write
    commit and every probe's file listing pay per directory) and a
    constant at 100 TB where pruning wants MORE buckets (guide §2.3
    "make partitioning scale-adaptive — derive from input size"). The
    fan is computed ONCE at store creation from the corpus row count,
    persisted beside the store (``_n_buckets``), and every later verb
    (probe/append/delete/compact) reads it back — a store's layout is
    fixed at birth; growth is a compaction-time migration."""
    q = max(1, (max(0, n_rows) + rows_per_bucket - 1) // rows_per_bucket)
    fan = 1 << (q - 1).bit_length()
    return max(lo, min(hi, fan))


def read_store_fan(path: str, default: int) -> int:
    """The store's persisted bucket fan (``_n_buckets``), or ``default``
    for a store written before fans were derived (the legacy module
    constant keeps those stores readable). One os read, no jobs."""
    txt = read_small_text(path, "_n_buckets")
    return default if txt is None else int(txt.strip())


def write_store_fan(path: str, n_buckets: int) -> None:
    """Persist the store's bucket fan (atomic small-text write). Lands
    BEFORE the first partitioned table is written so any store with
    bucketed data always carries its layout record."""
    write_small_text(path, "_n_buckets", str(int(n_buckets)))


def md5_bucket(col, n_buckets: int):
    """Partition bucket of a key column: the first 15 hex digits of
    md5(key as string) as an integer, mod the store's fan. A pure
    refinement of key equality (equal key ⇒ equal bucket), so pruning
    on it never changes results, and the driver can route with
    Python's md5 on the same bytes (``postings_store._bucket_of``)."""
    return (
        F.pmod(
            F.conv(
                F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
            ).cast("bigint"),
            F.lit(n_buckets),
        )
        .cast("int")
        .alias("bucket")
    )


def writer_tasks(spark, n_dirs: int) -> int:
    """Writer parallelism for a partitioned store table: the session's
    shuffle parallelism, capped at one task per partition directory. A
    task per directory is the most that helps; below it a writer
    commits several directories serially. The count is explicit so AQE
    cannot coalesce the write into one task."""
    conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(conf, n_dirs))


def repair_store(path: str, tables: tuple[str, ...]) -> None:
    """Bring a store back to a consistent layout after a compaction
    crash — called automatically on compaction entry, and callable
    standalone before reopening a store whose maintainer died. Per
    table, the swap protocol (``swap_in_compacted``) leaves exactly
    three observable states, each repairable without data loss:

      * live dir present           → nothing to do (stale ``_old`` /
        ``_compact_tmp`` leftovers are deleted — a tmp is only swapped
        in while the live dir is ABSENT, so a tmp beside a live dir is
        a dead build from a failed compaction run);
      * live dir absent, ``_old`` + ``_compact_tmp`` present → crashed
        between rename 1 and 2: finish the swap (tmp → live), then
        drop ``_old``;
      * live dir absent, only ``_old`` present → crashed after a tmp
        rename that never happened (impossible under the protocol) or
        after ``_old``'s tmp was already swapped and re-crashed before
        this repair's rmtree — roll back (``_old`` → live)."""
    base = strip_file_scheme(path)
    for t in tables:
        live, old, tmp = (
            f"{base}/{t}",
            f"{base}/{t}_old",
            f"{base}/{t}_compact_tmp",
        )
        if os.path.exists(live):
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.exists(tmp) and os.path.exists(old):
            os.rename(tmp, live)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.exists(old):
            os.rename(old, live)


def repair_replayed_append(
    spark,
    path: str,
    table: str,
    id_col: str | list[str],
    files: int = 8,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Repair the documented watermark-window replay: a crash BETWEEN a
    wave's row-table append and the ingest-watermark write replays that
    wave once, duplicating its rows in the store's row table (bands
    re-cap idempotently, so only the row table needs repair; the
    per-store stats expose the damage as ``n_dup_signature_ids`` /
    ``n_dup_vector_ids`` > 0). Replayed rows are BYTE-IDENTICAL per id
    (same wave, same deterministic kernel), so the repair is a
    ``dropDuplicates([id_col])`` rewrite — and it reuses the compaction
    swap protocol verbatim: build ``<table>_compact_tmp``, then the
    recovery-ordered rename swap, so a crash MID-REPAIR lands in a
    state ``repair_store`` already knows how to finish or roll back.
    Entry first repairs any half-swapped leftovers (repair-on-entry,
    the compaction rule). ``id_col`` may be one column or a composite
    key list (the bm25 store's postings dedupe on (term, doc_id));
    ``partition_by`` preserves a partitioned table's directory layout
    through the rewrite (one writer task per partition directory, the
    write_dedup_store rule). Single-maintainer, rename-FS only —
    fail-loud gate."""
    require_rename_fs(path, "repair_replayed_append")
    repair_store(path, (table,))
    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    live = f"{strip_file_scheme(path)}/{table}"
    rows = spark.read.parquet(live).dropDuplicates(keys)
    tmp = f"{live}_compact_tmp"
    if partition_by:
        dirs = glob.glob(f"{live}/" + "/".join(f"{c}=*" for c in partition_by))
        rows.repartition(
            writer_tasks(spark, len(dirs)), *partition_by
        ).write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    else:
        rows.coalesce(max(1, files)).write.mode("overwrite").parquet(tmp)
    swap_in_compacted(path, (table,))


def stage_partition_delete(
    spark,
    path: str,
    table: str,
    part_col: str,
    part_vals,
    kept_rows,
    write_tasks: int | None = None,
) -> None:
    """Durably STAGE a partition-directory delete before any live data
    is destroyed (the r14 bm25/ivf takedown hole: kept rows lived only
    in a localCheckpoint, so a crash between the touched-directory
    rmtree and the kept append lost non-victim rows with nothing
    durable to resume from — unlike the band stores, whose kept state
    re-derives from the signatures/vectors table swapped last).

    Protocol: write ``kept_rows`` partitioned by ``part_col`` into
    ``<table>_staged_delete_tmp`` (live table untouched — it is still
    the read source), create an EMPTY marker directory for every
    touched partition the write produced no rows for (a fully-victim
    partition ends empty, and a parquet writer cannot express an empty
    partition), then COMMIT the whole staging atomically by renaming
    tmp → ``<table>_staged_delete``. Until the rename nothing live has
    changed; after it, ``complete_staged_partition_swap`` can always
    finish from durable state alone."""
    base = strip_file_scheme(path)
    tmp = f"{base}/{table}_staged_delete_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    writer = (
        kept_rows
        if write_tasks is None
        else kept_rows.repartition(max(1, write_tasks), part_col)
    )
    writer.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    for v in part_vals:
        os.makedirs(f"{tmp}/{part_col}={v}", exist_ok=True)
    final = f"{base}/{table}_staged_delete"
    if os.path.isdir(final):
        # a committed staging may hold the ONLY copy of kept rows for
        # partitions whose live directories are already cleared —
        # overwriting it would lose them; the caller must consume it
        # (complete_staged_partition_swap) before staging anew
        raise RuntimeError(
            f"stage_partition_delete: committed staging {final!r} "
            "already exists — run complete_staged_partition_swap first"
        )
    os.rename(tmp, final)


def complete_staged_partition_swap(path: str, table: str, part_col: str) -> None:
    """Finish a staged partition-directory delete — idempotent at every
    crash point because it is driven purely by which staged directories
    still exist: a staged ``<part_col>=v`` dir vanishes only AFTER its
    live twin holds the kept rows. Per staged partition dir: clear the
    live directory (it holds victim rows or is already gone), then
    rename the staged content in; an EMPTY staged dir is the "this
    partition ends empty" marker and is simply consumed after the
    clear. Any uncommitted ``_tmp`` build is discarded (the routing +
    staging re-run from the live table, which that crash never
    touched). No-op when no staging was committed."""
    base = strip_file_scheme(path)
    staged_root = f"{base}/{table}_staged_delete"
    shutil.rmtree(staged_root + "_tmp", ignore_errors=True)
    if not os.path.isdir(staged_root):
        return
    for entry in sorted(os.listdir(staged_root)):
        if not entry.startswith(f"{part_col}="):
            continue
        staged = f"{staged_root}/{entry}"
        shutil.rmtree(f"{base}/{table}/{entry}", ignore_errors=True)
        if any(os.scandir(staged)):
            os.rename(staged, f"{base}/{table}/{entry}")
        else:
            os.rmdir(staged)
    shutil.rmtree(staged_root, ignore_errors=True)


def delete_staged_rows(
    spark,
    path: str,
    ids: list[int],
    table: str,
    part_col: str,
    id_col: str,
    write_tasks: int | None = None,
) -> None:
    """Delete ``ids`` from a partitioned table whose kept rows have no
    other durable source (bm25 and phrase postings, the IVF index):
    finish any staging a previous crash committed (after which the live
    table holds no half-cleared partition), route the victims to their
    partitions with one distinct collect, stage the kept rows of those
    partitions durably (``stage_partition_delete``), then swap them in.
    Re-runnable at every crash point from the recorded ids."""
    complete_staged_partition_swap(path, table, part_col)
    live = spark.read.parquet(f"{path}/{table}")
    parts = sorted(
        int(r[part_col])
        for r in live.where(F.col(id_col).isin(ids))
        .select(part_col)
        .distinct()
        .collect()
    )
    if parts:
        kept = live.where(F.col(part_col).isin(parts)).where(
            ~F.col(id_col).isin(ids)
        )
        stage_partition_delete(
            spark, path, table, part_col, parts, kept, write_tasks
        )
        complete_staged_partition_swap(path, table, part_col)


def recorded_delete(
    spark,
    path: str,
    ids,
    op: str,
    id_col: str,
    run,
    repair_tables: tuple[str, ...] = (),
) -> None:
    """The takedown frame every id-list store delete runs. In order:
    fail loud on a non-rename filesystem; repair half-swapped
    ``repair_tables``; finish a pending delete (``resume_recorded_delete``);
    dedupe the ids and enforce ``MAX_DELETE_IDS``; commit the ids as
    ``<path>/_delete_intent`` (parquet written to a tmp dir, then
    renamed — the commit point); ``run(spark, ids, path)``; drop the
    intent. ``run`` must be re-runnable from the recorded ids at every
    crash point, so a crash anywhere after the commit is finished by
    the next delete or resume on the store."""
    require_rename_fs(path, op)
    repair_store(path, repair_tables)
    resume_recorded_delete(spark, path, id_col, run, repair_tables)
    ids = sorted({int(i) for i in ids})
    if len(ids) > MAX_DELETE_IDS:
        raise ValueError(
            f"takedown batch of {len(ids)} ids exceeds {MAX_DELETE_IDS} — "
            "split it; the id set is a driver-held literal by design"
        )
    if not ids:
        return
    ipath = f"{strip_file_scheme(path)}/_delete_intent"
    local_rows(spark, [(i,) for i in ids], f"{id_col} bigint").write.mode(
        "overwrite"
    ).parquet(ipath + "_tmp")
    os.rename(ipath + "_tmp", ipath)
    run(spark, ids, path)
    shutil.rmtree(ipath, ignore_errors=True)


def resume_recorded_delete(
    spark, path: str, id_col: str, run, repair_tables: tuple[str, ...] = ()
) -> bool:
    """Finish a takedown a crash interrupted: repair half-swapped
    ``repair_tables`` first (a crash inside ``swap_in_compacted`` leaves
    a live table renamed to ``_old``, and the run must not fail reading
    it), re-run ``run`` from the recorded ids, drop the intent. Returns
    True if there was one to finish."""
    ipath = f"{strip_file_scheme(path)}/_delete_intent"
    if not os.path.exists(ipath):
        return False
    repair_store(path, repair_tables)
    ids = sorted(int(r[id_col]) for r in spark.read.parquet(ipath).collect())
    run(spark, ids, path)
    shutil.rmtree(ipath, ignore_errors=True)
    return True


def swap_table(path: str, table: str, rows) -> None:
    """Replace ``table`` with ``rows`` crash-safely: write them as
    ``<table>_compact_tmp``, then ``swap_in_compacted``."""
    rows.write.mode("overwrite").parquet(f"{strip_file_scheme(path)}/{table}_compact_tmp")
    swap_in_compacted(path, (table,))


def swap_in_compacted(path: str, tables: tuple[str, ...]) -> None:
    """Swap each table's freshly-built ``<t>_compact_tmp`` directory in
    as the live ``<t>`` — the recovery-ordered rename sequence whose
    every intermediate state ``repair_store`` can finish or roll back:
    live → ``_old``, tmp → live, drop ``_old``."""
    base = strip_file_scheme(path)
    for t in tables:
        old = f"{base}/{t}_old"
        os.rename(f"{base}/{t}", old)
        os.rename(f"{base}/{t}_compact_tmp", f"{base}/{t}")
        shutil.rmtree(old)


class ScratchStoreCache:
    """Session-memoized scratch-store cache — THE one implementation
    of the pattern every self-contained library store row needs (r17
    review: eight hand-pasted copies of the lock/evict/setdefault/
    atexit dance had accumulated across dedup/semantic/bm25/phrase/
    plan stores; a bug in the pattern had to be fixed in eight
    places). Semantics preserved verbatim from those copies:

      * key = (id(spark), sf_dir): fresh dirs per session, so two
        concurrent sessions (driver + verify) can never race one
        overwrite path; the corpus at sf_dir is assumed immutable for
        the session's lifetime (true for the driver corpora; a new
        process always rebuilds).
      * stale-session eviction on every lookup (a stopped session's
        id() can be recycled — r12 lesson via ``_bpe_session_stopped``).
      * build OUTSIDE the lock, then post-build ``setdefault`` — two
        concurrent same-session calls may both build, but exactly one
        wins and the loser removes its own dir (r11 ADVICE: the
        unlocked window used to orphan the loser's store).
      * every cached dir is removed at interpreter exit (r11 ADVICE:
        mkdtemp dirs leaked one store per process/corpus).

    ``build(path)`` must fully populate ``path``; it runs at most once
    per winning (session, corpus) key."""

    def __init__(self, prefix: str):
        self._prefix = prefix
        self._lock = threading.Lock()
        self._cache: dict[tuple[int, str], tuple[object, str]] = {}
        atexit.register(self.clear)

    def clear(self) -> None:
        with self._lock:
            paths = [p for (_s, p) in self._cache.values()]
            self._cache.clear()
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)

    def peek(self, spark, sf_dir: str) -> str | None:
        """The cached path, or None — no eviction, no build (test
        introspection hook)."""
        with self._lock:
            hit = self._cache.get((id(spark), sf_dir))
        return None if hit is None else hit[1]

    def get_or_build(self, spark, sf_dir: str, build) -> str:
        import tempfile

        # lazy: sampling imports storefs at module level (no cycle)
        from trisk_spark.functions.sampling import _bpe_session_stopped

        stale = []
        with self._lock:
            for k, (sess, p) in list(self._cache.items()):
                if _bpe_session_stopped(sess):
                    self._cache.pop(k)
                    stale.append(p)
            hit = self._cache.get((id(spark), sf_dir))
        for p in stale:
            shutil.rmtree(p, ignore_errors=True)
        if hit is not None:
            return hit[1]
        path = tempfile.mkdtemp(prefix=self._prefix)
        build(path)
        with self._lock:
            _sess, path_won = self._cache.setdefault(
                (id(spark), sf_dir), (spark, path)
            )
        if path_won != path:
            shutil.rmtree(path, ignore_errors=True)
        return path_won


def require_no_pending_delete(path: str, op: str, store_label: str) -> None:
    """ADMISSION-SIDE TAKEDOWN GUARD for stores whose delete uses the
    staged-partition protocol (bm25 postings, phrase postings): a
    pending ``_delete_intent`` means a crashed takedown whose staging
    may already be COMMITTED, and an append into a staged bucket would
    be silently lost when ``complete_staged_partition_swap`` clears
    the live directory and renames the stale staging in. Fail loud;
    finish the takedown (that store's ``resume_pending_delete``)
    first. ONE implementation (r17 review: the bm25 and phrase copies
    differed only in the store name). Band stores deliberately do not
    call this at verb level: their deletes re-derive touched buckets
    from the row tables at resume time, so a post-append resume keeps
    appended rows — no staged-swap loss window; the composed admission
    guard covers their semantic hazard. Cost when no takedown is in
    flight: one os.path.exists, no jobs."""
    if os.path.exists(f"{strip_file_scheme(path)}/_delete_intent"):
        raise RuntimeError(
            f"{op}: a pending takedown _delete_intent exists beside "
            f"the {store_label} store ({path}) — finish it first "
            "(resume_pending_delete), then admit this wave; an append "
            "into a staged-delete bucket would be lost at the swap"
        )
