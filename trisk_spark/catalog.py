"""Table catalog: load the driver's parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

At 100 TB these would be partitioned parquet/Delta directories; the
loading path is identical (``spark.read.parquet`` on a directory) and
all downstream code only sees DataFrames, so nothing else changes.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to plain TIMESTAMP. The session
    time zone is pinned UTC (session.RUNTIME_CONFS), so naive-as-UTC
    values are preserved bit-for-bit and DuckDB oracle parity holds.
    Casts on top of a scan stay inside the same projection, so column
    pruning / predicate pushdown still reach the parquet reader."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one base table. Column pruning + predicate pushdown reach the
    parquet scan because we return the raw reader output (no caching,
    no materialization barrier)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong → truncate to micros,
        # matching DuckDB's ns→µs read-time truncation.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return _normalize_timestamps(df)


#: Absolute ceiling on how many scan splits ``spread_narrow_scan`` will
#: widen: a scan under this many splits holds at most ~16 ×
#: maxPartitionBytes (a couple of GB at defaults), so the round-robin
#: exchange it adds is bounded regardless of cluster size. A 100 TB
#: table (thousands of splits) never qualifies and is returned as-is.
SPREAD_MAX_PARTS = 16


def spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive fix for compute-heavy operators fed by a NARROW
    scan (optimization guide §2.5 "input skew": one unsplittable file —
    single-row-group parquet, gzip — serializes the whole tokenize/
    fingerprint stage onto one task while the rest of the cluster
    idles; the sanctioned remedy is "repartition immediately after the
    read").

    Round-robin repartition to ``defaultParallelism``, applied ONLY
    when the scan has both fewer splits than cores and at most
    ``SPREAD_MAX_PARTS`` splits (bounded bytes — see above), so the
    added exchange is always small and a genuinely large input keeps
    its natural fan-out with no exchange at all (pinned by
    tests/test_plans.py::test_multi_row_group_file_fans_out_scan).
    Round-robin is deterministic under retry (sort-before-repartition,
    SPARK-23207) and every caller is row-order-free, so results are
    unchanged. Streaming inputs don't expose a partition count and are
    returned untouched."""
    try:
        n = df.rdd.getNumPartitions()
        cores = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df  # streaming frame / Connect session: leave as-is
    if 0 < n < cores and n <= SPREAD_MAX_PARTS:
        return df.repartition(cores)
    return df


#: site key → built Column tree(s), valid only for _COL_CACHE_GATEWAY;
#: see cached_cols
_COL_CACHE: dict[str, object] = {}
_COL_CACHE_GATEWAY: object | None = None
_COL_CACHE_LOCK = threading.Lock()


def cached_cols(key: str, build):
    """Memoize immutable unresolved-Column trees across calls.

    Building a Column in classic PySpark is one py4j socket round trip
    per function call (~0.4 ms); the shared kernels (shingle/minhash/
    simhash/SRP/GEMM expression builders) assemble hundreds of nodes,
    so every query that composes them pays 0.5-1.5 s of pure driver
    plan-construction before any job runs (measured r17: 1,691 round
    trips / 0.9 s for one minhash projection). Unresolved expressions
    are immutable and frame-independent — the same tree can be bound
    into any number of plans — so each site builds ONCE per JVM
    gateway. The cache holds the gateway OBJECT it was built against
    and flushes whole when the identity changes (r17 ADVICE: keying by
    ``id(gateway)`` could alias a dead gateway's recycled address and
    serve Column trees wrapping dead JVM handles; a flush also drops
    the dead trees instead of accumulating them). Lookup/insert are
    lock-guarded with ``setdefault`` so two racing threads may both
    build but exactly one tree wins (r17 ADVICE: the unsynchronized
    dict made the double-build implicit)."""
    from pyspark import SparkContext

    global _COL_CACHE_GATEWAY
    gw = SparkContext._gateway
    with _COL_CACHE_LOCK:
        if gw is not _COL_CACHE_GATEWAY:
            _COL_CACHE.clear()
            _COL_CACHE_GATEWAY = gw
        hit = _COL_CACHE.get(key)
    if hit is None:
        built = build()
        with _COL_CACHE_LOCK:
            if gw is _COL_CACHE_GATEWAY:
                hit = _COL_CACHE.setdefault(key, built)
            else:
                hit = built  # gateway turned over mid-build: don't poison
    return hit


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A driver-held list re-entering the plan as a ONE-partition local
    frame. ``spark.createDataFrame(list, ...)`` fans even a 1-row list
    across ``defaultParallelism`` Python-RDD partitions, so every
    evaluation pays one JVM↔Python worker round trip PER PARTITION
    (guide §4 — the boundary cost is per crossing, not per row); worse,
    a downstream ``coalesce(1)`` serializes all of them into one task
    (measured r17: a 1-row stats write cost 5.5 s that way — 32
    sequential ~170 ms worker round trips — vs 0.2 s with one
    partition). Every caller's rows are routing-decision-sized (query
    terms, centroids, takedown ids, stats rows), so one partition is
    also the right parallelism."""
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
